"""Arrow-IPC / Feather source and sink, and the one file writer behind
every Arrow-native sink.

The reference writes one uncompressed IPC file with a single record
batch on the driver thread (``/root/reference/src/lib.rs:150-168``).
Spark has no built-in IPC sink, so this module supplies:

- :func:`write_file` — the one file writer: Arrow batches → one
  Parquet or Feather file (snappy / lz4 unless the caller names another
  codec or ``"none"``), opened on the first batch, written under
  a hidden ``.<name>.<uuid>.tmp`` name beside its target and
  ``os.replace``d onto it once complete.  The driver's single-file
  wire route, every directory export and the ``feather_dir``
  DataSource writer (:mod:`flaco_spark.sources.pyds`) write through it.
- :func:`export_dir` — a directory of per-partition files, written
  inside Spark tasks: ``part-NNNNN.parquet`` / ``part-NNNNN.arrow`` by
  partition, so a retried task replaces its file rather than adding
  one.  The files are staged in a hidden directory beside the target,
  which replaces the target once the job has succeeded, as
  ``mode("overwrite")`` replaces it; a zero-row export leaves
  ``part-empty.<ext>`` carrying the schema; a Parquet export ends with
  ``_SUCCESS``; a failed job removes the staging directory and leaves
  an earlier export in place.  A pgwire read runs it fused with its
  reader, so pages go from the wire decoder straight into the file
  (:func:`flaco_spark.core.write_dataframe_to_file`).
- :func:`write_feather` — ``single_file=True`` is the driver funnel
  (``df.toArrow()`` → one ``.feather`` file, for results that fit on
  the driver, as every reference result must); ``single_file=False``
  is :func:`export_dir` over the frame's own partitions, each task
  streaming the batches Spark hands its ``mapInArrow`` to disk.

The reader mirrors both shapes. The distributed read goes through
``spark.read.format("binaryFile")`` + ``mapInArrow`` so file contents
are parsed on executors, not the driver.
"""

from __future__ import annotations

import itertools
import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from flaco_spark.errors import EngineError

EXTENSIONS = {"parquet": ".parquet", "feather": ".arrow"}
SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _dictionary_columns(batch: pa.RecordBatch) -> list[str]:
    """The Parquet columns to dictionary-encode, chosen on a file's first
    batch: every scalar column with at most half as many distinct values
    as rows.  A dictionary over values that barely repeat only adds
    bytes; parquet-mr, Spark's writer, leaves such columns plain too.
    Nested columns are written plain."""
    import pyarrow.compute as pc

    return [
        f.name
        for f, col in zip(batch.schema, batch.columns)
        if not pa.types.is_nested(f.type)
        and 2 * pc.count_distinct(col).as_py() <= batch.num_rows
    ]


def _codec(fmt: str, compression: str | None) -> str | None:
    """pyarrow's codec for ``compression``: None is the default (snappy
    Parquet, lz4 Feather); ``"none"`` / ``"uncompressed"`` write none."""
    if compression is None:
        return "snappy" if fmt == "parquet" else "lz4"
    if compression.lower() in ("none", "uncompressed"):
        return "none" if fmt == "parquet" else None
    return compression.lower()


def _open_writer(tmp: str, fmt: str, schema: pa.Schema, first, compression: str | None):
    codec = _codec(fmt, compression)
    if fmt == "parquet":
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # the footer key Spark's own writer sets: Spark reads the file back
        # with these types (intervals stay intervals, not int64)
        spark_schema = {SPARK_ROW_METADATA: from_arrow_schema(schema, prefer_timestamp_ntz=True).json()}
        return pq.ParquetWriter(
            tmp,
            schema.with_metadata({**(schema.metadata or {}), **spark_schema}),
            compression=codec,
            use_dictionary=True if first is None else _dictionary_columns(first),
        )
    import pyarrow.ipc as ipc

    return ipc.new_file(tmp, schema, options=ipc.IpcWriteOptions(compression=codec))


def write_file(
    batches: Iterable[pa.RecordBatch],
    path: str,
    fmt: str,
    schema: pa.Schema | None = None,
    compression: str | None = None,
) -> int:
    """Write ``batches`` to ``path`` as one ``fmt`` (``"parquet"`` or
    ``"feather"``) file and return the rows written; each batch is one
    Parquet row group or IPC record batch.  ``compression`` None means
    snappy Parquet / lz4 Feather, ``"none"`` none.  The file appears
    only once complete.  With no batch, the file is written empty with
    ``schema``, or not at all when ``schema`` is None."""
    batches = iter(batches)
    first = next(batches, None)
    if first is None and schema is None:
        return 0
    tmp = _hidden_sibling(path)
    rows = 0
    try:
        schema = schema if first is None else first.schema
        with _open_writer(tmp, fmt, schema, first, compression) as writer:
            for batch in itertools.chain([first] if first is not None else [], batches):
                writer.write_batch(batch)
                rows += batch.num_rows
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return rows


def _hidden_sibling(path: str) -> str:
    head, name = os.path.split(os.path.normpath(path))
    return os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")


def _part_writer(path: str, fmt: str, read: Callable[[int], Iterator] | None, compression: str | None):
    """The ``mapInArrow`` function of :func:`export_dir`: writes one
    part file per partition and yields its row count."""
    ext = EXTENSIONS[fmt]

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        if read is None:
            parts = [(TaskContext.get().partitionId(), batches)]
        else:
            parts = ((i, read(i)) for b in batches for i in b.column(0).to_pylist())
        for pid, part in parts:
            out = os.path.join(path, f"part-{pid:05d}{ext}")
            n = write_file(part, out, fmt, compression=compression)
            yield pa.record_batch([pa.array([n], pa.int64())], names=["rows_written"])

    return task


def export_dir(
    source: DataFrame,
    path: str,
    fmt: str,
    schema: pa.Schema,
    read: Callable[[int], Iterator] | None = None,
    compression: str | None = None,
) -> None:
    """Export to a directory of ``fmt`` files written by the tasks of
    ``source.mapInArrow``: each task writes its partition's batches, or,
    with ``read``, the batches of ``read(i)`` for every id ``i`` in its
    partition of ``source``, to ``part-<id>``.  Row counts are all the
    driver collects.  ``schema`` is the Arrow schema of the rows, for
    the ``part-empty`` file of an export that writes none.

    The files go into a hidden staging directory beside ``path``, which
    replaces ``path`` only once the job has succeeded: ``source`` may
    itself be reading ``path`` (a Feather directory read back and
    exported over itself), and a failed export leaves the earlier one
    in place."""
    stage = _hidden_sibling(path)
    os.makedirs(stage)
    try:
        counts = source.mapInArrow(_part_writer(stage, fmt, read, compression), "rows_written bigint")
        if sum(r[0] for r in counts.collect()) == 0:
            # keep the schema of an empty result (the reference loses it,
            # src/lib.rs:203-206)
            out = os.path.join(stage, "part-empty" + EXTENSIONS[fmt])
            write_file((), out, fmt, schema, compression)
        if fmt == "parquet":
            open(os.path.join(stage, "_SUCCESS"), "wb").close()
        old = stage + ".old"
        if os.path.lexists(path):
            os.rename(path, old)
        os.rename(stage, path)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if os.path.isdir(old) and not os.path.islink(old):
        shutil.rmtree(old)
    elif os.path.lexists(old):  # a file or link where the directory goes
        os.remove(old)


def write_feather(
    df: DataFrame, path: str, single_file: bool = True, compression: str | None = None
) -> None:
    if single_file:
        import pyarrow.feather as feather

        table = df.toArrow()
        feather.write_feather(table, path, compression=_codec("feather", compression) or "uncompressed")
        return
    from pyspark.sql.pandas.types import to_arrow_schema

    export_dir(df, path, "feather", to_arrow_schema(df.schema), compression=compression)


def read_feather(spark: SparkSession, path: str) -> DataFrame:
    """Read a Feather/IPC file (or a directory of them) as a DataFrame."""
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith((".arrow", ".feather"))
        ]
        if not files:
            raise EngineError(f"no .arrow/.feather files under {path!r}")
        binary = spark.read.format("binaryFile").load(files)

        # Parse executor-side; schema probed from the first file.
        import pyarrow.feather as feather

        probe_schema = feather.read_table(files[0]).schema

        def _parse(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import io

            import pyarrow.ipc as ipc

            for batch in batches:
                for row in batch.to_pylist():
                    reader = ipc.open_file(io.BytesIO(row["content"]))
                    for i in range(reader.num_record_batches):
                        yield reader.get_batch(i)

        from pyspark.sql.pandas.types import from_arrow_schema

        spark_schema = from_arrow_schema(probe_schema)
        return binary.select("content").mapInArrow(_parse, schema=spark_schema)

    import pyarrow.feather as feather

    table = feather.read_table(path)
    # Spark 4 accepts a pyarrow Table directly — no pandas round-trip,
    # better type fidelity (e.g. int columns with NULLs stay ints
    # instead of pandas' float64 coercion).
    return spark.createDataFrame(table)
