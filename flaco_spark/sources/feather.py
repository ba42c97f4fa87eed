"""Arrow-IPC / Feather source & sink.

The reference writes one uncompressed IPC file with a single record
batch on the driver thread (``/root/reference/src/lib.rs:150-168``).
Spark has no built-in IPC sink, so this module supplies two:

- ``single_file=True`` — driver funnel: ``df.toArrow()`` → one
  ``.feather`` file.  Matches the reference's output shape; only for
  results that fit on the driver (same constraint the reference has
  for every result, by construction).
- ``single_file=False`` — distributed: ``mapInArrow`` writes one IPC
  file per partition into a directory.  Each executor streams its own
  Arrow batches straight to disk — no driver funnel, scales with the
  cluster.

The reader mirrors both shapes. The distributed read goes through
``spark.read.format("binaryFile")`` + ``mapInArrow`` so file contents
are parsed on executors, not the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from flaco_spark.errors import EngineError


def write_feather(df: DataFrame, path: str, single_file: bool = True) -> None:
    if single_file:
        import pyarrow.feather as feather

        table = df.toArrow()
        feather.write_feather(table, path)
        return

    # Distributed: one IPC file per partition, written executor-side.
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    schema = to_arrow_schema(df.schema)

    def _write_partition(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import uuid

        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        # Partition-deterministic name + tmp-then-rename: a retried or
        # speculative task attempt REPLACES the partition's file instead
        # of adding a duplicate (uuid names would double the data on any
        # task retry — the sink-level twin of st09's atomic-swap commit).
        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}.arrow")
        tmp = os.path.join(path, f".part-{pid:05d}.{uuid.uuid4().hex}.tmp")
        writer = None
        n = 0
        for batch in batches:
            if writer is None:
                writer = ipc.new_file(tmp, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            os.replace(tmp, out)
        counts = pa.record_batch([pa.array([n], type=pa.int64())], names=["rows_written"])
        yield counts

    counts = df.mapInArrow(_write_partition, schema="rows_written bigint").collect()
    if sum(r[0] for r in counts) == 0:
        # No row written, so no partition file: still leave a valid empty
        # IPC file so the schema survives (the reference loses schemas on
        # empty results, src/lib.rs:203-206 — we deliberately do not).
        import pyarrow.ipc as ipc

        out = os.path.join(path, "part-empty.arrow")
        with ipc.new_file(out, schema):
            pass


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

        def _parse(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
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
