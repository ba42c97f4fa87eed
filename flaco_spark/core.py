"""flaco-parity public API.

The reference exposes exactly two functions, one enum, and one
exception (``/root/reference/src/lib.rs:18-26``):

- ``read_sql_to_pyarrow(uri, stmt) -> pyarrow.Table``
  (``src/lib.rs:42-72``)
- ``read_sql_to_file(uri, stmt, path, FileFormat)``
  (``src/lib.rs:77-85``) with ``FileFormat.{Feather,Parquet}``
  (``src/lib.rs:28-33``)
- ``FlacoException`` (``src/lib.rs:16``)

This module reproduces that surface on Spark, plus ``read_sql`` which
returns the lazy DataFrame (the natural Spark entry point the
reference could not offer).  Deliberate upgrades over the reference,
documented in SURVEY.md §7.5: schema survives zero-row results, NULLs
stay NULL (no NaN coercion, ref src/lib.rs:272,280), NUMERIC is exact
decimal (ref src/lib.rs:375-381 is lossy f64), TLS-capable JDBC (ref
is NoTls-only, src/lib.rs:46), and extraction is partitioned/parallel
instead of a single connection.
"""

from __future__ import annotations

import enum
import weakref
from typing import TYPE_CHECKING
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from flaco_spark.errors import EngineError
from flaco_spark.session import get_session
from flaco_spark.sources.jdbc import jdbc_reader, translate_postgres_uri

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


class FileFormat(enum.Enum):
    """Mirror of the reference's FileFormat enum (src/lib.rs:28-33)."""

    Feather = "feather"
    Parquet = "parquet"


def _pg_jdbc_driver_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound arrives as Py4JError
        return False


# SparkContext → whether its driver JVM has the PostgreSQL JDBC driver.
# The JVM's classpath is fixed at launch, so one Py4J probe per context
# answers every later call; a new context probes again.
_PG_DRIVER_ON_CLASSPATH = weakref.WeakKeyDictionary()


def _pg_driver_on_classpath(spark: SparkSession) -> bool:
    sc = spark.sparkContext
    if sc not in _PG_DRIVER_ON_CLASSPATH:
        _PG_DRIVER_ON_CLASSPATH[sc] = _pg_jdbc_driver_available(spark)
    return _PG_DRIVER_ON_CLASSPATH[sc]


def _use_wire(uri: str, via: str, spark: SparkSession) -> bool:
    """Whether ``via`` resolves to the pgwire transport for ``uri``."""
    if via not in ("auto", "jdbc", "pgwire"):
        raise EngineError(f"unknown transport {via!r} (auto|jdbc|pgwire)")
    is_pg_uri = uri.startswith(("postgresql://", "postgres://"))
    use_wire = via == "pgwire" or (
        via == "auto" and is_pg_uri and not _pg_driver_on_classpath(spark)
    )
    if use_wire and not is_pg_uri:
        raise EngineError(f"pgwire transport needs a postgresql:// URI, got {uri!r}")
    return use_wire


def read_sql(
    uri: str,
    stmt: str,
    spark: SparkSession | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetchsize: int = 10_000,
    via: str = "auto",
) -> DataFrame:
    """Whole-query pushdown scan, the moral equivalent of the
    reference's ``client.query_raw(sql)`` (src/lib.rs:188-195).

    The SQL string executes on the server verbatim.  With
    ``partition_column`` + bounds, the read opens ``num_partitions``
    parallel cursors with disjoint ranges — the 100 TB upgrade over
    the reference's single connection.

    ``via`` picks the transport: ``"jdbc"`` (Spark's JDBC source),
    ``"pgwire"`` (the pure-stdlib wire-protocol client,
    :mod:`flaco_spark.sources.pgwire` — no driver jar needed), or
    ``"auto"`` (default): JDBC when the URI is a raw ``jdbc:`` URL or
    the PostgreSQL driver jar is on the classpath, else pgwire for
    ``postgresql://`` URIs — so a flaco user's script runs verbatim
    on a cluster with no PG jar installed.  ``fetchsize`` is the rows
    per fetch (JDBC) or per Execute page (pgwire) of each partition.
    """
    spark = spark or get_session()
    use_wire = _use_wire(uri, via, spark)
    try:
        if use_wire:
            from flaco_spark.sources.pgwire import read_sql_wire

            return read_sql_wire(
                spark,
                uri,
                stmt,
                partition_column=partition_column,
                num_partitions=num_partitions,
                lower_bound=lower_bound,
                upper_bound=upper_bound,
                fetchsize=fetchsize,
            )
        reader = jdbc_reader(
            spark,
            uri,
            stmt,
            partition_column=partition_column,
            num_partitions=num_partitions,
            lower_bound=lower_bound,
            upper_bound=upper_bound,
            fetchsize=fetchsize,
        )
        return reader.load()
    except EngineError:
        raise
    except Exception as exc:  # noqa: BLE001 — single public error type
        raise EngineError.wrap(exc, f"read_sql({stmt!r})") from exc


def sql(
    stmt: str,
    sf_dir: str | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Native Spark-SQL entry point (SURVEY.md §7.1 M3).

    The reference's contract is "any SQL the PostgreSQL server can
    run" (src/lib.rs:189) — this is the same contract executed by
    Catalyst instead of Postgres.  With ``sf_dir`` given, the test
    catalog's tables are registered as temp views first, so the SQL
    can reference ``lineitem``/``orders``/… directly.
    """
    spark = spark or get_session()
    try:
        if sf_dir is not None:
            from flaco_spark.tables import register_views

            register_views(spark, sf_dir)
        return spark.sql(stmt)
    except EngineError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise EngineError.wrap(exc, f"sql({stmt!r})") from exc


def read_sql_to_pyarrow(uri: str, stmt: str, spark: SparkSession | None = None) -> "pa.Table":
    """SQL → in-memory ``pyarrow.Table`` (ref src/lib.rs:42-72).

    When the transport resolves to pgwire (a ``postgresql://`` URI and
    no PostgreSQL JDBC jar), the driver reads the wire itself, as the
    reference does: one connection, the schema from the statement's
    Describe, and binary pages decoded straight into Arrow batches —
    no Spark job, no schema probe.  Otherwise the JDBC read hands its
    batches over with ``DataFrame.toArrow()``.  Both routes return the
    same Arrow schema.
    """
    import pyarrow as pa

    spark = spark or get_session()
    if _use_wire(uri, "auto", spark):
        from flaco_spark.sources.pgwire import wire_batches

        with wire_batches(uri, stmt, ds_safe=True) as (schema, batches):
            return pa.Table.from_batches(batches, schema=schema)
    df = read_sql(uri, stmt, spark=spark)
    try:
        return df.toArrow()
    except Exception as exc:  # noqa: BLE001
        raise EngineError.wrap(exc, "toArrow") from exc


def read_sql_to_file(
    uri: str,
    stmt: str,
    path: str,
    format: FileFormat = FileFormat.Parquet,
    spark: SparkSession | None = None,
    single_file: bool = True,
) -> None:
    """SQL → columnar file (ref src/lib.rs:77-85).

    ``single_file=True`` matches the reference's output shape (one
    file).  Over pgwire it is written on the driver straight from the
    wire, one page at a time (snappy Parquet, lz4 Feather), so the
    driver holds one page rather than the whole result; the file
    appears only once complete.  Each 16,384-row page becomes one
    Parquet row group (one IPC record batch), where the Spark route
    writes a single row group.  Parquet dictionary-encodes only the
    columns whose first page repeats values (at most half as many
    distinct values as rows), as parquet-mr in effect does: a
    dictionary per row group over unique values would cost ~2 B/row
    per such column (78 B/row instead of 64 on the benchmark's 200k-row
    table).  ``single_file=False`` writes a directory of per-partition
    files through :func:`write_dataframe_to_file`, the shape that
    actually scales; over pgwire each file is written inside its read
    task.
    """
    spark = spark or get_session()
    if single_file and _use_wire(uri, "auto", spark):
        from flaco_spark.sources.feather import write_file
        from flaco_spark.sources.pgwire import wire_batches

        with wire_batches(uri, stmt, ds_safe=True) as (schema, batches):
            write_file(batches, path, format.value, schema)
        return
    df = read_sql(uri, stmt, spark=spark)
    write_dataframe_to_file(df, path, format=format, single_file=single_file)


def _fused_read(df: DataFrame, path: str):
    """The pgwire read ``df`` came straight from, when a directory
    export of it can write its files inside the read tasks; else None."""
    from flaco_spark.sources.pgwire import WIRE_READS

    if df.is_cached or urlparse(path).scheme:
        return None
    return WIRE_READS.get(df)


def write_dataframe_to_file(
    df: DataFrame,
    path: str,
    format: FileFormat = FileFormat.Parquet,
    single_file: bool = True,
    compression: str | None = None,
) -> None:
    """Sink an arbitrary DataFrame to Parquet or Feather/Arrow-IPC.

    ``compression=None`` keeps each writer's default (snappy Parquet,
    lz4 Feather).  Pass ``"none"`` for byte-level flaco parity — the
    reference writes UNCOMPRESSED parquet (src/lib.rs:125-129) and IPC.
    Measured: skipping the codec helps only the single-file driver
    funnel (~17% on one thread); the distributed path is IO-bound with
    32 parallel writers and snappy's smaller bytes WIN there — which is
    why snappy stays the default.

    ``single_file=True`` collects the frame on the driver and writes it
    through :func:`flaco_spark.sources.feather.write_file`, so the file
    appears only once complete.

    ``single_file=False`` writes a directory, replacing any earlier one.
    When ``df`` is the very frame a pgwire :func:`read_sql` returned
    (not transformed, not cached) and ``path`` has no URI scheme, the
    export is fused with the read: one Spark job whose tasks each
    stream their range's wire pages into ``part-NNNNN.parquet`` /
    ``part-NNNNN.arrow``, with no JVM rows in between
    (:func:`flaco_spark.sources.feather.export_dir`).  A zero-row export
    leaves ``part-empty.<ext>`` carrying the schema, a Parquet export
    ends with ``_SUCCESS``, and a failed one leaves no file of its own
    and any earlier export in place.  Every other frame goes through
    Spark's Parquet writer (``mode("overwrite")``) or the Feather
    ``mapInArrow`` writer.
    """
    from flaco_spark.sources.feather import export_dir, write_feather, write_file

    try:
        wire = None if single_file else _fused_read(df, path)
        if wire is not None:
            n = wire.partitions
            ids = df.sparkSession.range(0, n, 1, n)
            export_dir(ids, path, format.value, wire.schema, read=wire.read, compression=compression)
        elif single_file:
            # Reference writes ONE file (src/lib.rs:124-168); each batch
            # Spark collects is one row group / record batch
            table = df.toArrow()
            write_file(table.to_batches(), path, format.value, table.schema, compression)
        elif format is FileFormat.Parquet:
            w = df.write.mode("overwrite")
            if compression is not None:
                w = w.option("compression", compression)
            w.parquet(path)
        elif format is FileFormat.Feather:
            write_feather(df, path, single_file=False, compression=compression)
        else:  # pragma: no cover
            raise ValueError(f"unsupported format: {format}")
    except EngineError:
        raise
    except Exception as exc:  # noqa: BLE001
        raise EngineError.wrap(exc, f"write_dataframe_to_file({path!r})") from exc


__all__ = [
    "FileFormat",
    "sql",
    "read_sql",
    "read_sql_to_pyarrow",
    "read_sql_to_file",
    "write_dataframe_to_file",
    "translate_postgres_uri",
]
