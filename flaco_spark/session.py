"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM)
but every knob is chosen so the same code is correct on a large
cluster:

- AQE on → runtime shuffle-partition coalescing + skew-join splitting,
  which is what keeps the same plan healthy at 1000× the data.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from this initial number, so a moderate
  default is fine.
- Arrow enabled for every Python↔JVM data transfer (the reference's
  whole point is Arrow-columnar transfer, ``src/lib.rs:42-72``).
- Session timezone pinned to UTC so temporal semantics do not depend
  on the host.

It also holds :func:`worker_task`, which every Python task function
flaco ships to Spark's workers runs under.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from collections.abc import Callable, Iterator

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_mem() -> str:
    """min(48g, ~40% of MemTotal) — enough heap for many concurrent
    local task threads without swapping smaller hosts (the 128 GiB
    harness box gets the full 48g).  Override: SPARK_GRAFT_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(2, min(48, int(total_gib * 0.4)))}g"
    except OSError:
        pass
    return "4g"


def get_session(
    app_name: str = "flaco_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # quantized_sum's overflow-is-loud guarantee (a >2^63 long sum
        # errors instead of wrapping) relies on ANSI mode — pin it
        # rather than depend on the Spark 4 default.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert in the table loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — size the heap for
        # the concurrent task threads.  NOTE: driver.memory only takes
        # effect on the FIRST JVM launch in a process; later
        # get_session() calls reuse the existing JVM heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs this engine's semantics rely on.

    Safe to call on an externally-created session (e.g. the driver
    harness hands us one): only touches runtime SQL confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # See get_session: quantized_sum's long accumulate must error
    # loudly past 2^63, which only ANSI mode guarantees.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark


def drop_archive_importers() -> None:
    """Remove every ``zipimporter`` for a path *inside* an archive (a
    non-empty ``.prefix``, e.g. ``pyspark.zip/pyspark/sql``) from
    ``sys.path_importer_cache``.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    On CPython 3.11 that makes each cached ``zipimporter`` re-read its
    archive's whole directory, and a warmed worker holds about a dozen
    for paths inside ``pyspark.zip`` (1,328 entries): one
    ``invalidate_caches()`` measured 116-149 ms, and 12-14 ms once
    those are dropped, on a 4-vCPU host.  The top-level importers
    (``.prefix == ''``) stay: their refresh of
    ``zipimport._zip_directory_cache`` is what picks up newly added
    py-files, and the path hooks rebuild a dropped importer from that
    cache the next time an import needs it, so imports resolve as
    before.  Where nothing is cached in an archive this is one dict
    scan."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            cache.pop(path, None)


def worker_task(fn: Callable[..., Iterator]) -> Callable[..., Iterator]:
    """Wrap a generator task function (a ``mapInArrow`` function or a
    DataSource ``read``) so that :func:`drop_archive_importers` runs when
    it finishes, on exhaustion, error or close, and the next task on the
    same worker starts without rebuilding the in-archive importers."""

    @functools.wraps(fn)
    def task(*args, **kwargs):
        try:
            yield from fn(*args, **kwargs)
        finally:
            drop_archive_importers()

    return task
