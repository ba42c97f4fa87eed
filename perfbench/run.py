#!/usr/bin/env python3
"""flaco_spark benchmark: live-PostgreSQL extract, point lookups and
native SQL, in one closed-loop client process.

    python3 perfbench/run.py --workload wide_extract --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  Set-up spawns a throwaway PostgreSQL
15 (``scripts/pg_harness.local_postgres``), seeds the wide table,
generates the native_sql tables when the run reads them, starts Spark
as ``local[<cpus>]`` through ``flaco_spark.session.get_session`` and
warms the workload up.
The loop then runs the whole number of workload cycles whose timed
calls come nearest to ``--seconds``; every output is checked outside
the timed interval.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  A human-readable report goes
to stderr.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]
# Fixed before TMPDIR points into the checkout: the PostgreSQL cluster
# (owned by the postgres user, which may not reach the checkout) goes to
# the system temporary directory, and its harness deletes it on exit.
tempfile.gettempdir()
REQUIRED = (
    "flaco_spark/core.py", "flaco_spark/sources/pgwire.py",
    "scripts/pg_harness.py", "scripts/bench_wire.py",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "calls_per_s": "1/s",
    "rows_per_s": "1/s",
    "call_p50_s": "s",
    "call_tail_s": "s",
    "driver_peak_rss_mib": "MiB",
}
PER_LAYER_UNITS = {
    "pgwire.connect_ms": "ms",
    "pgwire.schema_probe_ms": "ms",
    "pgwire.bounds_probe_ms": "ms",
    "pgwire.fetch_decode_s": "s",
    "pgwire.decode_rows_per_s": "1/s",
    "pgwire.wire_to_arrow_s": "s",
    "pgwire.transpose_s": "s",
    "core.read_sql_plan_ms": "ms",
    "core.to_arrow_s": "s",
    "sink.parquet_s": "s",
    "sink.feather_s": "s",
    "sink.parquet_dir_s": "s",
    "sink.feather_dir_s": "s",
    "sink.bytes_per_row": "B/row",
    "tables.load_ms": "ms",
    "query.build_ms": "ms",
    "query.exec_s": "s",
    "pg.sessions_per_call": "count",
    "pg.xact_per_call": "count",
    "pg.rows_scanned_per_row": "ratio",
    "spark.jobs_per_call": "count",
    "spark.stages_per_call": "count",
    "spark.tasks_per_call": "count",
    "session.start_s": "s",
    "pg.seed_s": "s",
    "jvm.peak_rss_mib": "MiB",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool | None
    rows: int
    sink_bytes: int = 0
    peak_mib: float = 0.0  # the client's VmHWM over the call alone


class Context:
    """What the workloads share: the server, the session, the inputs."""

    def __init__(self, args, work: Path) -> None:
        from flaco_spark import core

        self.core = core
        self.rows = args.rows
        self.sf = args.sf
        self.work = work
        self.sinks = work / "sinks"
        self.sf_dir = str(work / "tables")
        self.cpus = len(os.sched_getaffinity(0))
        self.corrupt = args.corrupt
        self.trace = args.trace
        self._n_sink = 0
        self.uri = ""
        self.spark = None
        self.pg = None
        self.seed = args.seed
        self.wide_sums: dict = {}
        self.n_dates = 0
        self.pg_counters = None  # traced run only

    @staticmethod
    @contextlib.contextmanager
    def no_span(name: str):
        yield

    def file_format(self, fmt: str):
        return {"parquet": self.core.FileFormat.Parquet, "feather": self.core.FileFormat.Feather}[fmt]

    def sink_path(self, stem: str) -> str:
        self._n_sink += 1
        self.sinks.mkdir(parents=True, exist_ok=True)
        return str(self.sinks / f"{self._n_sink:06d}.{stem}")

    def clear_sinks(self) -> None:
        shutil.rmtree(self.sinks, ignore_errors=True)

    def maybe_corrupt(self, table):
        """With --corrupt, the first output checked loses a row."""
        if self.corrupt and table.num_rows:
            self.corrupt = False
            return table.slice(1)
        return table


# -- set-up ------------------------------------------------------------------


def set_up(ctx: Context, wl, stack: contextlib.ExitStack) -> dict[str, float]:
    from datagen import generate
    from scripts.pg_harness import local_postgres, psql
    from workloads import CHECKSUM_SQL, WIDE_SEED, parse_checksums

    from flaco_spark.session import get_session

    times: dict[str, float] = {}
    t0 = time.perf_counter()
    ctx.pg = stack.enter_context(local_postgres())
    ctx.uri = f"postgresql://postgres@127.0.0.1:{ctx.pg['port']}/postgres"
    t1 = time.perf_counter()
    psql(ctx.pg["port"], WIDE_SEED.format(rows=ctx.rows))
    psql(ctx.pg["port"], "VACUUM ANALYZE bench_wide")
    t2 = time.perf_counter()
    if wl.uses_tables or ctx.trace:  # the traced run probes the query layer
        generate(ctx.sf_dir, ctx.sf, ctx.seed)
    t3 = time.perf_counter()
    ctx.spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work / 'tmp'}",
        },
    )
    stack.callback(stop_spark)
    t4 = time.perf_counter()
    wl.warm_up()
    t5 = time.perf_counter()
    times.update(
        {
            "pg.spawn_s": t1 - t0,
            "pg.seed_s": t2 - t1,
            "tables.generate_s": t3 - t2,
            "session.start_s": t4 - t3,
            "warm_up_s": t5 - t4,
            "setup_s": t5 - t0,
        }
    )
    row = psql(ctx.pg["port"], CHECKSUM_SQL).split("|")
    ctx.wide_sums = parse_checksums(row)
    ctx.n_dates = int(psql(ctx.pg["port"], "SELECT count(DISTINCT c_date) FROM bench_wide"))
    return times


def stop_spark() -> None:
    """Stop the session, end the JVM and wait for every process the
    benchmark started (PostgreSQL is stopped by its harness)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from tracing import descendants

    gateway = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


# -- the closed loop -----------------------------------------------------------


def run_loop(ctx, wl, seconds: float, rng: random.Random, tracer=None, counts=None) -> list[Sample]:
    """Whole cycles, at least one, whose timed calls come nearest to
    ``seconds``: the next cycle starts only while the time so far falls
    short of ``seconds`` by more than half a mean cycle.  With a tracer,
    each call gets a span, its own Spark job group, and a server and
    Spark counter read once it has returned.  The client's peak RSS is
    reset before each call and read as it returns, so neither set-up nor
    the checks count in it."""
    from tracing import peak_rss_mib, reset_peak_rss, spark_counts
    from workloads import Outcome

    samples: list[Sample] = []
    timed = 0.0
    sc = ctx.spark.sparkContext
    cycles = 0
    while cycles == 0 or timed + timed / cycles / 2 < seconds:
        cycles += 1
        for call in wl.cycle(rng):
            call_id = len(samples)
            span, whole = ctx.no_span, contextlib.nullcontext()
            if tracer is not None:
                group = f"perfbench-{id(tracer)}-{call_id}"
                sc.setJobGroup(group, call.kind)
                span = lambda name, _id=call_id: tracer.span(name, _id)  # noqa: E731
                whole = tracer.span(f"call.{call.kind}", call_id)
            dt = None
            reset_peak_rss()
            t = time.perf_counter()
            try:
                with whole:
                    out = call.run(span)
                dt = time.perf_counter() - t
                peak = peak_rss_mib(os.getpid())
                outcome = call.check(out)
                del out
                gc.collect()  # outside the timed interval
            except Exception:  # noqa: BLE001 — a failed call is counted, the loop goes on
                if dt is None:
                    dt = time.perf_counter() - t
                    peak = peak_rss_mib(os.getpid())
                log(f"call {call_id} {call.kind} raised:\n{traceback.format_exc()}")
                outcome = Outcome(False, 0)
            log(f"call {call_id} {call.kind}: {dt:.4f} s, {'wrong output' if outcome.ok is False else 'ok'}")
            timed += dt
            samples.append(Sample(call.kind, dt, outcome.ok, outcome.rows, outcome.sink_bytes, peak))
            if tracer is not None:
                counts.append((ctx.pg_counters.delta(), spark_counts(sc, group)))
    wl.finish(samples)
    return samples


def tail(values: list[float]) -> tuple[float, tuple[float, float] | None]:
    """(p90, ten_beyond).  ``call_tail_s`` is the 90th percentile,
    interpolated between neighbouring samples: a run holds 8 to 50
    calls, and for up to 20 of them no percentile above the median has
    ten samples beyond it, so that rule's order statistic would fall to
    the median or jump as the call count changes.  ``ten_beyond`` is
    the rule's (percentile, value), or None under eleven samples; it is
    reported on stderr."""
    v = sorted(values)
    n = len(v)
    p90 = statistics.quantiles(v, n=10, method="inclusive")[-1] if n > 1 else v[0]
    return p90, ((100.0 * (n - 10) / n, v[n - 11]) if n >= 11 else None)


def summarize(samples: list[Sample]) -> dict:
    good = [s for s in samples if s.ok]
    timed = sum(s.seconds for s in samples)
    lat = [s.seconds for s in good]
    if not lat:
        raise RuntimeError("no call succeeded")
    p90, ten_beyond = tail(lat)
    by_kind: dict[str, list[float]] = {}
    for s in good:
        by_kind.setdefault(s.kind, []).append(s.seconds)
    sink_rows = sum(s.rows for s in good if s.sink_bytes)
    return {
        "calls_per_s": len(good) / timed,
        "rows_per_s": sum(s.rows for s in good) / timed,
        "call_p50_s": statistics.median(lat),
        "call_tail_s": p90,
        "ten_beyond": ten_beyond,
        "attempted": len(samples),
        "failed": len(samples) - len(good),
        "timed_s": timed,
        "driver_peak_rss_mib": max(s.peak_mib for s in samples),
        "kind_p50_s": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        "sink_bytes_per_row": sum(s.sink_bytes for s in good) / sink_rows if sink_rows else None,
    }


def report_summary(label: str, summ: dict) -> None:
    err = summ["failed"] / summ["attempted"]
    good = summ["attempted"] - summ["failed"]
    ten = summ["ten_beyond"]
    log(
        f"{label}: {summ['attempted']} calls in {summ['timed_s']:.2f} s timed, "
        f"error_rate={err:.4f} ({summ['failed']}/{summ['attempted']}), "
        f"p50={summ['call_p50_s']:.4f} s, p90={summ['call_tail_s']:.4f} s over {good} calls; "
        + (f"highest percentile with 10 beyond: p{ten[0]:.1f} = {ten[1]:.4f} s" if ten
           else "no percentile has 10 samples beyond it")
    )
    for kind, p50 in summ["kind_p50_s"].items():
        log(f"  {kind}_p50_s = {p50:.4f}")
    if summ["sink_bytes_per_row"]:
        log(f"  sink_bytes_per_row = {summ['sink_bytes_per_row']:.2f}")


# -- the traced run's layer probes -----------------------------------------------


def repeats(most: int = 5, budget_s: float = 2.0):
    """Up to ``most`` repeats of a probe, none started after
    ``budget_s``: a full-table probe runs once, so a traced run stays
    well inside its time limit, and a light one five times."""
    t0 = time.perf_counter()
    for i in range(most):
        if i and time.perf_counter() - t0 > budget_s:
            return
        yield i


def probe_layers(ctx, wl, tracer, rng: random.Random) -> dict:
    """Time each layer on its own through public calls: the pgwire
    client, read_sql planning, the Arrow handoff, the sinks (fed from
    an in-memory Arrow table, so no PostgreSQL work) and the query
    layer.  Each probe repeats as ``repeats`` allows; medians."""
    from workloads import NATIVE_TABLES, disk_bytes, remove

    from flaco_spark import tables
    from flaco_spark.inventory import load_inventory
    from flaco_spark.sources import pgwire

    stmt = wl.probe_stmt(rng)
    info = pgwire.parse_pg_uri(ctx.uri)
    pid = -1

    for _ in repeats():
        with tracer.span("pgwire.connect", pid):
            conn = pgwire.PgWireConnection(info)
        conn.close()
    with pgwire.PgWireConnection(info) as conn:
        for _ in repeats():
            with tracer.span("pgwire.schema_probe", pid):
                conn.query(f"SELECT * FROM ({stmt}) flaco_schema_probe LIMIT 0")
    for _ in repeats():
        with tracer.span("pgwire.probe_bounds", pid):
            pgwire.probe_bounds(ctx.uri, stmt, "c_int4")
    # The drain keeps its rows as wire_query_to_arrow does, so the two
    # differ only by the transpose.  They run in pairs, in alternating
    # order, and the transpose is the median of the pairs' differences:
    # the transpose is a few percent of a full-table drain, less than
    # one drain's run-to-run noise.
    def drain():
        rows: list = []
        with pgwire.PgWireConnection(info) as conn:
            for _, chunk in conn.query_paged(stmt, fetch_rows=65_536):
                rows.extend(chunk)
        return len(rows)

    fetched = 0
    transpose: list[float] = []
    for i in repeats(budget_s=12.0):
        took = {}
        for name in ("pgwire.fetch_decode", "pgwire.wire_query_to_arrow")[:: 1 - 2 * (i % 2)]:
            gc.collect()
            with tracer.span(name, pid) as s:
                if name == "pgwire.fetch_decode":
                    fetched = drain()
                else:
                    pgwire.wire_query_to_arrow(ctx.uri, stmt)
            took[name] = s.duration
        transpose.append(took["pgwire.wire_query_to_arrow"] - took["pgwire.fetch_decode"])
    for _ in repeats():
        with tracer.span("core.read_sql", pid):
            df = ctx.core.read_sql(ctx.uri, stmt, spark=ctx.spark)
    for _ in repeats():
        with tracer.span("core.to_arrow", pid):
            df.toArrow()

    table = wl.sink_table()
    sdf = ctx.spark.createDataFrame(table)
    sdf.count()
    sink_bytes = rows_written = 0
    for name, fmt, single in (
        ("sink.parquet", "parquet", True),
        ("sink.feather", "feather", True),
        ("sink.parquet_dir", "parquet", False),
        ("sink.feather_dir", "feather", False),
    ):
        for _ in repeats():
            path = ctx.sink_path(fmt)
            with tracer.span(name, pid):
                ctx.core.write_dataframe_to_file(sdf, path, ctx.file_format(fmt), single_file=single)
            sink_bytes += disk_bytes(path)
            rows_written += table.num_rows
            remove(path)

    for t in NATIVE_TABLES:
        with tracer.span("tables.table", pid):
            tables.table(ctx.spark, ctx.sf_dir, t)
    if not any(s.name == "inventory.build" for s in tracer.spans):
        # workloads whose loop has no inventory query time one
        spec = load_inventory()["q06_forecast_revenue"]
        for _ in repeats(3):
            with tracer.span("inventory.build", pid):
                qdf = spec.builder(ctx.spark, ctx.sf_dir)
            with tracer.span("query.exec", pid):
                qdf.write.format("noop").mode("overwrite").save()
    return {
        "fetched_rows": fetched,
        "transpose_s": statistics.median(transpose),
        "sink_bytes": sink_bytes,
        "sink_rows": rows_written,
    }


def traced_run(ctx, wl, args, rng, setup_times: dict) -> dict:
    """Untraced loop, then the same loop with spans and counters, then
    the layer probes; returns the per-layer metrics."""
    from tracing import PgCounters, Tracer, jvm_pid, peak_rss_mib

    from flaco_spark.sources.pgwire import PgWireConnection, parse_pg_uri

    half = args.seconds / 2
    plain = summarize(run_loop(ctx, wl, half, rng))
    report_summary("untraced", plain)

    tracer = Tracer()
    counts: list = []
    with PgWireConnection(parse_pg_uri(ctx.uri)) as monitor:
        ctx.pg_counters = PgCounters(monitor)
        samples = run_loop(ctx, wl, half, rng, tracer=tracer, counts=counts)
        jvm_peak = peak_rss_mib(jvm_pid())  # before the probes load whole tables
        traced = summarize(samples)
        report_summary("traced", traced)
        probe = probe_layers(ctx, wl, tracer, rng)

    selft = tracer.self_times()
    med = {name: statistics.median(v) for name, v in selft.items()}
    log("span self time (name: n, median s, total s):")
    for name, v in sorted(selft.items()):
        log(f"  {name}: {len(v)}, {statistics.median(v):.6f}, {sum(v):.4f}")

    n = len(samples)
    rows = sum(s.rows for s in samples if s.ok)
    sessions = sum(c[0][0] for c in counts)
    xacts = sum(c[0][1] for c in counts)
    scanned = sum(c[0][2] for c in counts)
    jobs = sum(c[1][0] for c in counts)
    stages = sum(c[1][1] for c in counts)
    tasks = sum(c[1][2] for c in counts)
    log(
        f"counts over {n} traced calls delivering {rows} rows: "
        f"{sessions} PG sessions, {xacts} commits, {scanned} tuples read; "
        f"{jobs} Spark jobs, {stages} stages, {tasks} tasks"
    )
    fetch = med["pgwire.fetch_decode"]
    layer = {
        "pgwire.connect_ms": med["pgwire.connect"] * 1e3,
        "pgwire.schema_probe_ms": med["pgwire.schema_probe"] * 1e3,
        "pgwire.bounds_probe_ms": med["pgwire.probe_bounds"] * 1e3,
        "pgwire.fetch_decode_s": fetch,
        "pgwire.decode_rows_per_s": probe["fetched_rows"] / fetch,
        "pgwire.wire_to_arrow_s": med["pgwire.wire_query_to_arrow"],
        "pgwire.transpose_s": probe["transpose_s"],
        "core.read_sql_plan_ms": med["core.read_sql"] * 1e3,
        "core.to_arrow_s": med["core.to_arrow"],
        "sink.parquet_s": med["sink.parquet"],
        "sink.feather_s": med["sink.feather"],
        "sink.parquet_dir_s": med["sink.parquet_dir"],
        "sink.feather_dir_s": med["sink.feather_dir"],
        "sink.bytes_per_row": probe["sink_bytes"] / probe["sink_rows"],
        "tables.load_ms": med["tables.table"] * 1e3,
        "query.build_ms": med["inventory.build"] * 1e3,
        "query.exec_s": med["query.exec"],
        "pg.sessions_per_call": sessions / n,
        "pg.xact_per_call": xacts / n,
        "pg.rows_scanned_per_row": scanned / rows,
        "spark.jobs_per_call": jobs / n,
        "spark.stages_per_call": stages / n,
        "spark.tasks_per_call": tasks / n,
        "session.start_s": setup_times["session.start_s"],
        "pg.seed_s": setup_times["pg.seed_s"],
        "jvm.peak_rss_mib": jvm_peak,
        "trace.overhead_ratio": traced["call_p50_s"] / plain["call_p50_s"],
    }
    return {
        "attempted": plain["attempted"] + traced["attempted"],
        "failed": plain["failed"] + traced["failed"],
        "metrics": {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()},
    }


# -- entry point -------------------------------------------------------------------


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed seconds per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=200_000, help="wide table rows")
    p.add_argument("--sf", type=float, default=0.1, help="native_sql table scale")
    p.add_argument("--corrupt", action="store_true", help="drop a row from the first output checked (self-test)")
    return p.parse_args(argv)


def measure(args, work: Path) -> dict:
    from workloads import WORKLOADS

    ctx = Context(args, work)
    wl = WORKLOADS[args.workload](ctx)
    rng = random.Random(args.seed)
    with contextlib.ExitStack() as stack:
        setup = set_up(ctx, wl, stack)
        log("set-up: " + ", ".join(f"{k}={v:.3f}" for k, v in setup.items()))
        if args.trace:
            return traced_run(ctx, wl, args, rng, setup)
        summ = summarize(run_loop(ctx, wl, args.seconds, rng))
        report_summary(args.workload, summ)
        values = {
            "setup_s": setup["setup_s"],
            "calls_per_s": summ["calls_per_s"],
            "rows_per_s": summ["rows_per_s"],
            "call_p50_s": summ["call_p50_s"],
            "call_tail_s": summ["call_tail_s"],
            "driver_peak_rss_mib": summ["driver_peak_rss_mib"],
        }
        return {
            "attempted": summ["attempted"],
            "failed": summ["failed"],
            "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()},
        }


def main(argv: list[str]) -> int:
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a flaco_spark checkout, missing {', '.join(missing)}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / str(os.getpid())
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            # no hsperfdata files in the system temporary directory
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, **result}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
