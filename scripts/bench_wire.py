#!/usr/bin/env python
"""Live-PostgreSQL extract benchmark — the TRUE apples-to-apples
comparison with BASELINE.md.

The reference's published numbers (BASELINE.md) time ``read_sql`` over
a LIVE PostgreSQL connection on a synthetic 10-column table —
int4, int8, float8, float4, text, bytea, date, timestamp, timestamptz,
time (`benchmarks/test_benchmarks.py:88-101`) — at 100k..900k rows:
600k rows = 605.60 ms (flaco, Rust single connection), 1977.10 ms
(pandas read_sql).  The repo's standing bench (bench.py x01/x02)
extracts from parquet because no live PG existed before round 7; this
script replays the reference's OWN workload over a real server via
the jar-free wire source, and reports three legs per row count:

- ``wire_single``  — one connection, text protocol, pure-Python decode
  → pyarrow Table (the topology flaco times; our slow honest floor —
  Python text parse vs Rust binary decode)
- ``wire_partitioned`` — the Spark DataSource: N parallel server
  cursors → executor-side decode → count() (the engine's actual
  extract path; amortizes Python decode across tasks)
- ``wire_to_parquet`` — partitioned read → parquet directory sink,
  flaco's ``read_sql_to_file`` equivalent end-to-end

Spin probes bracket every leg (host-noise discipline, bench.py's
protocol).  One JSON line on stdout; optional out-file arg.

Usage: python scripts/bench_wire.py [rows ...] [--out FILE]
Defaults: 100000 600000
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scripts.pg_harness import HarnessUnavailable, local_postgres

# BASELINE.md "synthetic 10-col table" rows → flaco ms (reference table)
FLACO_MS = {
    100_000: 97.93,
    200_000: 198.54,
    300_000: 292.40,
    400_000: 397.12,
    500_000: 514.13,
    600_000: 605.60,
    700_000: 749.79,
    800_000: 851.35,
    900_000: 812.73,
}

SEED_TMPL = """
CREATE TABLE bench_wide AS
SELECT g::int4                                   AS c_int4,
       g::int8 * 1000000                         AS c_int8,
       g * 0.5                                   AS c_float8,
       (g % 1000)::float4 / 7.0                  AS c_float4,
       'row-' || g || '-payload'                 AS c_text,
       decode(md5(g::text), 'hex')               AS c_bytea,
       DATE '2020-01-01' + (g % 3650)            AS c_date,
       TIMESTAMP '2020-01-01 00:00:00' + (g % 86400) * INTERVAL '1 second' AS c_ts,
       TIMESTAMPTZ '2020-01-01 00:00:00+00' + (g % 86400) * INTERVAL '1 second' AS c_tstz,
       TIME '00:00:00' + (g % 86400) * INTERVAL '1 second' AS c_time
FROM generate_series(1, {rows}) g;
ANALYZE bench_wide;
"""


def _spin() -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        x = 0
        for i in range(20_000_000):
            x += i
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    argv = sys.argv[1:]
    out_file = None
    if "--out" in argv:
        i = argv.index("--out")
        out_file = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    row_counts = [int(a) for a in argv] or [100_000, 600_000]

    import shutil
    import tempfile

    from flaco_spark.session import get_session
    from flaco_spark.sources.pgwire import read_sql_wire, wire_query_to_arrow

    results: dict[str, dict] = {}
    try:
        with local_postgres() as pg:
            from scripts.pg_harness import psql

            uri = f"postgresql://postgres@127.0.0.1:{pg['port']}/postgres"
            spark = get_session(app_name="bench_wire")
            try:
                for rows in row_counts:
                    psql(pg["port"], "DROP TABLE IF EXISTS bench_wide")
                    psql(pg["port"], SEED_TMPL.format(rows=rows))
                    stmt = "SELECT * FROM bench_wide"
                    leg: dict = {"spin_pre": _spin()}

                    # best-of-3 per timed leg (1 untimed warm first):
                    # single runs drift ±30% on 32 concurrent backends
                    # (scheduler + PG buffer state) — min over repeats
                    # is the probe protocol's estimator
                    import gc

                    wire_query_to_arrow(uri, stmt)  # warm
                    gc.collect()
                    best = float("inf")
                    for _ in range(3):
                        t0 = time.perf_counter()
                        table = wire_query_to_arrow(uri, stmt)
                        best = min(best, time.perf_counter() - t0)
                        assert table.num_rows == rows
                        # release the table + its 6M python objects
                        # between reps: a bloated driver heap slows
                        # every later leg (COW'd python workers)
                        del table
                        gc.collect()
                    leg["wire_single_sec"] = round(best, 3)

                    n_parts = 32
                    df = read_sql_wire(
                        spark, uri, stmt,
                        partition_column="c_int4",
                        num_partitions=n_parts,
                        lower_bound=1,
                        upper_bound=rows + 1,
                    )
                    df.count()  # warm (Python workers, first connections)
                    best = float("inf")
                    for _ in range(3):
                        t0 = time.perf_counter()
                        got = df.count()
                        best = min(best, time.perf_counter() - t0)
                    leg["wire_partitioned_sec"] = round(best, 3)
                    leg["partitions"] = n_parts
                    assert got == rows

                    sink = tempfile.mkdtemp(prefix="flaco_wirebench_")
                    try:
                        t0 = time.perf_counter()
                        df.write.mode("overwrite").parquet(f"{sink}/out.parquet")
                        leg["wire_to_parquet_sec"] = round(
                            time.perf_counter() - t0, 3
                        )
                    finally:
                        shutil.rmtree(sink, ignore_errors=True)

                    leg["spin_post"] = _spin()
                    base = FLACO_MS.get(rows)
                    if base:
                        leg["flaco_baseline_sec"] = base / 1000.0
                        leg["vs_baseline_partitioned"] = round(
                            leg["wire_partitioned_sec"] / (base / 1000.0), 2
                        )
                        leg["vs_baseline_single"] = round(
                            leg["wire_single_sec"] / (base / 1000.0), 2
                        )
                    results[str(rows)] = leg
                    print(f"# rows={rows}: {leg}", file=sys.stderr)
            finally:
                spark.stop()
    except HarnessUnavailable as exc:
        print(f"# wire bench unavailable: {exc}", file=sys.stderr)
        return 1

    line = json.dumps(
        {
            "metric": "live-PG wire extract vs BASELINE.md synthetic table",
            "schema": "int4,int8,float8,float4,text,bytea,date,ts,tstz,time",
            "rows": results,
        }
    )
    print(line)
    if out_file:
        Path(out_file).write_text(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
