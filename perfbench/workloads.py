"""The three workloads: their calls, their warm-up, the checks on
every output, and the inputs their traced run probes the layers with.

A workload call is timed around public ``flaco_spark`` functions only;
its output is checked afterwards, outside the timed interval.
"""

from __future__ import annotations

import math
import os
import random
import shutil
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from scripts.bench_wire import SEED_TMPL

# The reference's own benchmark table (its 10 PostgreSQL types), with a
# primary key so key-range lookups use an index.
WIDE_SEED = SEED_TMPL + """
ALTER TABLE bench_wide ADD PRIMARY KEY (c_int4);
ALTER TABLE bench_wide SET (autovacuum_enabled = off);
"""

WIDE_STMT = "SELECT * FROM bench_wide"

# Per-column checksums the server computes once; the client recomputes
# them from every delivered table or file.  c_float8 is NUMERIC (an
# exact decimal); the float4 column compares within 1e-9.
CHECKSUM_SQL = """
SELECT count(*),
       sum(c_int4), sum(c_int8), sum(c_float8), sum(c_float4),
       sum(octet_length(c_text)), sum(octet_length(c_bytea)),
       sum(c_date - DATE '1970-01-01'),
       sum(extract(epoch FROM c_ts) * 1000000),
       sum(extract(epoch FROM c_tstz) * 1000000),
       sum(extract(epoch FROM c_time) * 1000000)
FROM bench_wide
"""
CHECKSUM_COLS = (
    "rows", "c_int4", "c_int8", "c_float8", "c_float4", "c_text", "c_bytea",
    "c_date", "c_ts", "c_tstz", "c_time",
)
FLOAT_COLS = frozenset({"c_float4"})

NATIVE_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q24_window_running",
)
NATIVE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")

LOOKUP_ROWS = 100
READ_BATCH_ROWS = 16_384


def parse_checksums(row: list[str]) -> dict[str, float | Decimal]:
    return {
        c: float(v) if c in FLOAT_COLS else Decimal(v)
        for c, v in zip(CHECKSUM_COLS, row)
    }


def _int_sum(col: pa.Array | pa.ChunkedArray) -> int:
    """Exact sum of an int column (Python int, no int64 wraparound)."""
    arr = col.to_numpy(zero_copy_only=False).astype(np.int64)
    hi, lo = np.divmod(arr, 1 << 32)
    return int(hi.sum()) * (1 << 32) + int(lo.sum())


def _column_sum(col: pa.Array) -> float | int | Decimal:
    """One column's CHECKSUM_SQL term for any delivered shape: time
    columns arrive as microseconds since midnight, timestamps at µs or
    ns precision depending on the sink."""
    t = col.type
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return pc.sum(col).as_py() or 0  # decimal128 sums are exact
    if pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = col.cast(pa.int32())
    elif pa.types.is_time(t):
        col = col.cast(pa.time64("us")).cast(pa.int64())
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        col = pc.binary_length(col)
    return _int_sum(col)


def checksums(batches: Iterable[pa.RecordBatch]) -> dict[str, float | int | Decimal]:
    """The client side of CHECKSUM_SQL, summed one batch at a time so
    checking a file holds no more of it than one batch."""
    out: dict[str, float | int | Decimal] = dict.fromkeys(CHECKSUM_COLS, 0)
    for batch in batches:
        out["rows"] += batch.num_rows
        for name in CHECKSUM_COLS[1:]:
            out[name] += _column_sum(batch.column(name))
    return out


def checksums_match(got: dict, want: dict) -> bool:
    for k, w in want.items():
        g = got.get(k)
        if g is None:
            return False
        if k in FLOAT_COLS:
            if not math.isclose(g, w, rel_tol=1e-9):
                return False
        elif g != w:
            return False
    return True


def read_back(path: str, fmt: str) -> Iterator[pa.RecordBatch]:
    """The record batches of a written file, or of a directory of
    per-partition files, read a batch at a time."""
    files = [path]
    if os.path.isdir(path):
        ext = ".parquet" if fmt == "parquet" else ".arrow"
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(ext) and not f.startswith((".", "_"))
        )
    for f in files:
        if fmt == "parquet":
            yield from pq.ParquetFile(f).iter_batches(batch_size=READ_BATCH_ROWS)
            continue
        with pa.OSFile(f) as src:  # not memory-mapped: the pages would stay resident
            reader = pa.ipc.open_file(src)
            for i in range(reader.num_record_batches):
                yield reader.get_batch(i)


def disk_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


@dataclass
class Outcome:
    ok: bool | None  # None: checked after the loop
    rows: int
    sink_bytes: int = 0


@dataclass
class Call:
    """One closed-loop request.  ``run(span)`` is the timed part and
    wraps each public call it makes in ``span(name)``; ``check`` takes
    its result and runs untimed."""

    kind: str
    run: Callable
    check: Callable[[object], Outcome]


class Workload:
    name = ""
    uses_tables = False  # reads the generated native_sql tables

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def cycle(self, rng: random.Random) -> list[Call]:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def finish(self, samples: list) -> None:
        """Checks deferred until after the timed loop."""

    # -- inputs for the traced run's layer probes --------------------------

    def probe_stmt(self, rng: random.Random) -> str:
        return lookup_stmt(rng.randint(1, self.ctx.rows - LOOKUP_ROWS + 1))

    def sink_table(self) -> pa.Table:
        raise NotImplementedError


def lookup_stmt(lo: int) -> str:
    return (
        f"SELECT * FROM bench_wide WHERE c_int4 >= {lo} "
        f"AND c_int4 < {lo + LOOKUP_ROWS}"
    )


GROUP_STMT = (
    "SELECT c_date, count(*) AS n, sum(c_int8) AS s FROM bench_wide GROUP BY c_date"
)


class WideExtract(Workload):
    """Whole-table extracts: ``read_sql_to_pyarrow``, ``read_sql_to_file``
    to Parquet and to Feather, and a partitioned ``read_sql`` +
    ``write_dataframe_to_file`` directory export (Parquet for even
    seeds, Feather for odd ones)."""

    name = "wide_extract"
    KINDS = ("pyarrow", "parquet", "feather", "export")

    def _check(self, batches: Iterable[pa.RecordBatch]) -> tuple[bool, int]:
        sums = checksums(self.ctx.maybe_corrupt(b) for b in batches)
        return checksums_match(sums, self.ctx.wide_sums), sums["rows"]

    def _file_check(self, path: str, fmt: str) -> Callable[[object], Outcome]:
        def check(_):
            ok, rows = self._check(read_back(path, fmt))
            out = Outcome(ok, rows, disk_bytes(path))
            remove(path)
            return out

        return check

    def _file_call(self, fmt: str, stmt: str) -> Call:
        ctx = self.ctx
        path = ctx.sink_path(fmt)

        def run(span):
            with span("core.read_sql_to_file"):
                ctx.core.read_sql_to_file(
                    ctx.uri, stmt, path, ctx.file_format(fmt), spark=ctx.spark
                )

        return Call(fmt, run, self._file_check(path, fmt))

    def _export_call(self, fmt: str, stmt: str) -> Call:
        ctx = self.ctx
        path = ctx.sink_path(fmt + "_dir")

        def run(span):
            with span("core.read_sql"):
                df = ctx.core.read_sql(
                    ctx.uri, stmt, spark=ctx.spark,
                    partition_column="c_int4", num_partitions=ctx.cpus,
                )
            with span("core.write_dataframe_to_file"):
                ctx.core.write_dataframe_to_file(
                    df, path, ctx.file_format(fmt), single_file=False
                )

        return Call("export", run, self._file_check(path, fmt))

    def _pyarrow_call(self, stmt: str) -> Call:
        ctx = self.ctx

        def run(span):
            with span("core.read_sql_to_pyarrow"):
                return ctx.core.read_sql_to_pyarrow(ctx.uri, stmt, spark=ctx.spark)

        def check(table):
            return Outcome(*self._check(table.to_batches()))

        return Call("pyarrow", run, check)

    def _calls(self, stmt: str, export_fmt: str) -> dict[str, Call]:
        return {
            "pyarrow": self._pyarrow_call(stmt),
            "parquet": self._file_call("parquet", stmt),
            "feather": self._file_call("feather", stmt),
            "export": self._export_call(export_fmt, stmt),
        }

    def _export_fmt(self) -> str:
        # one format for the whole run, so both halves of a traced run
        # time the same export
        return ("parquet", "feather")[self.ctx.seed % 2]

    def cycle(self, rng: random.Random) -> list[Call]:
        calls = self._calls(WIDE_STMT, self._export_fmt())
        order = list(self.KINDS)
        k = rng.randrange(len(order))
        return [calls[kind] for kind in order[k:] + order[:k]]

    def warm_up(self) -> None:
        # a twentieth of the table: the first call of each kind costs
        # about 3 s whatever its size, more rows barely change that
        part = f"SELECT * FROM bench_wide WHERE c_int4 <= {max(self.ctx.rows // 20, 1)}"
        fmt = self._export_fmt()
        calls = [self._pyarrow_call(part), self._file_call("parquet", part), self._export_call(fmt, part)]
        if self.ctx.trace:  # the traced run's sink probes write both formats
            calls.append(self._export_call(("parquet", "feather")[fmt == "parquet"], part))
        # then one whole-table Feather file: the first one at full size
        # runs 20-40% slower than later ones
        calls.append(self._file_call("feather", WIDE_STMT))
        for call in calls:
            call.run(self.ctx.no_span)
        self.ctx.clear_sinks()

    def probe_stmt(self, rng: random.Random) -> str:
        return WIDE_STMT

    def sink_table(self) -> pa.Table:
        return self.ctx.core.read_sql_to_pyarrow(self.ctx.uri, WIDE_STMT, spark=self.ctx.spark)


class PointQueries(Workload):
    """Short ``read_sql_to_pyarrow`` calls: four 100-row key-range
    lookups with seeded keys, then one server-side GROUP BY."""

    name = "point_queries"

    def _lookup(self, lo: int) -> Call:
        ctx = self.ctx
        stmt = lookup_stmt(lo)

        def run(span):
            with span("core.read_sql_to_pyarrow"):
                return ctx.core.read_sql_to_pyarrow(ctx.uri, stmt, spark=ctx.spark)

        def check(table):
            table = ctx.maybe_corrupt(table)
            keys = sorted(table.column("c_int4").to_pylist())
            return Outcome(keys == list(range(lo, lo + LOOKUP_ROWS)), table.num_rows)

        return Call("lookup", run, check)

    def _group(self) -> Call:
        ctx = self.ctx

        def run(span):
            with span("core.read_sql_to_pyarrow"):
                return ctx.core.read_sql_to_pyarrow(ctx.uri, GROUP_STMT, spark=ctx.spark)

        def check(table):
            table = ctx.maybe_corrupt(table)
            ok = (
                table.num_rows == ctx.n_dates
                and _int_sum(table.column("n")) == ctx.rows
                and sum(Decimal(v) for v in table.column("s").to_pylist())
                == ctx.wide_sums["c_int8"]
            )
            return Outcome(ok, table.num_rows)

        return Call("group", run, check)

    def _key(self, rng: random.Random) -> int:
        return rng.randint(1, self.ctx.rows - LOOKUP_ROWS + 1)

    def cycle(self, rng: random.Random) -> list[Call]:
        return [self._lookup(self._key(rng)) for _ in range(4)] + [self._group()]

    def warm_up(self) -> None:
        # two cycles: a fresh JVM runs the first ten or so calls 10–30%
        # slower than later ones, and how much slower varies by run
        rng = random.Random(f"warm-up {self.ctx.seed}")
        for _ in range(2):
            for call in self.cycle(rng):
                call.run(self.ctx.no_span)

    def sink_table(self) -> pa.Table:
        return self.ctx.core.read_sql_to_pyarrow(self.ctx.uri, GROUP_STMT, spark=self.ctx.spark)


class NativeSql(Workload):
    """Inventory builders over the generated tables, in seeded order,
    each drained by a ``noop`` write; results are compared with the
    queries' DuckDB oracles after the loop."""

    name = "native_sql"
    uses_tables = True

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from flaco_spark.inventory import load_inventory

        inventory = load_inventory()
        self.specs = {n: inventory[n] for n in NATIVE_QUERIES}

    def _call(self, name: str) -> Call:
        ctx = self.ctx
        spec = self.specs[name]

        def run(span):
            with span("inventory.build"):
                df = spec.builder(ctx.spark, ctx.sf_dir)
            with span("query.exec"):
                df.write.format("noop").mode("overwrite").save()

        return Call(name, run, lambda _: Outcome(None, 0))

    def cycle(self, rng: random.Random) -> list[Call]:
        order = list(NATIVE_QUERIES)
        rng.shuffle(order)
        return [self._call(n) for n in order]

    def warm_up(self) -> None:
        for name in NATIVE_QUERIES:
            self._call(name).run(self.ctx.no_span)

    def finish(self, samples: list) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in NATIVE_TABLES:
                path = os.path.join(self.ctx.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            verdict = {}
            for name, spec in self.specs.items():
                got = self.ctx.maybe_corrupt(spec.builder(self.ctx.spark, self.ctx.sf_dir).toArrow())
                want = con.execute(spec.oracle).arrow()
                verdict[name] = (_canonical(got) == _canonical(want), got.num_rows)
        finally:
            con.close()
        for s in samples:
            ok, rows = verdict[s.kind]
            s.ok = s.ok is not False and ok
            s.rows = rows

    def sink_table(self) -> pa.Table:
        return self.specs["q24_window_running"].builder(self.ctx.spark, self.ctx.sf_dir).toArrow()


def _canonical(table: pa.Table) -> tuple:
    if hasattr(table, "read_all"):  # a DuckDB record-batch reader
        table = table.read_all()
    cols = sorted(table.column_names)
    rows = zip(*(table.column(c).to_pylist() for c in cols))
    return tuple(cols), sorted(
        tuple((v is None, repr(v)) for v in row) for row in rows
    )


WORKLOADS = {w.name: w for w in (WideExtract, PointQueries, NativeSql)}
