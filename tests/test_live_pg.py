"""Live-PostgreSQL end-to-end for P1/P2.

The reference's whole test suite runs against a live Postgres
(``/root/reference/tests/test_general.py:10-46``; its CI boots
postgres:12).  This module replays that shape against a REAL server:

- **Preferred harness (round 7+): locally-spawned PostgreSQL 15** —
  the sandbox ships ``initdb``/``pg_ctl``/``postgres`` binaries, so a
  throwaway cluster is initialized in a tmpdir (privilege-dropped to
  the ``postgres`` system user when running as root), with TLS enabled
  (self-signed cert) and per-user auth methods (trust / md5 /
  scram-sha-256) wired into ``pg_hba.conf``.
- The engine side is :mod:`flaco_spark.sources.pgwire` — the
  pure-stdlib wire-protocol client + its ``mapInArrow`` read — because
  this runtime has no PostgreSQL JDBC jar.  The JDBC variant of the
  same e2e (`test_live_pg_jdbc_extract`) still auto-skips on the
  missing jar and turns real the day one appears, unchanged.

Environment gating: every missing prerequisite skips with a reason
naming it, so the module is green-by-skip on machines without the
binaries and a real e2e here.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scripts.pg_harness import (  # noqa: E402
    HarnessUnavailable,
    local_postgres,
    psql as _sql_port,
)


SEED_DDL = """
CREATE TABLE typed (
  id serial PRIMARY KEY,
  b bool, by bytea, ch "char", nm name,
  i2 int2, i4 int4, i8 int8,
  f4 float4, f8 float8, num numeric(12,4),
  t text, vc varchar(16), bp bpchar(3),
  js json, jb jsonb, u uuid,
  d date, tm time, ts timestamp, tstz timestamptz,
  iv interval, arr int4[], tarr text[]
);
INSERT INTO typed
  (b, by, ch, nm, i2, i4, i8, f4, f8, num, t, vc, bp, js, jb, u,
   d, tm, ts, tstz, iv, arr, tarr) VALUES
  (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
  (true, '\\x0001'::bytea, 'A', 'a_name', 7, 42, 9007199254740993,
   1.5, 2.25, 1.5000, 'plain', 'varchar', 'abc',
   '{"k": 1}', '{"k": [1, 2]}', 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11',
   '2024-03-01', '06:15:30.123456', '2024-03-01 06:15:30.123456',
   '2024-03-01 06:15:30.123456+00', '1 day 02:03:04.5',
   '{1,2,3}', '{"x","y,z",NULL}'),
  (false, '\\xdeadbeef'::bytea, 'z', 'b_name', -7, -42, -1,
   'NaN'::float4, '-Infinity'::float8, -9999.9999, 'üñí©ödé', 'v',
   'xy ', '[1,2]', '"s"', 'b0eebc99-9c0b-4ef8-bb6d-6bb9bd380a22',
   '1970-01-01', '00:00:00', '1970-01-01 00:00:00',
   '2024-06-30 23:59:59.999999+02', '-00:00:01',
   '{NULL,-5}', '{}');
CREATE TABLE series AS
  SELECT g AS id, g % 7 AS grp, md5(g::text) AS payload
  FROM generate_series(1, 5000) g;
"""


@pytest.fixture(scope="module")
def pg_local():
    """Throwaway local PostgreSQL with TLS + trust/md5/scram auth
    (scripts/pg_harness.py — shared with scripts/bench_wire.py)."""
    try:
        with local_postgres(seed_sql=SEED_DDL) as pg:
            _sql_port(pg["port"], "GRANT SELECT ON typed, series TO scramuser, md5user")
            yield pg
    except HarnessUnavailable as exc:
        pytest.skip(f"live-PG e2e unavailable: {exc}")


def _uri(pg, user="postgres", password=None, **params) -> str:
    auth = user if password is None else f"{user}:{password}"
    qs = "&".join(f"{k}={v}" for k, v in params.items())
    return f"postgresql://{auth}@127.0.0.1:{pg['port']}/postgres" + (
        f"?{qs}" if qs else ""
    )


# ---------------------------------------------------------------------------
# Wire-protocol e2e: typed decode (SURVEY §1.3 arms over a real wire)
# ---------------------------------------------------------------------------


def test_wire_all_oid_arms(pg_local):
    """Every §1.3 OID family round-trips the live wire with the typemap's
    Spark/Arrow types — including the §7.5 defect cases: the FIRST row
    is all-NULL (leading-NULL TIMESTAMPTZ must decode, not be sniffed
    away), floats carry NaN/-Infinity without NULL-coercion, NUMERIC is
    exact Decimal, UUID a canonical string."""
    import pyarrow as pa

    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local), "SELECT * FROM typed ORDER BY id"
    )
    s = {f.name: f.type for f in t.schema}
    assert pa.types.is_boolean(s["b"])
    assert pa.types.is_binary(s["by"]) or pa.types.is_large_binary(s["by"])
    assert pa.types.is_int8(s["ch"])
    assert pa.types.is_int16(s["i2"])
    assert pa.types.is_int32(s["i4"]) and pa.types.is_int32(s["id"])
    assert pa.types.is_int64(s["i8"])
    assert pa.types.is_float32(s["f4"]) and pa.types.is_float64(s["f8"])
    assert pa.types.is_decimal(s["num"]) and s["num"].scale == 18
    for c in ("t", "vc", "bp", "nm", "js", "jb", "u"):
        assert pa.types.is_string(s[c]) or pa.types.is_large_string(s[c]), c
    assert pa.types.is_date(s["d"])
    assert pa.types.is_time(s["tm"])
    assert pa.types.is_timestamp(s["ts"]) and s["ts"].tz is None
    assert pa.types.is_timestamp(s["tstz"]) and s["tstz"].tz is not None
    assert pa.types.is_duration(s["iv"])
    assert pa.types.is_list(s["arr"]) and pa.types.is_int32(s["arr"].value_type)
    assert pa.types.is_list(s["tarr"])

    rows = t.to_pylist()
    r0, r1, r2 = rows
    # leading NULLs decoded for every arm (§7.5(3))
    assert all(r0[c] is None for c in s if c != "id")
    assert r1["b"] is True and r2["b"] is False
    assert r1["by"] == b"\x00\x01" and r2["by"] == b"\xde\xad\xbe\xef"
    assert r1["ch"] == ord("A")
    assert r1["i8"] == 9007199254740993  # survives exactly (not via float)
    assert r1["f4"] == 1.5 and r1["f8"] == 2.25
    import math

    assert math.isnan(r2["f4"]) and r2["f8"] == float("-inf")
    from decimal import Decimal

    assert r1["num"] == Decimal("1.5")
    assert r2["num"] == Decimal("-9999.9999")
    assert r2["t"] == "üñí©ödé"
    assert r1["bp"] == "abc" and r2["bp"] == "xy "  # bpchar pad preserved
    assert r1["u"] == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
    import datetime as dt

    assert r1["d"] == dt.date(2024, 3, 1)
    assert r1["tm"] == dt.time(6, 15, 30, 123456)
    assert r1["ts"] == dt.datetime(2024, 3, 1, 6, 15, 30, 123456)
    # tstz normalized to UTC; the +02 row lands at 21:59:59.999999Z
    assert r1["tstz"].replace(tzinfo=None) == dt.datetime(2024, 3, 1, 6, 15, 30, 123456)
    assert r2["tstz"].replace(tzinfo=None) == dt.datetime(2024, 6, 30, 21, 59, 59, 999999)
    assert r1["iv"] == dt.timedelta(days=1, hours=2, minutes=3, seconds=4.5)
    assert r2["iv"] == dt.timedelta(seconds=-1)
    assert r1["arr"] == [1, 2, 3] and r2["arr"] == [None, -5]
    assert r1["tarr"] == ["x", "y,z", None] and r2["tarr"] == []


def test_wire_zero_row_schema_survives(pg_local):
    """§7.5(1): a zero-row result still carries the full typed schema
    (the reference loses it, src/lib.rs:203-206)."""
    import pyarrow as pa

    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local), "SELECT id, tstz, num FROM typed WHERE false"
    )
    assert t.num_rows == 0
    assert pa.types.is_timestamp(t.schema.field("tstz").type)
    assert pa.types.is_decimal(t.schema.field("num").type)


def test_wire_error_surface(pg_local):
    """Server errors surface as EngineError with the SQLSTATE."""
    from flaco_spark.errors import EngineError
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    with pytest.raises(EngineError, match="42P01"):
        wire_query_to_arrow(_uri(pg_local), "SELECT * FROM no_such_table")


# ---------------------------------------------------------------------------
# Auth matrix (reference: untested inherits of rust-postgres)
# ---------------------------------------------------------------------------


def test_wire_scram_auth(pg_local):
    """SCRAM-SHA-256 (PG ≥ 10 default) incl. server-signature check."""
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local, "scramuser", "scr%40m%20pw"), "SELECT current_user AS u"
    )
    assert t.to_pylist() == [{"u": "scramuser"}]


def test_wire_scram_bad_password(pg_local):
    from flaco_spark.errors import EngineError
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    with pytest.raises(EngineError, match="28P01|SCRAM"):
        wire_query_to_arrow(_uri(pg_local, "scramuser", "wrong"), "SELECT 1")


def test_wire_md5_auth(pg_local):
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local, "md5user", "m5pw"), "SELECT current_user AS u"
    )
    assert t.to_pylist() == [{"u": "md5user"}]


# ---------------------------------------------------------------------------
# TLS (SURVEY §7.5(8): the reference is NoTls-only, src/lib.rs:46)
# ---------------------------------------------------------------------------


def test_wire_tls_verify_ca(pg_local):
    """sslmode=verify-ca against the harness's self-signed CA: the
    session IS TLS (pg_stat_ssl confirms server-side)."""
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local, sslmode="verify-ca", sslrootcert=pg_local["cert"]),
        "SELECT ssl, version FROM pg_stat_ssl WHERE pid = pg_backend_pid()",
    )
    rows = t.to_pylist()
    assert rows[0]["ssl"] is True
    assert rows[0]["version"].startswith("TLSv1.")


def test_wire_tls_require(pg_local):
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local, sslmode="require"),
        "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()",
    )
    assert t.to_pylist()[0]["ssl"] is True


def test_wire_tls_verify_ca_rejects_unknown_ca(pg_local, tmp_path):
    """verify-ca with a DIFFERENT CA must refuse the server."""
    subprocess.run(
        ["openssl", "req", "-new", "-x509", "-days", "2", "-nodes",
         "-subj", "/CN=other", "-keyout", str(tmp_path / "o.key"),
         "-out", str(tmp_path / "o.crt")],
        check=True,
        capture_output=True,
    )
    from flaco_spark.errors import EngineError
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    with pytest.raises(EngineError):
        wire_query_to_arrow(
            _uri(pg_local, sslmode="verify-ca", sslrootcert=str(tmp_path / "o.crt")),
            "SELECT 1",
        )


def test_plain_connection_is_not_tls(pg_local):
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local),
        "SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()",
    )
    assert t.to_pylist()[0]["ssl"] is False


# ---------------------------------------------------------------------------
# Distributed wire reads (mapInArrow) + flaco-parity API e2e
# ---------------------------------------------------------------------------


def test_wire_datasource_partitioned_read(spark, pg_local):
    """A partitioned wire read opens ONE SERVER CURSOR PER TASK with
    disjoint range predicates (jdbc.py's partitioned-extract contract)
    — vs the reference's single connection (src/lib.rs:46)."""
    from flaco_spark.sources.pgwire import read_sql_wire

    df = read_sql_wire(
        spark,
        _uri(pg_local),
        "SELECT id, grp, payload FROM series",
        partition_column="id",
        num_partitions=4,
        lower_bound=1,
        upper_bound=5001,
    )
    assert df.rdd.getNumPartitions() == 4
    got = df.groupBy().agg({"id": "sum", "*": "count"}).collect()[0]
    assert got["count(1)"] == 5000
    assert got["sum(id)"] == 5000 * 5001 // 2

    single = read_sql_wire(spark, _uri(pg_local), "SELECT * FROM series")
    assert single.count() == 5000


def test_wire_partition_predicates_cover_out_of_bounds(spark, pg_local):
    """Bounds PARTITION, they do not FILTER (the Spark-JDBC contract):
    rows outside [lower, upper) land in the edge partitions."""
    from flaco_spark.sources.pgwire import read_sql_wire

    df = read_sql_wire(
        spark,
        _uri(pg_local),
        "SELECT id FROM series",
        partition_column="id",
        num_partitions=3,
        lower_bound=2000,
        upper_bound=3000,
    )
    assert df.count() == 5000  # nothing lost


def test_wire_portal_paging_is_bounded(pg_local):
    """The executor read path pages through a server-side portal
    (extended protocol, Execute(max_rows=fetch_rows), binary results):
    every chunk is <= fetch_rows, values arrive decoded, the union is
    exact, and an exact-multiple row count does not cost a phantom
    empty page being yielded."""
    from flaco_spark.sources.pgwire import PgWireConnection, parse_pg_uri

    with PgWireConnection(parse_pg_uri(_uri(pg_local))) as conn:
        chunks = list(
            conn.query_paged("SELECT id FROM series ORDER BY id", fetch_rows=999)
        )
        assert [len(rows) for _, rows in chunks] == [999, 999, 999, 999, 999, 5]
        ids = [r[0] for _, rows in chunks for r in rows]
        assert ids == list(range(1, 5001))  # binary decode: real ints

        # exact multiple: 5000 rows / 1000 per page = 5 non-empty pages
        chunks = list(
            conn.query_paged("SELECT id FROM series", fetch_rows=1000)
        )
        assert [len(rows) for _, rows in chunks] == [1000] * 5

        # abandoned mid-iteration: the finally-Sync must leave the
        # connection reusable
        gen = conn.query_paged("SELECT id FROM series", fetch_rows=10)
        next(gen)
        gen.close()

        # portal state cleaned up: fresh simple queries still work
        _, rows = conn.query("SELECT count(*) FROM series")
        assert rows == [["5000"]]


def test_wire_paging_midstream_error_surfaces_and_recovers(pg_local):
    """A server error AFTER rows have already streamed (division by
    zero at row 2500) must raise EngineError — not truncate silently —
    and the finally-Sync must leave the connection reusable."""
    import pytest

    from flaco_spark.errors import EngineError
    from flaco_spark.sources.pgwire import PgWireConnection, parse_pg_uri

    with PgWireConnection(parse_pg_uri(_uri(pg_local))) as conn:
        got = 0
        # no ORDER BY: a sort would materialize (and fail) before the
        # first row ships; a streaming seqscan errors mid-portal
        with pytest.raises(EngineError, match="division by zero"):
            for _, rows in conn.query_paged(
                "SELECT 1000 / (id - 2500) FROM series",
                fetch_rows=500,
            ):
                got += len(rows)
        assert got >= 500  # at least one page streamed before the poison
        _, rows = conn.query("SELECT count(*) FROM series")
        assert rows == [["5000"]]  # connection recovered


def test_wire_binary_text_paths_agree(pg_local):
    """Differential: the binary extended path (wire_query_to_arrow →
    the columnar page decoder) and the simple-query text path
    (_rows_to_arrow over conn.query) must produce IDENTICAL Arrow tables
    over every OID arm — including NaN floats, exact NUMERIC, tz
    normalization, intervals and arrays."""
    from flaco_spark.sources.pgwire import (
        PgWireConnection,
        _rows_to_arrow,
        parse_pg_uri,
        wire_query_to_arrow,
    )

    stmt = "SELECT * FROM typed ORDER BY id"
    t_bin = wire_query_to_arrow(_uri(pg_local), stmt)
    with PgWireConnection(parse_pg_uri(_uri(pg_local))) as conn:
        fields, rows = conn.query(stmt)
        t_txt = _rows_to_arrow(fields, rows)
    assert t_bin.schema == t_txt.schema
    # NaN != NaN under Arrow equals; compare via pylist with math.isnan
    import math

    for c in t_bin.column_names:
        a, b = t_bin[c].to_pylist(), t_txt[c].to_pylist()
        for x, y in zip(a, b):
            if isinstance(x, float) and math.isnan(x):
                assert math.isnan(y), c
            else:
                assert x == y, (c, x, y)


def test_wire_timetz_text_fallback(pg_local):
    """timetz decodes beside other columns (binary, like every column)
    and the value normalizes to UTC."""
    import datetime as dt

    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local),
        "SELECT 1::int8 AS i, '12:30:00+02'::timetz AS tt",
    )
    rows = t.to_pylist()
    assert rows[0]["i"] == 1
    assert rows[0]["tt"] == dt.time(10, 30, 0)


def test_wire_auto_probed_bounds(spark, pg_local):
    """partition_column with NO bounds auto-probes MIN/MAX at plan time
    and still covers every row (max+1 upper keeps the range half-open);
    a single bound is rejected as ambiguous."""
    import pytest

    from flaco_spark.errors import EngineError
    from flaco_spark.sources.pgwire import read_sql_wire

    df = read_sql_wire(
        spark,
        _uri(pg_local),
        "SELECT id FROM series",
        partition_column="id",
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    got = df.groupBy().agg({"id": "sum", "*": "count"}).collect()[0]
    assert got["count(1)"] == 5000
    assert got["sum(id)"] == 5000 * 5001 // 2

    with pytest.raises(EngineError, match="ambiguous"):
        read_sql_wire(
            spark,
            _uri(pg_local),
            "SELECT id FROM series",
            partition_column="id",
            num_partitions=4,
            lower_bound=1,
        )

    with pytest.raises(EngineError, match="auto-probe"):
        read_sql_wire(
            spark,
            _uri(pg_local),
            "SELECT id FROM series WHERE id < 0",
            partition_column="id",
            num_partitions=4,
        )

    # num_partitions=1 with a partition_column is degenerate but valid:
    # one partition, no bounds probe, full result (r9 review — the
    # inactive-options guard must not break this call shape).
    df1 = read_sql_wire(
        spark,
        _uri(pg_local),
        "SELECT id FROM series",
        partition_column="id",
        num_partitions=1,
    )
    assert df1.rdd.getNumPartitions() == 1
    assert df1.count() == 5000

    # ...but explicit bounds alongside num_partitions=1 are silently
    # dropped by the single-partition early return — refuse loudly
    # (r9 ADVICE: same class as the inactive-options guard).
    with pytest.raises(EngineError, match="num_partitions=1"):
        read_sql_wire(
            spark,
            _uri(pg_local),
            "SELECT id FROM series",
            partition_column="id",
            num_partitions=1,
            lower_bound=1,
            upper_bound=5001,
        )


def test_wire_read_sql_fetchsize(spark, pg_local):
    """A fetchsize far below the partition row count changes the paging
    cadence, never the result."""
    from flaco_spark.core import read_sql

    df = read_sql(
        _uri(pg_local), "SELECT id FROM series", spark=spark, via="pgwire", fetchsize=137
    )
    got = df.groupBy().agg({"id": "sum", "*": "count"}).collect()[0]
    assert got["count(1)"] == 5000
    assert got["sum(id)"] == 5000 * 5001 // 2


def test_read_sql_auto_falls_back_to_wire(spark, pg_local, tmp_path):
    """The flaco-parity API end-to-end over the live wire: with no
    PostgreSQL JDBC jar on the classpath, ``read_sql``/
    ``read_sql_to_file`` route postgresql:// URIs through pgwire
    automatically — a flaco user's script runs verbatim."""
    import pyarrow.parquet as pq

    from flaco_spark.core import FileFormat, read_sql_to_file

    out = str(tmp_path / "typed.parquet")
    read_sql_to_file(
        _uri(pg_local),
        "SELECT id, tstz, num, u, by FROM typed ORDER BY id",
        out,
        FileFormat.Parquet,
        spark=spark,
    )
    t = pq.read_table(out)
    import pyarrow as pa

    s = {f.name: f.type for f in t.schema}
    assert pa.types.is_timestamp(s["tstz"])
    assert pa.types.is_decimal(s["num"])
    rows = t.to_pylist()
    assert rows[0]["tstz"] is None  # leading NULL decoded, not sniffed away
    assert rows[1]["tstz"] is not None
    assert str(rows[1]["num"]) == "1.500000000000000000"
    assert rows[1]["u"] == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"
    assert rows[2]["by"] == b"\xde\xad\xbe\xef"


def test_wire_query_slower_than_connect_timeout(pg_local):
    """connect_timeout bounds connection set-up only: a query that runs
    longer than it returns its rows instead of a socket timeout."""
    from flaco_spark.sources.pgwire import wire_query_to_arrow

    t = wire_query_to_arrow(
        _uri(pg_local, connect_timeout=1), "SELECT 7 AS k FROM pg_sleep(2)"
    )
    assert t.to_pylist() == [{"k": 7}]


def _server_sessions(monitor) -> int:
    """Sessions ever opened on the database, once every other client
    backend has exited and flushed its statistics."""
    import time

    last = None
    for _ in range(100):
        others = monitor.query(
            "SELECT count(*) FROM pg_stat_activity WHERE backend_type = "
            "'client backend' AND pid <> pg_backend_pid()"
        )[1][0][0]
        monitor.query("SELECT pg_stat_force_next_flush()")
        now = int(monitor.query(
            "SELECT sessions FROM pg_stat_database "
            "WHERE datname = current_database()"
        )[1][0][0])
        if others == "0" and now == last:
            return now
        last = now
        time.sleep(0.05)
    raise AssertionError("client sessions did not settle")


def _same_table(got, want) -> None:
    import math

    assert got.schema == want.schema
    assert got.num_rows == want.num_rows
    for c in want.column_names:
        for x, y in zip(got[c].to_pylist(), want[c].to_pylist()):
            if isinstance(y, float) and math.isnan(y):
                assert math.isnan(x), c
            else:
                assert x == y, (c, x, y)


@pytest.mark.parametrize(
    "stmt",
    [
        "SELECT * FROM typed ORDER BY id",
        "SELECT * FROM typed WHERE false",
        "SELECT grp, count(*) AS n, sum(id) AS s FROM series GROUP BY grp ORDER BY grp",
    ],
)
def test_driver_route_matches_spark_route(spark, pg_local, tmp_path, stmt):
    """read_sql_to_pyarrow and single-file read_sql_to_file read the wire
    on the driver; their table and both files carry the same Arrow schema
    (time as int64 µs) and values as read_sql(...).toArrow(), zero-row
    files keep the schema, and each call opens exactly one server
    session."""
    import pyarrow as pa
    import pyarrow.feather as feather
    import pyarrow.parquet as pq

    from flaco_spark.core import FileFormat, read_sql, read_sql_to_file, read_sql_to_pyarrow
    from flaco_spark.sources.pgwire import PgWireConnection, parse_pg_uri

    uri = _uri(pg_local)
    want = read_sql(uri, stmt, spark=spark).toArrow()
    if "typed" in stmt:
        assert want.schema.field("tm").type == pa.int64()
    calls = {
        "pyarrow": lambda: read_sql_to_pyarrow(uri, stmt, spark=spark),
        "parquet": lambda: (
            read_sql_to_file(uri, stmt, str(tmp_path / "o.parquet"), FileFormat.Parquet, spark=spark),
            pq.read_table(tmp_path / "o.parquet"),
        )[1],
        "feather": lambda: (
            read_sql_to_file(uri, stmt, str(tmp_path / "o.feather"), FileFormat.Feather, spark=spark),
            feather.read_table(str(tmp_path / "o.feather")),
        )[1],
    }
    with PgWireConnection(parse_pg_uri(uri)) as monitor:
        for kind, call in calls.items():
            before = _server_sessions(monitor)
            got = call()
            assert _server_sessions(monitor) - before == 1, kind
            _same_table(got, want)
        if "ORDER BY id" in stmt:
            # every typemap type through the partitioned mapInArrow route:
            # one session for the bounds probe and Describe, one per task
            before = _server_sessions(monitor)
            got = read_sql(
                uri, "SELECT * FROM typed", spark=spark, partition_column="id", num_partitions=3
            ).toArrow()
            assert _server_sessions(monitor) - before == 3 + 1
            _same_table(got.sort_by("id"), read_sql_to_pyarrow(uri, stmt, spark=spark))


def test_classpath_probe_runs_once_per_session(spark, pg_local, monkeypatch):
    """Whether the PostgreSQL JDBC driver is on the classpath is asked
    of the JVM once per SparkContext, not once per call."""
    import weakref

    from flaco_spark import core

    lookups = []
    jvm_lookup = core._pg_jdbc_driver_available
    monkeypatch.setattr(core, "_PG_DRIVER_ON_CLASSPATH", weakref.WeakKeyDictionary())
    monkeypatch.setattr(
        core, "_pg_jdbc_driver_available", lambda s: lookups.append(s) or jvm_lookup(s)
    )
    for _ in range(2):
        t = core.read_sql_to_pyarrow(_uri(pg_local), "SELECT 1 AS k", spark=spark)
        assert t.to_pylist() == [{"k": 1}]
    assert lookups == [spark]


def test_feather_dir_zero_row_export_keeps_schema(spark, pg_local, tmp_path):
    """A zero-row directory export leaves part-empty.arrow with the same
    schema as the partition files of the non-empty export."""
    import os

    import pyarrow.feather as feather

    from flaco_spark.core import FileFormat, read_sql, write_dataframe_to_file

    def export(stmt, name):
        path = str(tmp_path / name)
        df = read_sql(
            _uri(pg_local), stmt, spark=spark,
            partition_column="id", num_partitions=2, lower_bound=1, upper_bound=4,
        )
        write_dataframe_to_file(df, path, FileFormat.Feather, single_file=False)
        return {f: feather.read_table(os.path.join(path, f)) for f in sorted(os.listdir(path))}

    full = export("SELECT * FROM typed", "full")
    empty = export("SELECT * FROM typed WHERE false", "empty")
    assert list(empty) == ["part-empty.arrow"]
    assert empty["part-empty.arrow"].num_rows == 0
    assert sum(t.num_rows for t in full.values()) == 3
    for t in full.values():
        assert t.schema == empty["part-empty.arrow"].schema


def _read_back(spark, path, fmt):
    from flaco_spark.core import FileFormat
    from flaco_spark.sources.feather import read_feather

    return spark.read.parquet(path) if fmt is FileFormat.Parquet else read_feather(spark, path)


def _wire_read(spark, pg, stmt, n, bounds=(None, None)):
    from flaco_spark.core import read_sql

    return read_sql(
        _uri(pg), stmt, spark=spark, partition_column="id", num_partitions=n,
        lower_bound=bounds[0], upper_bound=bounds[1],
    )


@pytest.mark.parametrize("fused", [True, False], ids=["fused", "generic"])
@pytest.mark.parametrize("fmt", ["Parquet", "Feather"])
def test_dir_export_replaces_directory(spark, pg_local, tmp_path, fmt, fused):
    """A directory export replaces what an earlier export left, as
    mode("overwrite") does: 4 partitions then 2 into the same path, and
    a zero-row export then a non-empty one, read back each row once."""
    from flaco_spark.core import FileFormat, write_dataframe_to_file

    fmt = FileFormat[fmt]
    path = str(tmp_path / "out")
    for where, n, want in [("TRUE", 4, 5000), ("TRUE", 2, 5000), ("id < 0", 2, 0), ("id <= 10", 2, 10)]:
        df = _wire_read(spark, pg_local, f"SELECT * FROM series WHERE {where}", n, (1, 5001))
        write_dataframe_to_file(df if fused else df.select("*"), path, fmt, single_file=False)
        assert _read_back(spark, path, fmt).count() == want, (where, n)


@pytest.mark.parametrize("fmt", ["Parquet", "Feather"])
def test_fused_export_matches_generic_route(spark, pg_local, tmp_path, fmt):
    """Every typemap type: the fused export (the file written inside
    each read task) reads back with the same schema and values as the
    generic route's (Spark's writer, or Feather's mapInArrow writer),
    and opens one server session per partition plus one for planning."""
    from flaco_spark.core import FileFormat, write_dataframe_to_file
    from flaco_spark.sources.pgwire import PgWireConnection, parse_pg_uri

    fmt = FileFormat[fmt]
    with PgWireConnection(parse_pg_uri(_uri(pg_local))) as monitor:
        before = _server_sessions(monitor)
        df = _wire_read(spark, pg_local, "SELECT * FROM typed", 3)
        write_dataframe_to_file(df, str(tmp_path / "fused"), fmt, single_file=False)
        assert _server_sessions(monitor) - before == 3 + 1
    write_dataframe_to_file(df.select("*"), str(tmp_path / "generic"), fmt, single_file=False)

    fused = _read_back(spark, str(tmp_path / "fused"), fmt)
    generic = _read_back(spark, str(tmp_path / "generic"), fmt)
    assert fused.schema == generic.schema
    if fmt is FileFormat.Parquet:
        assert fused.schema == df.schema
    _same_table(fused.toArrow().sort_by("id"), generic.toArrow().sort_by("id"))
    assert fused.count() == 3


def test_fused_export_zero_rows(spark, pg_local, tmp_path):
    """A zero-row fused Parquet export leaves only part-empty.parquet and
    _SUCCESS, which read back through spark.read.parquet with the
    frame's schema."""
    import os

    from flaco_spark.core import FileFormat, write_dataframe_to_file

    path = str(tmp_path / "empty")
    df = _wire_read(spark, pg_local, "SELECT * FROM typed WHERE false", 3, (1, 4))
    write_dataframe_to_file(df, path, FileFormat.Parquet, single_file=False)
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-empty.parquet"]
    back = spark.read.parquet(path)
    assert back.schema == df.schema
    assert back.count() == 0


def test_fused_export_file_layout(spark, pg_local, tmp_path):
    """A fused Parquet export names its files by partition and ends with
    _SUCCESS, as Spark's committer does; no temporary file remains."""
    import os

    from flaco_spark.core import FileFormat, write_dataframe_to_file

    path = str(tmp_path / "out")
    write_dataframe_to_file(
        _wire_read(spark, pg_local, "SELECT * FROM series", 3), path, FileFormat.Parquet,
        single_file=False,
    )
    assert sorted(os.listdir(path)) == [
        "_SUCCESS", "part-00000.parquet", "part-00001.parquet", "part-00002.parquet",
    ]


def test_fused_route_selection(spark, pg_local, tmp_path, monkeypatch):
    """Only the unchanged frame a pgwire read_sql returned, uncached and
    with a local path, reaches the fused route; everything else goes to
    Spark's writer or the Feather mapInArrow writer.  A compression
    codec does not change the route.  Spies stand in for every writer,
    so nothing is written (least of all to S3)."""
    from flaco_spark.core import FileFormat, write_dataframe_to_file
    from flaco_spark.sources import feather

    calls = []

    class SparkWriter:
        def mode(self, m):
            return self

        def option(self, k, v):
            return self

        def parquet(self, path):
            calls.append("spark")

    monkeypatch.setattr(
        feather, "export_dir",
        lambda *a, read=None, compression=None: calls.append(
            "generic" if read is None else "fused"
        ),
    )
    monkeypatch.setattr(
        feather, "write_feather",
        lambda df, path, single_file, compression=None: calls.append("feather"),
    )
    df = _wire_read(spark, pg_local, "SELECT * FROM series", 2)
    monkeypatch.setattr(type(df), "write", property(lambda self: SparkWriter()))
    local = str(tmp_path / "out")

    def route(frame, fmt, path=local, compression=None):
        calls.clear()
        write_dataframe_to_file(frame, path, fmt, single_file=False, compression=compression)
        return calls

    cached = _wire_read(spark, pg_local, "SELECT * FROM series", 2)
    cached.cache()
    try:
        for fmt, generic in [(FileFormat.Parquet, "spark"), (FileFormat.Feather, "feather")]:
            assert route(df, fmt) == ["fused"]
            assert route(df.select("*"), fmt) == [generic]
            assert route(df.select("id"), fmt) == [generic]
            assert route(cached, fmt) == [generic]
            assert route(df, fmt, compression="none") == ["fused"]
            assert route(df, fmt, path="s3a://bucket/flaco/out") == [generic]
            assert route(df, fmt, path="file:///tmp/flaco/out") == [generic]
    finally:
        cached.unpersist()


@pytest.mark.parametrize("fmt", ["Parquet", "Feather"])
def test_failed_export_raises_and_cleans_up(spark, pg_local, tmp_path, fmt):
    """A server error mid-stream in one partition's range (division by
    zero at id 2) fails the export with an EngineError naming it, and
    leaves no part file and no _SUCCESS behind; over an earlier export,
    the earlier one stays as it was."""
    import os

    from flaco_spark.core import FileFormat, write_dataframe_to_file
    from flaco_spark.errors import EngineError

    fmt = FileFormat[fmt]
    fresh, earlier = str(tmp_path / "fresh"), str(tmp_path / "earlier")
    write_dataframe_to_file(
        _wire_read(spark, pg_local, "SELECT id FROM series", 2), earlier, fmt, single_file=False
    )
    df = _wire_read(spark, pg_local, "SELECT id, 1000 / (id - 2) AS q FROM series", 3)
    for path in (fresh, earlier):
        with pytest.raises(EngineError, match="division by zero"):
            write_dataframe_to_file(df, path, fmt, single_file=False)
    assert sorted(os.listdir(tmp_path)) == ["earlier"]
    back = _read_back(spark, earlier, fmt)
    assert back.columns == ["id"]
    assert back.count() == 5000


def test_feather_dir_export_over_its_own_input(spark, pg_local, tmp_path):
    """A Feather directory read back and exported, filtered, to the same
    path: the job still finds its input files, and the path then holds
    the filtered rows."""
    from flaco_spark.sources.feather import read_feather, write_feather

    path = str(tmp_path / "out")
    write_feather(_wire_read(spark, pg_local, "SELECT * FROM series", 3), path, single_file=False)
    df = read_feather(spark, path)
    write_feather(df.filter("id <= 10"), path, single_file=False)
    back = read_feather(spark, path).toArrow().sort_by("id")
    assert back.column("id").to_pylist() == list(range(1, 11))


@pytest.mark.parametrize("fused", [True, False], ids=["fused", "generic"])
@pytest.mark.parametrize("fmt", ["Parquet", "Feather"])
def test_dir_export_honours_compression(spark, pg_local, tmp_path, fmt, fused):
    """compression="none" writes uncompressed files on every directory
    route, and the default writes snappy Parquet / lz4 Feather."""
    import glob
    import os

    import pyarrow.parquet as pq

    from flaco_spark.core import FileFormat, write_dataframe_to_file

    fmt = FileFormat[fmt]
    df = _wire_read(spark, pg_local, "SELECT * FROM series", 2)
    size = {}
    for codec in (None, "none"):
        path = str(tmp_path / str(codec))
        write_dataframe_to_file(
            df if fused else df.select("*"), path, fmt, single_file=False, compression=codec
        )
        parts = glob.glob(os.path.join(path, "part-*"))
        size[codec] = sum(os.path.getsize(p) for p in parts)
        if fmt is FileFormat.Parquet:
            used = {
                md.row_group(i).column(j).compression
                for md in (pq.ParquetFile(p).metadata for p in parts)
                for i in range(md.num_row_groups)
                for j in range(md.num_columns)
            }
            assert used == {"SNAPPY" if codec is None else "UNCOMPRESSED"}
        assert _read_back(spark, path, fmt).count() == 5000
    assert size["none"] > size[None]


# ---------------------------------------------------------------------------
# JDBC variant — still jar-gated (unchanged contract: goes live the
# day org.postgresql.Driver appears on the classpath)
# ---------------------------------------------------------------------------


def test_live_pg_jdbc_extract(spark, pg_local, tmp_path):
    try:
        spark._jvm.java.lang.Class.forName("org.postgresql.Driver")
    except Exception:
        pytest.skip(
            "live-PG JDBC e2e needs the PostgreSQL JDBC driver jar on the "
            "Spark classpath (spark.jars.packages org.postgresql:postgresql); "
            "the wire-protocol e2e above covers the live-server behavior"
        )
    from flaco_spark.core import read_sql

    df = read_sql(
        _uri(pg_local), "SELECT id, num FROM typed ORDER BY id", spark=spark,
        via="jdbc",
    )
    assert df.count() == 3


# ---------------------------------------------------------------------------
# pagila-shaped schema (VERDICT r7 task 5): the reference's CI runs
# SELECT * over the pagila tables but must EXCLUDE the enum-typed
# film.rating column (src/lib.rs:382-385 panics on enums;
# /root/reference/tests/test_general.py:19).  Our wire path maps
# enum -> string and element[] -> ArrayType, so SELECT * including
# both just works — asserted live here.
# ---------------------------------------------------------------------------

PAGILA_DDL = """
CREATE TYPE mpaa_rating AS ENUM ('G','PG','PG-13','R','NC-17');
CREATE TABLE actor (
  actor_id serial PRIMARY KEY,
  first_name varchar(45) NOT NULL,
  last_name varchar(45) NOT NULL,
  last_update timestamptz NOT NULL DEFAULT now()
);
CREATE TABLE film (
  film_id serial PRIMARY KEY,
  title varchar(255) NOT NULL,
  release_year int4,
  rental_rate numeric(4,2) NOT NULL,
  length int2,
  rating mpaa_rating DEFAULT 'G',
  special_features text[],
  last_update timestamptz NOT NULL DEFAULT now()
);
CREATE TABLE film_actor (
  actor_id int4 NOT NULL,
  film_id int4 NOT NULL,
  PRIMARY KEY (actor_id, film_id)
);
INSERT INTO actor (first_name, last_name)
  SELECT 'F' || g, 'L' || (g % 13) FROM generate_series(1, 200) g;
INSERT INTO film (title, release_year, rental_rate, length, rating,
                  special_features)
  SELECT 'Film ' || g, 1990 + (g % 35), (g % 500)::numeric / 100,
         (60 + g % 120)::int2,
         (ARRAY['G','PG','PG-13','R','NC-17']::mpaa_rating[])[1 + g % 5],
         CASE WHEN g % 7 = 0 THEN NULL
              ELSE ARRAY['Trailers', 'Scene ' || g % 3] END
  FROM generate_series(1, 1000) g;
INSERT INTO film_actor
  -- the g/1000 term de-aliases the 1000-cycle so all 5000 pairs are unique
  SELECT 1 + (g * 7 + g / 1000) % 200, 1 + g % 1000
  FROM generate_series(1, 5000) g;
"""


@pytest.fixture(scope="module")
def pg_pagila(pg_local):
    _sql_port(pg_local["port"], PAGILA_DDL)
    yield pg_local


def test_wire_pagila_enum_and_array_roundtrip(spark, pg_pagila):
    """SELECT * over a pagila-shaped film table INCLUDING the enum
    rating and text[] special_features — the exact columns the
    reference must exclude (its CI query skips rating because
    src/lib.rs:382-385 hits unimplemented!)."""
    from pyspark.sql import types as T

    from flaco_spark.sources.pgwire import read_sql_wire

    df = read_sql_wire(
        spark, _uri(pg_pagila), "SELECT * FROM film ORDER BY film_id"
    )
    s = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(s["rating"], T.StringType)  # enum -> string, no panic
    assert isinstance(s["special_features"], T.ArrayType)
    assert isinstance(s["special_features"].elementType, T.StringType)
    assert isinstance(s["rental_rate"], T.DecimalType)
    rows = df.collect()
    assert len(rows) == 1000
    by_id = {r.film_id: r for r in rows}
    assert by_id[1].rating == "PG"    # ARRAY[...][1 + 1%5] = 'PG'
    assert by_id[5].rating == "G"     # ARRAY[...][1 + 5%5] = 'G'
    assert by_id[1].special_features == ["Trailers", "Scene 1"]
    assert by_id[7].special_features is None  # NULL array stays NULL
    from decimal import Decimal

    assert by_id[1].rental_rate == Decimal("0.01")
    # enum values survive a groupBy (string semantics end-to-end)
    counts = dict(
        df.groupBy("rating").count().collect()
    )
    assert set(counts) == {"G", "PG", "PG-13", "R", "NC-17"}
    assert sum(counts.values()) == 1000


def test_wire_pagila_partitioned_join(spark, pg_pagila):
    """The pagila workload shape the reference benchmarks (SELECT *
    FROM film/actor/film_actor), read partitioned over the wire and
    joined IN SPARK — distribution + the typed columns together."""
    from flaco_spark.sources.pgwire import read_sql_wire

    film = read_sql_wire(
        spark, _uri(pg_pagila),
        "SELECT film_id, title, rating FROM film",
        partition_column="film_id", num_partitions=4,
    )
    fa = read_sql_wire(
        spark, _uri(pg_pagila), "SELECT actor_id, film_id FROM film_actor"
    )
    per_rating = (
        film.join(fa, "film_id")
        .groupBy("rating")
        .count()
        .collect()
    )
    got = {r.rating: r["count"] for r in per_rating}
    assert sum(got.values()) == 5000
    assert set(got) == {"G", "PG", "PG-13", "R", "NC-17"}


def test_wire_numeric_infinity_binary_path(pg_local):
    """r8 ADVICE(medium) live check: numeric[] always takes the binary
    decode path, where PG 14+ +/-Infinity used to fall through the
    positive branch as Decimal 0 — they must decode as None (the
    documented text-path divergence), with finite neighbors intact."""
    from decimal import Decimal

    from flaco_spark.sources.pgwire import wire_query_to_arrow

    _sql_port(
        pg_local["port"],
        "CREATE TABLE IF NOT EXISTS numinf AS SELECT "
        "ARRAY['Infinity'::numeric, '-Infinity'::numeric, 1.25::numeric, "
        "'NaN'::numeric] AS arr, "
        "'Infinity'::numeric AS scalar_inf, 1.5::numeric AS scalar_fin",
    )
    t = wire_query_to_arrow(_uri(pg_local), "SELECT * FROM numinf")
    row = t.to_pylist()[0]
    assert row["arr"][0] is None          # +Infinity -> None, NOT 0
    assert row["arr"][1] is None          # -Infinity -> None
    assert row["arr"][2] == Decimal("1.25")
    assert row["arr"][3] is None          # NaN -> None (existing contract)
    assert row["scalar_inf"] is None
    assert row["scalar_fin"] == Decimal("1.5")
