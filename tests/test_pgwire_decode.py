"""Differential tests: the columnar page decoder against the per-value
oracle (tests/pgwire_oracle.py), over the same wire bytes.

The live half reads a table holding every OID family of
``flaco_spark.typemap`` (scalars and arrays) from a throwaway
PostgreSQL, page by page at several page sizes, and decodes each raw
page both ways.  The synthetic half builds pages by hand for what a
server will not send on request: the ``unknown`` OID, malformed
framing and invalid UTF-8.
"""

from __future__ import annotations

import math
import struct
import sys
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scripts.pg_harness import HarnessUnavailable, local_postgres  # noqa: E402

from flaco_spark.errors import EngineError  # noqa: E402
from flaco_spark.sources.pgwire import (  # noqa: E402
    ARRAY_ELEM_OID,
    OID_TO_NAME,
    PgWireConnection,
    _decode_page,
    _page_rows,
    arrow_schema_for,
    oid_type_name,
    parse_pg_uri,
)
from tests import pgwire_oracle as oracle  # noqa: E402

ROWS = 1200

# One column per scalar OID family and per array OID.  Row 1 is all
# NULL (leading NULLs), two rows in five are NULL after it, and the
# edge values of each type sit on chosen non-NULL rows.
DIFF_DDL = f"""
CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy');
CREATE TABLE diff AS
SELECT g AS id, v.*
FROM generate_series(1, {ROWS}) g,
LATERAL (SELECT g = 1 OR (g * 7) % 5 < 2 AS nul) n,
LATERAL (SELECT
  CASE WHEN nul THEN NULL ELSE g % 2 = 0 END AS c_bool,
  CASE WHEN nul THEN NULL ELSE substr(decode(md5(g::text), 'hex'), 1, g % 17) END AS c_bytea,
  CASE WHEN nul THEN NULL ELSE chr(32 + g % 90)::"char" END AS c_char,
  CASE WHEN nul THEN NULL ELSE ('n' || g)::name END AS c_name,
  CASE WHEN nul THEN NULL WHEN g = 2 THEN 9223372036854775807
       WHEN g = 4 THEN -9223372036854775808 ELSE g::int8 * -1000003 END AS c_int8,
  CASE WHEN nul THEN NULL ELSE (g % 65536 - 32768)::int2 END AS c_int2,
  CASE WHEN nul THEN NULL ELSE g * 7919 - 5000000 END AS c_int4,
  CASE WHEN nul THEN NULL WHEN g % 11 = 0 THEN '' ELSE 'row ' || g || ' üñí©' END AS c_text,
  CASE WHEN nul THEN NULL ELSE (g::int8 * 3000000)::text::oid END AS c_oid,
  CASE WHEN nul THEN NULL ELSE ('{{"k": ' || g || '}}')::json END AS c_json,
  CASE WHEN nul THEN NULL ELSE ('<a>' || g || '</a>')::xml END AS c_xml,
  CASE WHEN nul THEN NULL WHEN g = 4 THEN 'NaN' WHEN g = 6 THEN 'Infinity'
       WHEN g = 7 THEN '-Infinity' ELSE (g / 7.0)::float4 END AS c_float4,
  CASE WHEN nul THEN NULL WHEN g = 4 THEN 'NaN' WHEN g = 6 THEN '-Infinity'
       ELSE g / -13.0 END::float8 AS c_float8,
  CASE WHEN nul THEN NULL ELSE (g % 1000)::text::bpchar(5) END AS c_bpchar,
  CASE WHEN nul THEN NULL ELSE ('v' || g)::varchar(12) END AS c_varchar,
  CASE WHEN nul THEN NULL ELSE DATE '1900-01-01' + g * 37 END AS c_date,
  CASE WHEN nul THEN NULL WHEN g = 4 THEN TIME '24:00:00'
       ELSE TIME '00:00' + g * INTERVAL '71.123457 seconds' END AS c_time,
  CASE WHEN nul THEN NULL
       ELSE TIMESTAMP '1950-01-01' + g * INTERVAL '1234567.891011 seconds' END AS c_ts,
  CASE WHEN nul THEN NULL
       ELSE TIMESTAMPTZ '1950-01-01 00:00+05' + g * INTERVAL '1234567.891011 seconds' END AS c_tstz,
  CASE WHEN nul THEN NULL
       ELSE (g - 600) * INTERVAL '1.234567 seconds' + (g % 5 - 2) * INTERVAL '1 day' END AS c_interval,
  CASE WHEN nul THEN NULL
       ELSE ('0' || g % 10 || ':30:00.25' || CASE WHEN g % 2 = 0 THEN '+0' ELSE '-0' END || g % 7)::timetz
       END AS c_timetz,
  CASE WHEN nul THEN NULL WHEN g = 4 THEN 'NaN' WHEN g = 6 THEN 'Infinity'
       WHEN g = 7 THEN '-Infinity' WHEN g = 9 THEN 0
       ELSE round(g::numeric / -7, g % 7) END AS c_numeric,
  CASE WHEN nul THEN NULL WHEN g % 3 = 0 THEN g::numeric * 12345678901234567
       ELSE round(g::numeric * 1234567.891, 12) END AS c_numeric_wide,
  CASE WHEN nul THEN NULL ELSE md5(g::text)::uuid END AS c_uuid,
  CASE WHEN nul THEN NULL ELSE ('{{"k": [' || g || ', null]}}')::jsonb END AS c_jsonb,
  CASE WHEN nul THEN NULL ELSE (ARRAY['sad', 'ok', 'happy'])[1 + g % 3]::mood END AS c_enum,
  CASE WHEN nul THEN NULL WHEN g % 4 = 0 THEN '{{}}' ELSE ARRAY[g % 2 = 0, NULL] END AS a_bool,
  CASE WHEN nul THEN NULL ELSE ARRAY[decode(md5(g::text), 'hex'), NULL, ''::bytea] END AS a_bytea,
  CASE WHEN nul THEN NULL ELSE ARRAY[(g % 30000)::int2, NULL] END AS a_int2,
  CASE WHEN nul THEN NULL WHEN g % 4 = 0 THEN '{{}}' ELSE ARRAY[g, NULL, -g] END AS a_int4,
  CASE WHEN nul THEN NULL ELSE ARRAY[g::int8 << 40] END AS a_int8,
  CASE WHEN nul THEN NULL ELSE ARRAY['a' || g, NULL, '', 'ü'] END AS a_text,
  CASE WHEN nul THEN NULL ELSE ARRAY[('v' || g)::varchar] END AS a_varchar,
  CASE WHEN nul THEN NULL ELSE ARRAY[(g % 10)::text::bpchar(3)] END AS a_bpchar,
  CASE WHEN nul THEN NULL ELSE ARRAY[(g / 3.0)::float4, 'NaN'] END AS a_float4,
  CASE WHEN nul THEN NULL ELSE ARRAY[g / 3.0, '-Infinity']::float8[] END AS a_float8,
  CASE WHEN nul THEN NULL
       ELSE ARRAY[g / 4.0, 'NaN', 'Infinity', '-Infinity', NULL]::numeric[] END AS a_numeric,
  CASE WHEN nul THEN NULL ELSE ARRAY[TIMESTAMP '1999-12-31' + g * INTERVAL '1 hour'] END AS a_ts,
  CASE WHEN nul THEN NULL ELSE ARRAY[DATE '1999-12-31' + g, NULL] END AS a_date,
  CASE WHEN nul THEN NULL ELSE ARRAY[md5(g::text)::uuid] END AS a_uuid,
  CASE WHEN nul THEN NULL ELSE ARRAY[('[' || g || ']')::json] END AS a_json,
  CASE WHEN nul THEN NULL ELSE ARRAY[('[' || g || ']')::jsonb] END AS a_jsonb
) v;
"""
STMT = "SELECT * FROM diff ORDER BY id"


@pytest.fixture(scope="module")
def conn():
    try:
        with local_postgres(seed_sql=DIFF_DDL) as pg:
            uri = f"postgresql://postgres@127.0.0.1:{pg['port']}/postgres"
            with PgWireConnection(parse_pg_uri(uri)) as c:
                c._read_page = _checked_read_page(c)
                yield c
    except HarnessUnavailable as exc:
        pytest.skip(f"live-PG differential unavailable: {exc}")


def _checked_read_page(c):
    """``c._read_page`` that also requires the DataRow offsets of every
    live page to be those of the oracle's sequential framing walk."""
    read_page = c._read_page

    def checked():
        pos = c._pos
        page, starts, done = read_page()
        assert starts.tolist() == oracle.walk_datarows(page, pos)[0]
        return page, starts, done

    return checked


def _canon(v):
    """A value comparable with ``==``: NaN equals NaN, types must match."""
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return type(v).__name__, v


def _assert_same(got: pa.Table, want: pa.Table) -> None:
    assert got.schema == want.schema
    assert got.num_rows == want.num_rows
    for name in got.column_names:
        for a, b in zip(got[name].to_pylist(), want[name].to_pylist()):
            assert _canon(a) == _canon(b), (name, a, b)


def _both(conn, stmt: str, fetch_rows: int, ds_safe: bool = False):
    """Decode every raw page of ``stmt`` with the page decoder and with
    the oracle: (decoder table, oracle table, rows per page)."""
    pages = conn._pages(stmt, fetch_rows)
    fields = next(pages)
    schema = arrow_schema_for(fields, ds_safe=ds_safe)
    got, want, sizes = [], [], []
    for page, starts in pages:
        got.append(_decode_page(page, starts, fields, schema))
        want.append(oracle.decode_page(page, starts, fields, ds_safe=ds_safe))
        sizes.append(len(starts))
    return (
        pa.Table.from_batches(got, schema=schema),
        pa.concat_tables([oracle.rows_to_arrow(fields, [], ds_safe), *want]),
        sizes,
    )


def test_diff_table_covers_every_oid(conn):
    """The table exercises every scalar OID a column can hold (705
    ``unknown`` never reaches a result; the synthetic test covers it)
    and every array OID, plus an enum for the unknown-OID fallback."""
    oids = {oid for _, oid in conn.describe(STMT)}
    assert set(OID_TO_NAME) - {705} <= oids
    assert set(ARRAY_ELEM_OID) <= oids
    assert oids - set(OID_TO_NAME) - set(ARRAY_ELEM_OID)  # the enum


@pytest.mark.parametrize("fetch_rows", [1, 7, 999])
def test_page_decoder_matches_oracle(conn, fetch_rows):
    """Every page at every page size decodes identically, NULL-heavy and
    leading-NULL columns included, and the pages split as asked."""
    got, want, sizes = _both(conn, STMT, fetch_rows)
    _assert_same(got, want)
    assert got.num_rows == ROWS
    assert sizes == [fetch_rows] * (ROWS // fetch_rows) + (
        [ROWS % fetch_rows] if ROWS % fetch_rows else []
    )
    rows = got.to_pylist()
    assert all(v is None for k, v in rows[0].items() if k != "id")
    # numeric NaN and ±Infinity become NULL, alone and inside arrays
    assert [rows[i]["c_numeric"] for i in (3, 5, 6)] == [None, None, None]
    assert rows[1]["a_numeric"][1:] == [None, None, None, None]


def test_page_decoder_matches_oracle_spark_types(conn):
    """The Spark-route schema (time as int64 µs) agrees too."""
    got, want, _ = _both(conn, STMT, 999, ds_safe=True)
    _assert_same(got, want)
    assert got.schema.field("c_time").type == pa.int64()


def test_page_decoder_zero_rows(conn):
    got, want, sizes = _both(conn, "SELECT * FROM diff WHERE false", 7)
    assert sizes == [] and got.num_rows == 0
    _assert_same(got, want)


def test_wide_numeric_takes_the_exact_path(conn):
    """c_numeric_wide holds 22-digit and 20-digit values: past int64 at
    the page's scale, so they decode one by one, exactly."""
    from decimal import Decimal

    got, want, _ = _both(conn, "SELECT id, c_numeric_wide FROM diff ORDER BY id", 999)
    _assert_same(got, want)
    assert got.column(1)[5].as_py() == Decimal(6 * 12345678901234567)


def test_page_rows_match_oracle(conn):
    """``query_paged``'s row view of every page agrees with the oracle,
    and its NUMERIC values are the oracle's Decimals digit for digit
    (same scale, not widened to the Arrow column's 18)."""
    pages = conn._pages(STMT, 999)
    fields = next(pages)
    schema = arrow_schema_for(fields)
    numeric = [i for i, (_, oid) in enumerate(fields) if oid_type_name(oid) == "numeric"]
    for page, starts in pages:
        got = _page_rows(page, starts, fields, schema)
        want = oracle.decode_rows(page, starts, fields)
        as_arrow = oracle.rows_to_arrow(fields, want).to_pylist()
        assert len(got) == len(want) == len(starts)
        for g, w, a in zip(got, want, as_arrow):
            assert [_canon(v) for v in g] == [_canon(v) for v in a.values()]
            assert [str(g[i]) for i in numeric] == [str(w[i]) for i in numeric]


def test_query_paged_numerics_exact_at_any_size(conn):
    """NUMERIC values too wide for decimal128(38,18) — 29 integer
    digits, dscale 20, wide array elements — come back from
    ``query_paged`` exactly as the oracle decodes them, while the Arrow
    routes refuse them with an EngineError."""
    stmt = (
        "SELECT '12345678901234567890123456789.123456789'::numeric AS a,"
        " 1::numeric / 3 AS b, ARRAY['1e30'::numeric, NULL, 'NaN'] AS c,"
        " 1.50::numeric AS d"
    )
    ((fields, rows),) = list(conn.query_paged(stmt))
    assert rows == [[
        Decimal("12345678901234567890123456789.123456789"),
        Decimal("0.33333333333333333333"),
        [Decimal(10**30), None, None],
        Decimal("1.50"),
    ]]
    assert [str(v) for v in rows[0][:2]] == [
        "12345678901234567890123456789.123456789",
        "0.33333333333333333333",
    ]
    pages = conn._pages(stmt, 10)
    next(pages)
    page, starts = next(pages)
    pages.close()
    assert oracle.decode_rows(page, starts, fields) == rows
    for col in ("a", "b", "c"):
        with pytest.raises(EngineError, match="does not fit"):
            list(conn.query_batches(f"SELECT {col} FROM ({stmt}) s")[1])
    assert conn.query("SELECT 1")[1] == [["1"]]


@pytest.mark.parametrize(
    "expr",
    [
        "'infinity'::date",
        "'-infinity'::date",
        "'infinity'::timestamp",
        "'-infinity'::timestamptz",
        "ARRAY['infinity'::timestamp]",
    ],
)
def test_infinite_temporal_values_raise(conn, expr):
    stmt = f"SELECT {expr} AS v FROM generate_series(1, 3) g"
    pages = conn._pages(stmt, 10)
    fields = next(pages)
    page, starts = next(pages)
    with pytest.raises(EngineError, match="infinity"):
        _decode_page(page, starts, fields, arrow_schema_for(fields))
    with pytest.raises(EngineError, match="infinity"):
        oracle.decode_page(page, starts, fields)
    pages.close()
    # end to end too, and the connection stays usable
    with pytest.raises(EngineError, match="infinity"):
        list(conn.query_batches(stmt)[1])
    assert conn.query("SELECT 1")[1] == [["1"]]


# ---------------------------------------------------------------------------
# Synthetic pages (no server)
# ---------------------------------------------------------------------------


def _decode(fields, rows):
    page, starts = oracle.page_of(rows)
    return _decode_page(page, starts, fields, arrow_schema_for(fields))


def test_unknown_oid_decodes_as_text():
    fields = [("u", 705)]
    rows = [[b"abc"], [None], ["ü".encode()]]
    page, starts = oracle.page_of(rows)
    got = pa.Table.from_batches([_decode(fields, rows)])
    _assert_same(got, oracle.decode_page(page, starts, fields))


def test_malformed_pages_raise_engine_error():
    fields = [("i", 23), ("t", 25)]
    ok = [struct.pack("!i", 5), b"text"]
    assert _decode(fields, [ok]).num_rows == 1
    with pytest.raises(EngineError, match="column count"):
        _decode(fields, [ok[:1]])
    with pytest.raises(EngineError, match="binary length"):
        _decode(fields, [[b"\0\0", b"x"]])
    page, starts = oracle.page_of([ok])
    struct.pack_into("!i", page, starts[0] + 2 + 8, 999)  # text length overruns
    with pytest.raises(EngineError, match="overruns"):
        _decode_page(page, starts, fields, arrow_schema_for(fields))


def test_invalid_utf8_raises_engine_error():
    with pytest.raises(EngineError, match="UTF-8"):
        _decode([("t", 25)], [[b"ok"], [b"\xff\xfe"]])


def test_interval_out_of_int64_range_raises():
    """An interval holds int32 days and int64 µs; their sum past int64
    µs raises instead of wrapping.  The extremes just inside the range
    agree with the oracle."""
    day_us = 86_400_000_000
    top = (2**63 - 1) // day_us

    def iv(us: int, days: int) -> list[bytes]:
        return [struct.pack("!qii", us, days, 0)]

    fields = [("iv", 1186)]
    # the oracle's timedelta normalises to whole negative days first, so
    # its most negative representable value sits a day above int64's
    inside = [iv(2**63 - 1 - top * day_us, top), iv(-(2**63) + (top + 1) * day_us, -top)]
    page, starts = oracle.page_of(inside + [[None]])
    got = pa.Table.from_batches([_decode_page(page, starts, fields, arrow_schema_for(fields))])
    _assert_same(got, oracle.decode_page(page, starts, fields))
    assert got.column(0).to_pylist()[2] is None
    for row in (iv(0, 200_000_000), iv(0, -(2**31)), iv(2**63 - 1, 1), iv(-(2**63), -1)):
        with pytest.raises(EngineError, match="INTERVAL value out of range"):
            _decode(fields, [row])


def test_interval_with_months_raises():
    """A binary INTERVAL with a month count has no DayTimeIntervalType
    value; days and microseconds alone decode."""
    fields = [("iv", 1186)]
    ok = [[struct.pack("!qii", 5_000_000, -3, 0)], [None]]
    page, starts = oracle.page_of(ok)
    got = pa.Table.from_batches([_decode(fields, ok)])
    _assert_same(got, oracle.decode_page(page, starts, fields))
    for months in (1, -12):
        with pytest.raises(EngineError, match="year/month"):
            _decode(fields, [[struct.pack("!qii", 0, 0, months)]])
