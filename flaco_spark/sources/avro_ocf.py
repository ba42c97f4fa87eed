"""Pure-stdlib Apache Avro Object Container File source & sink.

This runtime ships Avro's core JAVA jars (avro-1.12.1) but NOT the
``spark-avro`` data-source module, so ``df.write.format("avro")``
fails — the one hole left in the engine's format matrix
(parquet/feather/CSV/JSONL/ORC/text/XML, COVERAGE.md).  The Avro
Object Container File format is a public specification (Apache Avro
spec §"Object Container Files": zigzag-varint primitives, JSON
schema in the header, sync-marker-delimited blocks, null/deflate
codecs — deflate is stdlib ``zlib``), so this module closes the gap
the same way pgwire closed the PostgreSQL one: speak the format
directly, no new dependency.

Honesty contract: the codec is NOT a reimplementation from skimming
other readers — it is verified against the Apache Java reference
implementation that IS on the classpath: the test suite writes files
with this codec and reads them back through
``org.apache.avro.file.DataFileReader`` via the Spark JVM (and the
reverse direction, Java-written → here), see
``tests/test_core_api.py::test_avro_cross_implementation``.

Supported schema surface (flat analytics rows — the same scope as the
CSV/XML round-trips): null, boolean, int, long, float, double, bytes,
string; nullable ``["null", X]`` unions; logical types decimal
(bytes), date (int), timestamp-micros (long), timestamp-millis read
path.  Arrays/maps/nested records are out of scope and raise
``EngineError`` loudly (the format matrix contract is flat-table
value fidelity, not generic Avro).

Scale posture mirrors the Feather pair: the WRITER runs one task per
partition via ``mapInArrow`` (each executor streams its own container
file; no driver funnel), the READER is a partition-per-file Python
DataSource (``avro_dir``) — listing at plan time, one file per task,
schema probed from one header without reading data blocks.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct
import zlib
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

from flaco_spark.errors import EngineError

_AVRO_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

MAGIC = b"Obj\x01"
_EPOCH_DATE = date(1970, 1, 1)
_EPOCH_DT = datetime(1970, 1, 1, tzinfo=timezone.utc)


# ---------------------------------------------------------------------------
# Primitive encode/decode (Avro spec: zigzag varints, IEEE754 LE)
# ---------------------------------------------------------------------------


def _zz_bytes_slow(u: int) -> bytes:
    bl = []
    while u >= 0x80:
        bl.append(u & 0x7F | 0x80)
        u >>= 7
    bl.append(u)
    return bytes(bl)


# All 1- and 2-byte varint encodings precomputed (u < 2^14): string
# lengths, union indexes, row/byte counts and most ids hit this table,
# turning the hot-loop encode into a tuple index.
_ZZ_TABLE = tuple(_zz_bytes_slow(u) for u in range(1 << 14))


def _zigzag_encode(n: int) -> bytes:
    # spec: (n << 1) ^ (n >> 63) on 64-bit two's complement; on
    # Python's unbounded ints the equivalent closed form is below
    u = (n << 1) if n >= 0 else ((-n << 1) - 1)
    if u < 16384:
        return _ZZ_TABLE[u]
    return _zz_bytes_slow(u)


def _zigzag_decode(buf: io.BytesIO) -> int:
    shift = 0
    u = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EngineError("truncated Avro varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1)


def _write_bytes(out: bytearray, b: bytes) -> None:
    out += _zigzag_encode(len(b))
    out += b


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _zigzag_decode(buf)
    b = buf.read(n)
    if len(b) != n:
        raise EngineError("truncated Avro bytes value")
    return b


# ---------------------------------------------------------------------------
# Schema: Spark StructType ⇄ Avro record schema (flat)
# ---------------------------------------------------------------------------


def avro_schema_for(spark_schema, name: str = "flaco_row") -> dict:
    """Flat Spark schema → Avro record schema (every field nullable,
    matching Spark's semantics)."""
    from pyspark.sql import types as T

    def field_type(dt) -> object:
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.DecimalType):
            return {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            # Instant semantics (Avro spec / spark-avro parity).
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.TimestampNTZType):
            # Wall-clock semantics: local-timestamp-micros, so Java /
            # spark-avro consumers do not reinterpret NTZ as UTC.
            return {"type": "long", "logicalType": "local-timestamp-micros"}
        raise EngineError(
            f"avro_ocf supports flat analytics rows only; no mapping for {dt}"
        )

    for f in spark_schema.fields:
        # Avro name grammar ([A-Za-z_][A-Za-z0-9_]*): a column like
        # ``sum(x)`` would write a container our reader accepts but
        # the Java reference reader rejects — fail at write time.
        if not _AVRO_NAME_RE.match(f.name):
            raise EngineError(
                f"column name {f.name!r} is not a valid Avro field name "
                "([A-Za-z_][A-Za-z0-9_]*); alias it before writing Avro"
            )
    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": ["null", field_type(f.dataType)]}
            for f in spark_schema.fields
        ],
    }


def spark_schema_for(avro_schema: dict):
    """Avro record schema → Spark StructType (the read-path inverse)."""
    from pyspark.sql import types as T

    def branch(t) -> tuple:
        if isinstance(t, list):  # union
            non_null = [x for x in t if x != "null"]
            if len(non_null) != 1:
                raise EngineError(f"unsupported Avro union {t!r}")
            inner, _ = branch(non_null[0])
            return inner, True
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "decimal":
                return T.DecimalType(t["precision"], t.get("scale", 0)), False
            if lt == "date":
                return T.DateType(), False
            if lt in ("timestamp-micros", "timestamp-millis"):
                return T.TimestampType(), False
            if lt in ("local-timestamp-micros", "local-timestamp-millis"):
                return T.TimestampNTZType(), False
            return branch(t["type"])
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "string": T.StringType(),
            "bytes": T.BinaryType(),
        }.get(t)
        if prim is None:
            raise EngineError(f"unsupported Avro type {t!r} (flat rows only)")
        return prim, False

    if avro_schema.get("type") != "record":
        raise EngineError("avro_ocf reads record-typed container files only")
    fields = []
    for f in avro_schema["fields"]:
        dt, _ = branch(f["type"])
        fields.append(T.StructField(f["name"], dt, True))
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Value encode/decode per Avro field type
# ---------------------------------------------------------------------------


def _unscaled_to_bytes(unscaled: int) -> bytes:
    length = max(1, (unscaled.bit_length() + 8) // 8)  # +8: room for sign
    return unscaled.to_bytes(length, "big", signed=True)


_EPOCH_ORDINAL = _EPOCH_DATE.toordinal()


def _encoder_for(ftype: dict | str):
    """Returns fn(out: bytearray, value) for ONE union branch type.

    Hot-loop discipline: these closures run once per non-null value —
    tens of millions of times per partition — so each inlines its byte
    emission (no _write_bytes/_unscaled_to_bytes hops) and leans on
    the _ZZ_TABLE fast path."""
    zz = _zigzag_encode
    if isinstance(ftype, dict):
        lt = ftype.get("logicalType")
        if lt == "decimal":
            scale = ftype.get("scale", 0)

            def enc_dec(out, v):
                # Exact integer scaling via as_tuple: scaleb under the
                # default 28-digit context silently ROUNDS >28-digit
                # values before any lossless guard can fire (Spark
                # decimals go to 38 digits), corrupting the unscaled
                # bytes. coeff * 10^(exp+scale) never touches context.
                if not isinstance(v, Decimal):
                    v = Decimal(v)
                sign, digits, exp = v.as_tuple()
                if not isinstance(exp, int):
                    raise EngineError(f"non-finite decimal {v} is not encodable")
                coeff = int("".join(map(str, digits)))
                shift = exp + scale
                if shift >= 0:
                    unscaled = coeff * 10**shift
                else:
                    unscaled, rem = divmod(coeff, 10 ** -shift)
                    if rem:
                        raise EngineError(
                            f"decimal {v} does not fit scale {scale} losslessly"
                        )
                if sign:
                    unscaled = -unscaled
                b = unscaled.to_bytes(
                    (unscaled.bit_length() + 8) // 8 or 1, "big", signed=True
                )
                out += zz(len(b))
                out += b

            return enc_dec
        if lt == "date":
            return lambda out, v: out.__iadd__(zz(v.toordinal() - _EPOCH_ORDINAL))
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            epoch_naive = _EPOCH_DT.replace(tzinfo=None)

            def enc_ts(out, v):
                delta = v - (epoch_naive if v.tzinfo is None else _EPOCH_DT)
                out += zz(
                    (delta.days * 86_400 + delta.seconds) * 1_000_000
                    + delta.microseconds
                )

            return enc_ts
        return _encoder_for(ftype["type"])
    if ftype in ("int", "long"):
        return lambda out, v: out.__iadd__(zz(v if type(v) is int else int(v)))
    if ftype == "boolean":
        return lambda out, v: out.append(1 if v else 0)
    if ftype == "float":
        return lambda out, v: out.__iadd__(struct.pack("<f", float(v)))
    if ftype == "double":
        return lambda out, v: out.__iadd__(struct.pack("<d", float(v)))
    if ftype == "string":

        def enc_str(out, v):
            b = v.encode("utf-8")
            out += zz(len(b))
            out += b

        return enc_str
    if ftype == "bytes":

        def enc_bytes(out, v):
            b = bytes(v)
            out += zz(len(b))
            out += b

        return enc_bytes
    raise EngineError(f"unsupported Avro type {ftype!r} (flat rows only)")


def _zz_read(data: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint off a bytes buffer at ``pos`` → (value, new pos).

    Block decode is cursor-over-bytes, not BytesIO: ``data[pos]`` is a
    C-level int fetch where ``BytesIO.read(1)`` allocates a bytes
    object per varint byte — the difference is ~2× on a 6M-row read."""
    b = data[pos]
    pos += 1
    if b < 0x80:
        u = b
    else:
        u = b & 0x7F
        shift = 7
        while True:
            b = data[pos]
            pos += 1
            u |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _decoder_for(ftype: dict | str):
    """Returns fn(data: bytes, pos: int) -> (value, new pos)."""
    zzr = _zz_read
    if isinstance(ftype, dict):
        lt = ftype.get("logicalType")
        if lt == "decimal":
            scale = ftype.get("scale", 0)

            def dec_dec(data, pos):
                n, pos = zzr(data, pos)
                end = pos + n
                unscaled = int.from_bytes(data[pos:end], "big", signed=True)
                # Tuple construction is context-free (exact at any
                # precision); scaleb would re-round >28-digit values.
                sign, digits, _ = Decimal(unscaled).as_tuple()
                return Decimal((sign, digits, -scale)), end

            return dec_dec
        if lt == "date":
            fromordinal = date.fromordinal

            def dec_date(data, pos):
                days, pos = zzr(data, pos)
                return fromordinal(_EPOCH_ORDINAL + days), pos

            return dec_date
        if lt in (
            "timestamp-micros",
            "timestamp-millis",
            "local-timestamp-micros",
            "local-timestamp-millis",
        ):
            unit = 1000 if lt.endswith("millis") else 1
            # Instant types decode tz-aware (UTC) so the Arrow batch
            # build is unambiguous for TimestampType; local-* stays
            # naive wall-clock for TimestampNTZType.
            epoch = _EPOCH_DT.replace(tzinfo=None) if lt.startswith("local") else _EPOCH_DT

            def dec_ts(data, pos):
                n, pos = zzr(data, pos)
                return epoch + timedelta(microseconds=n * unit), pos

            return dec_ts
        return _decoder_for(ftype["type"])
    if ftype in ("int", "long"):
        return _zz_read
    if ftype == "boolean":
        return lambda data, pos: (data[pos] == 1, pos + 1)
    if ftype == "float":
        unpack_f = struct.Struct("<f").unpack_from
        return lambda data, pos: (unpack_f(data, pos)[0], pos + 4)
    if ftype == "double":
        unpack_d = struct.Struct("<d").unpack_from
        return lambda data, pos: (unpack_d(data, pos)[0], pos + 8)
    if ftype == "string":

        def dec_str(data, pos):
            n, pos = zzr(data, pos)
            end = pos + n
            return data[pos:end].decode("utf-8"), end

        return dec_str
    if ftype == "bytes":

        def dec_bytes(data, pos):
            n, pos = zzr(data, pos)
            end = pos + n
            return data[pos:end], end

        return dec_bytes
    raise EngineError(f"unsupported Avro type {ftype!r} (flat rows only)")


def _union_codecs(fields: list[dict], build):
    """Per-field (null_index, value_index, codec) for ["null", X]-style
    unions (plain non-union field types get index None)."""
    out = []
    for f in fields:
        t = f["type"]
        if isinstance(t, list):
            if "null" not in t or len(t) != 2:
                raise EngineError(f"unsupported Avro union {t!r}")
            null_idx = t.index("null")
            val_idx = 1 - null_idx
            out.append((null_idx, val_idx, build(t[val_idx])))
        else:
            out.append((None, None, build(t)))
    return out


# ---------------------------------------------------------------------------
# Container file write / read
# ---------------------------------------------------------------------------


def write_container(
    fd,
    schema: dict,
    rows,
    codec: str = "null",
    sync: bytes | None = None,
    block_rows: int = 4096,
) -> int:
    """Serialize ``rows`` (sequences ordered like schema fields) into an
    Object Container File on ``fd``.  Returns the row count."""
    if codec not in ("null", "deflate"):
        raise EngineError(f"unsupported Avro codec {codec!r} (null|deflate)")
    sync = sync or os.urandom(16)
    header = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    header += _zigzag_encode(len(meta))
    for k, v in meta.items():
        _write_bytes(header, k.encode())
        _write_bytes(header, v)
    header += _zigzag_encode(0)  # end of metadata map
    header += sync
    fd.write(bytes(header))

    # Precompute the union-index varint BYTES per field: the branch
    # index is written once per value, so a per-value _zigzag_encode
    # call would dominate the hot loop at millions of rows.
    encs = [
        (
            None if null_idx is None else _zigzag_encode(null_idx),
            None if null_idx is None else _zigzag_encode(val_idx),
            enc,
        )
        for null_idx, val_idx, enc in _union_codecs(schema["fields"], _encoder_for)
    ]
    total = 0
    block = bytearray()
    in_block = 0

    def flush():
        nonlocal block, in_block
        if not in_block:
            return
        payload = zlib.compress(bytes(block))[2:-4] if codec == "deflate" else bytes(block)
        # (deflate codec = RAW deflate stream: zlib header/checksum
        # stripped, per the Avro spec)
        fd.write(_zigzag_encode(in_block))
        fd.write(_zigzag_encode(len(payload)))
        fd.write(payload)
        fd.write(sync)
        block, in_block = bytearray(), 0

    for row in rows:
        for v, (null_bytes, val_bytes, enc) in zip(row, encs):
            if null_bytes is not None:
                if v is None:
                    block += null_bytes
                    continue
                block += val_bytes
            elif v is None:
                raise EngineError("NULL in a non-nullable Avro field")
            enc(block, v)
        in_block += 1
        total += 1
        if in_block >= block_rows:
            flush()
    flush()
    return total


def _read_meta_map(buf: io.BytesIO) -> dict[str, bytes]:
    """Avro map blocks: count (negative count = followed by a byte
    size, then |count| entries), terminated by a 0 block."""
    meta: dict[str, bytes] = {}
    while True:
        n = _zigzag_decode(buf)
        if n == 0:
            return meta
        if n < 0:
            _zigzag_decode(buf)  # block byte size — unused here
            n = -n
        for _ in range(n):
            k = _read_bytes(buf).decode()
            meta[k] = _read_bytes(buf)


def iter_container_blocks(fd):
    """Parse an Object Container File incrementally: returns
    ``(schema, blocks)`` where ``blocks`` yields one ``list[list]``
    of per-FIELD value columns per Avro block — the shape an Arrow
    RecordBatch builds from directly, and the unit that bounds
    decoded-object memory to one block (writer default 4096 rows)."""
    if fd.read(4) != MAGIC:
        raise EngineError("not an Avro Object Container File (bad magic)")
    buf = io.BytesIO(fd.read())
    meta = _read_meta_map(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise EngineError(f"unsupported Avro codec {codec!r}")
    decs = _union_codecs(schema["fields"], _decoder_for)

    def blocks():
        while True:
            head = buf.read(1)
            if not head:
                return
            buf.seek(-1, io.SEEK_CUR)
            count = _zigzag_decode(buf)
            size = _zigzag_decode(buf)
            payload = buf.read(size)
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            if buf.read(16) != sync:
                raise EngineError("Avro sync marker mismatch (corrupt block)")
            cols: list[list] = [[] for _ in decs]
            # Union indexes are tiny non-negatives (branch count < 64),
            # so their varint is ALWAYS one byte: compare the raw byte
            # instead of a _zz_read call per value.
            plan = [
                (
                    None if null_idx is None else _zigzag_encode(null_idx)[0],
                    None if null_idx is None else _zigzag_encode(val_idx)[0],
                    dec,
                    col,
                )
                for (null_idx, val_idx, dec), col in zip(decs, cols)
            ]
            pos = 0
            for _ in range(count):
                for null_b, val_b, dec, col in plan:
                    if null_b is not None:
                        b0 = payload[pos]
                        pos += 1
                        if b0 == null_b:
                            col.append(None)
                            continue
                        if b0 != val_b:
                            raise EngineError(
                                f"union index byte {b0} out of range"
                            )
                    v, pos = dec(payload, pos)
                    col.append(v)
            yield cols

    return schema, blocks()


def read_container(fd) -> tuple[dict, list[tuple]]:
    """Parse an Object Container File: (schema, rows)."""
    schema, blocks = iter_container_blocks(fd)
    rows: list[tuple] = []
    for cols in blocks:
        rows.extend(zip(*cols))
    return schema, rows


# ---------------------------------------------------------------------------
# Spark sink: one container file per partition (mapInArrow — the
# feather.py distributed-write topology; no driver funnel)
# ---------------------------------------------------------------------------


def write_avro(df, path: str, codec: str = "deflate") -> None:
    from flaco_spark.session import worker_task

    os.makedirs(path, exist_ok=True)
    schema = avro_schema_for(df.schema)
    spark_schema = df.schema

    @worker_task
    def _write_partition(batches):
        import uuid

        import pyarrow as pa
        from pyspark import TaskContext

        # Column-wise to_pylist + zip: one vectorized C conversion per
        # column, no per-row dict (batch.to_pylist() builds a dict per
        # row — measured ~2x slower on 6M-row writes).
        rows_iter = (
            row
            for batch in batches
            for row in zip(*[c.to_pylist() for c in batch.columns])
        )
        # Partition-deterministic name + tmp-then-rename (feather.py's
        # contract): a retried/speculative attempt replaces the file
        # rather than duplicating the partition's rows.
        pid = TaskContext.get().partitionId()
        out = os.path.join(path, f"part-{pid:05d}.avro")
        tmp = os.path.join(path, f".part-{pid:05d}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fd:
            n = write_container(fd, schema, rows_iter, codec=codec)
        if n == 0:
            os.remove(tmp)  # empty partition: no file (header-only noise)
        else:
            os.replace(tmp, out)
        yield pa.record_batch([pa.array([n], type=pa.int64())], names=["rows_written"])

    counts = df.mapInArrow(_write_partition, schema="rows_written bigint")
    total = counts.groupBy().sum("rows_written").collect()[0][0]
    if not total:
        # zero-row result: still persist the schema (§7.5(1) discipline)
        with open(os.path.join(path, "part-empty.avro"), "wb") as fd:
            write_container(fd, schema, [])
    _ = spark_schema  # (kept for symmetry/debugging)


# ---------------------------------------------------------------------------
# Spark source: partition-per-file Python DataSource (pyds.py topology)
# ---------------------------------------------------------------------------


def _avro_files(path: str) -> list[str]:
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
    )
    if not files:
        raise EngineError(f"no .avro files under {path!r}")
    return files


def _datasource_class():
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    from flaco_spark.session import worker_task

    class _AvroFilePartition(InputPartition):
        def __init__(self, path: str) -> None:
            self.path = path

    class AvroDirReader(DataSourceReader):
        def __init__(self, options: dict) -> None:
            self.path = options["path"]

        def partitions(self):
            return [_AvroFilePartition(f) for f in _avro_files(self.path)]

        @worker_task
        def read(self, partition: "_AvroFilePartition"):
            # Yield one Arrow RecordBatch per Avro block (the pgwire
            # reader's Arrow-lane pattern): no per-row Python tuples
            # cross into Spark, and decoded-object memory is bounded
            # by one block regardless of file size.
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            with open(partition.path, "rb") as fd:
                schema, blocks = iter_container_blocks(fd)
                arrow_schema = to_arrow_schema(spark_schema_for(schema))
                for cols in blocks:
                    yield pa.record_batch(
                        [
                            pa.array(c, type=arrow_schema.field(i).type)
                            for i, c in enumerate(cols)
                        ],
                        schema=arrow_schema,
                    )

    class AvroDirDataSource(DataSource):
        """``spark.read.format("avro_dir").option("path", dir)``."""

        @classmethod
        def name(cls) -> str:
            return "avro_dir"

        def schema(self):
            first = _avro_files(self.options["path"])[0]
            # header-only probe: stop before any data block
            with open(first, "rb") as fd:
                if fd.read(4) != MAGIC:
                    raise EngineError(f"{first!r}: bad Avro magic")
                meta = _read_meta_map(io.BytesIO(fd.read(1 << 20)))
            return spark_schema_for(json.loads(meta["avro.schema"].decode()))

        def reader(self, schema):
            return AvroDirReader(self.options)

    return AvroDirDataSource


def register_avro_source(spark) -> None:
    """Idempotently register the avro_dir source on a session."""
    try:
        spark.dataSource.register(_datasource_class())
    except Exception:
        pass  # already registered on this session


def read_avro(spark, path: str):
    register_avro_source(spark)
    return spark.read.format("avro_dir").option("path", path).load()
