"""Pure-stdlib+numpy VP8 (lossy WebP) key-frame codec: decode + encode.

VERDICT r11 task 3 names this lane: "Lossy-VP8 WebP decode (RFC 6386)
— the dominant wild-WebP class, currently a loud refusal".  A still
lossy WebP is always a single VP8 KEY frame, so key-frame support IS
full still-image support; inter-frame features (MVs, reference
buffers) do not occur in still files and stay out of scope.

Decode implements RFC 6386 for key frames:
- the boolean arithmetic decoder (§7), tree/literal reads;
- frame header: uncompressed tag + start code + dims (§9.1),
  segmentation (§9.2-9.3), loop filter header (§9.4), DCT partitions
  (§9.5), dequantization indices (§9.6), refresh (§9.7), coefficient
  probability updates (§13.4), skip probability (§9.11);
- per-macroblock intra modes: key-frame Y-mode tree, B_PRED subblock
  modes with above/left context (§11.3-11.5), chroma modes;
- residual tokens per block with the band/context probability model
  (§13.2-13.3), including the no-EOB-after-zero tree rule;
- dequantization with the segment/delta-adjusted index clamps (§14.1)
  and the Y2 scaling rules;
- inverse WHT for Y2 (§14.3) and the 4x4 inverse DCT with the 20091 /
  35468 fixed-point constants (§14.4);
- intra prediction, all 16x16/chroma modes and all ten 4x4 B-modes
  with the 127/129 off-frame edge conventions and the shared
  above-right rule for right-column subblocks (§12);
- the in-loop deblocking filter, both normal and simple profiles,
  with the per-MB filter level / interior limit / HEV threshold
  derivation (§15).

The large RFC constant tables (default/update coefficient probs,
key-frame B-mode probs, dequant lookups) live in ``vp8_tables.py``
(see that module + scripts/extract_vp8_tables.py for provenance).

Verification: the decoder's Y/U/V output is compared BIT-EXACTLY
against the system libwebp's decode of REAL libwebp-encoded lossy
streams across quality levels (tests/test_core_api.py) — stronger
evidence than any reconstruction bound.  The encoder half is a
from-spec key-frame subset (16x16 intra modes, one token partition,
default probabilities) used for the gate lane's fixtures and
round-trips; its streams are also decoded by libwebp in tests.

Reference parity note: the reference engine treats media as opaque
BYTEA cells (/root/reference/src/lib.rs:202-207); this module is an
extension family beyond it, per the pipeline brief.

100 TB posture: same as the other codec lanes — called inside
Arrow-batched ``mapInPandas`` stages with bounded payloads; per-image
work is O(pixels); parallelism comes from images-per-task.
"""

from __future__ import annotations

import struct

import numpy as np

from flaco_spark.errors import EngineError
from flaco_spark.sources.imglimits import check_pixel_budget
from flaco_spark.sources.vp8_tables import (
    AC_QLOOKUP,
    COEFF_BANDS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    DEFAULT_COEFF_PROBS,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------------------
# Trees and small probability tables (RFC 6386 §8.2, §11.3-11.5, §13.2)
# ---------------------------------------------------------------------------

# intra Y modes (key-frame tree): B_PRED first
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROB = (145, 156, 163, 128)

UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROB = (142, 114, 183)

# 4x4 B modes
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)
BMODE_TREE = (
    -B_DC, 2,
    -B_TM, 4,
    -B_VE, 6,
    8, 12,
    -B_HE, 10,
    -B_RD, -B_VR,
    -B_LD, 14,
    -B_VL, 16,
    -B_HD, -B_HU,
)
# 16x16 mode -> implied B mode for bmode context (RFC §11.5)
IMPLIED_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

MB_SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# token tree (RFC §13.2); leaves are token ids 0..11
(TOK_EOB, TOK_0, TOK_1, TOK_2, TOK_3, TOK_4,
 TOK_CAT1, TOK_CAT2, TOK_CAT3, TOK_CAT4, TOK_CAT5, TOK_CAT6) = range(12)
TOKEN_TREE = (
    -TOK_EOB, 2,
    -TOK_0, 4,
    -TOK_1, 6,
    8, 12,
    -TOK_2, 10,
    -TOK_3, -TOK_4,
    14, 16,
    -TOK_CAT1, -TOK_CAT2,
    18, 20,
    -TOK_CAT3, -TOK_CAT4,
    -TOK_CAT5, -TOK_CAT6,
)
CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)
CAT_BASE = (5, 7, 11, 19, 35, 67)

ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

_COEFF_PROBS_DEFAULT = np.array(DEFAULT_COEFF_PROBS, dtype=np.uint8).reshape(
    4, 8, 3, 11
)
_COEFF_UPDATE = np.array(COEFF_UPDATE_PROBS, dtype=np.uint8).reshape(4, 8, 3, 11)
_KF_BMODE = np.array(KF_BMODE_PROBS, dtype=np.uint8).reshape(10, 10, 9)

# Python-native mirrors of the numpy probability tables (r12 opt):
# the bool coder's hot loops are pure-int arithmetic, and pulling a
# numpy uint8 scalar out of an ndarray per BIT costs several times
# the whole split computation (profiled: read_bool/write_bool were
# ~45% of codec time at 546k calls per 299 docs).  Values identical
# by construction; the numpy tables stay for any vectorized use.


def _nest4(flat, d0=4, d1=8, d2=3, d3=11):
    it = iter(int(x) for x in flat)
    return tuple(
        tuple(tuple(tuple(next(it) for _ in range(d3)) for _ in range(d2))
              for _ in range(d1))
        for _ in range(d0)
    )


_COEFF_PROBS_PY = _nest4(DEFAULT_COEFF_PROBS)
_COEFF_UPDATE_FLAT = tuple(int(x) for x in COEFF_UPDATE_PROBS)  # (i,j,k,l) raster
_KF_BMODE_PY = tuple(
    tuple(tuple(int(x) for x in _KF_BMODE[a, l]) for l in range(10))
    for a in range(10)
)


# ---------------------------------------------------------------------------
# Boolean arithmetic coder (RFC 6386 §7)
# ---------------------------------------------------------------------------


class BoolDecoder:
    """RFC 6386 boolean arithmetic decoder.

    NOTE (r12 ADVICE): the read_bool/read_tree bit semantics are
    INLINED against local coder state in several hot paths — any fix
    to the coder arithmetic must be mirrored in every copy or
    decode silently diverges.  Inlined decoder copies:
    parse_frame_header (the 1056-bit token-prob update loop) and
    _decode_block (token tree walk, category extras, sign).  Inlined
    ENCODER copies (BoolEncoder.write_bool mirror):
    _write_block_tokens (tree steps, category extras, sign).
    tests/test_property_differential.py round-trips random streams
    through the coder as a divergence backstop."""

    __slots__ = ("data", "pos", "value", "range_", "bit_count")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 2
        self.value = (
            (data[0] << 8 | data[1]) if len(data) >= 2
            else (data[0] << 8 if data else 0)
        )
        self.range_ = 255
        self.bit_count = 0

    def read_bool(self, prob: int) -> int:
        split = 1 + (((self.range_ - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range_ -= split
            self.value -= big
        else:
            ret = 0
            self.range_ = split
        # renormalize (reads past the end decode as zero bytes; a
        # conformant stream never depends on them)
        while self.range_ < 128:
            self.value <<= 1
            self.range_ <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                self.pos += 1
        return ret

    def read_literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bool(128)
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_literal(n)
        return -v if self.read_bool(128) else v

    def read_tree(self, tree, probs, start: int = 0) -> int:
        # read_bool inlined against local coder state (r12 opt): tree
        # walks are 1-4 bits and the attribute traffic + call overhead
        # dominated the arithmetic.  Identical bit semantics.
        data = self.data
        dlen = len(data)
        pos = self.pos
        value = self.value
        rng = self.range_
        bcnt = self.bit_count
        i = start
        while True:
            prob = probs[i >> 1]
            split = 1 + (((rng - 1) * prob) >> 8)
            big = split << 8
            if value >= big:
                bit = 1
                rng -= split
                value -= big
            else:
                bit = 0
                rng = split
            while rng < 128:
                value <<= 1
                rng <<= 1
                bcnt += 1
                if bcnt == 8:
                    bcnt = 0
                    if pos < dlen:
                        value |= data[pos]
                    pos += 1
            i = tree[i + bit]
            if i <= 0:
                self.pos = pos
                self.value = value
                self.range_ = rng
                self.bit_count = bcnt
                return -i


class BoolEncoder:
    """RFC 6386 §7.1: the bool encoder mirrors the decoder's split
    arithmetic; carry propagates into already-emitted bytes."""

    __slots__ = ("out", "range_", "bottom", "bit_count")

    def __init__(self) -> None:
        self.out = bytearray()
        self.range_ = 255
        self.bottom = 0
        self.bit_count = 24

    def _add_one_to_output(self) -> None:
        i = len(self.out) - 1
        while i >= 0 and self.out[i] == 0xFF:
            self.out[i] = 0
            i -= 1
        if i >= 0:
            self.out[i] += 1
        else:
            self.out.insert(0, 1)

    def write_bool(self, prob: int, value: int) -> None:
        split = 1 + (((self.range_ - 1) * prob) >> 8)
        if value:
            self.bottom += split
            self.range_ -= split
        else:
            self.range_ = split
        while self.range_ < 128:
            self.range_ <<= 1
            if self.bottom & (1 << 31):
                self._add_one_to_output()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8

    def write_literal(self, n: int, v: int) -> None:
        for shift in range(n - 1, -1, -1):
            self.write_bool(128, (v >> shift) & 1)

    def write_signed(self, n: int, v: int) -> None:
        self.write_literal(n, abs(v))
        self.write_bool(128, 1 if v < 0 else 0)

    def write_tree(self, tree, probs, leaf: int, start: int = 0) -> None:
        # find the bit path to -leaf by DFS; write_bool inlined
        # against local coder state (r12 opt) — identical emission.
        path = self._path(tree, start, -leaf)
        i = start
        out = self.out
        rng = self.range_
        bottom = self.bottom
        bcnt = self.bit_count
        for bit in path:
            prob = probs[i >> 1]
            split = 1 + (((rng - 1) * prob) >> 8)
            if bit:
                bottom += split
                rng -= split
            else:
                rng = split
            while rng < 128:
                rng <<= 1
                if bottom & 0x80000000:
                    # carry propagates into already-emitted bytes
                    j = len(out) - 1
                    while j >= 0 and out[j] == 0xFF:
                        out[j] = 0
                        j -= 1
                    if j >= 0:
                        out[j] += 1
                    else:
                        out.insert(0, 1)
                bottom = (bottom << 1) & 0xFFFFFFFF
                bcnt -= 1
                if bcnt == 0:
                    out.append((bottom >> 24) & 0xFF)
                    bottom &= 0xFFFFFF
                    bcnt = 8
            i = tree[i + bit]
        self.range_ = rng
        self.bottom = bottom
        self.bit_count = bcnt

    _PATH_CACHE: dict = {}

    @classmethod
    def _path(cls, tree, start, target):
        # Trees are immutable module-level tuples and every block of
        # every frame re-derives the same (tree, start, leaf) paths —
        # memoize them (measured: _path was ~15% of encode time).
        key = (id(tree), start, target)
        hit = cls._PATH_CACHE.get(key)
        if hit is not None:
            return hit
        stack = [(start, [])]
        while stack:
            node, path = stack.pop()
            for bit in (0, 1):
                nxt = tree[node + bit]
                if nxt == target and target <= 0:
                    cls._PATH_CACHE[key] = path + [bit]
                    return cls._PATH_CACHE[key]
                if nxt > 0:
                    stack.append((nxt, path + [bit]))
        raise EngineError("leaf not in tree")

    def finish(self) -> bytes:
        for _ in range(32):
            if self.bottom & (1 << 31):
                self._add_one_to_output()
            self.bottom = (self.bottom << 1) & 0xFFFFFFFF
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Transforms (RFC 6386 §14.3-14.4)
# ---------------------------------------------------------------------------

_C1 = 20091  # cospi8sqrt2 - 1, Q16
_C2 = 35468  # sinpi8sqrt2, Q16


def idct4x4(block: list[int]) -> list[int]:
    """RFC §14.4 integer inverse DCT; 16 coeffs in raster order."""
    tmp = [0] * 16
    for i in range(4):
        ip = block[i::4] if False else None  # clarity: column access below
        a1 = block[i] + block[i + 8]
        b1 = block[i] - block[i + 8]
        t1 = (block[i + 4] * _C2) >> 16
        t2 = block[i + 12] + ((block[i + 12] * _C1) >> 16)
        c1 = t1 - t2
        t1 = block[i + 4] + ((block[i + 4] * _C1) >> 16)
        t2 = (block[i + 12] * _C2) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[i + 12] = a1 - d1
        tmp[i + 4] = b1 + c1
        tmp[i + 8] = b1 - c1
    out = [0] * 16
    for i in range(4):
        o = i * 4
        a1 = tmp[o] + tmp[o + 2]
        b1 = tmp[o] - tmp[o + 2]
        t1 = (tmp[o + 1] * _C2) >> 16
        t2 = tmp[o + 3] + ((tmp[o + 3] * _C1) >> 16)
        c1 = t1 - t2
        t1 = tmp[o + 1] + ((tmp[o + 1] * _C1) >> 16)
        t2 = (tmp[o + 3] * _C2) >> 16
        d1 = t1 + t2
        out[o] = (a1 + d1 + 4) >> 3
        out[o + 3] = (a1 - d1 + 4) >> 3
        out[o + 1] = (b1 + c1 + 4) >> 3
        out[o + 2] = (b1 - c1 + 4) >> 3
    return out


def _idct4x4_batch(blocks: np.ndarray) -> np.ndarray:
    """idct4x4 vectorized over an (n, 16) int64 array of raster-order
    coefficient blocks; returns (n, 16) int64.  Bit-identical to the
    scalar loop: every op is integer add/multiply/arithmetic-shift,
    and numpy's int64 ``>>`` is the same floor shift as Python's
    (values stay far inside int64 — |coeff| <= 2047*q < 2^19, so the
    *35468 products are < 2^36)."""
    B = blocks.reshape(-1, 4, 4)
    X0, X1, X2, X3 = B[:, 0, :], B[:, 1, :], B[:, 2, :], B[:, 3, :]
    a1 = X0 + X2
    b1 = X0 - X2
    c1 = ((X1 * _C2) >> 16) - (X3 + ((X3 * _C1) >> 16))
    d1 = (X1 + ((X1 * _C1) >> 16)) + ((X3 * _C2) >> 16)
    tmp = np.empty_like(B)
    tmp[:, 0, :] = a1 + d1
    tmp[:, 3, :] = a1 - d1
    tmp[:, 1, :] = b1 + c1
    tmp[:, 2, :] = b1 - c1
    Y0, Y1, Y2, Y3 = tmp[:, :, 0], tmp[:, :, 1], tmp[:, :, 2], tmp[:, :, 3]
    a1 = Y0 + Y2
    b1 = Y0 - Y2
    c1 = ((Y1 * _C2) >> 16) - (Y3 + ((Y3 * _C1) >> 16))
    d1 = (Y1 + ((Y1 * _C1) >> 16)) + ((Y3 * _C2) >> 16)
    out = np.empty_like(B)
    out[:, :, 0] = (a1 + d1 + 4) >> 3
    out[:, :, 3] = (a1 - d1 + 4) >> 3
    out[:, :, 1] = (b1 + c1 + 4) >> 3
    out[:, :, 2] = (b1 - c1 + 4) >> 3
    return out.reshape(-1, 16)


def iwht4x4(block: list[int]) -> list[int]:
    """RFC §14.3 inverse Walsh-Hadamard for the Y2 block."""
    tmp = [0] * 16
    for i in range(4):
        a1 = block[i] + block[i + 12]
        b1 = block[i + 4] + block[i + 8]
        c1 = block[i + 4] - block[i + 8]
        d1 = block[i] - block[i + 12]
        tmp[i] = a1 + b1
        tmp[i + 4] = c1 + d1
        tmp[i + 8] = a1 - b1
        tmp[i + 12] = d1 - c1
    out = [0] * 16
    for i in range(4):
        o = i * 4
        a1 = tmp[o] + tmp[o + 3]
        b1 = tmp[o + 1] + tmp[o + 2]
        c1 = tmp[o + 1] - tmp[o + 2]
        d1 = tmp[o] - tmp[o + 3]
        out[o] = (a1 + b1 + 3) >> 3
        out[o + 1] = (c1 + d1 + 3) >> 3
        out[o + 2] = (a1 - b1 + 3) >> 3
        out[o + 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# Frame header
# ---------------------------------------------------------------------------


class FrameHeader:
    pass


# r13 (guide §1.2): the bool-decoded header section — segmentation,
# loop filter, quant indices, and the 1056 token-probability update
# bits — is a pure function of the partition BYTES it consumes (the
# arithmetic decoder's state after the header depends only on
# part[:pos]).  Streams from one encoder configuration share that
# byte prefix verbatim (our encoder's first-partition prefix is a
# pure function of q_index — the same fact its _mode_header_prefix
# memo exploits), so the decode side memoizes the parsed header +
# coder state keyed ON THE CONSUMED BYTES: content-keyed within a
# process, never keyed on any corpus or doc identity.  The
# uncompressed 10-byte tag (frame size, dimensions, part1_size) is
# still parsed per call.
_HDR_MEMO: dict[bytes, list] = {}
_HDR_MEMO_MAX = 256  # keys
_HDR_MEMO_PER_KEY = 8  # snapshots per key, oldest dropped first


def parse_frame_header(data: bytes) -> FrameHeader:
    """Uncompressed header (§9.1) + the key-frame first-partition
    header fields, through the token probability updates."""
    if len(data) < 10:
        raise EngineError("truncated VP8 frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    h = FrameHeader()
    h.key_frame = not (tag & 1)
    h.version = (tag >> 1) & 7
    h.show_frame = (tag >> 4) & 1
    h.part1_size = tag >> 5
    if not h.key_frame:
        raise EngineError("VP8 inter frame (still WebP is always a key frame)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise EngineError("bad VP8 start code")
    if h.version > 3:
        raise EngineError(f"unsupported VP8 version {h.version}")
    w_raw = data[6] | (data[7] << 8)
    h_raw = data[8] | (data[9] << 8)
    h.width, h.hscale = w_raw & 0x3FFF, w_raw >> 14
    h.height, h.vscale = h_raw & 0x3FFF, h_raw >> 14
    if h.width == 0 or h.height == 0:
        raise EngineError("zero VP8 dimensions")
    check_pixel_budget(h.width, h.height, "VP8")
    if 10 + h.part1_size > len(data):
        raise EngineError("VP8 first partition overruns frame")
    part = data[10 : 10 + h.part1_size]
    for prefix, snap_h, snap_bd in _HDR_MEMO.get(bytes(part[:12]), ()):
        if part.startswith(prefix):
            import copy

            cached = copy.copy(snap_h)
            # per-frame fields from the uncompressed tag (not covered
            # by the memo key) ride over from `h`
            for f in ("key_frame", "version", "show_frame", "part1_size",
                      "width", "hscale", "height", "vscale"):
                setattr(cached, f, getattr(h, f))
            bd = BoolDecoder.__new__(BoolDecoder)
            bd.data = part
            bd.pos, bd.value, bd.range_, bd.bit_count = snap_bd
            cached.bd = bd
            return cached
    bd = BoolDecoder(part)
    h.color_space = bd.read_bool(128)
    h.clamping_type = bd.read_bool(128)

    # segmentation (§9.2-9.3)
    h.segmentation = bd.read_bool(128)
    h.update_mb_seg_map = 0
    h.seg_abs = 0
    h.seg_quant = [0, 0, 0, 0]
    h.seg_lf = [0, 0, 0, 0]
    h.seg_tree_probs = [255, 255, 255]
    if h.segmentation:
        h.update_mb_seg_map = bd.read_bool(128)
        update_data = bd.read_bool(128)
        if update_data:
            h.seg_abs = bd.read_bool(128)
            for i in range(4):
                if bd.read_bool(128):
                    h.seg_quant[i] = bd.read_signed(7)
            for i in range(4):
                if bd.read_bool(128):
                    h.seg_lf[i] = bd.read_signed(6)
        if h.update_mb_seg_map:
            for i in range(3):
                if bd.read_bool(128):
                    h.seg_tree_probs[i] = bd.read_literal(8)

    # loop filter header (§9.4)
    h.filter_type = bd.read_bool(128)  # 0 normal, 1 simple
    h.filter_level = bd.read_literal(6)
    h.sharpness = bd.read_literal(3)
    h.lf_delta_enabled = bd.read_bool(128)
    h.ref_lf_deltas = [0, 0, 0, 0]
    h.mode_lf_deltas = [0, 0, 0, 0]
    if h.lf_delta_enabled:
        if bd.read_bool(128):  # deltas updated this frame
            for i in range(4):
                if bd.read_bool(128):
                    h.ref_lf_deltas[i] = bd.read_signed(6)
            for i in range(4):
                if bd.read_bool(128):
                    h.mode_lf_deltas[i] = bd.read_signed(6)

    # DCT partitions (§9.5)
    h.num_token_partitions = 1 << bd.read_literal(2)

    # dequantization indices (§9.6)
    h.y_ac_qi = bd.read_literal(7)
    h.y_dc_delta = bd.read_signed(4) if bd.read_bool(128) else 0
    h.y2_dc_delta = bd.read_signed(4) if bd.read_bool(128) else 0
    h.y2_ac_delta = bd.read_signed(4) if bd.read_bool(128) else 0
    h.uv_dc_delta = bd.read_signed(4) if bd.read_bool(128) else 0
    h.uv_ac_delta = bd.read_signed(4) if bd.read_bool(128) else 0

    h.refresh_entropy = bd.read_bool(128)  # §9.7 (key frame reads it too)

    # token probability updates (§13.4) — 1056 bool reads per frame;
    # read_bool inlined against local coder state over the flat
    # Python update table (r12 opt; was: one numpy 4-D index + int()
    # + method call per bit).  Identical bit semantics.
    probs_flat = None  # updated copy only if any update bit is set
    upd = _COEFF_UPDATE_FLAT
    data = bd.data
    dlen = len(data)
    pos = bd.pos
    value = bd.value
    rng = bd.range_
    bcnt = bd.bit_count
    for idx in range(1056):
        prob = upd[idx]
        split = 1 + (((rng - 1) * prob) >> 8)
        big = split << 8
        if value >= big:
            bit = 1
            rng -= split
            value -= big
        else:
            bit = 0
            rng = split
        while rng < 128:
            value <<= 1
            rng <<= 1
            bcnt += 1
            if bcnt == 8:
                bcnt = 0
                if pos < dlen:
                    value |= data[pos]
                pos += 1
        if bit:
            # read_literal(8): eight bool reads at prob 128
            v = 0
            for _ in range(8):
                split = 1 + ((rng - 1) >> 1)  # prob 128: ((r-1)*128)>>8
                big = split << 8
                if value >= big:
                    b2 = 1
                    rng -= split
                    value -= big
                else:
                    b2 = 0
                    rng = split
                while rng < 128:
                    value <<= 1
                    rng <<= 1
                    bcnt += 1
                    if bcnt == 8:
                        bcnt = 0
                        if pos < dlen:
                            value |= data[pos]
                        pos += 1
                v = (v << 1) | b2
            if probs_flat is None:
                probs_flat = [x for l1 in _COEFF_PROBS_PY for l2 in l1
                              for l3 in l2 for x in l3]
            probs_flat[idx] = v
    bd.pos = pos
    bd.value = value
    bd.range_ = rng
    bd.bit_count = bcnt
    h.coeff_probs = (
        _COEFF_PROBS_PY if probs_flat is None else _nest4(probs_flat)
    )

    # §9.11
    h.mb_no_skip = bd.read_bool(128)
    h.prob_skip_false = bd.read_literal(8) if h.mb_no_skip else 0

    # memoize: key = the exact partition bytes the header consumed
    # (value/range were built from part[:pos] only).  A header that
    # overran its partition read virtual zero bytes past it, which a
    # longer stream extending the partition does not hold: never
    # memoized.  The snapshot's list fields are shared by every hit —
    # downstream decode only reads them (do not mutate a FrameHeader
    # after parse).
    import copy

    if bd.pos <= len(part):
        if len(_HDR_MEMO) >= _HDR_MEMO_MAX:
            _HDR_MEMO.clear()
        entries = _HDR_MEMO.setdefault(bytes(part[:12]), [])
        if len(entries) >= _HDR_MEMO_PER_KEY:
            del entries[0]
        entries.append(
            (bytes(part[: bd.pos]), copy.copy(h),
             (bd.pos, bd.value, bd.range_, bd.bit_count))
        )

    h.bd = bd  # continues with per-MB mode data
    return h


def _clamp_q(v: int) -> int:
    return 0 if v < 0 else (127 if v > 127 else v)


def _dequant_factors(h: FrameHeader, segment: int):
    """(y1_dc, y1_ac, y2_dc, y2_ac, uv_dc, uv_ac) per RFC §14.1."""
    q = h.y_ac_qi
    if h.segmentation:
        q = h.seg_quant[segment] if h.seg_abs else q + h.seg_quant[segment]
    q = _clamp_q(q)
    y1_dc = DC_QLOOKUP[_clamp_q(q + h.y_dc_delta)]
    y1_ac = AC_QLOOKUP[q]
    y2_dc = DC_QLOOKUP[_clamp_q(q + h.y2_dc_delta)] * 2
    y2_ac = AC_QLOOKUP[_clamp_q(q + h.y2_ac_delta)] * 155 // 100
    if y2_ac < 8:
        y2_ac = 8
    uv_dc = DC_QLOOKUP[_clamp_q(q + h.uv_dc_delta)]
    if uv_dc > 132:
        uv_dc = 132
    uv_ac = AC_QLOOKUP[_clamp_q(q + h.uv_ac_delta)]
    return y1_dc, y1_ac, y2_dc, y2_ac, uv_dc, uv_ac


# ---------------------------------------------------------------------------
# Token decoding (RFC §13)
# ---------------------------------------------------------------------------


def _decode_block(
    bd: BoolDecoder, probs_type, first: int, dq_dc: int, dq_ac: int, ctx: int
) -> tuple[list[int], int]:
    """One 4x4 coefficient block; returns (dequantized coeffs in
    raster order, nz flag for the neighbor context)."""
    # The token loop is the decoder's hottest path (read_bool was
    # ~45% of decode at 546k calls/299 docs); the whole read chain is
    # inlined against local coder state (r12 opt, the VP8L trick).
    # Identical bit semantics to read_tree/read_bool.
    coeffs = [0] * 16
    i = first
    start = 0  # tree start: 2 after a zero token (no EOB after 0)
    nz = 0
    data = bd.data
    dlen = len(data)
    pos = bd.pos
    value = bd.value
    rng = bd.range_
    bcnt = bd.bit_count
    bands = COEFF_BANDS
    while i < 16:
        p = probs_type[bands[i]][ctx]
        ti = start
        while True:  # read_tree(TOKEN_TREE, p, start)
            prob = p[ti >> 1]
            split = 1 + (((rng - 1) * prob) >> 8)
            big = split << 8
            if value >= big:
                bit = 1
                rng -= split
                value -= big
            else:
                bit = 0
                rng = split
            while rng < 128:
                value <<= 1
                rng <<= 1
                bcnt += 1
                if bcnt == 8:
                    bcnt = 0
                    if pos < dlen:
                        value |= data[pos]
                    pos += 1
            ti = TOKEN_TREE[ti + bit]
            if ti <= 0:
                break
        tok = -ti
        if tok == TOK_EOB:
            break
        if tok == TOK_0:
            ctx = 0
            start = 2
            i += 1
            continue
        if tok <= TOK_4:
            v = tok - 1  # TOK_1..TOK_4 -> 1..4
            ctx = 1 if v == 1 else 2
        else:
            cat = tok - TOK_CAT1
            extra = 0
            for prob in CAT_PROBS[cat]:
                split = 1 + (((rng - 1) * prob) >> 8)
                big = split << 8
                if value >= big:
                    bit = 1
                    rng -= split
                    value -= big
                else:
                    bit = 0
                    rng = split
                while rng < 128:
                    value <<= 1
                    rng <<= 1
                    bcnt += 1
                    if bcnt == 8:
                        bcnt = 0
                        if pos < dlen:
                            value |= data[pos]
                        pos += 1
                extra = (extra << 1) | bit
            v = CAT_BASE[cat] + extra
            ctx = 2
        # sign: read_bool(128)
        split = 1 + ((rng - 1) >> 1)
        big = split << 8
        if value >= big:
            rng -= split
            value -= big
            v = -v
        else:
            rng = split
        while rng < 128:
            value <<= 1
            rng <<= 1
            bcnt += 1
            if bcnt == 8:
                bcnt = 0
                if pos < dlen:
                    value |= data[pos]
                pos += 1
        coeffs[ZIGZAG[i]] = v * (dq_dc if i == 0 else dq_ac)
        nz = 1
        start = 0
        i += 1
    bd.pos = pos
    bd.value = value
    bd.range_ = rng
    bd.bit_count = bcnt
    return coeffs, nz


# ---------------------------------------------------------------------------
# Intra prediction (RFC §12) — operates on padded plane arrays
# ---------------------------------------------------------------------------


def _pred_dc(plane, y0, x0, size, have_up, have_left):
    if have_up and have_left:
        s = int(plane[y0 - 1, x0 : x0 + size].sum()) + int(
            plane[y0 : y0 + size, x0 - 1].sum()
        )
        shift = 4 if size == 16 else 3
        dc = (s + size) >> (shift + 1)
    elif have_up:
        s = int(plane[y0 - 1, x0 : x0 + size].sum())
        shift = 4 if size == 16 else 3
        dc = (s + (size >> 1)) >> shift
    elif have_left:
        s = int(plane[y0 : y0 + size, x0 - 1].sum())
        shift = 4 if size == 16 else 3
        dc = (s + (size >> 1)) >> shift
    else:
        dc = 128
    plane[y0 : y0 + size, x0 : x0 + size] = dc


def _pred_tm(plane, y0, x0, size):
    above = plane[y0 - 1, x0 : x0 + size].astype(np.int32)
    left = plane[y0 : y0 + size, x0 - 1].astype(np.int32)
    tl = int(plane[y0 - 1, x0 - 1])
    block = left[:, None] + above[None, :] - tl
    plane[y0 : y0 + size, x0 : x0 + size] = np.clip(block, 0, 255)


def _pred_16_or_8(plane, mode, y0, x0, size, have_up, have_left):
    if mode == DC_PRED:
        _pred_dc(plane, y0, x0, size, have_up, have_left)
    elif mode == V_PRED:
        plane[y0 : y0 + size, x0 : x0 + size] = plane[y0 - 1, x0 : x0 + size]
    elif mode == H_PRED:
        plane[y0 : y0 + size, x0 : x0 + size] = plane[
            y0 : y0 + size, x0 - 1
        ][:, None]
    elif mode == TM_PRED:
        _pred_tm(plane, y0, x0, size)
    else:
        raise EngineError(f"invalid VP8 16x16/chroma mode {mode}")


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred_b(plane, mode, y0, x0, ar):
    """One 4x4 B-mode prediction.  ``ar`` = the 4 above-right pixels
    (already resolved per the shared right-column rule)."""
    A = [int(v) for v in plane[y0 - 1, x0 : x0 + 4]]
    L = [int(v) for v in plane[y0 : y0 + 4, x0 - 1]]
    P = int(plane[y0 - 1, x0 - 1])
    AR = [int(v) for v in ar]
    b = [[0] * 4 for _ in range(4)]
    if mode == B_DC:
        dc = (sum(A) + sum(L) + 4) >> 3
        for r in range(4):
            for c in range(4):
                b[r][c] = dc
    elif mode == B_TM:
        for r in range(4):
            for c in range(4):
                v = L[r] + A[c] - P
                b[r][c] = 0 if v < 0 else (255 if v > 255 else v)
    elif mode == B_VE:
        top = [
            _avg3(P, A[0], A[1]),
            _avg3(A[0], A[1], A[2]),
            _avg3(A[1], A[2], A[3]),
            _avg3(A[2], A[3], AR[0]),
        ]
        for r in range(4):
            b[r] = list(top)
    elif mode == B_HE:
        col = [
            _avg3(P, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ]
        for r in range(4):
            for c in range(4):
                b[r][c] = col[r]
    elif mode == B_LD:
        E = A + AR  # 8 above pixels
        for r in range(4):
            for c in range(4):
                i = r + c
                if i < 6:
                    b[r][c] = _avg3(E[i], E[i + 1], E[i + 2])
                else:
                    b[r][c] = _avg3(E[6], E[7], E[7])
    elif mode == B_RD:
        E = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
        for r in range(4):
            for c in range(4):
                b[r][c] = _avg3(E[c - r + 3], E[c - r + 4], E[c - r + 5])
    elif mode == B_VR:
        E = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
        b[0] = [_avg2(E[4], E[5]), _avg2(E[5], E[6]),
                _avg2(E[6], E[7]), _avg2(E[7], E[8])]
        b[1] = [_avg3(E[3], E[4], E[5]), _avg3(E[4], E[5], E[6]),
                _avg3(E[5], E[6], E[7]), _avg3(E[6], E[7], E[8])]
        b[2] = [_avg3(E[2], E[3], E[4]), b[0][0], b[0][1], b[0][2]]
        b[3] = [_avg3(E[1], E[2], E[3]), b[1][0], b[1][1], b[1][2]]
    elif mode == B_VL:
        E = A + AR
        b[0] = [_avg2(E[0], E[1]), _avg2(E[1], E[2]),
                _avg2(E[2], E[3]), _avg2(E[3], E[4])]
        b[1] = [_avg3(E[0], E[1], E[2]), _avg3(E[1], E[2], E[3]),
                _avg3(E[2], E[3], E[4]), _avg3(E[3], E[4], E[5])]
        b[2] = [b[0][1], b[0][2], b[0][3], _avg3(E[4], E[5], E[6])]
        b[3] = [b[1][1], b[1][2], b[1][3], _avg3(E[5], E[6], E[7])]
    elif mode == B_HD:
        E = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2]]
        b[3][0] = _avg2(E[0], E[1])
        b[3][1] = _avg3(E[0], E[1], E[2])
        b[2][0] = _avg2(E[1], E[2])
        b[2][1] = _avg3(E[1], E[2], E[3])
        b[1][0] = _avg2(E[2], E[3])
        b[1][1] = _avg3(E[2], E[3], E[4])
        b[0][0] = _avg2(E[3], E[4])
        b[0][1] = _avg3(E[3], E[4], E[5])
        b[0][2] = _avg3(E[4], E[5], E[6])
        b[0][3] = _avg3(E[5], E[6], E[7])
        b[1][2], b[1][3] = b[0][0], b[0][1]
        b[2][2], b[2][3] = b[1][0], b[1][1]
        b[3][2], b[3][3] = b[2][0], b[2][1]
    elif mode == B_HU:
        b[0] = [_avg2(L[0], L[1]), _avg3(L[0], L[1], L[2]),
                _avg2(L[1], L[2]), _avg3(L[1], L[2], L[3])]
        b[1] = [b[0][2], b[0][3], _avg2(L[2], L[3]), _avg3(L[2], L[3], L[3])]
        b[2] = [b[1][2], b[1][3], L[3], L[3]]
        b[3] = [L[3], L[3], L[3], L[3]]
    else:
        raise EngineError(f"invalid VP8 B mode {mode}")
    plane[y0 : y0 + 4, x0 : x0 + 4] = b


# ---------------------------------------------------------------------------
# Loop filter (RFC §15)
# ---------------------------------------------------------------------------


def _c128(v):
    return -128 if v < -128 else (127 if v > 127 else v)


def _u8(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def _filter_common(p, idx_m2, idx_m1, idx_0, idx_1, use_outer_taps):
    """The common 4-tap adjustment (§15.3); p is a 1D int array view
    across the edge; returns the adjusted 'a' for the hev==0 path."""
    p1, p0, q0, q1 = (
        p[idx_m2] - 128, p[idx_m1] - 128, p[idx_0] - 128, p[idx_1] - 128
    )
    a = _c128((p1 - q1 if use_outer_taps else 0) + 3 * (q0 - p0))
    f1 = _c128(a + 4) >> 3
    f2 = _c128(a + 3) >> 3
    p[idx_0] = _u8((q0 - f1) + 128)
    p[idx_m1] = _u8((p0 + f2) + 128)
    return f1


def _simple_segment(p, i_m2, i_m1, i_0, i_1, flimit):
    p1, p0, q0, q1 = p[i_m2] - 128, p[i_m1] - 128, p[i_0] - 128, p[i_1] - 128
    if abs(p0 - q0) * 2 + (abs(p1 - q1) >> 1) <= flimit:
        _filter_common(p, i_m2, i_m1, i_0, i_1, True)


def _normal_mask(p1, p0, q0, q1, p3, p2, q2, q3, elimit, ilimit):
    return (
        abs(p0 - q0) * 2 + (abs(p1 - q1) >> 1) <= elimit
        and abs(p3 - p2) <= ilimit
        and abs(p2 - p1) <= ilimit
        and abs(p1 - p0) <= ilimit
        and abs(q1 - q0) <= ilimit
        and abs(q2 - q1) <= ilimit
        and abs(q3 - q2) <= ilimit
    )


def _hev(p1, p0, q0, q1, thresh):
    return abs(p1 - p0) > thresh or abs(q1 - q0) > thresh


def _normal_edge(p, idx, elimit, ilimit, hev_t, mb_edge):
    """Filter one pixel position across an edge; ``idx(k)`` maps
    relative offset k (…-4..3…) to an index into flat array p."""
    P3, P2, P1, P0 = p[idx(-4)], p[idx(-3)], p[idx(-2)], p[idx(-1)]
    Q0, Q1, Q2, Q3 = p[idx(0)], p[idx(1)], p[idx(2)], p[idx(3)]
    if not _normal_mask(P1, P0, Q0, Q1, P3, P2, Q2, Q3, elimit, ilimit):
        return
    hev = _hev(P1, P0, Q0, Q1, hev_t)
    if not mb_edge:
        # subblock filter (§15.3)
        if hev:
            _filter_common(p, idx(-2), idx(-1), idx(0), idx(1), True)
        else:
            f1 = _filter_common(p, idx(-2), idx(-1), idx(0), idx(1), False)
            a = (f1 + 1) >> 1
            p[idx(1)] = _u8((p[idx(1)] - 128 - a) + 128)
            p[idx(-2)] = _u8((p[idx(-2)] - 128 + a) + 128)
    else:
        # MB edge filter (§15.3 filter_mb_edge)
        if hev:
            _filter_common(p, idx(-2), idx(-1), idx(0), idx(1), True)
        else:
            p1, p0, q0, q1 = P1 - 128, P0 - 128, Q0 - 128, Q1 - 128
            p2, q2 = P2 - 128, Q2 - 128
            w = _c128(_c128(p1 - q1) + 3 * (q0 - p0))
            a = _c128((27 * w + 63) >> 7)
            p[idx(0)] = _u8((q0 - a) + 128)
            p[idx(-1)] = _u8((p0 + a) + 128)
            a = _c128((18 * w + 63) >> 7)
            p[idx(1)] = _u8((q1 - a) + 128)
            p[idx(-2)] = _u8((p1 + a) + 128)
            a = _c128((9 * w + 63) >> 7)
            p[idx(2)] = _u8((q2 - a) + 128)
            p[idx(-3)] = _u8((p2 + a) + 128)


def _filter_levels(h: FrameHeader, segment: int, is_b_pred: bool) -> tuple[int, int, int]:
    """(edge filter level, interior limit, hev threshold) per §15.2."""
    level = h.filter_level
    if h.segmentation:
        level = h.seg_lf[segment] if h.seg_abs else level + h.seg_lf[segment]
    level = max(0, min(63, level))
    if h.lf_delta_enabled:
        level += h.ref_lf_deltas[0]  # intra frame
        if is_b_pred:
            level += h.mode_lf_deltas[0]
        level = max(0, min(63, level))
    il = level
    if h.sharpness:
        il >>= 2 if h.sharpness > 4 else 1
        if il > 9 - h.sharpness:
            il = 9 - h.sharpness
    if il < 1:
        il = 1
    hev = 0
    if level >= 40:
        hev = 2
    elif level >= 15:
        hev = 1
    return level, il, hev


def _loop_filter_normal_mb(plane, y0, x0, size, level, il, hev_t, mb_x, mb_y, inner):
    """Normal-profile loop filter for one MB's plane region (§15.1-15.4):
    left MB edge, interior vertical edges, top MB edge, interior
    horizontal edges — in that order."""
    mb_lim = ((level + 2) * 2) + il
    sub_lim = (level * 2) + il
    step = 4
    flat = plane.reshape(-1)
    stride = plane.shape[1]

    def v_edge(x, lim, mb_edge):
        for r in range(size):
            base = (y0 + r) * stride + x0 + x
            _normal_edge(flat, lambda k: base + k, lim, il, hev_t, mb_edge)

    def h_edge(y, lim, mb_edge):
        for c in range(size):
            base = (y0 + y) * stride + x0 + c
            _normal_edge(
                flat, lambda k: base + k * stride, lim, il, hev_t, mb_edge
            )

    if mb_x > 0:
        v_edge(0, mb_lim, True)
    if inner:
        for x in range(step, size, step):
            v_edge(x, sub_lim, False)
    if mb_y > 0:
        h_edge(0, mb_lim, True)
    if inner:
        for y in range(step, size, step):
            h_edge(y, sub_lim, False)


def _loop_filter_simple_mb(plane, y0, x0, level, il, mb_x, mb_y, inner):
    """Simple-profile filter: Y plane only, 2-tap common adjustment."""
    mb_lim = ((level + 2) * 2) + il
    sub_lim = (level * 2) + il
    flat = plane.reshape(-1)
    stride = plane.shape[1]

    def v_edge(x, lim):
        for r in range(16):
            base = (y0 + r) * stride + x0 + x
            _simple_segment(flat, base - 2, base - 1, base, base + 1, lim)

    def h_edge(y, lim):
        for c in range(16):
            base = (y0 + y) * stride + x0 + c
            _simple_segment(
                flat, base - 2 * stride, base - stride, base, base + stride, lim
            )

    if mb_x > 0:
        v_edge(0, mb_lim)
    if inner:
        for x in range(4, 16, 4):
            v_edge(x, sub_lim)
    if mb_y > 0:
        h_edge(0, mb_lim)
    if inner:
        for y in range(4, 16, 4):
            h_edge(y, sub_lim)


def decode_vp8_frame(data: bytes):
    """Decode one VP8 key frame; returns (width, height, Y, U, V) with
    numpy uint8 planes cropped to the frame size (4:2:0 subsampling)."""
    h = parse_frame_header(data)
    bd = h.bd
    mbw = (h.width + 15) // 16
    mbh = (h.height + 15) // 16

    # token partitions (§9.5): sizes trail partition 1
    part_base = 10 + h.part1_size
    n_parts = h.num_token_partitions
    sizes_len = 3 * (n_parts - 1)
    if part_base + sizes_len > len(data):
        raise EngineError("VP8 partition table overruns frame")
    offs = part_base + sizes_len
    parts = []
    for i in range(n_parts):
        if i < n_parts - 1:
            sz = (
                data[part_base + 3 * i]
                | (data[part_base + 3 * i + 1] << 8)
                | (data[part_base + 3 * i + 2] << 16)
            )
        else:
            sz = len(data) - offs
        if offs + sz > len(data) or sz < 0:
            raise EngineError("VP8 token partition overruns frame")
        parts.append(BoolDecoder(data[offs : offs + sz]))
        offs += sz

    # ---- per-MB mode records (partition 1, raster order)
    mbs = []
    above_bmodes = [[B_DC] * 4 for _ in range(mbw)]
    for mby in range(mbh):
        left_bmodes = [B_DC] * 4
        for mbx in range(mbw):
            segment = 0
            if h.segmentation and h.update_mb_seg_map:
                segment = bd.read_tree(MB_SEGMENT_TREE, h.seg_tree_probs)
            skip = bd.read_bool(h.prob_skip_false) if h.mb_no_skip else 0
            ymode = bd.read_tree(KF_YMODE_TREE, KF_YMODE_PROB)
            bmodes = [0] * 16
            if ymode == B_PRED:
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    above = (
                        bmodes[sb - 4] if r > 0 else above_bmodes[mbx][c]
                    )
                    left = bmodes[sb - 1] if c > 0 else left_bmodes[r]
                    probs = _KF_BMODE_PY[above][left]
                    bmodes[sb] = bd.read_tree(BMODE_TREE, probs)
            else:
                imp = IMPLIED_BMODE[ymode]
                bmodes = [imp] * 16
            above_bmodes[mbx] = bmodes[12:16]
            left_bmodes = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            uvmode = bd.read_tree(UV_MODE_TREE, KF_UV_MODE_PROB)
            mbs.append((segment, skip, ymode, bmodes, uvmode))

    # ---- planes with prediction borders: top row 127, left col 129,
    # corner 127 (the §12.2 off-frame conventions); extra right padding
    # for above-right reads
    W16, H16 = mbw * 16, mbh * 16
    y_plane = np.empty((H16 + 1, W16 + 1 + 4), dtype=np.int32)
    y_plane[0, :] = 127
    y_plane[:, 0] = 129
    y_plane[0, 0] = 127
    u_plane = np.empty((H16 // 2 + 1, W16 // 2 + 1), dtype=np.int32)
    v_plane = np.empty_like(u_plane)
    u_plane[0, :] = 127
    u_plane[:, 0] = 129
    u_plane[0, 0] = 127
    v_plane[0, :] = 127
    v_plane[:, 0] = 129
    v_plane[0, 0] = 127

    # dequant factors are a function of the (≤4) segment ids only —
    # hoisted out of the per-MB loop (r12 opt; identical values)
    dq_by_seg = [_dequant_factors(h, s) for s in range(4)]

    # nonzero-coefficient contexts
    above_y = [[0] * 4 for _ in range(mbw)]
    above_u = [[0] * 2 for _ in range(mbw)]
    above_v = [[0] * 2 for _ in range(mbw)]
    above_y2 = [0] * mbw
    mb_flags = []  # (has_coeffs,) for the loop filter

    for mby in range(mbh):
        tbd = parts[mby % n_parts]
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        left_y2 = 0
        for mbx in range(mbw):
            segment, skip, ymode, bmodes, uvmode = mbs[mby * mbw + mbx]
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = dq_by_seg[segment]
            has_y2 = ymode != B_PRED
            ycoeffs = [[0] * 16 for _ in range(16)]
            ucoeffs = [[0] * 16 for _ in range(4)]
            vcoeffs = [[0] * 16 for _ in range(4)]
            has_coeffs = False
            if not skip:
                probs = h.coeff_probs
                if has_y2:
                    ctx = above_y2[mbx] + left_y2
                    y2raw, nz = _decode_block(
                        tbd, probs[1], 0, y2dc, y2ac, ctx
                    )
                    above_y2[mbx] = left_y2 = nz
                    has_coeffs = has_coeffs or nz
                    dcs = iwht4x4(y2raw)
                else:
                    dcs = None
                ytype = 0 if has_y2 else 3
                first = 1 if has_y2 else 0
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    ctx = above_y[mbx][c] + left_y[r]
                    coeffs, nz = _decode_block(
                        tbd, probs[ytype], first, y1dc, y1ac, ctx
                    )
                    above_y[mbx][c] = left_y[r] = nz
                    has_coeffs = has_coeffs or nz
                    ycoeffs[sb] = coeffs
                for plane_i, (store, above_c, left_c) in enumerate(
                    ((ucoeffs, above_u, left_u), (vcoeffs, above_v, left_v))
                ):
                    for sb in range(4):
                        r, c = sb >> 1, sb & 1
                        ctx = above_c[mbx][c] + left_c[r]
                        coeffs, nz = _decode_block(
                            tbd, probs[2], 0, uvdc, uvac, ctx
                        )
                        above_c[mbx][c] = left_c[r] = nz
                        has_coeffs = has_coeffs or nz
                        store[sb] = coeffs
                if has_y2:
                    for sb in range(16):
                        ycoeffs[sb][0] = dcs[sb]
            else:
                # §13.1: a skipped MB zeroes its Y/U/V contexts; the Y2
                # context only when the MB actually has a Y2 block
                above_y[mbx] = [0] * 4
                left_y = [0] * 4
                above_u[mbx] = [0] * 2
                left_u = [0] * 2
                above_v[mbx] = [0] * 2
                left_v = [0] * 2
                if has_y2:
                    above_y2[mbx] = left_y2 = 0
            mb_flags.append(has_coeffs)

            # ---- reconstruction
            y0, x0 = mby * 16 + 1, mbx * 16 + 1
            if mby == 0:
                # the top border row extends right at 127 for
                # above/above-right reads; nothing to do (preset)
                pass
            if not skip:
                # residuals are independent of the (sequential)
                # prediction — all 24 idcts of the MB batched through
                # the bit-identical integer vector path (r12 opt);
                # r13: one call over Y+U+V (the ops are elementwise
                # per row, so stacking planes changes nothing)
                res = _idct4x4_batch(
                    np.array(ycoeffs + ucoeffs + vcoeffs, dtype=np.int64)
                ).astype(np.int32)
                yres = res[:16].reshape(16, 4, 4)
                ures = res[16:20].reshape(4, 4, 4)
                vres = res[20:24].reshape(4, 4, 4)
            if ymode != B_PRED:
                _pred_16_or_8(
                    y_plane, ymode, y0, x0, 16, mby > 0, mbx > 0
                )
                if not skip:
                    for sb in range(16):
                        if any(ycoeffs[sb]):
                            by, bx = (sb >> 2) * 4, (sb & 3) * 4
                            blk = y_plane[
                                y0 + by : y0 + by + 4, x0 + bx : x0 + bx + 4
                            ]
                            blk += yres[sb]
                            np.maximum(blk, 0, out=blk)
                            np.minimum(blk, 255, out=blk)
            else:
                # above-right snapshot for the right-column subblocks
                if mbx == mbw - 1:
                    if mby == 0:
                        ar_top = [127, 127, 127, 127]
                    else:
                        # off-frame right: replicate the top row's last
                        # real pixel (the libwebp/libvpx convention)
                        ar_top = [int(y_plane[y0 - 1, x0 + 15])] * 4
                else:
                    ar_top = [int(v) for v in y_plane[y0 - 1, x0 + 16 : x0 + 20]]
                for sb in range(16):
                    r, c = sb >> 2, sb & 3
                    sy, sx = y0 + r * 4, x0 + c * 4
                    if c == 3:
                        ar = ar_top
                    else:
                        ar = [int(v) for v in y_plane[sy - 1, sx + 4 : sx + 8]]
                    _pred_b(y_plane, bmodes[sb], sy, sx, ar)
                    if not skip and any(ycoeffs[sb]):
                        blk = y_plane[sy : sy + 4, sx : sx + 4]
                        blk += yres[sb]
                        np.maximum(blk, 0, out=blk)
                        np.minimum(blk, 255, out=blk)
            cy0, cx0 = mby * 8 + 1, mbx * 8 + 1
            for pi, (plane, coeffs) in enumerate(
                ((u_plane, ucoeffs), (v_plane, vcoeffs))
            ):
                _pred_16_or_8(plane, uvmode, cy0, cx0, 8, mby > 0, mbx > 0)
                if not skip:
                    cres = ures if pi == 0 else vres
                    for sb in range(4):
                        if any(coeffs[sb]):
                            by, bx = (sb >> 1) * 4, (sb & 1) * 4
                            blk = plane[
                                cy0 + by : cy0 + by + 4, cx0 + bx : cx0 + bx + 4
                            ]
                            blk += cres[sb]
                            np.maximum(blk, 0, out=blk)
                            np.minimum(blk, 255, out=blk)

    # ---- loop filter (§15)
    if h.filter_level > 0:
        for mby in range(mbh):
            for mbx in range(mbw):
                segment, skip, ymode, _, _ = mbs[mby * mbw + mbx]
                level, il, hev_t = _filter_levels(h, segment, ymode == B_PRED)
                if level == 0:
                    continue
                inner = mb_flags[mby * mbw + mbx] or ymode == B_PRED
                if h.filter_type == 1:  # simple: Y only
                    _loop_filter_simple_mb(
                        y_plane, mby * 16 + 1, mbx * 16 + 1, level, il,
                        mbx, mby, inner,
                    )
                else:
                    _loop_filter_normal_mb(
                        y_plane, mby * 16 + 1, mbx * 16 + 1, 16, level, il,
                        hev_t, mbx, mby, inner,
                    )
                    _loop_filter_normal_mb(
                        u_plane, mby * 8 + 1, mbx * 8 + 1, 8, level, il,
                        hev_t, mbx, mby, inner,
                    )
                    _loop_filter_normal_mb(
                        v_plane, mby * 8 + 1, mbx * 8 + 1, 8, level, il,
                        hev_t, mbx, mby, inner,
                    )

    cw, ch = (h.width + 1) // 2, (h.height + 1) // 2
    Y = y_plane[1 : 1 + h.height, 1 : 1 + h.width].astype(np.uint8)
    U = u_plane[1 : 1 + ch, 1 : 1 + cw].astype(np.uint8)
    V = v_plane[1 : 1 + ch, 1 : 1 + cw].astype(np.uint8)
    return h.width, h.height, Y, U, V


def yuv420_to_rgb(Y: np.ndarray, U: np.ndarray, V: np.ndarray) -> np.ndarray:
    """Integer BT.601 studio-range YUV -> RGB (the VP8 convention),
    nearest-neighbor chroma upsampling.  RFC 6386 does not define a
    colorspace conversion (VP8 outputs YUV); this is the documented
    conversion the engine's RGB surface uses."""
    h, w = Y.shape
    u = U.repeat(2, axis=0).repeat(2, axis=1)[:h, :w].astype(np.int32) - 128
    v = V.repeat(2, axis=0).repeat(2, axis=1)[:h, :w].astype(np.int32) - 128
    c = (Y.astype(np.int32) - 16) * 298
    r = (c + 409 * v + 128) >> 8
    g = (c - 100 * u - 208 * v + 128) >> 8
    b = (c + 516 * u + 128) >> 8
    out = np.stack(
        [np.clip(r, 0, 255), np.clip(g, 0, 255), np.clip(b, 0, 255)], axis=-1
    )
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (key-frame subset): 16x16 intra modes, one token partition,
# default probabilities, loop filter off.  Used for gate-lane fixtures
# and round-trips; its streams are also decoded by libwebp in tests.
# ---------------------------------------------------------------------------


def _linear_map(fn) -> np.ndarray:
    """Measure the 16x16 linear map of an integer transform by scaled
    impulses (the rounding term vanishes at scale 4096)."""
    M = np.zeros((16, 16))
    for k in range(16):
        e = [0] * 16
        e[k] = 4096
        M[:, k] = np.array(fn(e), dtype=np.float64) / 4096.0
    return M


_IDCT_M = _linear_map(idct4x4)
_IDCT_INV = np.linalg.inv(_IDCT_M)
_IWHT_M = _linear_map(iwht4x4)
_IWHT_INV = np.linalg.inv(_IWHT_M)


def _quantize_block(res_flat: np.ndarray, inv: np.ndarray, dq_dc: int, dq_ac: int):
    """Integer coefficient levels whose dequantized inverse transform
    approximates ``res_flat`` (the encoder's forward path)."""
    target = inv @ res_flat.astype(np.float64)
    # Vectorized, bit-identical to the old per-raster np.round loop:
    # np.rint and np.round(…, 0) are the same IEEE half-even rounding.
    q = np.full(16, dq_ac, np.float64)
    q[0] = dq_dc
    return (
        np.clip(np.rint(target / q), -2047, 2047).astype(np.int64).tolist()
    )


def _tree_steps(tree, start: int, leaf: int):
    """(prob_slot, bit) emission sequence write_tree produces for
    ``leaf`` from ``start`` — the tree walk, precomputed.  None when
    the leaf is unreachable from that start (EOB after a zero token,
    which the fused tokenizer in _write_block_tokens never emits)."""
    target = -leaf
    stack = [(start, [])]
    while stack:
        node, path = stack.pop()
        for bit in (0, 1):
            nxt = tree[node + bit]
            if nxt == target and target <= 0:
                steps = []
                i = start
                for b in path + [bit]:
                    steps.append((i >> 1, b))
                    i = tree[i + b]
                return tuple(steps)
            if nxt > 0:
                stack.append((nxt, path + [bit]))
    return None


_TOKEN_STEPS0 = tuple(_tree_steps(TOKEN_TREE, 0, t) for t in range(12))
_TOKEN_STEPS2 = tuple(_tree_steps(TOKEN_TREE, 2, t) for t in range(12))


def _write_block_tokens(
    be: BoolEncoder, levels_raster: list[int], probs_type, first: int,
    ctx: int,
) -> int:
    """Mirror of _decode_block's reads; returns the nz flag.  The
    whole token emission (precomputed tree-walk steps + category
    extras + sign) is inlined against local encoder state (r12 opt —
    the per-token write_tree/write_bool calls were the encoder's
    remaining hot path after the header-prefix memo).  Emission is
    bit-identical: same probabilities, same bit order.  r13: the
    tokenizer (the former _tokenize — zero runs between nonzeros, EOB
    after the last nonzero, never EOB after a zero) is fused into the
    emission loop, removing one tuple list per block."""
    scan = [levels_raster[ZIGZAG[k]] for k in range(16)]
    last = -1
    for k in range(first, 16):
        if scan[k]:
            last = k
    i = first
    start = 0
    nz = 0
    out = be.out
    rng = be.range_
    bottom = be.bottom
    bcnt = be.bit_count
    bands = COEFF_BANDS
    while True:
        # classify coefficient i (zero / small 1-4 / category 1-6),
        # or EOB once past the last nonzero
        kind = 2  # value
        cat = -1
        if i > last:
            if last == 15:
                break  # a full block carries no EOB
            tok = TOK_EOB
            kind = 0
        else:
            v = scan[i]
            if v == 0:
                tok = TOK_0
                kind = 1
            else:
                a = v if v > 0 else -v
                neg = v < 0
                if a <= 4:
                    tok = TOK_1 + (a - 1)
                    new_ctx = 1 if a == 1 else 2
                else:
                    cat = next(
                        c for c in range(5, -1, -1) if a >= CAT_BASE[c]
                    )
                    tok = TOK_CAT1 + cat
                    extra = a - CAT_BASE[cat]
                    new_ctx = 2
        p = probs_type[bands[i]][ctx]
        steps = (_TOKEN_STEPS2 if start else _TOKEN_STEPS0)[tok]
        if steps is None:
            # zero runs sit between nonzeros, so EOB never follows a
            # zero token (the tree from start=2 has no EOB leaf); fail
            # loudly if a future change breaks that invariant
            # (r12 ADVICE)
            raise EngineError(
                "internal: VP8 token unreachable from tree start "
                f"(token {tok}, start {start})"
            )
        for slot, bit in steps:
            prob = p[slot]
            split = 1 + (((rng - 1) * prob) >> 8)
            if bit:
                bottom += split
                rng -= split
            else:
                rng = split
            while rng < 128:
                rng <<= 1
                if bottom & 0x80000000:
                    j = len(out) - 1
                    while j >= 0 and out[j] == 0xFF:
                        out[j] = 0
                        j -= 1
                    if j >= 0:
                        out[j] += 1
                    else:
                        out.insert(0, 1)
                bottom = (bottom << 1) & 0xFFFFFFFF
                bcnt -= 1
                if bcnt == 0:
                    out.append((bottom >> 24) & 0xFF)
                    bottom &= 0xFFFFFF
                    bcnt = 8
        if kind == 0:  # eob
            break
        if kind == 1:  # zero
            ctx = 0
            start = 2
            i += 1
            continue
        ctx = new_ctx
        if cat >= 0:
            cps = CAT_PROBS[cat]
            nb = len(cps)
            for bi in range(nb):
                prob = cps[bi]
                bit = (extra >> (nb - 1 - bi)) & 1
                split = 1 + (((rng - 1) * prob) >> 8)
                if bit:
                    bottom += split
                    rng -= split
                else:
                    rng = split
                while rng < 128:
                    rng <<= 1
                    if bottom & 0x80000000:
                        j = len(out) - 1
                        while j >= 0 and out[j] == 0xFF:
                            out[j] = 0
                            j -= 1
                        if j >= 0:
                            out[j] += 1
                        else:
                            out.insert(0, 1)
                    bottom = (bottom << 1) & 0xFFFFFFFF
                    bcnt -= 1
                    if bcnt == 0:
                        out.append((bottom >> 24) & 0xFF)
                        bottom &= 0xFFFFFF
                        bcnt = 8
        # sign: write_bool(128, neg)
        split = 1 + ((rng - 1) >> 1)
        if neg:
            bottom += split
            rng -= split
        else:
            rng = split
        while rng < 128:
            rng <<= 1
            if bottom & 0x80000000:
                j = len(out) - 1
                while j >= 0 and out[j] == 0xFF:
                    out[j] = 0
                    j -= 1
                if j >= 0:
                    out[j] += 1
                else:
                    out.insert(0, 1)
            bottom = (bottom << 1) & 0xFFFFFFFF
            bcnt -= 1
            if bcnt == 0:
                out.append((bottom >> 24) & 0xFF)
                bottom &= 0xFFFFFF
                bcnt = 8
        nz = 1
        start = 0
        i += 1
    be.range_ = rng
    be.bottom = bottom
    be.bit_count = bcnt
    return nz


def rgb_to_yuv420(rgb: np.ndarray):
    """Integer BT.601 studio-range RGB -> YUV 4:2:0 (the inverse
    convention of yuv420_to_rgb; 2x2 chroma averaging)."""
    r = rgb[:, :, 0].astype(np.int32)
    g = rgb[:, :, 1].astype(np.int32)
    b = rgb[:, :, 2].astype(np.int32)
    y = ((66 * r + 129 * g + 25 * b + 128) >> 8) + 16
    u = ((-38 * r - 74 * g + 112 * b + 128) >> 8) + 128
    v = ((112 * r - 94 * g - 18 * b + 128) >> 8) + 128
    h, w = r.shape
    Y = np.clip(y, 0, 255).astype(np.uint8)

    def sub(p):
        # pad to even dims by edge replication before 2x2 averaging
        # (direct assignment; np.pad's generic machinery was ~7% of
        # encode at this image size — r12 opt, identical values)
        pe = np.empty((h + (h % 2), w + (w % 2)), dtype=np.int32)
        pe[:h, :w] = p
        if w % 2:
            pe[:h, w] = p[:, w - 1]
        if h % 2:
            pe[h, :] = pe[h - 1, :]
        return (
            (pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2] + pe[1::2, 1::2] + 2)
            >> 2
        )

    U = np.clip(sub(u), 0, 255).astype(np.uint8)
    V = np.clip(sub(v), 0, 255).astype(np.uint8)
    return Y, U, V


# The first-partition header this encoder emits (color space through
# mb_no_coeff_skip, including the 1056 fixed no-update coefficient
# probability bits) is a pure function of q_index — ~60% of every
# frame's write_bool calls re-encoded an identical prefix (r12 opt).
# The bool-encoder state after the prefix is snapshotted once per
# q_index and restored per frame; emitted bytes are identical because
# the state (out, range, bottom, bit_count) is the coder's ENTIRE
# state and later carries propagate into the restored copy exactly as
# they would into freshly-written bytes.
_MODE_PREFIX_CACHE: dict[int, tuple[bytes, int, int, int]] = {}


def _mode_header_prefix(q_index: int) -> BoolEncoder:
    snap = _MODE_PREFIX_CACHE.get(q_index)
    if snap is None:
        be = BoolEncoder()
        # header fields (mirrors parse_frame_header's reads)
        be.write_bool(128, 0)  # color_space
        be.write_bool(128, 0)  # clamping_type
        be.write_bool(128, 0)  # segmentation_enabled
        be.write_bool(128, 0)  # filter_type
        be.write_literal(6, 0)  # loop_filter_level = 0
        be.write_literal(3, 0)  # sharpness
        be.write_bool(128, 0)  # lf_delta_enabled
        be.write_literal(2, 0)  # log2 partitions = 0 -> 1 partition
        be.write_literal(7, q_index)
        for _ in range(5):
            be.write_bool(128, 0)  # no quant deltas
        be.write_bool(128, 1)  # refresh_entropy_probs
        upd = _COEFF_UPDATE_FLAT
        for idx in range(1056):  # no coefficient probability updates
            be.write_bool(upd[idx], 0)
        be.write_bool(128, 0)  # mb_no_coeff_skip = 0
        snap = (bytes(be.out), be.range_, be.bottom, be.bit_count)
        _MODE_PREFIX_CACHE[q_index] = snap
    be = BoolEncoder()
    be.out = bytearray(snap[0])
    be.range_ = snap[1]
    be.bottom = snap[2]
    be.bit_count = snap[3]
    return be


def encode_vp8_frame(
    Y: np.ndarray, U: np.ndarray, V: np.ndarray, width: int, height: int,
    q_index: int = 12,
) -> bytes:
    """A real RFC 6386 key frame: 16x16 intra modes (best of
    DC/V/H/TM by SAD against the reconstructed-neighbor prediction),
    Y2 always coded, one token partition, default probabilities,
    loop filter off."""
    if not 0 <= q_index <= 127:
        raise EngineError(f"invalid VP8 quantizer index {q_index}")
    mbw = (width + 15) // 16
    mbh = (height + 15) // 16
    W16, H16 = mbw * 16, mbh * 16

    # MB-padded source planes (edge replication; direct assignment —
    # np.pad's generic machinery was measurable at this image size)
    def pad(p, ph, pw):
        h0, w0 = p.shape
        out = np.empty((ph, pw), dtype=np.int32)
        out[:h0, :w0] = p
        if w0 < pw:
            out[:h0, w0:] = out[:h0, w0 - 1 : w0]
        if h0 < ph:
            out[h0:, :] = out[h0 - 1 : h0, :]
        return out

    src_y = pad(Y, H16, W16)
    src_u = pad(U, H16 // 2, W16 // 2)
    src_v = pad(V, H16 // 2, W16 // 2)

    # reconstruction planes with prediction borders (decoder mirror)
    rec_y = np.empty((H16 + 1, W16 + 1 + 4), dtype=np.int32)
    rec_y[0, :] = 127
    rec_y[:, 0] = 129
    rec_y[0, 0] = 127
    rec_u = np.empty((H16 // 2 + 1, W16 // 2 + 1), dtype=np.int32)
    rec_v = np.empty_like(rec_u)
    for p in (rec_u, rec_v):
        p[0, :] = 127
        p[:, 0] = 129
        p[0, 0] = 127

    h = FrameHeader()
    h.segmentation = 0
    h.seg_abs = 0
    h.seg_quant = [0] * 4
    h.seg_lf = [0] * 4
    h.y_ac_qi = q_index
    h.y_dc_delta = h.y2_dc_delta = h.y2_ac_delta = 0
    h.uv_dc_delta = h.uv_ac_delta = 0
    y1dc, y1ac, y2dc, y2ac, uvdc, uvac = _dequant_factors(h, 0)
    # per-frame quantizer vectors for the batched rint/clip paths
    # (identical values to the old per-block constructions)
    y2q = np.full(16, float(y2ac))
    y2q[0] = y2dc
    uvq = np.full(16, uvac, np.float64)
    uvq[0] = uvdc

    mode_be = _mode_header_prefix(q_index)

    tok_be = BoolEncoder()
    probs = _COEFF_PROBS_PY
    above_y = [[0] * 4 for _ in range(mbw)]
    above_u = [[0] * 2 for _ in range(mbw)]
    above_v = [[0] * 2 for _ in range(mbw)]
    above_y2 = [0] * mbw

    def best_mode(rec, src, y0, x0, size, have_up, have_left):
        cands = [DC_PRED, V_PRED, H_PRED, TM_PRED]
        best, best_sad, best_blk = DC_PRED, None, None
        tgt = src[y0 - 1 : y0 - 1 + size, x0 - 1 : x0 - 1 + size]
        for m in cands:
            if m == V_PRED and not have_up:
                continue
            if m == H_PRED and not have_left:
                continue
            if m == TM_PRED and not (have_up and have_left):
                continue
            save = rec[y0 : y0 + size, x0 : x0 + size].copy()
            _pred_16_or_8(rec, m, y0, x0, size, have_up, have_left)
            blk = rec[y0 : y0 + size, x0 : x0 + size].copy()
            rec[y0 : y0 + size, x0 : x0 + size] = save
            sad = int(np.abs(tgt - blk).sum())
            if best_sad is None or sad < best_sad:
                best, best_sad, best_blk = m, sad, blk
        return best, best_blk

    for mby in range(mbh):
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        left_y2 = 0
        for mbx in range(mbw):
            y0, x0 = mby * 16 + 1, mbx * 16 + 1
            ymode, pred_y = best_mode(
                rec_y, src_y, y0, x0, 16, mby > 0, mbx > 0
            )
            res = src_y[y0 - 1 : y0 + 15, x0 - 1 : x0 + 15] - pred_y
            # per-subblock quantized levels, all 16 subblocks through
            # ONE matmul (r12 opt; each column is exactly the old
            # per-block _IDCT_INV @ blk matvec); np.rint is the same
            # IEEE half-even rounding as the original per-raster
            # int(np.round(...)) loop and rint output is integral so
            # the int64 cast is exact.  DC rides in Y2, so col 0 -> 0.
            blks = (
                res.reshape(4, 4, 4, 4)
                .transpose(0, 2, 1, 3)
                .reshape(16, 16)
                .astype(np.float64)
            )
            # per-block matvec kept deliberately: one (16,16)@(16,16)
            # matmul is ~the same speed here but BLAS gemm sums in a
            # different order than gemv, flipping half-even rint at
            # ULP boundaries — measured: stream bytes change.  The
            # rint/clip/tolist tail IS batched (value-preserving).
            targets = np.empty((16, 16), np.float64)
            for sb in range(16):
                targets[sb] = _IDCT_INV @ blks[sb]
            dc_targets = targets[:, 0].copy()
            lv = np.rint(targets / y1ac)
            np.maximum(lv, -2047.0, out=lv)
            np.minimum(lv, 2047.0, out=lv)
            lvi = lv.astype(np.int64)
            lvi[:, 0] = 0
            y_levels = lvi.tolist()
            # Y2: forward WHT of the DC lane
            y2_target = _IWHT_INV @ dc_targets
            y2l = np.rint(y2_target / y2q)
            np.maximum(y2l, -2047.0, out=y2l)
            np.minimum(y2l, 2047.0, out=y2l)
            y2_levels = y2l.astype(np.int64).tolist()
            # chroma
            cy0, cx0 = mby * 8 + 1, mbx * 8 + 1
            uvmode, pred_u = best_mode(
                rec_u, src_u, cy0, cx0, 8, mby > 0, mbx > 0
            )
            _pred_16_or_8(rec_v, uvmode, cy0, cx0, 8, mby > 0, mbx > 0)
            pred_v = rec_v[cy0 : cy0 + 8, cx0 : cx0 + 8].copy()
            uv_levels = []
            uv_arrs = []
            for plane_src, predp in ((src_u, pred_u), (src_v, pred_v)):
                resc = (
                    plane_src[cy0 - 1 : cy0 + 7, cx0 - 1 : cx0 + 7] - predp
                )
                # all 4 subblocks through one matmul (same matvec per
                # column as the old per-block _quantize_block)
                cblks = (
                    resc.reshape(2, 4, 2, 4)
                    .transpose(0, 2, 1, 3)
                    .reshape(4, 16)
                    .astype(np.float64)
                )
                # per-block matvec for byte-stability (see Y above)
                ct = np.empty((4, 16), np.float64)
                for sb in range(4):
                    ct[sb] = _IDCT_INV @ cblks[sb]
                cl = np.rint(ct / uvq)
                np.maximum(cl, -2047.0, out=cl)
                np.minimum(cl, 2047.0, out=cl)
                cl_i = cl.astype(np.int64)
                uv_arrs.append(cl_i)
                uv_levels.extend(cl_i.tolist())

            # ---- mode bits (partition 1)
            mode_be.write_tree(KF_YMODE_TREE, KF_YMODE_PROB, ymode)
            mode_be.write_tree(UV_MODE_TREE, KF_UV_MODE_PROB, uvmode)

            # ---- token bits (partition 2), decoder read order
            ctx = above_y2[mbx] + left_y2
            nz = _write_block_tokens(tok_be, y2_levels, probs[1], 0, ctx)
            above_y2[mbx] = left_y2 = nz
            for sb in range(16):
                r, c = sb >> 2, sb & 3
                ctx = above_y[mbx][c] + left_y[r]
                nz = _write_block_tokens(
                    tok_be, y_levels[sb], probs[0], 1, ctx
                )
                above_y[mbx][c] = left_y[r] = nz
            for pi, (above_c, left_c) in enumerate(
                ((above_u, left_u), (above_v, left_v))
            ):
                for sb in range(4):
                    r, c = sb >> 1, sb & 1
                    ctx = above_c[mbx][c] + left_c[r]
                    nz = _write_block_tokens(
                        tok_be, uv_levels[pi * 4 + sb], probs[2], 0, ctx
                    )
                    above_c[mbx][c] = left_c[r] = nz

            # ---- reconstruction, exactly as the decoder will do it
            # (dequant + idct batched per MB via the bit-identical
            # integer vector path; levels[0] is overwritten by the
            # Y2-propagated DC exactly as the scalar loop did)
            dcs = iwht4x4([v * (y2dc if i == 0 else y2ac)
                           for i, v in enumerate(y2_levels)])
            rec_y[y0 : y0 + 16, x0 : x0 + 16] = pred_y
            deq_y = lvi * y1ac
            deq_y[:, 0] = dcs
            rec_u[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_u
            rec_v[cy0 : cy0 + 8, cx0 : cx0 + 8] = pred_v
            uv_lvi = np.concatenate(uv_arrs)
            deq_uv = uv_lvi * uvac
            deq_uv[:, 0] = uv_lvi[:, 0] * uvdc
            # r13: one idct call over Y+UV (elementwise per row —
            # stacking planes is bit-identical to separate calls)
            allout = _idct4x4_batch(
                np.concatenate((deq_y, deq_uv))
            ).astype(np.int32)
            yout = allout[:16].reshape(16, 4, 4)
            uvout = allout[16:24].reshape(8, 4, 4)
            for sb in range(16):
                if deq_y[sb].any():
                    r, c = (sb >> 2) * 4, (sb & 3) * 4
                    blk = rec_y[y0 + r : y0 + r + 4, x0 + c : x0 + c + 4]
                    blk += yout[sb]
                    np.maximum(blk, 0, out=blk)
                    np.minimum(blk, 255, out=blk)
            for pi, recp in ((0, rec_u), (1, rec_v)):
                for sb in range(4):
                    if deq_uv[pi * 4 + sb].any():
                        r, c = (sb >> 1) * 4, (sb & 1) * 4
                        blk = recp[
                            cy0 + r : cy0 + r + 4, cx0 + c : cx0 + c + 4
                        ]
                        blk += uvout[pi * 4 + sb]
                        np.maximum(blk, 0, out=blk)
                        np.minimum(blk, 255, out=blk)

    part1 = mode_be.finish()
    part2 = tok_be.finish()
    tag = (0) | (0 << 1) | (1 << 4) | (len(part1) << 5)
    header = bytes(
        [tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF]
    ) + b"\x9d\x01\x2a" + struct.pack("<HH", width, height)
    return header + part1 + part2


def encode_webp_lossy(
    rgb: bytes, width: int, height: int, q_index: int = 12
) -> bytes:
    """A lossy WebP container ("VP8 " chunk) from raw RGB bytes."""
    arr = np.frombuffer(rgb, dtype=np.uint8)
    if arr.size != width * height * 3:
        raise EngineError("RGB payload size mismatch")
    Y, U, V = rgb_to_yuv420(arr.reshape(height, width, 3))
    frame = encode_vp8_frame(Y, U, V, width, height, q_index)
    chunk = b"VP8 " + struct.pack("<I", len(frame)) + frame
    if len(frame) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
