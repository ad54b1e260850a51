"""Pure-python/numpy baseline JPEG codec (no PIL/libjpeg needed).

Un-stubs the JPEG decode slot (round-3 verdict item 5): the container
has no libjpeg, but baseline sequential JPEG is huffman coding + 8x8
IDCT + YCbCr->RGB, all expressible with numpy and the stdlib, the same
way ``functions/png.py`` un-stubbed PNG with zlib. Reference analog:
the preview sink writes JPEG via GDAL
(``/root/reference/export_formats/previews.py:24-39``); here the engine
owns the codec because a 100 TB pipeline decodes in executors where
native codecs may not be installable.

Supported (documented limits, like the PNG codec's):
- baseline sequential DCT (SOF0) AND progressive DCT (SOF2) with
  spectral selection + successive approximation, 8-bit samples
- 1 (grayscale) or 3 (YCbCr) components
- chroma subsampling: sampling factors 1 or 2 per axis via the general
  MCU-interleaved scan — 4:4:4, 4:2:0 (the overwhelmingly common crawl
  layout) and 4:2:2 all decode; subsampled chroma upsamples by sample
  replication (exact for block-constant payloads, so 4:2:0 streams
  stay end-to-end oracle-checkable)
- restart intervals (DRI + RSTn), baseline and progressive scans
- no arithmetic coding, no hierarchical (SOF5+) modes, no 12-bit

``decode_jpeg`` decodes one payload; ``decode_jpeg_batch`` returns the
same pixels for a batch: it parses each distinct DQT/DHT/SOF/SOS
segment once per batch, keeps each component's coefficients as one
flat int64 array (so a group's coefficients reach numpy without a
conversion per coefficient), and runs dequant + IDCT + color once per
group of same-geometry payloads. Entropy decoding stays per payload.

The encoder writes its huffman and quantization tables into DHT/DQT
markers, so any spec-conforming decoder reads its output; the decoder
builds tables from the file's own markers, so it reads any conforming
baseline stream with sampling factors <= 2, not just this encoder's.

Exactness contract used by the oracle-checked ``decode_jpeg`` query:
an 8x8 block that is CONSTANT in a channel has only a DC coefficient
(8*(v-128)); with a quant value dividing it (our tables use 8) the
round trip is bit-exact, and the YCbCr->RGB integer conversion below
(floor(x + 0.5), clip — identical text in the DuckDB oracle) is then
exactly reproducible by SQL arithmetic on the planted block formula.
"""

from __future__ import annotations

import array
import functools
import math
import struct

import numpy as np


# ---------------------------------------------------------------------------
# constant tables
# ---------------------------------------------------------------------------

def _zigzag_order() -> list[tuple[int, int]]:
    """(row, col) in JPEG zigzag scan order, generated (no typo risk)."""
    out = []
    for s in range(15):
        diag = [(r, s - r) for r in range(s + 1) if r < 8 and s - r < 8]
        if s % 2 == 0:
            diag = diag[::-1]
        out.extend(diag)
    return out


ZIGZAG = _zigzag_order()

# ITU T.81 Annex K.3 typical huffman tables (public spec). Used for all
# components; the encoder WRITES them into DHT, the decoder READS DHT,
# so round-trip correctness never depends on these being the exact
# Annex K values — only on being a valid prefix code covering every
# (run, size) symbol, which canonical construction guarantees.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA])

# flat quantization table: 8 everywhere. 8 divides the DC coefficient
# of any constant block (8*(v-128)), giving the bit-exact round trip
# the oracle relies on, while bounding AC error for general content.
QTABLE = np.full(64, 8, dtype=np.int32)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: spatial = C.T @ coef @ C."""
    c = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            c[u, x] = math.sqrt((1 if u == 0 else 2) / 8.0) \
                * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return c


_C = _dct_matrix()
_CT = np.ascontiguousarray(_C.T)
# zigzag scatter indices, built once (round 6: rebuilt per decode)
_ZZ_R = np.array([r for r, _ in ZIGZAG])
_ZZ_C = np.array([c for _, c in ZIGZAG])
# a run of zero coefficients to compare a block's band against
_ZEROS = array.array("q", bytes(8 * 64))

# YCbCr <-> RGB (JFIF full-range) constants; floor(x+0.5) rounding is
# the shared rounding rule with the SQL oracle
_CR_R, _CB_G, _CR_G, _CB_B = 1.402, 0.344136, 0.714136, 1.772


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray
                 ) -> np.ndarray:
    """Integer YCbCr samples -> (h, w, 3) uint8 RGB, floor(x+0.5)
    rounding + clip — EXACTLY the arithmetic the DuckDB oracle runs."""
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = np.floor(yf + _CR_R * crf + 0.5)
    g = np.floor(yf - _CB_G * cbf - _CR_G * crf + 0.5)
    b = np.floor(yf + _CB_B * cbf + 0.5)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def sql_ycbcr_to_rgb(y: str, cb: str, cr: str) -> tuple[str, str, str]:
    """The same conversion as dialect-neutral SQL text (Spark + DuckDB):
    the oracle's half of the exactness contract."""

    def clamp(e: str) -> str:
        return f"least(greatest(floor({e} + 0.5), 0), 255)"

    r = clamp(f"({y} + cast({_CR_R!r} as double) * ({cr} - 128))")
    g = clamp(f"({y} - cast({_CB_G!r} as double) * ({cb} - 128)"
              f" - cast({_CR_G!r} as double) * ({cr} - 128))")
    b = clamp(f"({y} + cast({_CB_B!r} as double) * ({cb} - 128))")
    return r, g, b


# ---------------------------------------------------------------------------
# huffman machinery (canonical codes from (bits, vals) — T.81 C.2)
# ---------------------------------------------------------------------------

def _encode_table(bits: list[int], vals: list[int]
                  ) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# 16-bit-peek huffman LUTs, memoized on the raw DHT table bytes (the 16
# code-length counts, then the symbols): every prefix of a code maps to
# (symbol, code length) so one table lookup replaces the per-bit tree
# walk (max baseline code length is 16).
# Memoization matters because tables arrive per image: a corpus decoded
# with shared tables (the T.81 K.3 typicals here) builds each LUT once.
# Each entry holds about 1 MB, and progressive or optimized-Huffman
# JPEGs carry per-image tables, so only the most recently used are kept
# (the benchmark's JPEGs need 10).
@functools.lru_cache(maxsize=32)
def _peek_lut(table: bytes) -> tuple[list[int], list[int]]:
    sym_l = np.full(1 << 16, -1, np.int16)
    len_l = np.zeros(1 << 16, np.uint8)
    for sym, (code, ln) in _encode_table(table[:16], table[16:]).items():
        lo = code << (16 - ln)
        sym_l[lo:lo + (1 << (16 - ln))] = sym
        len_l[lo:lo + (1 << (16 - ln))] = ln
    # plain lists: the decode loop indexes these once or twice per
    # huffman symbol, and list indexing returns ready Python ints
    # (numpy scalar indexing pays an allocation + int() per lookup)
    return sym_l.tolist(), len_l.tolist()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # marker stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec)
        return bytes(self.buf)

    def restart(self, n: int) -> None:
        """Byte-align (1-bit padding) and emit RSTn — written raw, a
        marker is never stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (n & 7)])


class _BitReader:
    """Reads the entropy-coded segment, un-stuffing FF00.

    Word-buffered: bytes accumulate into ``acc`` so a huffman symbol is
    ONE 16-bit peek + LUT lookup and magnitude bits are one shift, not
    per-bit loops. Hitting a non-stuffing marker sets ``ended`` —
    peeks then pad with zero bits (a valid stream never CONSUMES
    padding; consuming raises, preserving the truncated-stream error)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.ended = False

    def _fill(self) -> None:
        """Buffer bytes until >= 32 bits are available (or the entropy
        segment ends) — batched past the 16-bit peek window so several
        symbol/magnitude reads run off one refill (acc stays a machine
        word: <= 39 bits mid-append), and callers' refill loops run
        once per few symbols, not once per byte."""
        data, pos, n = self.data, self.pos, len(self.data)
        acc, nbits = self.acc, self.nbits
        while nbits < 32:
            if pos >= n:
                self.pos, self.acc, self.nbits = pos, acc, nbits
                raise ValueError("truncated entropy stream")
            b = data[pos]
            if b == 0xFF:
                if pos + 1 >= n:
                    self.pos, self.acc, self.nbits = pos, acc, nbits
                    raise ValueError("truncated entropy stream")
                if data[pos + 1] == 0x00:
                    pos += 2
                else:
                    # any real marker (RSTn included) ends the entropy
                    # segment; RSTn is consumed by restart(), others by
                    # the caller's marker loop
                    self.ended = True
                    break
            else:
                pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.pos, self.acc, self.nbits = pos, acc, nbits

    def restart(self, expect: int) -> None:
        """Consume the RSTn marker at a restart boundary: discard the
        current byte's padding bits and verify the modulo-8 counter."""
        self.acc = 0
        self.nbits = 0
        if (self.pos + 2 > len(self.data) or self.data[self.pos] != 0xFF
                or not 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("expected RST marker at restart boundary")
        if self.data[self.pos + 1] - 0xD0 != (expect & 7):
            raise ValueError("RST marker out of sequence")
        self.pos += 2
        self.ended = False

    def read_bits(self, n: int) -> int:
        # fast path: enough buffered bits (the common case — refinement
        # passes read ONE bit per nonzero coefficient, so this method's
        # constant factor is the progressive decoder's hot spot)
        nb = self.nbits
        if nb >= n:
            nb -= n
            v = (self.acc >> nb) & ((1 << n) - 1)
            # trim consumed bits so acc stays a machine-word int (an
            # unmasked acc grows by 8 bits per byte and every shift
            # then pays bigint cost proportional to the stream so far)
            self.acc &= (1 << nb) - 1
            self.nbits = nb
            return v
        while self.nbits < n and not self.ended:
            self._fill()
        if self.nbits < n:
            raise ValueError("hit marker inside entropy data")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_symbol(self, lut: tuple[list[int], list[int]]) -> int:
        nb = self.nbits
        if nb < 16 and not self.ended:
            self._fill()
            nb = self.nbits
        acc = self.acc
        if nb >= 16:
            peek = (acc >> (nb - 16)) & 0xFFFF
        else:
            peek = (acc << (16 - nb)) & 0xFFFF
        sym = lut[0][peek]
        ln = lut[1][peek]
        if sym < 0 or ln > nb:
            raise ValueError("invalid huffman code in entropy data")
        nb -= ln
        self.acc = acc & ((1 << nb) - 1)
        self.nbits = nb
        return sym


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v > 0 else v + (1 << t) - 1
    return t, bits


def _extend(bits: int, t: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if t == 0:
        return 0
    return bits if bits >= (1 << (t - 1)) else bits - (1 << t) + 1


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

SUBSAMPLE_FACTORS = {
    # per-component (h_i, v_i) sampling factors, luma first
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def encode_jpeg_planes(planes: list[np.ndarray],
                       subsample: str = "444",
                       restart_interval: int = 0) -> bytes:
    """Encode component planes (1 = grayscale, 3 = YCbCr — NO RGB
    conversion here, so callers planting exact payloads control the
    YCbCr samples bit-for-bit).

    ``subsample``: '444' (all planes (h, w)), '422' (chroma already
    (h, w/2)) or '420' (chroma already (h/2, w/2)) — the caller
    supplies chroma at its stored resolution, this function never
    resamples. Luma (h, w) must be a multiple of the MCU size
    (8 x factor per axis: 8 for 444, 16x8 for 422, 16x16 for 420).

    ``restart_interval`` > 0 writes a DRI marker and an RSTn every
    that many MCUs (byte-aligned, DC predictors reset) — the error-
    resilience layout real encoders emit for crawl-sized images."""
    if len(planes) not in (1, 3):
        raise ValueError("1 or 3 component planes")
    nc = len(planes)
    if subsample not in SUBSAMPLE_FACTORS:
        raise ValueError(f"subsample must be one of "
                         f"{sorted(SUBSAMPLE_FACTORS)}")
    factors = [(1, 1)] if nc == 1 else list(SUBSAMPLE_FACTORS[subsample])
    factors = factors[:nc]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    h, w = planes[0].shape
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError(
            f"luma dimensions must be multiples of {8 * hmax}x{8 * vmax}"
            f" for {subsample}")
    for p, (hi, vi) in zip(planes, factors):
        want = (h * vi // vmax, w * hi // hmax)
        if p.shape != want or p.dtype != np.uint8:
            raise ValueError(
                f"plane must be uint8 of shape {want} for {subsample}")

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT: one table, id 0, 8-bit precision, zigzag order
    zz = bytes(int(QTABLE[k]) for k in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz
    # SOF0
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid in range(1, nc + 1):
        hi, vi = factors[cid - 1]
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)  # qtable 0
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0 and AC table 0
    for cls, bits, vals in ((0, DC_BITS, DC_VALS), (1, AC_BITS, AC_VALS)):
        body = bytes([cls << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # DRI (only when restarts requested)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([nc])
    for cid in range(1, nc + 1):
        sos += bytes([cid, 0x00])  # DC table 0, AC table 0
    sos += b"\x00\x3f\x00"  # spectral selection 0..63, approx 0
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    dc_enc = _encode_table(DC_BITS, DC_VALS)
    ac_enc = _encode_table(AC_BITS, AC_VALS)
    q = QTABLE.astype(np.float64)
    writer = _BitWriter()
    pred = [0] * nc
    # MCU-interleaved scan (T.81 A.2.3): per MCU, component ci
    # contributes v_i x h_i blocks in raster order
    mcuy, mcux = h // (8 * vmax), w // (8 * hmax)
    mcu_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (restart_interval and mcu_i
                    and mcu_i % restart_interval == 0):
                writer.restart(rst)
                rst += 1
                pred = [0] * nc
            mcu_i += 1
            for ci in range(nc):
                hi, vi = factors[ci]
                for byi in range(vi):
                    for bxi in range(hi):
                        by, bx = my * vi + byi, mx * hi + bxi
                        _encode_block(planes[ci], by, bx, ci, pred, q,
                                      dc_enc, ac_enc, writer)
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_block(plane: np.ndarray, by: int, bx: int, ci: int,
                  pred: list[int], q: np.ndarray, dc_enc, ac_enc,
                  writer: "_BitWriter") -> None:
    block = plane[by * 8:by * 8 + 8,
                  bx * 8:bx * 8 + 8].astype(np.float64)
    coef = _C @ (block - 128.0) @ _C.T
    zzc = np.array([coef[r, c] for r, c in ZIGZAG])
    qc = np.floor(zzc / q + 0.5).astype(np.int64)
    # DC
    diff = int(qc[0]) - pred[ci]
    pred[ci] = int(qc[0])
    t, bits_v = _magnitude(diff)
    code, ln = dc_enc[t]
    writer.write(code, ln)
    if t:
        writer.write(bits_v, t)
    # AC with run-lengths
    run = 0
    for k in range(1, 64):
        v = int(qc[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        t, bits_v = _magnitude(v)
        code, ln = ac_enc[(run << 4) | t]
        writer.write(code, ln)
        writer.write(bits_v, t)
        run = 0
    if run:
        code, ln = ac_enc[0x00]  # EOB
        writer.write(code, ln)


# ---------------------------------------------------------------------------
# progressive encoder (SOF2): spectral selection + successive
# approximation, the multi-scan layout most web JPEGs above thumbnail
# size actually use. Scans are encoded twice — a counting pass picks
# the symbol alphabet, a per-scan DHT carries a flat canonical code
# for exactly that alphabet, then the real pass emits. Coefficients
# come from the same DCT/quantization as the baseline encoder, so a
# progressive and a baseline stream of the same planes decode to
# IDENTICAL pixels (the cross-check the tests pin).
# ---------------------------------------------------------------------------

def _plane_coefs(plane: np.ndarray) -> np.ndarray:
    """(H, W) uint8 -> (gh*gw, 64) int64 quantized zigzag coefficients
    in block raster order — the EXACT per-block arithmetic of
    ``_encode_block`` (same matmul shape and summation order), so a
    progressive and a baseline stream of the same planes carry
    bit-identical coefficients even at floor(x + 0.5) ties."""
    gh, gw = plane.shape[0] // 8, plane.shape[1] // 8
    q = QTABLE.astype(np.float64)
    out = np.zeros((gh * gw, 64), np.int64)
    for by in range(gh):
        for bx in range(gw):
            block = plane[by * 8:by * 8 + 8,
                          bx * 8:bx * 8 + 8].astype(np.float64)
            coef = _C @ (block - 128.0) @ _C.T
            zzc = np.array([coef[r, c] for r, c in ZIGZAG])
            out[by * gw + bx] = np.floor(zzc / q + 0.5).astype(np.int64)
    return out


def _flat_table(symbols) -> tuple[list[int], list[int]]:
    """(bits, vals) giving every symbol the same code length L with
    count < 2^L — a valid canonical prefix code that never assigns the
    all-ones code."""
    syms = sorted(int(s) for s in symbols) or [0]
    length = 1
    while (1 << length) <= len(syms):
        length += 1
    bits = [0] * 16
    bits[length - 1] = len(syms)
    return bits, syms


class _SymCounter:
    """Counting sink for the first encoding pass."""

    def __init__(self) -> None:
        self.syms: set[int] = set()

    def sym(self, s: int) -> None:
        self.syms.add(int(s))

    def bits(self, v: int, n: int) -> None:
        pass

    def restart(self, n: int) -> None:
        pass


class _HuffSink:
    """Real sink: symbols via a huffman table, raw bits direct."""

    def __init__(self, writer: "_BitWriter",
                 table: dict[int, tuple[int, int]]) -> None:
        self.writer = writer
        self.table = table

    def sym(self, s: int) -> None:
        code, ln = self.table[int(s)]
        self.writer.write(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.writer.write(int(v), n)

    def restart(self, n: int) -> None:
        self.writer.restart(n)


def _trunc_shift(v: int, al: int) -> int:
    """Divide by 2^Al truncating toward zero (T.81 G.1.2.2 point
    transform for AC; DC uses the arithmetic shift instead)."""
    return -((-v) >> al) if v < 0 else v >> al


def _emit_dc_first(sink, coefs, order, al, mcu_sizes=None,
                   restart_interval=0) -> None:
    """``order`` is the interleaved (ci, b) sequence; ``mcu_sizes`` is
    blocks-per-MCU (restart boundaries count MCUs, not blocks)."""
    pred: dict[int, int] = {}
    per_mcu = mcu_sizes or 1
    rst = 0
    for i, (ci, b) in enumerate(order):
        if (restart_interval and i
                and i % (restart_interval * per_mcu) == 0):
            sink.restart(rst)
            rst += 1
            pred = {}
        v = int(coefs[ci][b, 0]) >> al  # arithmetic shift (G.1.2.1)
        diff = v - pred.get(ci, 0)
        pred[ci] = v
        t, bits_v = _magnitude(diff)
        sink.sym(t)
        sink.bits(bits_v, t)


def _emit_ac_first(sink, coefs_ci, ss, se, al,
                   restart_interval=0) -> None:
    eobrun = 0
    rst = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            sink.sym(nb << 4)
            sink.bits(eobrun - (1 << nb), nb)
            eobrun = 0

    for bi, row in enumerate(coefs_ci):
        if restart_interval and bi and bi % restart_interval == 0:
            flush_eob()
            sink.restart(rst)
            rst += 1
        vals = [_trunc_shift(int(row[k]), al) for k in range(ss, se + 1)]
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        r = 0
        for v in vals:
            if v == 0:
                r += 1
                continue
            while r > 15:
                sink.sym(0xF0)
                r -= 16
            t, bits_v = _magnitude(v)
            sink.sym((r << 4) | t)
            sink.bits(bits_v, t)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(sink, coefs_ci, ss, se, al,
                    restart_interval=0) -> None:
    """The libjpeg encode_mcu_AC_refine control flow: newly-nonzero
    coefficients as (run, 1) symbols with a sign bit; correction bits
    for already-nonzero coefficients buffered and emitted after the
    next symbol (or with the pending EOB run)."""
    eobrun = 0
    rst = 0
    be_bits: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, be_bits
        if eobrun:
            nb = eobrun.bit_length() - 1
            sink.sym(nb << 4)
            sink.bits(eobrun - (1 << nb), nb)
            for bit in be_bits:
                sink.bits(bit, 1)
            eobrun = 0
            be_bits = []

    for bi, row in enumerate(coefs_ci):
        if restart_interval and bi and bi % restart_interval == 0:
            flush_eob()
            sink.restart(rst)
            rst += 1
        absv = [(-int(row[k]) if row[k] < 0 else int(row[k])) >> al
                for k in range(ss, se + 1)]
        eobpos = -1
        for j, t in enumerate(absv):
            if t == 1:
                eobpos = j
        r = 0
        br: list[int] = []
        for j, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            while r > 15 and j <= eobpos:
                flush_eob()
                sink.sym(0xF0)
                r -= 16
                for bit in br:
                    sink.bits(bit, 1)
                br = []
            if t > 1:  # already nonzero at this precision
                br.append(t & 1)
                continue
            flush_eob()
            sink.sym((r << 4) | 1)
            sink.bits(1 if row[ss + j] >= 0 else 0, 1)
            for bit in br:
                sink.bits(bit, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(planes: list[np.ndarray],
                            subsample: str = "444",
                            restart_interval: int = 0) -> bytes:
    """Encode component planes as a progressive (SOF2) JPEG using the
    standard successive-approximation script (an interleaved DC-first
    scan at Al=1, per-component AC bands 1-5/6-63 at Al=2, then the
    refinement chain down to full precision) — the layout libjpeg's
    default progressive script produces. Plane shape/subsampling
    contract is identical to ``encode_jpeg_planes``."""
    if len(planes) not in (1, 3):
        raise ValueError("1 or 3 component planes")
    nc = len(planes)
    if subsample not in SUBSAMPLE_FACTORS:
        raise ValueError(f"subsample must be one of "
                         f"{sorted(SUBSAMPLE_FACTORS)}")
    factors = [(1, 1)] if nc == 1 else list(SUBSAMPLE_FACTORS[subsample])
    factors = factors[:nc]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    h, w = planes[0].shape
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError(
            f"luma dimensions must be multiples of {8 * hmax}x{8 * vmax}"
            f" for {subsample}")
    for p, (hi, vi) in zip(planes, factors):
        want = (h * vi // vmax, w * hi // hmax)
        if p.shape != want or p.dtype != np.uint8:
            raise ValueError(
                f"plane must be uint8 of shape {want} for {subsample}")

    coefs = [_plane_coefs(p) for p in planes]
    mcuy, mcux = h // (8 * vmax), w // (8 * hmax)
    # interleaved MCU order of (component, block) pairs for DC scans
    dc_order = []
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(nc):
                hi, vi = factors[ci]
                gw = mcux * hi
                for byi in range(vi):
                    for bxi in range(hi):
                        dc_order.append(
                            (ci, (my * vi + byi) * gw + (mx * hi + bxi)))

    out = bytearray(b"\xff\xd8")
    zzq = bytes(int(QTABLE[k]) for k in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid in range(1, nc + 1):
        hi, vi = factors[cid - 1]
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # restart boundaries count MCUs in interleaved (DC) scans and
    # blocks in single-component (AC / non-interleaved) scans
    blocks_per_mcu = sum(hi * vi for hi, vi in factors)

    # the standard script (libjpeg jcparam.c std_huff progression)
    scans: list[tuple[str, list[int], int, int, int, int]] = []
    allc = list(range(nc))
    scans.append(("dc_first", allc, 0, 0, 0, 1))
    for ci in allc:
        scans.append(("ac_first", [ci], 1, 5, 0, 2))
    for ci in allc:
        scans.append(("ac_first", [ci], 6, 63, 0, 2))
    for ci in allc:
        scans.append(("ac_refine", [ci], 1, 63, 2, 1))
    scans.append(("dc_refine", allc, 0, 0, 1, 0))
    for ci in allc:
        scans.append(("ac_refine", [ci], 1, 63, 1, 0))

    for kind, cis, ss, se, ah, al in scans:
        needs_table = kind != "dc_refine"
        if needs_table:
            counter = _SymCounter()
            _run_prog_scan(kind, counter, coefs, cis, dc_order, ss, se,
                           al, blocks_per_mcu, restart_interval)
            bits, vals = _flat_table(counter.syms)
            cls = 0 if kind == "dc_first" else 1
            body = bytes([cls << 4]) + bytes(bits) + bytes(vals)
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
            table = _encode_table(bits, vals)
        else:
            table = {}
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([ci + 1, 0x00])  # DC/AC table id 0
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        writer = _BitWriter()
        sink = _HuffSink(writer, table)
        _run_prog_scan(kind, sink, coefs, cis, dc_order, ss, se, al,
                       blocks_per_mcu, restart_interval)
        out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _run_prog_scan(kind, sink, coefs, cis, dc_order, ss, se, al,
                   blocks_per_mcu, restart_interval) -> None:
    if kind == "dc_first":
        _emit_dc_first(sink, coefs, dc_order, al, blocks_per_mcu,
                       restart_interval)
    elif kind == "dc_refine":
        # raw bits, no huffman table (decoder reads one bit per block)
        rst = 0
        for i, (ci, b) in enumerate(dc_order):
            if (restart_interval and i
                    and i % (restart_interval * blocks_per_mcu) == 0):
                sink.restart(rst)
                rst += 1
            sink.bits((int(coefs[ci][b, 0]) >> al) & 1, 1)
    elif kind == "ac_first":
        _emit_ac_first(sink, coefs[cis[0]], ss, se, al,
                       restart_interval)
    else:
        _emit_ac_refine(sink, coefs[cis[0]], ss, se, al,
                        restart_interval)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

def _baseline_scan(reader: "_BitReader", store, grids, samps, scan_map,
                   htables, mcuy, mcux, restart_interval) -> None:
    """Sequential full-band scan (T.81 F.2): DC diff + AC run-lengths,
    MCU-interleaved, restart-aware."""
    nc = len(samps)
    tabs = [(htables[(0, dct)], htables[(1, act)])
            for dct, act in scan_map]
    pred = [0] * nc
    mcu_i = 0
    rst = 0
    # The baseline scan decodes a few huffman symbols + magnitude-bit
    # reads PER COEFFICIENT — at that call density Python method
    # dispatch on _BitReader dominates, so the reader's word-buffer
    # state (pos/acc/nbits/ended) lives in locals here and is synced
    # back to the reader object only at restart boundaries and on
    # return (the caller's marker loop resumes from reader.pos). The
    # refill/peek/consume blocks below are the same operations as
    # _BitReader._fill/read_symbol/read_bits, inlined; error messages
    # are kept identical. Progressive scans keep the method-call form —
    # they decode far fewer symbols per scan.
    data = reader.data
    n = len(data)
    pos, acc, nbits, ended = reader.pos, reader.acc, reader.nbits, \
        reader.ended
    for my in range(mcuy):
        for mx in range(mcux):
            if (restart_interval and mcu_i
                    and mcu_i % restart_interval == 0):
                reader.pos, reader.acc, reader.nbits, reader.ended = \
                    pos, acc, nbits, ended
                reader.restart(rst)
                pos, acc, nbits, ended = reader.pos, reader.acc, \
                    reader.nbits, reader.ended
                rst += 1
                pred = [0] * nc
            mcu_i += 1
            for ci in range(nc):
                hi, vi = samps[ci]
                dc_sym, dc_len = tabs[ci][0]
                ac_sym, ac_len = tabs[ci][1]
                gw = grids[ci][1]
                flat = store[ci]
                for byi in range(vi):
                    for bxi in range(hi):
                        b64 = ((my * vi + byi) * gw + (mx * hi + bxi)) * 64
                        # DC symbol (magnitude category t)
                        while nbits < 16 and not ended:
                            if pos >= n:
                                raise ValueError(
                                    "truncated entropy stream")
                            byte = data[pos]
                            if byte == 0xFF:
                                if pos + 1 >= n:
                                    raise ValueError(
                                        "truncated entropy stream")
                                if data[pos + 1] == 0x00:
                                    pos += 2
                                else:
                                    ended = True
                                    continue
                            else:
                                pos += 1
                            acc = (acc << 8) | byte
                            nbits += 8
                        if nbits >= 16:
                            peek = (acc >> (nbits - 16)) & 0xFFFF
                        else:
                            peek = (acc << (16 - nbits)) & 0xFFFF
                        t = dc_sym[peek]
                        ln = dc_len[peek]
                        if t < 0 or ln > nbits:
                            raise ValueError(
                                "invalid huffman code in entropy data")
                        nbits -= ln
                        acc &= (1 << nbits) - 1
                        # DC magnitude bits -> EXTEND -> DPCM
                        if t:
                            while nbits < t and not ended:
                                if pos >= n:
                                    raise ValueError(
                                        "truncated entropy stream")
                                byte = data[pos]
                                if byte == 0xFF:
                                    if pos + 1 >= n:
                                        raise ValueError(
                                            "truncated entropy stream")
                                    if data[pos + 1] == 0x00:
                                        pos += 2
                                    else:
                                        ended = True
                                        continue
                                else:
                                    pos += 1
                                acc = (acc << 8) | byte
                                nbits += 8
                            if nbits < t:
                                raise ValueError(
                                    "hit marker inside entropy data")
                            nbits -= t
                            bits = (acc >> nbits) & ((1 << t) - 1)
                            acc &= (1 << nbits) - 1
                            pred[ci] += (bits if bits >= (1 << (t - 1))
                                         else bits - (1 << t) + 1)
                        flat[b64] = pred[ci]
                        k = 1
                        while k < 64:
                            # AC symbol (run << 4 | size)
                            while nbits < 16 and not ended:
                                if pos >= n:
                                    raise ValueError(
                                        "truncated entropy stream")
                                byte = data[pos]
                                if byte == 0xFF:
                                    if pos + 1 >= n:
                                        raise ValueError(
                                            "truncated entropy stream")
                                    if data[pos + 1] == 0x00:
                                        pos += 2
                                    else:
                                        ended = True
                                        continue
                                else:
                                    pos += 1
                                acc = (acc << 8) | byte
                                nbits += 8
                            if nbits >= 16:
                                peek = (acc >> (nbits - 16)) & 0xFFFF
                            else:
                                peek = (acc << (16 - nbits)) & 0xFFFF
                            rs = ac_sym[peek]
                            ln = ac_len[peek]
                            if rs < 0 or ln > nbits:
                                raise ValueError(
                                    "invalid huffman code in entropy"
                                    " data")
                            nbits -= ln
                            acc &= (1 << nbits) - 1
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            s = rs & 0xF
                            if k > 63:
                                raise ValueError("AC index overflow")
                            # AC magnitude bits -> EXTEND
                            if s:
                                while nbits < s and not ended:
                                    if pos >= n:
                                        raise ValueError(
                                            "truncated entropy stream")
                                    byte = data[pos]
                                    if byte == 0xFF:
                                        if pos + 1 >= n:
                                            raise ValueError(
                                                "truncated entropy"
                                                " stream")
                                        if data[pos + 1] == 0x00:
                                            pos += 2
                                        else:
                                            ended = True
                                            continue
                                    else:
                                        pos += 1
                                    acc = (acc << 8) | byte
                                    nbits += 8
                                if nbits < s:
                                    raise ValueError(
                                        "hit marker inside entropy"
                                        " data")
                                nbits -= s
                                bits = (acc >> nbits) & ((1 << s) - 1)
                                acc &= (1 << nbits) - 1
                                flat[b64 + k] = (
                                    bits if bits >= (1 << (s - 1))
                                    else bits - (1 << s) + 1)
                            k += 1
    reader.pos, reader.acc, reader.nbits, reader.ended = \
        pos, acc, nbits, ended


def _prog_dc_scan(reader: "_BitReader", scan_cis, scan_tids, htables,
                  ah, al, store, grids, samps, mcuy, mcux,
                  restart_interval) -> None:
    """Progressive DC scan (T.81 G.2): first pass (Ah=0) codes the
    DPCM of coefficients >> Al; refinement (Ah>0) is one raw bit per
    block ORed in at bit Al."""
    read_bits, read_symbol = reader.read_bits, reader.read_symbol
    tabs = None
    if ah == 0:
        tabs = {ci: htables[(0, dc_tid)]
                for ci, (dc_tid, _ac_tid) in zip(scan_cis, scan_tids)}
    if len(scan_cis) == 1:
        # non-interleaved scan: the component's own block raster, one
        # block per restart unit (T.81 A.2.2)
        gh, gw = grids[scan_cis[0]]
        units = [((scan_cis[0], b * 64),) for b in range(gh * gw)]
    else:
        units = _mcu_blocks(tuple(grids), tuple(samps), tuple(scan_cis),
                            mcuy, mcux)
    pred = [0] * len(store)
    rst = 0
    for u, blocks in enumerate(units):
        if restart_interval and u and u % restart_interval == 0:
            reader.restart(rst)
            rst += 1
            pred = [0] * len(store)
        for ci, b64 in blocks:
            if ah == 0:
                t = read_symbol(tabs[ci])
                pred[ci] += _extend(read_bits(t), t)
                store[ci][b64] = pred[ci] << al
            elif read_bits(1):
                store[ci][b64] |= 1 << al


@functools.lru_cache(maxsize=64)
def _mcu_blocks(grids: tuple, samps: tuple, cis: tuple, mcuy: int,
                mcux: int) -> tuple[tuple[tuple[int, int], ...], ...]:
    """Per MCU of an interleaved scan, its blocks in scan order as
    (component, index of the block's first coefficient)."""
    mcus = []
    for my in range(mcuy):
        for mx in range(mcux):
            blocks = []
            for ci in cis:
                hi, vi = samps[ci]
                gw = grids[ci][1]
                for byi in range(vi):
                    for bxi in range(hi):
                        blocks.append(
                            (ci, ((my * vi + byi) * gw + mx * hi + bxi) * 64))
            mcus.append(tuple(blocks))
    return tuple(mcus)


def _prog_ac_scan(reader: "_BitReader", ac_tab, flat, ss, se, ah, al,
                  restart_interval) -> None:
    """Progressive AC scan over ONE component's block raster
    (T.81 G.2.2): spectral band [Ss, Se], first pass or successive-
    approximation refinement, EOB-run and restart aware."""
    eobrun = 0
    rst = 0
    zeros = _ZEROS[:se + 1 - ss]
    for b in range(len(flat) // 64):
        if restart_interval and b and b % restart_interval == 0:
            reader.restart(rst)
            rst += 1
            eobrun = 0
        # inside an EOB run a block reads no bits unless it is a
        # refinement with nonzero coefficients in the band
        if eobrun and (ah == 0 or flat[b * 64 + ss:b * 64 + se + 1]
                       == zeros):
            eobrun -= 1
            continue
        if ah == 0:
            eobrun = _ac_first_block(reader, ac_tab, flat, b * 64, ss, se,
                                     al, eobrun)
        else:
            eobrun = _ac_refine_block(reader, ac_tab, flat, b * 64, ss, se,
                                      al, eobrun)


def _ac_first_block(reader, ac_tab, flat, base, ss, se, al,
                    eobrun) -> int:
    """First AC pass for one block; returns the remaining EOB run.

    Hot path: the reader's word-buffer state lives in locals; only a
    buffer underrun syncs back and delegates to the (tested) reader
    methods for the refill — see _ac_refine_block for the pattern's
    rationale."""
    if eobrun:
        return eobrun - 1
    sym_l, len_l = ac_tab
    pos, acc, nbits = reader.pos, reader.acc, reader.nbits
    k = ss
    out = 0
    while k <= se:
        if nbits >= 16:
            peek = (acc >> (nbits - 16)) & 0xFFFF
            rs = sym_l[peek]
            ln = len_l[peek]
            if rs < 0:
                reader.pos, reader.acc, reader.nbits = pos, acc, nbits
                raise ValueError("invalid huffman code in entropy data")
            nbits -= ln
            acc &= (1 << nbits) - 1
        else:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            rs = reader.read_symbol(ac_tab)
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            # EOBn: run of (1 << r) + bits blocks ending at this one
            if r:
                if nbits >= r:
                    nbits -= r
                    bits = (acc >> nbits) & ((1 << r) - 1)
                    acc &= (1 << nbits) - 1
                else:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    bits = reader.read_bits(r)
                    pos, acc, nbits = reader.pos, reader.acc, \
                        reader.nbits
            else:
                bits = 0
            out = (1 << r) + bits - 1
            break
        k += r
        if k > se:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            raise ValueError("AC index overflow")
        if nbits >= s:
            nbits -= s
            bits = (acc >> nbits) & ((1 << s) - 1)
            acc &= (1 << nbits) - 1
        else:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            bits = reader.read_bits(s)
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits
        flat[base + k] = (bits if bits >= (1 << (s - 1))
                  else bits - (1 << s) + 1) << al
        k += 1
    reader.pos, reader.acc, reader.nbits = pos, acc, nbits
    return out


def _ac_refine_block(reader, ac_tab, flat, base, ss, se, al,
                     eobrun) -> int:
    """Successive-approximation AC refinement for one block
    (T.81 G.2.2 / the libjpeg decode_mcu_AC_refine control flow):
    newly-nonzero coefficients arrive as +-1<<Al; every already-nonzero
    coefficient crossed consumes a correction bit. Returns the
    remaining EOB run."""
    # Same locals-inlined bit reading as _ac_first_block: refinement
    # consumes ONE bit per nonzero coefficient crossed, so Python call
    # + attribute overhead per bit is this scan's dominant cost. The
    # fast paths below require buffered bits and fall back to the
    # reader methods (syncing state both ways) only on underrun —
    # at most once per 16 bits, and all marker/truncation handling
    # stays in the one tested implementation.
    sym_l, len_l = ac_tab
    pos, acc, nbits = reader.pos, reader.acc, reader.nbits
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            if nbits >= 16:
                peek = (acc >> (nbits - 16)) & 0xFFFF
                rs = sym_l[peek]
                ln = len_l[peek]
                if rs < 0:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    raise ValueError(
                        "invalid huffman code in entropy data")
                nbits -= ln
                acc &= (1 << nbits) - 1
            else:
                reader.pos, reader.acc, reader.nbits = pos, acc, nbits
                rs = reader.read_symbol(ac_tab)
                pos, acc, nbits = reader.pos, reader.acc, reader.nbits
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    if r:
                        if nbits >= r:
                            nbits -= r
                            bits = (acc >> nbits) & ((1 << r) - 1)
                            acc &= (1 << nbits) - 1
                        else:
                            reader.pos, reader.acc, reader.nbits = \
                                pos, acc, nbits
                            bits = reader.read_bits(r)
                            pos, acc, nbits = reader.pos, reader.acc, \
                                reader.nbits
                    else:
                        bits = 0
                    eobrun = (1 << r) + bits
                    break  # remainder handled by the EOB logic below
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    raise ValueError("invalid refinement magnitude")
                if nbits:
                    nbits -= 1
                    bit = (acc >> nbits) & 1
                    acc &= (1 << nbits) - 1
                else:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    bit = reader.read_bits(1)
                    pos, acc, nbits = reader.pos, reader.acc, \
                        reader.nbits
                val = p1 if bit else m1
            while k <= se:
                c = flat[base + k]
                if c != 0:
                    if nbits:
                        nbits -= 1
                        bit = (acc >> nbits) & 1
                        acc &= (1 << nbits) - 1
                    else:
                        reader.pos, reader.acc, reader.nbits = \
                            pos, acc, nbits
                        bit = reader.read_bits(1)
                        pos, acc, nbits = reader.pos, reader.acc, \
                            reader.nbits
                    if bit and (c & p1) == 0:
                        flat[base + k] = c + (p1 if c >= 0 else m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val:
                if k > se:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    raise ValueError("refinement position overflow")
                flat[base + k] = val
            k += 1
    if eobrun > 0 and flat[base + k:base + se + 1] != _ZEROS[:se + 1 - k]:
        # only coefficients that are already nonzero take a bit here
        while k <= se:
            c = flat[base + k]
            if c != 0:
                if nbits:
                    nbits -= 1
                    bit = (acc >> nbits) & 1
                    acc &= (1 << nbits) - 1
                else:
                    reader.pos, reader.acc, reader.nbits = \
                        pos, acc, nbits
                    bit = reader.read_bits(1)
                    pos, acc, nbits = reader.pos, reader.acc, \
                        reader.nbits
                if bit and (c & p1) == 0:
                    flat[base + k] = c + (p1 if c >= 0 else m1)
            k += 1
    if eobrun > 0:
        eobrun -= 1
    reader.pos, reader.acc, reader.nbits = pos, acc, nbits
    return eobrun


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline (SOF0) or progressive (SOF2) JPEG — 4:4:4,
    4:2:2 or 4:2:0 (any sampling factors <= 2), restart intervals,
    spectral selection + successive approximation — to (h, w, 3) uint8
    RGB (grayscale replicates Y into all three channels). Subsampled
    chroma upsamples by sample replication. Truncated or corrupt input
    raises the documented ValueError family — never a raw
    IndexError/struct.error from byte access."""
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated or corrupt JPEG: {e}") from e


def decode_jpeg_batch(datas: list[bytes]) -> list[np.ndarray]:
    """``decode_jpeg`` of every payload. The entropy decode runs per
    payload; DQT, DHT, SOF and SOS segments are parsed once per distinct
    segment bytes in the batch; the dequant + IDCT + upsample + color
    stage runs once per group of payloads that share (h, w, nc,
    sampling, quant tables), over one coefficient array per component
    made from the payloads' flat coefficient stores without a copy per
    coefficient. The arithmetic is ``decode_jpeg``'s, elementwise or
    per block, so outputs are bit-identical; errors raise as there."""
    tables: dict[bytes, tuple] = {}
    parsed: list[tuple] = []
    for d in datas:
        try:
            parsed.append(_parse_jpeg(d, tables))
        except (IndexError, struct.error) as e:
            raise ValueError(f"truncated or corrupt JPEG: {e}") from e
    out: list[np.ndarray | None] = [None] * len(parsed)
    groups: dict[tuple, list[int]] = {}
    for i, p in enumerate(parsed):
        (store, grids, samps, qtables, comps, h, w, nc, hmax, vmax) = p
        qkey = tuple(qtables[comps[ci][1]].tobytes() for ci in range(nc))
        groups.setdefault((h, w, nc, tuple(samps), qkey), []).append(i)
    for (h, w, nc, _samps, _qk), idxs in groups.items():
        p0 = parsed[idxs[0]]
        planes = [_idct_planes(
            np.frombuffer(b"".join(parsed[i][0][ci] for i in idxs),
                          np.int64), ci, p0) for ci in range(nc)]
        if nc == 1:
            rgb = np.stack([planes[0]] * 3, axis=-1)
        else:
            rgb = ycbcr_to_rgb(planes[0], planes[1], planes[2])
        for j, i in enumerate(idxs):
            out[i] = rgb[j]
    return out  # type: ignore[return-value]


def _idct_planes(coefs_flat: np.ndarray, ci: int, parsed: tuple
                 ) -> np.ndarray:
    """Component ``ci`` of n same-geometry images from their zigzag
    coefficients (n * blocks * 64): dequantize, IDCT, level shift,
    round, clip and upsample -> (n, h, w) uint8."""
    _store, grids, samps, qtables, comps, h, w, _nc, hmax, vmax = parsed
    gh, gw = grids[ci]
    q = qtables[comps[ci][1]]
    n = coefs_flat.size // (64 * gh * gw)
    coefs = np.zeros((n * gh * gw, 8, 8), np.float64)
    coefs[:, _ZZ_R, _ZZ_C] = coefs_flat.reshape(-1, 64) * q[None, :]
    # vectorized IDCT over all blocks: spatial = C.T @ coef @ C
    # (broadcast matmul, NOT einsum: einsum's path setup is ~45 us
    # per call on tiny block stacks vs ~5 us for matmul)
    spatial = (_CT @ coefs @ _C) + 128.0
    samples = np.floor(spatial + 0.5).clip(0, 255).astype(np.uint8)
    plane = samples.reshape(n, gh, gw, 8, 8) \
        .transpose(0, 1, 3, 2, 4).reshape(n, gh * 8, gw * 8)
    hi, vi = samps[ci]
    if (hi, vi) != (hmax, vmax):  # upsample by sample replication
        plane = np.repeat(np.repeat(plane, vmax // vi, axis=1),
                          hmax // hi, axis=2)
    return plane[:, :h, :w]


def _decode_jpeg(data: bytes) -> np.ndarray:
    parsed = _parse_jpeg(data)
    store, nc = parsed[0], parsed[7]
    planes = [_idct_planes(np.frombuffer(store[ci], np.int64), ci,
                           parsed)[0] for ci in range(nc)]
    if nc == 1:
        g = planes[0]
        return np.stack([g, g, g], axis=-1)
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])


def _parse_jpeg(data: bytes, tables: dict | None = None) -> tuple:
    """Markers and entropy-coded scans -> (store, grids, samps,
    qtables, comps, h, w, nc, hmax, vmax); ``store[ci]`` is component
    ci's zigzag coefficients, 64 per block, as one flat int64 array.
    ``tables`` caches parsed DQT, DHT, SOF and SOS segments by their
    bytes across the payloads of a batch."""
    if tables is None:
        tables = {}
    if bytes(data[:2]) != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    comps: list[tuple[int, int]] = []  # (component id, qtable id)
    samps: list[tuple[int, int]] = []  # (h_i, v_i) sampling factors
    h = w = 0
    nc = 0
    restart_interval = 0
    progressive = False
    scan_map: list[tuple[int, int]] = []  # baseline (dc tid, ac tid)
    cid_to_ci: dict[int, int] = {}
    # coefficient store: per component, 64 zigzag int64 per block,
    # refined in place by successive progressive scans
    store: list[array.array] = []
    grids: list[tuple[int, int]] = []
    mcuy = mcux = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = bytes(data[pos + 4:pos + 2 + seglen])
        if marker in (0xDB, 0xC4, 0xC0, 0xC2):
            key = bytes([marker]) + body
            seg = tables.get(key)
            if seg is None:
                seg = tables[key] = _parse_segment(marker, body)
            if marker == 0xDB:
                qtables.update(seg)
            elif marker == 0xC4:
                htables.update(seg)
            else:
                progressive = marker == 0xC2
                (h, w, nc, seg_comps, seg_samps, hmax, vmax, mcuy, mcux,
                 grids) = seg
                if comps:   # a second SOF: its geometry spans both
                    hmax, vmax, mcuy, mcux, grids = _geometry(
                        h, w, samps + seg_samps)
                comps += seg_comps
                samps += seg_samps
                store = _new_store(grids)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) or progressive (SOF2) supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("SOS before SOF")
            key = b"\xda" + body
            sos = tables.get(key)
            if sos is None:
                sos = tables[key] = _parse_sos(body)
            cids, scan_tids, band = sos
            if not progressive:
                if len(cids) != len(comps):
                    raise ValueError(
                        "baseline partial scans unsupported")
                pos += 2 + seglen
                reader = _BitReader(data, pos)
                if scan_map:    # a second full scan: start from zeros
                    store = _new_store(grids)
                _baseline_scan(reader, store, grids, samps, scan_tids,
                               htables, mcuy, mcux, restart_interval)
                scan_map = scan_tids
                pos = reader.pos
                continue
            # progressive scan: component selectors by id + band/approx
            if len(cid_to_ci) != len(comps):
                cid_to_ci = {cid: ci for ci, (cid, _) in enumerate(comps)}
            scan_cis = []
            for cid in cids:
                if cid not in cid_to_ci:
                    raise ValueError("scan references unknown component")
                scan_cis.append(cid_to_ci[cid])
            if band is None:
                raise IndexError("index out of range")
            ss, se, ah, al = band
            pos += 2 + seglen
            reader = _BitReader(data, pos)
            if ss == 0:
                if se != 0:
                    raise ValueError("progressive DC scan must have Se=0")
                _prog_dc_scan(reader, scan_cis, scan_tids, htables, ah,
                              al, store, grids, samps, mcuy, mcux,
                              restart_interval)
            else:
                if len(scan_cis) != 1:
                    raise ValueError("progressive AC scans are"
                                     " single-component")
                ci = scan_cis[0]
                ac_tab = htables[(1, scan_tids[0][1])]
                _prog_ac_scan(reader, ac_tab, store[ci], ss, se, ah, al,
                              restart_interval)
            pos = reader.pos
            continue
        # APPn / COM / others: skip
        pos += 2 + seglen
    if not comps or not store:
        raise ValueError("missing SOF/SOS")
    if not progressive and not scan_map:
        raise ValueError("missing SOS")
    return (store, grids, samps, qtables, comps, h, w, nc, hmax, vmax)


def _new_store(grids: list[tuple[int, int]]) -> list[array.array]:
    return [_ZEROS * (gh * gw) for gh, gw in grids]


def _parse_segment(marker: int, body: bytes):
    """A DQT ({tid: table}), DHT ({(class, tid): LUT}) or SOF segment
    (geometry) — the parts of a payload that batches often repeat."""
    if marker == 0xDB:  # DQT (possibly several tables per segment)
        qtables = {}
        b = 0
        while b < len(body):
            prec, tid = body[b] >> 4, body[b] & 0xF
            if prec != 0:
                raise ValueError("16-bit quant tables unsupported")
            qtables[tid] = np.frombuffer(
                body[b + 1:b + 65], np.uint8).astype(np.int32)
            b += 65
        return qtables
    if marker == 0xC4:  # DHT
        htables = {}
        b = 0
        while b < len(body):
            cls, tid = body[b] >> 4, body[b] & 0xF
            nv = sum(body[b + 1:b + 17])
            htables[(cls, tid)] = _peek_lut(bytes(body[b + 1:b + 17 + nv]))
            b += 17 + nv
        return htables
    # SOF0 baseline / SOF2 progressive
    depth, h, w, nc = struct.unpack(">BHHB", body[:6])
    if depth != 8 or nc not in (1, 3):
        raise ValueError("only 8-bit, 1 or 3 components")
    comps, samps = [], []
    for ci in range(nc):
        cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
        hi, vi = samp >> 4, samp & 0xF
        if hi not in (1, 2) or vi not in (1, 2):
            raise ValueError("sampling factors beyond 2 unsupported")
        comps.append((cid, tq))
        samps.append((hi, vi))
    return (h, w, nc, comps, samps) + _geometry(h, w, samps)


def _geometry(h: int, w: int, samps: list[tuple[int, int]]) -> tuple:
    """(hmax, vmax, MCU rows, MCU columns, per-component block grids)."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError("dimensions must be multiples of the MCU size")
    mcuy, mcux = h // (8 * vmax), w // (8 * hmax)
    return hmax, vmax, mcuy, mcux, [(mcuy * vi, mcux * hi)
                                    for hi, vi in samps]


def _parse_sos(body: bytes) -> tuple:
    """An SOS header: (component ids, (dc, ac) table ids, (Ss, Se, Ah,
    Al) or None when the header stops before them)."""
    ns = body[0]
    cids = [body[1 + 2 * si] for si in range(ns)]
    tids = [(body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF)
            for si in range(ns)]
    band = None
    if len(body) >= 4 + 2 * ns:
        ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
        band = (ss, se, a >> 4, a & 0xF)
    return cids, tids, band
