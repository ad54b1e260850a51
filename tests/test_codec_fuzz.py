"""Hypothesis fuzz for the pure-python codecs (no Spark session):
shrinkable random-content round trips across the whole option space,
and the batch decoders checked payload for payload against the
single-payload references."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from geotiff_processor_spark.functions import gif as G
from geotiff_processor_spark.functions import jpeg as J
from geotiff_processor_spark.functions import lzw as L
from geotiff_processor_spark.functions import png as P
from geotiff_processor_spark.functions import tiff as T


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 5), st.integers(1, 5),
       st.booleans(), st.booleans())
def test_gif_roundtrip_fuzz(seed, h, w, interlace, lct):
    rng = np.random.RandomState(seed)
    idx = rng.randint(0, 256, (h * 7, w * 5)).astype(np.uint8)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    out = G.decode_gif(G.encode_gif(idx, pal, interlace=interlace,
                                    local_palette=lct))
    assert np.array_equal(out, pal[idx.astype(np.int32)])


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**32 - 1), st.sampled_from(["444", "420", "422"]),
       st.integers(0, 3))
def test_jpeg_progressive_equals_baseline_fuzz(seed, sub, ri):
    rng = np.random.RandomState(seed)
    if sub == "444":
        shapes = [(16, 16)] * 3
    elif sub == "420":
        shapes = [(16, 16), (8, 8), (8, 8)]
    else:
        shapes = [(16, 16), (16, 8), (16, 8)]
    planes = [rng.randint(0, 256, s).astype(np.uint8) for s in shapes]
    base = J.decode_jpeg(J.encode_jpeg_planes(planes, subsample=sub,
                                              restart_interval=ri))
    prog = J.decode_jpeg(J.encode_jpeg_progressive(
        planes, subsample=sub, restart_interval=ri))
    plain = J.decode_jpeg(J.encode_jpeg_planes(planes, subsample=sub))
    assert (base == plain).all()   # restarts never change pixels
    assert (prog == plain).all()   # progressive == baseline, always


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(10, 400))
def test_jpeg_truncation_never_leaks_raw_errors(seed, cut):
    rng = np.random.RandomState(seed)
    planes = [rng.randint(0, 256, (16, 16)).astype(np.uint8)
              for _ in range(3)]
    data = J.encode_jpeg_progressive(planes)
    cut = min(cut * 7, len(data) - 1)
    try:
        out = J.decode_jpeg(data[:cut])
    except ValueError:
        pass
    else:
        assert out.shape == (16, 16, 3)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(5, 200))
def test_gif_truncation_never_leaks_raw_errors(seed, cut):
    rng = np.random.RandomState(seed)
    idx = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    data = G.encode_gif(idx, pal, interlace=bool(seed & 1),
                        local_palette=bool(seed & 2))
    cut = min(cut * 7, len(data) - 1)
    try:
        out = G.decode_gif(data[:cut])
    except ValueError:
        pass
    else:
        assert out.shape == (16, 16, 3)


# -- batch decoders against the single-payload references -------------

def _gif_lzw(data: bytes, min_code: int, clear_when_full: bool) -> bytes:
    """A GIF LZW writer with a real dictionary (``encode_gif`` only
    writes literals): LSB-first codes, widening when the next free code
    needs another bit, and at 4,096 entries either a CLEAR or (when
    ``clear_when_full`` is False) no new entries and 12-bit codes on."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    codes: list[tuple[int, int]] = []
    table = {bytes([i]): i for i in range(clear)}
    nxt = end + 1

    def emit(code):
        codes.append((code, min(12, (nxt - 1).bit_length())))

    emit(clear)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if nxt < 4096:
            table[wc] = nxt
            nxt += 1
        elif clear_when_full:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            nxt = end + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(end)
    acc = nbits = 0
    out = bytearray()
    for code, width in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_container(stream: bytes, min_code: int, w: int, h: int,
                   pal: np.ndarray, table_bits: int | None = None) -> bytes:
    """A one-image GIF89a around an LZW stream (global color table of
    2^table_bits entries, by default 2^min_code)."""
    n = (table_bits or min_code) - 1
    blocks = b"".join(bytes([len(stream[i:i + 255])]) + stream[i:i + 255]
                      for i in range(0, len(stream), 255))
    return (b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80 | n, 0, 0])
            + pal[:2 << n].tobytes() + b"\x2C"
            + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
            + bytes([min_code]) + blocks + b"\x00\x3B")


def _check_lzw_batch(streams, expected, min_code, msb, early, scalar,
                     exact=False):
    """Each stream the batch finishes equals the scalar reader's bytes;
    a stream it rejects (or, with ``exact``, one whose length misses
    the expected size, which its TIFF caller rejects) fails there too."""
    buf, start, length, ok = L.decode_batch(streams, expected, min_code,
                                            msb=msb, early=early)
    for i, (s, n) in enumerate(zip(streams, expected)):
        got = None
        if ok[i] and (not exact or length[i] == n):
            got = bytes(buf[start[i]:start[i] + length[i]])
        try:
            ref = scalar(s, n)
        except ValueError:
            assert got is None, i
            continue
        assert got == ref, i


def test_lzw_batch_matches_gif_reader_all_min_code_sizes():
    """Streams with KwKwK codes, real dictionaries, a table that fills
    to 4,096 entries without a CLEAR (the scalar reader keeps adding
    entries past 4,096, the batch stores none; codes stay below 4,096,
    so both give the same bytes), truncations and garbage, all in one
    batch per min code size."""
    rng = np.random.default_rng(8)
    for mc in range(2, 9):
        top = 1 << mc
        datas = [bytes(rng.integers(0, top, 600, dtype=np.uint8)),
                 bytes([1 % top]) * 700,                  # KwKwK runs
                 bytes(rng.integers(0, min(top, 3), 3000,
                                    dtype=np.uint8)),
                 bytes(rng.integers(0, top, 9000, dtype=np.uint8)),
                 b""]
        streams, expected = [], []
        for d in datas:
            for full in (True, False):
                s = _gif_lzw(d, mc, clear_when_full=full)
                streams += [s, s[:len(s) // 2], s[:len(s) // 3 + 1]]
                expected += [len(d)] * 3
        streams += [bytes(rng.integers(0, 256, 300, dtype=np.uint8)),
                    streams[0]]
        expected += [5000, 0]
        _check_lzw_batch(streams, expected, mc, False, False,
                         lambda s, n, mc=mc: G._lzw_decode(s, mc, n))


def test_lzw_batch_matches_tiff_reader():
    """TIFF LZW: widths change at 511, 1,023 and 2,047 entries and the
    writer resets at 4,094; zero-length outputs, truncations and one
    garbage stream ride in the same batch."""
    rng = np.random.default_rng(9)
    datas = [bytes(rng.integers(0, 256, 6000, dtype=np.uint8)),
             bytes(rng.integers(0, 4, 5000, dtype=np.uint8)),
             bytes(700), bytes(rng.integers(0, 256, 40, dtype=np.uint8))]
    streams, expected = [], []
    for d in datas:
        s = T.lzw_encode(d)
        streams += [s, s[:len(s) // 2], s]
        expected += [len(d), len(d), len(d) // 2]
    streams += [bytes(rng.integers(0, 256, 300, dtype=np.uint8)),
                streams[0]]
    expected += [4000, -3]
    _check_lzw_batch(streams, expected, 8, True, True, T.lzw_decode,
                     exact=True)


def test_lzw_batch_corrupt_stream_leaves_others_unchanged():
    rng = np.random.default_rng(10)
    good = [T.lzw_encode(bytes(rng.integers(0, 16, 900, dtype=np.uint8)))
            for _ in range(4)]
    bad = bytearray(good[1])
    bad[20] ^= 0xFF
    alone = L.decode_batch(good, [900] * 4, 8, msb=True, early=True)
    mixed = L.decode_batch([good[0], bytes(bad)] + good[2:], [900] * 4, 8,
                           msb=True, early=True)
    for i in (0, 2, 3):
        a = alone[0][alone[1][i]:alone[1][i] + alone[2][i]]
        b = mixed[0][mixed[1][i]:mixed[1][i] + mixed[2][i]]
        assert mixed[3][i] and np.array_equal(a, b)
    with pytest.raises(ValueError):
        T.lzw_decode(bytes(bad), 900)
    assert not mixed[3][1]


def test_gif_batch_bit_identical_mixed_corpus():
    rng = np.random.default_rng(12)
    blobs = []
    for h, w in ((16, 16), (3, 9), (1, 1), (37, 41)):
        idx = rng.integers(0, 256, (h, w), dtype=np.uint8)
        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        for il in (False, True):
            for lct in (False, True):
                blobs.append(G.encode_gif(idx, pal, interlace=il,
                                          local_palette=lct))
    for mc in (2, 5, 7):
        pal = rng.integers(0, 256, (1 << mc, 3), dtype=np.uint8)
        idx = rng.integers(0, 1 << mc, 30 * 20, dtype=np.uint8)
        blobs.append(_gif_container(_gif_lzw(bytes(idx), mc, True), mc,
                                    30, 20, pal))
    # a flood of CLEAR codes: more segments than the batch decodes
    flood = bytes([0x24, 0x49, 0x92]) * 40 + _gif_lzw(bytes(4), 2, True)
    blobs.append(_gif_container(flood, 2, 2, 2, pal))
    got = G.decode_gif_batch(blobs)
    for blob, img in zip(blobs, got):
        ref = G.decode_gif(blob)
        assert img.dtype == ref.dtype and np.array_equal(img, ref)
    # indices past a 4-entry color table fail as in decode_gif
    beyond = _gif_container(_gif_lzw(bytes(range(0, 240, 10)), 8, True), 8,
                            6, 4, pal, table_bits=2)
    with pytest.raises(ValueError, match="beyond color table"):
        G.decode_gif_batch(blobs[:3] + [beyond])


def _be_tiff(le: bytes) -> bytes:
    """The big-endian twin of a little-endian strip TIFF with uint8
    samples (strip bytes are byte order free)."""
    out = bytearray(le)
    out[:8] = b"MM\0*" + le[4:8][::-1]
    (ifd,) = struct.unpack_from("<I", le, 4)
    (n,) = struct.unpack_from("<H", le, ifd)
    struct.pack_into(">H", out, ifd, n)
    fmts = {3: "H", 4: "I", 12: "d"}
    for i in range(n):
        base = ifd + 2 + 12 * i
        tag, typ, count = struct.unpack_from("<HHI", le, base)
        struct.pack_into(">HHI", out, base, tag, typ, count)
        f = fmts[typ]
        size = struct.calcsize(f) * count
        at = base + 8
        if size > 4:
            (at,) = struct.unpack_from("<I", le, base + 8)
            struct.pack_into(">I", out, base + 8, at)
        vals = struct.unpack_from(f"<{count}{f}", le, at)
        out[at:at + size] = struct.pack(f">{count}{f}", *vals)
    return bytes(out)


def test_tiff_batch_bit_identical_mixed_corpus():
    """Every compression with and without predictor, multi-strip,
    big-endian, a DEM, and a zero-row strip (ImageLength cut to the
    first strip), in one batch."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (14, 9, 3), dtype=np.uint8)
    smooth = (np.arange(40)[:, None, None] + np.arange(33)[None, :, None]
              + np.arange(3)).astype(np.uint8)
    blobs = []
    for src in (img, smooth):
        for comp in (1, 5, 8, 32773):
            for pred in ((1, 2) if comp == 5 else (1,)):
                for rps in (7, 64):
                    le = T.encode_tiff(src, compression=comp,
                                       rows_per_strip=rps, predictor=pred,
                                       tiepoint=(1.5, -2.25), epsg=4326)
                    blobs += [le, _be_tiff(le)]
    blobs.append(T.encode_tiff(rng.random((10, 12)).astype(np.float32),
                               compression=5, rows_per_strip=4))
    cut = bytearray(T.encode_tiff(img, compression=5, rows_per_strip=7))
    (ifd,) = struct.unpack_from("<I", cut, 4)
    for i in range(struct.unpack_from("<H", cut, ifd)[0]):
        base = ifd + 2 + 12 * i
        if struct.unpack_from("<H", cut, base)[0] == 257:  # ImageLength
            struct.pack_into("<I", cut, base + 8, 7)
    blobs.append(bytes(cut))
    got = T.decode_tiff_batch(blobs)
    for blob, (arr, meta) in zip(blobs, got):
        ref, ref_meta = T.decode_tiff(blob)
        assert meta == ref_meta
        assert arr.dtype == ref.dtype and np.array_equal(arr, ref)
    assert got[-1][0].shape == (7, 9, 3)


def _png_rgba(img4: np.ndarray, filter_type: int, interlace: bool) -> bytes:
    h, w = img4.shape[:2]
    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, int(interlace))
    raw = P._serialize(img4, filter_type, interlace)
    return (P._SIG + P._chunk(b"IHDR", ihdr)
            + P._chunk(b"IDAT", zlib.compress(raw)) + P._chunk(b"IEND", b""))


def _png_mixed_filters(img: np.ndarray) -> bytes:
    """Sequential RGB PNG whose scanline y uses filter y % 5."""
    h, w = img.shape[:2]
    rows = [P._filter_rows(img, f) for f in range(5)]
    step = 1 + w * 3
    raw = b"".join(rows[y % 5][y * step:(y + 1) * step] for y in range(h))
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    return (P._SIG + P._chunk(b"IHDR", ihdr)
            + P._chunk(b"IDAT", zlib.compress(raw)) + P._chunk(b"IEND", b""))


def test_png_batch_bit_identical_mixed_corpus():
    """All five filters x sequential/Adam7 x gray, RGB, indexed and
    RGBA, several shapes, and per-row mixed filters, in one batch."""
    rng = np.random.default_rng(14)
    blobs = []
    for h, w in ((8, 8), (5, 13), (1, 1), (17, 3)):
        img = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        pal = rng.integers(0, 256, (23, 3), dtype=np.uint8)
        for f in range(5):
            for il in (False, True):
                blobs += [P.encode_png(img[:, :, :3], f, il),
                          P.encode_png(img[:, :, 0], f, il),
                          P.encode_png_indexed(
                              (img[:, :, 0] % 23).astype(np.uint8), pal, f,
                              il),
                          _png_rgba(img, f, il)]
        blobs.append(_png_mixed_filters(img[:, :, :3]))
    order = rng.permutation(len(blobs))
    blobs = [blobs[i] for i in order]
    got = P.decode_png_batch(blobs)
    for blob, img in zip(blobs, got):
        ref = P.decode_png(blob)
        assert img.dtype == ref.dtype and img.shape == ref.shape
        assert np.array_equal(img, ref)


def test_batch_decoders_raise_value_error_on_one_corrupt_payload():
    """One corrupt payload in an otherwise good batch raises the
    reference decoder's ValueError, never an IndexError."""
    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    cases = [
        (G.decode_gif_batch, G.decode_gif,
         G.encode_gif(img[:, :, 0], pal)),
        (T.decode_tiff_batch, T.decode_tiff,
         T.encode_tiff(img, compression=5, rows_per_strip=5)),
        (P.decode_png_batch, P.decode_png, P.encode_png(img, 4, True)),
        (J.decode_jpeg_batch, J.decode_jpeg,
         J.encode_jpeg_progressive([img[:, :, c] for c in range(3)])),
    ]
    for batch, single, good in cases:
        corrupt = []
        for cut in (len(good) // 2, len(good) - 9):
            corrupt.append(good[:cut])
        flipped = bytearray(good)
        flipped[len(good) // 2] ^= 0x5A
        corrupt.append(bytes(flipped))
        for bad in corrupt:
            try:
                single(bad)
            except ValueError:
                with pytest.raises(ValueError):
                    batch([good, bad, good])
            else:
                out = batch([good, bad, good])
                assert np.array_equal(
                    np.asarray(out[1][0] if batch is T.decode_tiff_batch
                               else out[1]),
                    np.asarray(single(bad)[0] if batch is T.decode_tiff_batch
                               else single(bad)))
