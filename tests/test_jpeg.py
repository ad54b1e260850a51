"""Baseline JPEG codec: exactness, round trips, decoder robustness.

Reference analog: JPEG preview sink
(/root/reference/export_formats/previews.py:24-39) — there GDAL owns
the codec; here the engine does (no libjpeg in executors).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_processor_spark.functions import jpeg as J
from geotiff_processor_spark.operators import multimodal
from geotiff_processor_spark.sources import synth


def _const_planes(vals, size=16):
    """Block-constant YCbCr planes: vals[(ci, by, bx)] -> value."""
    nb = size // 8
    planes = []
    for ci in range(3):
        p = np.zeros((size, size), np.uint8)
        for by in range(nb):
            for bx in range(nb):
                p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    vals(ci, by, bx) % 256
        planes.append(p)
    return planes


def test_constant_blocks_roundtrip_bit_exact():
    """DC-only blocks with quant 8 dividing 8*(v-128): decode equals
    the direct YCbCr->RGB conversion bit-for-bit — the exactness
    contract the decode_jpeg oracle is built on."""
    for seed in range(5):
        planes = _const_planes(
            lambda ci, by, bx: seed * 97 + ci * 55 + by * 17 + bx * 31)
        rgb = J.decode_jpeg(J.encode_jpeg_planes(planes))
        exp = J.ycbcr_to_rgb(*planes)
        assert (rgb == exp).all(), seed


def test_general_content_bounded_by_quant():
    """Arbitrary content round-trips within the quantization error
    bound (flat table of 8 => per-coefficient error <= 4, worst-case
    pixel error well under 32)."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (24, 32), np.uint8)
    out = J.decode_jpeg(J.encode_jpeg_planes([img]))
    assert out.shape == (24, 32, 3)
    err = np.abs(out[:, :, 0].astype(int) - img.astype(int)).max()
    assert err <= 32
    # grayscale replicates into all channels
    assert (out[:, :, 0] == out[:, :, 1]).all()


def test_gradient_multiblock_dc_prediction():
    """A strong gradient across many blocks exercises DC-diff coding
    (every category) and ZRL/EOB paths; decoded DC level must track the
    source block means closely."""
    x = np.linspace(0, 255, 64, dtype=np.float64)
    img = np.tile(x, (16, 1)).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg_planes([img]))[:, :, 0]
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 16


def test_420_constant_blocks_roundtrip_bit_exact():
    """4:2:0: chroma stored at half resolution, block-constant, MCU-
    interleaved scan; replication upsample makes the round trip exact —
    the contract the mixed-layout decode_jpeg oracle relies on."""
    for seed in (1, 33, 255):
        y = _const_planes(
            lambda ci, by, bx: seed * 7 + by * 17 + bx * 31, 16)[0]
        cb = np.full((8, 8), (seed * 11) % 256, np.uint8)
        cr = np.full((8, 8), (seed * 13) % 256, np.uint8)
        rgb = J.decode_jpeg(
            J.encode_jpeg_planes([y, cb, cr], subsample="420"))
        exp = J.ycbcr_to_rgb(y,
                             np.repeat(np.repeat(cb, 2, 0), 2, 1),
                             np.repeat(np.repeat(cr, 2, 0), 2, 1))
        assert (rgb == exp).all(), seed


def test_422_constant_blocks_roundtrip_bit_exact():
    """4:2:2 (chroma halved horizontally only) via the same general
    MCU path."""
    y = _const_planes(lambda ci, by, bx: by * 19 + bx * 23, 32)[0]
    cb = np.zeros((32, 16), np.uint8)
    cr = np.zeros((32, 16), np.uint8)
    for by in range(4):
        for bx in range(2):
            cb[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                (77 + bx * 13 + by * 19) % 256
            cr[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                (31 + bx * 23 + by * 29) % 256
    rgb = J.decode_jpeg(J.encode_jpeg_planes([y, cb, cr],
                                             subsample="422"))
    exp = J.ycbcr_to_rgb(y, np.repeat(cb, 2, 1), np.repeat(cr, 2, 1))
    assert (rgb == exp).all()


def test_420_general_content_bounded():
    """Arbitrary 4:2:0 content stays within the quantization bound."""
    rng = np.random.default_rng(9)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    cb = rng.integers(0, 256, (16, 16), np.uint8)
    cr = rng.integers(0, 256, (16, 16), np.uint8)
    rgb = J.decode_jpeg(J.encode_jpeg_planes([y, cb, cr],
                                             subsample="420"))
    exp = J.ycbcr_to_rgb(y,
                         np.repeat(np.repeat(cb, 2, 0), 2, 1),
                         np.repeat(np.repeat(cr, 2, 0), 2, 1))
    assert rgb.shape == (32, 32, 3)
    assert np.abs(rgb.astype(int) - exp.astype(int)).max() <= 32


def test_encoder_validates_subsampled_shapes():
    y = np.zeros((16, 16), np.uint8)
    with pytest.raises(ValueError, match="shape"):
        J.encode_jpeg_planes([y, y, y], subsample="420")
    with pytest.raises(ValueError, match="subsample"):
        J.encode_jpeg_planes([y, y, y], subsample="411")
    with pytest.raises(ValueError, match="multiples"):
        J.encode_jpeg_planes([np.zeros((8, 8), np.uint8),
                              np.zeros((4, 4), np.uint8),
                              np.zeros((4, 4), np.uint8)],
                             subsample="420")


def test_decoder_rejects_unsupported():
    planes = _const_planes(lambda ci, by, bx: 100)
    data = bytearray(J.encode_jpeg_planes(planes))
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"\x00\x01" + bytes(data[2:]))
    # flip SOF0 -> SOF1 (extended sequential — still unsupported)
    idx = bytes(data).find(b"\xff\xc0")
    data2 = bytearray(data)
    data2[idx + 1] = 0xC1
    with pytest.raises(ValueError, match="SOF0.*SOF2"):
        J.decode_jpeg(bytes(data2))
    # SOF0 -> SOF2 relabels a baseline stream progressive: its single
    # full-band scan is malformed as a progressive scan header
    data2b = bytearray(data)
    data2b[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(data2b))
    # corrupt a huffman stream byte deep enough to break a code
    sos = bytes(data).find(b"\xff\xda")
    data3 = bytearray(data)
    data3[sos + 14] ^= 0xFF
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(data3))


def test_decode_images_dispatches_jpeg_and_png(spark, sf_dir):
    """decode_images routes per-payload magic: JPEG media decodes for
    real under strict=True and the means match the planted formula."""
    media = synth.build_media_jpeg(spark, sf_dir).limit(20)
    got = multimodal.decode_images(media, payload_col="jpg",
                                   key_col="url", strict=True).collect()
    assert len(got) == 20
    for r in got:
        assert r["height"] == synth.JPEG_SIZE
        assert r["width"] == synth.JPEG_SIZE
        assert 0.0 <= r["mean_r"] <= 255.0


def test_spark_means_match_formula(spark, sf_dir):
    """Engine decode means == direct numpy recomputation from the
    planted block formula (the same identity the DuckDB oracle uses)."""
    media = synth.build_media_jpeg(spark, sf_dir)
    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(50)
    ids = [r["event_id"] for r in events.collect()]
    got = {r["url"]: r for r in multimodal.decode_images(
        media, payload_col="jpg", key_col="url", strict=True).collect()}
    nb = synth.JPEG_SIZE // 8
    urls = {r["i"]: r["url"] for r in
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select(F.col("event_id").alias("i"),
                    F.expr(synth.SQL_URL).alias("url")).collect()}
    for i in ids:
        rs = []
        for by in range(nb):
            for bx in range(nb):
                # odd ids are 4:2:0: chroma replicates from the
                # half-resolution block grid (bx//2, by//2)
                cbx, cby = (bx // 2, by // 2) if i % 2 else (bx, by)
                coords = [(bx, by), (cbx, cby), (cbx, cby)]
                y, cb, cr = (
                    (i * c0 + cx * c1 + cy * c2) % 256
                    for (c0, c1, c2), (cx, cy)
                    in zip(synth.JPEG_YCBCR_COEFS, coords))
                rgb = J.ycbcr_to_rgb(
                    np.array([[y]]), np.array([[cb]]), np.array([[cr]]))
                rs.append(rgb[0, 0])
        mean = np.stack(rs).mean(axis=0)
        row = got[urls[i]]
        assert row["mean_r"] == pytest.approx(mean[0], abs=0)
        assert row["mean_g"] == pytest.approx(mean[1], abs=0)
        assert row["mean_b"] == pytest.approx(mean[2], abs=0)


def test_restart_interval_roundtrip():
    """DRI + RSTn streams: byte-aligned markers, DC predictors reset —
    block-constant planes stay bit-exact at every interval, and the
    stream actually contains the RST markers."""
    planes = _const_planes(lambda ci, by, bx: ci * 41 + by * 19 + bx * 7)
    exp = J.ycbcr_to_rgb(*planes)
    for ri in (1, 2, 3):
        data = J.encode_jpeg_planes(planes, restart_interval=ri)
        assert b"\xff\xdd" in data  # DRI present
        assert any(bytes([0xFF, 0xD0 + m]) in data for m in range(8))
        assert (J.decode_jpeg(data) == exp).all(), ri
    # general content, 420, many MCUs
    rng = np.random.default_rng(17)
    y = rng.integers(0, 256, (32, 48), np.uint8)
    cb = rng.integers(0, 256, (16, 24), np.uint8)
    cr = rng.integers(0, 256, (16, 24), np.uint8)
    plain = J.decode_jpeg(J.encode_jpeg_planes([y, cb, cr],
                                               subsample="420"))
    for ri in (1, 3, 5):
        with_rst = J.decode_jpeg(J.encode_jpeg_planes(
            [y, cb, cr], subsample="420", restart_interval=ri))
        assert (with_rst == plain).all(), ri


def test_restart_marker_out_of_sequence_raises():
    planes = _const_planes(lambda ci, by, bx: by * 50 + bx * 9)
    data = bytearray(J.encode_jpeg_planes(planes, restart_interval=1))
    at = bytes(data).find(b"\xff\xd0")
    assert at > 0
    data[at + 1] = 0xD3  # wrong modulo-8 counter
    with pytest.raises(ValueError, match="RST"):
        J.decode_jpeg(bytes(data))


def test_progressive_matches_baseline_exactly():
    """SOF2 successive-approximation streams decode to EXACTLY the
    pixels of a baseline stream of the same planes (coefficients are
    bit-identical by construction) — random, smooth, and constant
    content, all subsampling layouts, gray included."""
    rng = np.random.default_rng(23)
    cases = []
    for sub, shapes in (("444", [(32, 32)] * 3),
                        ("420", [(32, 32), (16, 16), (16, 16)]),
                        ("422", [(32, 32), (32, 16), (32, 16)])):
        cases.append((sub, [rng.integers(0, 256, s, dtype=np.uint8)
                            for s in shapes]))
    yy, xx = np.mgrid[0:32, 0:32]
    cases.append(("444", [((yy + xx) // 2 % 256).astype(np.uint8)] * 3))
    cases.append(("444", [np.full((32, 32), v, np.uint8)
                          for v in (0, 128, 255)]))
    for sub, planes in cases:
        base = J.decode_jpeg(J.encode_jpeg_planes(planes, subsample=sub))
        prog = J.decode_jpeg(J.encode_jpeg_progressive(planes,
                                                       subsample=sub))
        assert (base == prog).all(), sub
    g = [rng.integers(0, 256, (24, 40), dtype=np.uint8)]
    assert (J.decode_jpeg(J.encode_jpeg_planes(g))
            == J.decode_jpeg(J.encode_jpeg_progressive(g))).all()


def test_progressive_stream_shape():
    """The progressive stream is structurally what it claims: SOF2,
    multiple SOS scans, per-scan DHT."""
    planes = _const_planes(lambda ci, by, bx: ci * 30 + by + bx)
    data = J.encode_jpeg_progressive(planes)
    assert b"\xff\xc2" in data and b"\xff\xc0" not in data[:200]
    assert data.count(b"\xff\xda") >= 10  # 14 scans for 3 components
    exp = J.ycbcr_to_rgb(*planes)
    assert (J.decode_jpeg(data) == exp).all()


def test_progressive_truncation_error_contract():
    """Truncation never leaks IndexError/struct.error: every cut either
    raises ValueError or (a cut at a clean scan boundary — progressive
    streams are legitimately previewable) returns a full-shape image.
    Cutting inside the SOF header MUST raise."""
    planes = _const_planes(lambda ci, by, bx: ci * 13 + by * 5 + bx * 3)
    data = J.encode_jpeg_progressive(planes)
    size = len(planes[0])
    raised = 0
    for cut in range(20, len(data), 7):
        try:
            out = J.decode_jpeg(data[:cut])
        except ValueError:
            raised += 1
        else:
            assert out.shape == (size, size, 3), cut
    assert raised > 0  # mid-scan cuts must raise, not return junk
    # header-region cut: always ValueError
    sof = data.find(b"\xff\xc2")
    with pytest.raises(ValueError):
        J.decode_jpeg(data[:sof + 5])


def test_progressive_with_restart_intervals():
    """DRI + RSTn inside progressive scans: EOB runs flush and byte-
    align at each boundary, DC predictors reset — still bit-identical
    to the baseline decode of the same planes."""
    rng = np.random.default_rng(31)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    cb = rng.integers(0, 256, (16, 16), np.uint8)
    cr = rng.integers(0, 256, (16, 16), np.uint8)
    base = J.decode_jpeg(J.encode_jpeg_planes([y, cb, cr],
                                              subsample="420"))
    for ri in (1, 2, 3):
        data = J.encode_jpeg_progressive([y, cb, cr], subsample="420",
                                         restart_interval=ri)
        assert b"\xff\xdd" in data
        assert any(bytes([0xFF, 0xD0 + m]) in data for m in range(8))
        assert (J.decode_jpeg(data) == base).all(), ri
    g = [rng.integers(0, 256, (24, 40), dtype=np.uint8)]
    gb = J.decode_jpeg(J.encode_jpeg_planes(g))
    for ri in (1, 4):
        assert (J.decode_jpeg(J.encode_jpeg_progressive(
            g, restart_interval=ri)) == gb).all(), ri


def test_decode_jpeg_batch_bit_identical_mixed_corpus():
    """decode_jpeg_batch (stage 2 batched across same-geometry payloads,
    table segments parsed once per batch) must reproduce per-image
    decode_jpeg bit-for-bit on a mixed baseline/progressive, 444/420,
    restart-interval, multi-size corpus — groups with different
    geometry or quant tables may never cross-contaminate."""
    rng = np.random.default_rng(7)
    blobs = []
    for size in (16, 32):
        for sub in ("444", "420"):
            planes = [rng.integers(0, 256, (size, size), np.uint8)
                      for _ in range(3)]
            if sub == "420":
                planes = [planes[0],
                          planes[1][:size // 2, :size // 2],
                          planes[2][:size // 2, :size // 2]]
            blobs.append(J.encode_jpeg_planes(planes, subsample=sub))
            blobs.append(J.encode_jpeg_progressive(planes, subsample=sub))
    # restart intervals, baseline and progressive, 4:4:4 and 4:2:0,
    # each twice so the batch's parsed-segment cache serves repeats
    planes = [rng.integers(0, 256, (32, 32), np.uint8) for _ in range(3)]
    sub = [planes[0], planes[1][:16, :16], planes[2][:16, :16]]
    for ri in (1, 3):
        for _ in range(2):
            blobs.append(J.encode_jpeg_planes(planes, restart_interval=ri))
            blobs.append(J.encode_jpeg_progressive(sub, subsample="420",
                                                   restart_interval=ri))
    # grayscale single-component member too
    blobs.append(J.encode_jpeg_planes(
        [rng.integers(0, 256, (16, 16), np.uint8)]))
    blobs.append(J.encode_jpeg_progressive(
        [rng.integers(0, 256, (24, 40), np.uint8)], restart_interval=2))
    batch = J.decode_jpeg_batch(blobs)
    for blob, got in zip(blobs, batch):
        ref = J.decode_jpeg(blob)
        assert got.dtype == ref.dtype and got.shape == ref.shape
        assert np.array_equal(got, ref)


def test_lut_cache_is_bounded():
    """Progressive JPEGs carry per-image Huffman tables; decoding more
    distinct tables than the LUT cache holds keeps it at its bound, and
    evicted tables are rebuilt to the same output."""
    J._peek_lut.cache_clear()
    rng = np.random.default_rng(11)
    blobs = [J.encode_jpeg_progressive(
        [rng.integers(0, 256, (16, 16), np.uint8) for _ in range(3)])
        for _ in range(16)]
    batch = J.decode_jpeg_batch(blobs)
    info = J._peek_lut.cache_info()
    assert info.misses > info.maxsize
    assert info.currsize == info.maxsize
    for blob, got in zip(blobs, batch):
        assert np.array_equal(got, J.decode_jpeg(blob))
    assert J._peek_lut.cache_info().currsize == info.maxsize
