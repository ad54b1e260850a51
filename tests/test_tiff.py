"""(Geo)TIFF codec (functions/tiff.py): round trips over every
compression x strip layout x sample kind, georeferencing tags,
big-endian decode, PackBits edges and corrupt-input rejection."""

import struct

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from geotiff_processor_spark.functions import tiff as T


def _rgb(seed, h=23, w=17):
    return np.random.RandomState(seed).randint(
        0, 256, (h, w, 3)).astype(np.uint8)


@pytest.mark.parametrize("comp", [1, 8, 32773])
@pytest.mark.parametrize("rps", [5, 64])
def test_rgb_roundtrip(comp, rps):
    img = _rgb(comp * 100 + rps)
    out, meta = T.decode_tiff(T.encode_tiff(img, compression=comp,
                                            rows_per_strip=rps))
    assert np.array_equal(out, img)
    assert (meta["width"], meta["height"]) == (17, 23)
    assert meta["compression"] == comp
    assert meta["tiepoint"] is None and meta["epsg"] is None


@pytest.mark.parametrize("comp", [1, 8, 32773])
def test_dem_float32_roundtrip(comp):
    dem = np.random.RandomState(comp).normal(
        scale=1000, size=(19, 11)).astype(np.float32)
    out, meta = T.decode_tiff(T.encode_tiff(dem, compression=comp,
                                            rows_per_strip=4))
    assert out.dtype == np.float32 and np.array_equal(out, dem)


def test_geo_tags_roundtrip():
    img = _rgb(7)
    out, meta = T.decode_tiff(T.encode_tiff(
        img, pixel_scale=(0.001, 0.001), tiepoint=(-73.5, 45.25),
        epsg=4326))
    assert meta["pixel_scale"] == (0.001, 0.001)
    assert meta["tiepoint"] == (-73.5, 45.25)
    assert meta["epsg"] == 4326


def test_big_endian_decode():
    """Hand-built MM 2x2 RGB uncompressed single-strip TIFF."""
    pixels = bytes(range(12))
    entries = [
        (256, 3, 1, 2), (257, 3, 1, 2), (259, 3, 1, 1), (262, 3, 1, 2),
        (277, 3, 1, 3), (278, 3, 1, 2),
    ]
    # BitsPerSample [8,8,8] out-of-line; strip tables inline
    n = len(entries) + 3
    ifd_off = 8
    bits_off = ifd_off + 2 + 12 * n + 4
    data_off = bits_off + 6
    body = struct.pack(">H", n)
    all_entries = sorted(
        entries + [(258, 3, 3, bits_off), (273, 4, 1, data_off),
                   (279, 4, 1, 12)])
    for tag, typ, count, val in all_entries:
        if typ == 3 and count == 1:
            body += struct.pack(">HHIHH", tag, typ, count, val, 0)
        else:
            body += struct.pack(">HHII", tag, typ, count, val)
    body += struct.pack(">I", 0)
    blob = (b"MM\0*" + struct.pack(">I", ifd_off) + body
            + struct.pack(">HHH", 8, 8, 8) + pixels)
    out, meta = T.decode_tiff(blob)
    assert out.shape == (2, 2, 3)
    assert np.array_equal(out.ravel(), np.arange(12, dtype=np.uint8))


@settings(max_examples=30, deadline=None)
@given(st.binary(max_size=600))
def test_packbits_roundtrip_fuzz(data):
    assert T.packbits_decode(T.packbits_encode(data), len(data)) == data


def test_packbits_long_runs_and_literals():
    for data in (b"\x00" * 1000, bytes(range(256)) * 4,
                 b"ab" * 300, b"", b"\xff"):
        enc = T.packbits_encode(data)
        assert T.packbits_decode(enc, len(data)) == data
    # a run must compress
    assert len(T.packbits_encode(b"\x07" * 500)) < 12


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b"XX" + b[2:], "not a TIFF"),
    (lambda b: b[:40], "corrupt|truncated"),
    (lambda b: b[:-30], "corrupt TIFF"),
])
def test_corrupt_rejection(mutate, msg):
    blob = T.encode_tiff(_rgb(1), compression=1)
    with pytest.raises(ValueError, match=msg):
        T.decode_tiff(mutate(blob))


def test_unsupported_compression_rejected():
    blob = bytearray(T.encode_tiff(_rgb(2), compression=1))
    i = blob.find(struct.pack("<HH", 259, 3))
    blob[i + 8:i + 10] = struct.pack("<H", 7)   # claim JPEG-in-TIFF
    with pytest.raises(ValueError, match="compression 7"):
        T.decode_tiff(bytes(blob))


def test_encode_rejects_bad_shapes():
    with pytest.raises(ValueError, match="uint8 or"):
        T.encode_tiff(np.zeros((4, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="unsupported TIFF compression"):
        T.encode_tiff(_rgb(3), compression=7)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(1, 40), st.integers(1, 40),
       st.sampled_from([1, 5, 8, 32773]), st.integers(1, 50))
def test_tiff_roundtrip_fuzz(seed, h, w, comp, rps):
    img = np.random.RandomState(seed).randint(
        0, 256, (h, w, 3)).astype(np.uint8)
    out, meta = T.decode_tiff(
        T.encode_tiff(img, compression=comp, rows_per_strip=rps))
    assert np.array_equal(out, img)


def test_dem_pixels_explode(spark):
    """1:N DEM explode reproduces the planted grid exactly and rejects
    RGB payloads."""
    import pytest as _pytest
    from geotiff_processor_spark.operators.multimodal import dem_pixels

    dem = np.arange(12, dtype=np.float32).reshape(3, 4)
    blob = T.encode_tiff(dem, compression=32773, rows_per_strip=2)
    df = spark.createDataFrame([("m", bytearray(blob))],
                               "map_id string, tiff binary")
    rows = {(r["px"], r["py"]): r["elev"] for r in dem_pixels(df).collect()}
    assert len(rows) == 12
    for (x, y), v in rows.items():
        assert v == float(dem[y, x])
    rgb = T.encode_tiff(_rgb(4))
    bad = spark.createDataFrame([("m", bytearray(rgb))],
                                "map_id string, tiff binary")
    with _pytest.raises(Exception, match="single-band float"):
        dem_pixels(bad).collect()


@pytest.mark.parametrize("pred", [1, 2])
def test_lzw_roundtrip(pred):
    img = _rgb(pred * 11)
    out, meta = T.decode_tiff(T.encode_tiff(
        img, compression=5, rows_per_strip=6, predictor=pred))
    assert np.array_equal(out, img) and meta["compression"] == 5


def test_lzw_predictor_compresses_smooth_rasters():
    smooth = np.cumsum(np.random.RandomState(0).randint(
        0, 3, (64, 64, 3)).astype(np.uint8), axis=1).astype(np.uint8)
    plain = len(T.encode_tiff(smooth, compression=5, predictor=1))
    pred = len(T.encode_tiff(smooth, compression=5, predictor=2))
    assert pred < plain


def test_predictor_rejected_on_float():
    dem = np.zeros((4, 4), dtype=np.float32)
    with pytest.raises(ValueError, match="predictor 2"):
        T.encode_tiff(dem, compression=5, predictor=2)


@settings(max_examples=25, deadline=None)
@given(st.binary(max_size=3000))
@example(b"abc")
def test_lzw_raw_roundtrip_fuzz(data):
    assert T.lzw_decode(T.lzw_encode(data), len(data)) == data
    # a zero-byte strip decodes to nothing, whatever its payload holds
    assert T.lzw_decode(T.lzw_encode(data), 0) == b""


def test_lzw_table_reset_path():
    rng = np.random.RandomState(7)
    data = bytes(rng.randint(0, 256, 60000).astype(np.uint8))
    assert T.lzw_decode(T.lzw_encode(data), len(data)) == data
