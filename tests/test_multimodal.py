"""Multimodal plumbing: metadata sniff, stubbed decode, 1:N samplers."""

import hashlib

import pytest
from pyspark.sql import functions as F

from geotiff_processor_spark.operators import multimodal
from geotiff_processor_spark.sources import synth


def _pages(spark, sf_dir, n=None):
    p = synth.build_pages(spark, sf_dir, with_html=True)
    return p.limit(n) if n else p


def test_media_meta_kinds(spark, sf_dir):
    mm = multimodal.extract_media_meta(_pages(spark, sf_dir, 20))
    rows = mm.select("media_meta.*").collect()
    assert all(r["kind"] == "html" for r in rows)
    assert all(r["magic_hex"] == "3C68746D" for r in rows)
    # jpeg magic detection
    df = spark.createDataFrame(
        [("a", bytearray(b"\xff\xd8\xff\xe0rest"))], ["url", "html"])
    r = multimodal.extract_media_meta(df).select("media_meta.*").first()
    assert r["kind"] == "jpeg" and r["n_bytes"] == 8


def test_decode_strict_raises(spark, sf_dir):
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_images(
            _pages(spark, sf_dir, 5), strict=True).collect()


def test_decode_deterministic(spark, sf_dir):
    a = multimodal.decode_images(_pages(spark, sf_dir, 30))
    b = multimodal.decode_images(_pages(spark, sf_dir, 30))
    assert a.exceptAll(b).count() == 0
    rows = a.collect()
    assert all(r["height"] == 16 and r["width"] == 16 for r in rows)
    assert all(0 <= r["mean_r"] <= 255 for r in rows)


def test_thumbnail_is_1_to_n(spark, sf_dir):
    n = 10
    th = multimodal.thumbnail_stats(_pages(spark, sf_dir, n))
    assert th.count() == n * 16  # 4x4 thumb cells per payload


def test_frame_sample_matches_local_hash(spark, sf_dir):
    p = _pages(spark, sf_dir, 5)
    fs = multimodal.frame_sample(p).collect()
    payloads = {r["url"]: bytes(r["html"]) for r in p.collect()}
    assert len(fs) == 5 * 3  # frames 0,4,8
    for r in fs:
        expect = hashlib.sha256(
            payloads[r["url"]]
            + b":" + str(int(r["frame_idx"])).encode()).hexdigest()[:16]
        assert r["frame_sha"] == expect


def test_binary_column_pruned_when_unused(spark, sf_dir, tmp_path):
    """Multimodal scale contract: payloads stay columnar and are pruned
    unless referenced."""
    path = str(tmp_path / "pages")
    _pages(spark, sf_dir).write.parquet(path)
    df = spark.read.parquet(path).select("url", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "html" not in plan

def test_strict_mode_raises_codec_contract(spark, sf_dir):
    """The libjpeg/ffmpeg slot: strict mode must surface a codec error
    from the executor for payload kinds the built-in PNG codec does not
    cover (html here) — no silent fake fallback."""
    import pytest
    from geotiff_processor_spark.operators import multimodal
    from geotiff_processor_spark.sources import synth as _synth
    pages = _synth.build_pages(spark, sf_dir, with_html=True).limit(4)
    out = multimodal.decode_images(pages, strict=True)
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "no codec" in str(ei.value)


def test_strict_mode_decodes_real_png(spark, sf_dir):
    """PNG payloads decode for REAL under strict mode: means equal the
    integer pixel formula of the media table."""
    from geotiff_processor_spark.sources import synth as _synth
    media = _synth.build_media(spark, sf_dir).limit(16)
    rows = multimodal.decode_images(
        media, payload_col="png", key_col="url", strict=True).collect()
    assert len(rows) == 16
    import re

    import numpy as np
    S = _synth.MEDIA_SIZE
    yy, xx = np.mgrid[0:S, 0:S]
    for r in rows:
        i = int(re.search(r"p/(\d+)$", r["url"]).group(1))
        for ch, col in enumerate(("mean_r", "mean_g", "mean_b")):
            ci, cx, cy = _synth.MEDIA_CHANNEL_COEFS[ch]
            expect = float(((i * ci + xx * cx + yy * cy) % 256).mean())
            assert r[col] == expect, (r["url"], col)
        assert r["height"] == S and r["width"] == S


def test_image_dhash_matches_formula_and_groups_dups(spark, sf_dir):
    """dHash equals the bit-exact formula recomputation, and identical
    images (same event id pixels) collide while different ids differ
    (for the planted formula family)."""
    import numpy as np

    from geotiff_processor_spark.functions.png import encode_png
    from geotiff_processor_spark.sources import synth

    media = synth.build_media_staged(spark, sf_dir).limit(30)
    got = {r["url"]: r["dhash"] for r in multimodal.image_dhash(
        media, "png", "url", strict=True).collect()}
    assert len(got) == 30
    # independent numpy recomputation for one image
    import pyspark.sql.functions as F
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(1)
    row = ev.select(F.col("event_id").alias("i"),
                    F.expr(synth.SQL_URL).alias("url")).collect()[0]
    i, s = row["i"], synth.MEDIA_SIZE
    x = np.arange(s)[None, :]
    y = np.arange(s)[:, None]
    chans = [(i * ci + x * cx + y * cy) % 256
             for ci, cx, cy in synth.MEDIA_CHANNEL_COEFS]
    g = 299 * chans[0] + 587 * chans[1] + 114 * chans[2]
    bits = (g[:, :-1] > g[:, 1:]).ravel()
    want = int(sum(int(b) << k for k, b in enumerate(bits)))
    if row["url"] in got:
        assert got[row["url"]] == want
    # duplicate payloads collide
    idx = np.zeros((8, 8, 3), np.uint8)
    dup = encode_png(idx)
    df = spark.createDataFrame(
        [("a", bytearray(dup)), ("b", bytearray(dup))],
        "url string, png binary")
    two = multimodal.image_dhash(df, "png", "url", strict=True).collect()
    assert two[0]["dhash"] == two[1]["dhash"]


def _mixed_media(spark, sf_dir, n=40):
    """n rows of each real codec's payloads in one (url, payload) table."""
    from geotiff_processor_spark.sources import synth as _synth
    parts = [(_synth.build_media, "png"),
             (_synth.build_media_jpeg, "jpg"),
             (_synth.build_media_gif, "gif"),
             (_synth.build_media_tiff, "tiff")]
    out = None
    for build, col in parts:
        df = build(spark, sf_dir).limit(n).select(
            F.concat(F.lit(col + ":"), "url").alias("url"),
            F.col(col).alias("payload"))
        out = df if out is None else out.unionByName(df)
    return out


def test_decode_images_output_independent_of_arrow_batch_size(spark, sf_dir):
    """Batches of 7 rows and of 10,000 rows decode to the same rows:
    the batch decoders and the per-chunk means never mix payloads."""
    media = _mixed_media(spark, sf_dir)
    media = spark.createDataFrame(media.collect(), media.schema)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    rows = {}
    try:
        for size in (7, 10000):
            spark.conf.set(conf, str(size))
            rows[size] = sorted(multimodal.decode_images(
                media, payload_col="payload", key_col="url",
                strict=True).collect())
    finally:
        spark.conf.set(conf, old)
    assert len(rows[7]) == 160
    assert rows[7] == rows[10000]


def test_decode_images_corrupt_payload_raises_value_error(spark, sf_dir):
    """One corrupt payload of each codec fails the query with the
    codec's ValueError, never an IndexError."""
    media = _mixed_media(spark, sf_dir, 5).collect()
    for codec in ("png", "jpg", "gif", "tiff"):
        rows = [(r["url"], r["payload"]) for r in media]
        k = next(i for i, r in enumerate(rows) if r[0].startswith(codec))
        rows[k] = (rows[k][0], rows[k][1][:len(rows[k][1]) // 2])
        df = spark.createDataFrame(rows, "url string, payload binary")
        with pytest.raises(Exception) as ei:
            multimodal.decode_images(df, payload_col="payload",
                                     key_col="url", strict=True).collect()
        assert "ValueError" in str(ei.value), codec
        assert "IndexError" not in str(ei.value), codec


def test_chunks_cover_a_batch_in_order_within_the_byte_budget():
    mb = 1 << 20
    payloads = [b"x" * n for n in (3 * mb, 3 * mb, 10, 10, 5 * mb, 1)]
    parts = list(multimodal._chunks(payloads))
    assert [(p.start, p.stop) for p in parts] == [(0, 1), (1, 4), (4, 5),
                                                  (5, 6)]
    for p in parts:
        size = sum(map(len, payloads[p]))
        assert size <= multimodal._CHUNK_BYTES or p.stop - p.start == 1
