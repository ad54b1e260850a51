"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. Every magic kind the sniffer knows decodes for REAL:
PNG via ``functions.png`` (stdlib zlib), JPEG via ``functions.jpeg``
(huffman + IDCT + YCbCr->RGB), GIF via ``functions.gif`` (LZW),
(Geo)TIFF via ``functions.tiff``, RIFF/WAVE via ``functions.wav``, and
video via ``functions.y4m`` — no PIL/libjpeg/ffmpeg needed. Unknown payload
kinds fall back to a deterministic fake decoder (default) or raise
(strict mode) — the slot where ffmpeg would plug in on a real cluster
for compressed video/audio containers.

Operators:
- ``extract_media_meta``: sniff magic bytes + sizes from the binary
  column — native expressions only (substring on binary), no Python.
- ``decode_images``: mapInPandas batch decoder — real PNG, JPEG, GIF
  and TIFF decode where the magic matches, fake/strict elsewhere; emits
  (h, w, mean RGB), the post-decode feature extraction of a training
  pipeline.
- ``thumbnail_stats``: "resize" analog — block-average the pixel grid
  to a fixed thumbnail, emit per-channel means (the reference's
  preview downsample, /root/reference/export_formats/previews.py:24-39).
- ``frame_sample``: 1:N UDTF-shaped sampler for video-like payloads —
  emits every k-th frame index with a deterministic frame fingerprint
  (sha256(payload || ':' || idx) — ASCII-safe so the DuckDB oracle
  reproduces it).

Scale notes: payloads never shuffle (all ops are map-side; aggregations
happen on extracted features); binary columns stay columnar in parquet
and are pruned unless referenced. A codec's payloads of one Arrow batch
decode together: ``decode_{png,jpeg,gif,tiff}_batch`` run the hot
loops (LZW codes, PNG scanlines, JPEG dequant + IDCT) once per batch in
numpy, and only container parsing and entropy decoding stay per
payload. Each batch is decoded in chunks of about ``_CHUNK_BYTES``
payload bytes, so a worker's decoded pixels stay bounded whatever the
Arrow batch size.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STRICT_DECODE = False  # flip to surface NotImplementedError in executors

_MAGIC = [
    ("jpeg", b"\xff\xd8\xff"),
    ("png", b"\x89PNG"),
    ("gif", b"GIF8"),
    ("tiff", b"II*\0"),
    ("tiff", b"MM\0*"),
    ("riff", b"RIFF"),
    ("y4m", b"YUV4"),
    ("html", b"<htm"),
]


def extract_media_meta(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Typed metadata from the binary column with native expressions:
    (n_bytes, magic, kind). No Python; stays in whole-stage codegen."""
    prefix = F.expr(f"substring({payload_col}, 1, 4)")
    kind = F.lit("bin")
    for name, magic in reversed(_MAGIC):
        kind = F.when(
            F.expr(f"substring({payload_col}, 1, {len(magic)})")
            == F.lit(bytearray(magic)), name).otherwise(kind)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.length(F.col(payload_col)).alias("n_bytes"),
            F.hex(prefix).alias("magic_hex"),
            kind.alias("kind"),
        ),
    )


def _fake_decode(payload: bytes, h: int = 16, w: int = 16) -> np.ndarray:
    """Deterministic fake decoder: payload-hash-seeded uint8 HxWx3 image.

    Stands in for PIL/libjpeg (absent in this container). Deterministic
    so goldens are stable; same batch shape as a real decoder.
    """
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


# payload bytes decoded together: each Arrow batch is decoded in slices
# of about this many payload bytes, which bounds the decoded pixels a
# worker holds at once whatever the batch size
_CHUNK_BYTES = 4 << 20


def _chunks(payloads: list) -> Iterator[slice]:
    """Consecutive slices of ``payloads`` of about ``_CHUNK_BYTES`` each
    (at least one payload)."""
    n = len(payloads)
    ends = np.cumsum([len(p) for p in payloads])
    start = 0
    while start < n:
        base = int(ends[start - 1]) if start else 0
        stop = int(np.searchsorted(ends, base + _CHUNK_BYTES, "right"))
        stop = max(stop, start + 1)
        yield slice(start, stop)
        start = stop


def _kind(p: bytes) -> str | None:
    if p[:4] == b"\x89PNG":
        return "png"
    if p[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if p[:4] == b"GIF8":
        return "gif"
    if p[:4] in (b"II*\0", b"MM\0*"):
        return "tiff"
    return None


def _decode_chunk(payloads: list[bytes], kinds: tuple[str, ...],
                  fake_hw: tuple[int, int], strict: bool,
                  strict_msg: str) -> list[np.ndarray]:
    """Decode one chunk of payloads as (h, w, 3) images: the payloads of
    each codec in ``kinds`` go through that codec's batch decoder;
    others use the fake decoder, or raise in strict mode. PNG keeps RGB
    of RGBA; a float DEM TIFF becomes a gray 3-band float64 image."""
    from ..functions.gif import decode_gif_batch
    from ..functions.jpeg import decode_jpeg_batch
    from ..functions.png import decode_png_batch
    from ..functions.tiff import decode_tiff_batch

    imgs: list = [None] * len(payloads)
    by_kind: dict[str, list[int]] = {}
    for i, p in enumerate(payloads):
        kind = _kind(p)
        if kind in kinds:
            by_kind.setdefault(kind, []).append(i)
        elif strict:
            raise ValueError(strict_msg.format(magic=p[:4]))
        else:
            imgs[i] = _fake_decode(p, *fake_hw)
    decoders = {"png": decode_png_batch, "jpeg": decode_jpeg_batch,
                "gif": decode_gif_batch, "tiff": decode_tiff_batch}
    for kind, idxs in by_kind.items():
        for i, img in zip(idxs, decoders[kind]([payloads[i] for i in idxs])):
            if kind == "png":
                img = img[:, :, :3]
            elif kind == "tiff":
                img = img[0]
                if img.ndim != 3:          # float DEM -> gray 3-band
                    img = np.repeat(
                        img.astype(np.float64)[:, :, None], 3, axis=2)
            imgs[i] = img
    return imgs


def _channel_means(imgs: list[np.ndarray]) -> tuple[list, ...]:
    """(heights, widths, mean_r, mean_g, mean_b) of (h, w, 3) images.

    Means of uint8 images run per same-shape group (integer pixel sums
    are exact in float64, so a group's reduction is bit-identical to
    per-image means); float images (DEM gray) keep the per-image mean
    for exact fp reduction order."""
    n = len(imgs)
    hh = [im.shape[0] for im in imgs]
    ww = [im.shape[1] for im in imgs]
    mr = [0.0] * n
    mg = [0.0] * n
    mb = [0.0] * n
    by_shape: dict[tuple, list[int]] = {}
    for i, im in enumerate(imgs):
        if im.dtype == np.uint8:
            by_shape.setdefault(im.shape, []).append(i)
        else:
            m = im.reshape(-1, 3).mean(axis=0)
            mr[i], mg[i], mb[i] = float(m[0]), float(m[1]), float(m[2])
    for idxs in by_shape.values():
        m = np.stack([imgs[i] for i in idxs]).reshape(
            len(idxs), -1, 3).mean(axis=1).tolist()
        for (r, g, b), i in zip(m, idxs):
            mr[i], mg[i], mb[i] = r, g, b
    return hh, ww, mr, mg, mb


def decode_images(df: DataFrame, payload_col: str = "html",
                  key_col: str = "url", h: int = 16, w: int = 16,
                  strict: bool | None = None) -> DataFrame:
    """Batch image decode via mapInPandas (Arrow-vectorized transfer).

    Returns (key, height, width, mean_r, mean_g, mean_b) — the feature
    extraction a training pipeline runs post-decode. PNG, baseline and
    progressive JPEG, GIF and (Geo)TIFF payloads decode for REAL, each
    codec's payloads of a chunk together (``decode_*_batch``); unknown
    payload kinds use the deterministic fake decoder, or raise with
    strict=True (the remaining ffmpeg slot for compressed containers
    this repo has no codec for).
    """
    strict = STRICT_DECODE if strict is None else strict
    schema = (f"{key_col} string, height int, width int,"
              " mean_r double, mean_g double, mean_b double")
    msg = ("no codec for payload magic {magic!r}: only the built-in PNG,"
           " JPEG, GIF and (Geo)TIFF codecs are available in this"
           " container (ffmpeg slot)")

    def decode(batches):
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                imgs = _decode_chunk(payloads[part],
                                     ("png", "jpeg", "gif", "tiff"),
                                     (h, w), strict, msg)
                hh, ww, mr, mg, mb = _channel_means(imgs)
                yield pd.DataFrame({key_col: keys[part], "height": hh,
                                    "width": ww, "mean_r": mr,
                                    "mean_g": mg, "mean_b": mb})

    return df.select(key_col, payload_col).mapInPandas(decode, schema=schema)


def decode_geotiff(df: DataFrame, payload_col: str = "tiff",
                   key_col: str = "url") -> DataFrame:
    """Batch GeoTIFF decode via mapInPandas (functions/tiff.py): the
    reference's own ingest format, parsed for real — strip walk,
    PackBits/Deflate/LZW decompression, AND the georeferencing tags
    (ModelTiepoint + GeoKeyDirectory EPSG), so the oracle checks the
    geo transform alongside pixel content.

    Returns (key, height, width, mean_r, mean_g, mean_b, lonm, latm,
    epsg) — tiepoint reported in exact millidegrees. Payload bytes
    never shuffle; all downstream math is on extracted features."""
    schema = (f"{key_col} string, height int, width int,"
              " mean_r double, mean_g double, mean_b double,"
              " lonm bigint, latm bigint, epsg int")

    def decode(batches):
        from ..functions.tiff import decode_tiff_batch
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                decoded = decode_tiff_batch(payloads[part])
                imgs = []
                for arr, _meta in decoded:
                    if arr.ndim != 3:          # float DEM -> gray 3-band
                        arr = np.repeat(
                            arr.astype(np.float64)[:, :, None], 3, axis=2)
                    imgs.append(arr)
                _hh, _ww, mr, mg, mb = _channel_means(imgs)
                ties = [meta["tiepoint"] or (None, None)
                        for _arr, meta in decoded]
                yield pd.DataFrame({
                    key_col: keys[part],
                    "height": [meta["height"] for _a, meta in decoded],
                    "width": [meta["width"] for _a, meta in decoded],
                    "mean_r": mr, "mean_g": mg, "mean_b": mb,
                    "lonm": pd.array([None if t[0] is None
                                      else round(t[0] * 1000)
                                      for t in ties], "Int64"),
                    "latm": pd.array([None if t[1] is None
                                      else round(t[1] * 1000)
                                      for t in ties], "Int64"),
                    "epsg": pd.array([meta["epsg"] for _a, meta in decoded],
                                     "Int64")})

    return df.select(key_col, payload_col).mapInPandas(decode, schema=schema)


def dem_pixels(df: DataFrame, payload_col: str = "tiff",
               key_col: str = "map_id") -> DataFrame:
    """1:N GeoTIFF-DEM explode: one float32 DEM payload -> one row per
    pixel (key, px, py, elev) — the raster-as-table bridge that lets
    every downstream raster operator (hillshade, pyramid, zonal,
    percentile) run on REAL ingested bytes. Arrow-batched; each payload
    decodes in the executor that holds it (at fleet scale a directory
    of DEM tiles decodes embarrassingly parallel, one task per file
    split), and only (key, int, int, double) rows ever shuffle."""
    schema = f"{key_col} string, px int, py int, elev double"

    def gen(batches):
        from ..functions.tiff import decode_tiff_batch
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                decoded = decode_tiff_batch(payloads[part])
                for key, (arr, _) in zip(keys[part], decoded):
                    if arr.ndim != 2:
                        raise ValueError(
                            "dem_pixels expects single-band float DEM"
                            " TIFFs")
                    h, w = arr.shape
                    yy, xx = np.mgrid[0:h, 0:w]
                    yield pd.DataFrame({
                        key_col: np.repeat(key, h * w),
                        "px": xx.ravel().astype(np.int32),
                        "py": yy.ravel().astype(np.int32),
                        "elev": arr.ravel().astype(np.float64),
                    })

    return df.select(key_col, payload_col).mapInPandas(gen, schema)


def decode_audio(df: DataFrame, payload_col: str = "wav",
                 key_col: str = "url") -> DataFrame:
    """Batch audio decode via mapInPandas: REAL RIFF/WAVE PCM16 parse
    (functions/wav.py) -> per-payload amplitude features
    (frames, rate, channels, mean |sample|, peak |sample|) — the
    feature extraction an audio training pipeline runs post-decode.
    PCM is lossless, so planted integer-formula payloads make this
    end-to-end hash-checkable against a SQL oracle."""
    schema = (f"{key_col} string, n_frames int, sample_rate int,"
              " n_channels int, mean_abs double, peak int")

    def decode(batches):
        from ..functions.wav import decode_wav
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                yield _audio_features(keys[part],
                                      [decode_wav(p) for p in payloads[part]],
                                      key_col)

    return df.select(key_col, payload_col).mapInPandas(decode, schema=schema)


def _audio_features(keys: list, decoded: list, key_col: str
                    ) -> pd.DataFrame:
    n = len(decoded)
    out = {key_col: keys,
           "n_frames": [a.shape[0] for _, a in decoded],
           "sample_rate": [r for r, _ in decoded],
           "n_channels": [a.shape[1] for _, a in decoded],
           "mean_abs": [0.0] * n, "peak": [0] * n}
    # |sample| mean/peak batched across same-shape payloads: integer
    # sums are exact in float64 at any reduction order, so values are
    # identical to per-payload
    by_shape: dict[tuple, list[int]] = {}
    for i, (_r, a) in enumerate(decoded):
        by_shape.setdefault(a.shape, []).append(i)
    for idxs in by_shape.values():
        aa = np.abs(np.stack(
            [decoded[i][1] for i in idxs]).astype(np.int64))
        means = aa.reshape(len(idxs), -1).mean(axis=1)
        peaks = aa.reshape(len(idxs), -1).max(axis=1)
        for j, i in enumerate(idxs):
            out["mean_abs"][i] = float(means[j])
            out["peak"][i] = int(peaks[j])
    return pd.DataFrame(out)


def decode_video(df: DataFrame, payload_col: str = "y4m",
                 key_col: str = "url", every: int = 2) -> DataFrame:
    """Batch video decode + frame sampling via mapInPandas: REAL
    YUV4MPEG2 parse (functions/y4m.py) -> one row per SAMPLED frame
    (every ``every``-th) with per-plane means — the decode +
    frame-sample + feature-extract stage of a multimodal training
    pipeline, now on real bytes end to end (this replaces the fake
    fingerprint path for video payloads; reference analog: the
    reference's media work all shells to external tools,
    /root/reference/export_formats/previews.py:24-39).

    1:N UDTF-shaped like ``frame_sample``; Y4M is lossless, so planted
    integer-formula payloads are hash-checkable against a SQL oracle.
    Scale: map-side only, payloads never shuffle; sampling inside the
    kernel means unsampled frames are decoded but never emitted (a
    frame-seeking decoder would skip them; Y4M's fixed frame size
    makes the skip trivial, kept simple here)."""
    schema = (f"{key_col} string, frame_idx int, n_frames int,"
              " width int, height int, fps_num int,"
              " mean_y double, mean_u double, mean_v double")

    def decode(batches):
        from ..functions.y4m import decode_y4m
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                yield _video_rows(keys[part],
                                  [decode_y4m(p) for p in payloads[part]],
                                  key_col, every)

    return df.select(key_col, payload_col).mapInPandas(decode, schema=schema)


def _video_rows(keys: list, decoded: list, key_col: str, every: int
                ) -> pd.DataFrame:
    # per-frame plane means batched across same-shape payloads: uint8
    # sums are exact in float64 at any reduction order, so values match
    # the per-payload means
    all_means: list = [None] * len(decoded)
    by_shape: dict[tuple, list[int]] = {}
    for i, (_w, _h, _fps, frames) in enumerate(decoded):
        by_shape.setdefault(frames.shape, []).append(i)
    for idxs in by_shape.values():
        stack = np.stack([decoded[i][3] for i in idxs]).astype(np.float64)
        ms = stack.mean(axis=(2, 3))
        for j, i in enumerate(idxs):
            all_means[i] = ms[j]
    rows = {k: [] for k in (key_col, "frame_idx", "n_frames", "width",
                            "height", "fps_num", "mean_y", "mean_u",
                            "mean_v")}
    for key, (w, h, fps, frames), means in zip(keys, decoded, all_means):
        mono = frames.ndim == 3  # Cmono: luma only, no chroma
        for fi in range(0, frames.shape[0], every):
            rows[key_col].append(key)
            rows["frame_idx"].append(fi)
            rows["n_frames"].append(frames.shape[0])
            rows["width"].append(w)
            rows["height"].append(h)
            rows["fps_num"].append(fps[0])
            if mono:
                rows["mean_y"].append(float(means[fi]))
                rows["mean_u"].append(None)
                rows["mean_v"].append(None)
            else:
                rows["mean_y"].append(float(means[fi, 0]))
                rows["mean_u"].append(float(means[fi, 1]))
                rows["mean_v"].append(float(means[fi, 2]))
    return pd.DataFrame(rows)


def thumbnail_stats(df: DataFrame, payload_col: str = "html",
                    key_col: str = "url", src: int = 16,
                    thumb: int = 4) -> DataFrame:
    """Resize analog: decode then block-average to a thumb x thumb grid;
    emits one row per thumbnail cell (UDTF-shaped 1:N)."""
    k = src // thumb
    schema = (f"{key_col} string, ty int, tx int,"
              " mean_r double, mean_g double, mean_b double")

    def resize(batches):
        for pdf in batches:
            rows = {key_col: [], "ty": [], "tx": [],
                    "mean_r": [], "mean_g": [], "mean_b": []}
            for key, payload in zip(pdf[key_col], pdf[payload_col]):
                img = _fake_decode(bytes(payload), src, src).astype(np.float64)
                # block average: (thumb, k, thumb, k, 3) -> mean over k-axes
                blocks = img.reshape(thumb, k, thumb, k, 3).mean(axis=(1, 3))
                for ty in range(thumb):
                    for tx in range(thumb):
                        rows[key_col].append(key)
                        rows["ty"].append(ty)
                        rows["tx"].append(tx)
                        rows["mean_r"].append(float(blocks[ty, tx, 0]))
                        rows["mean_g"].append(float(blocks[ty, tx, 1]))
                        rows["mean_b"].append(float(blocks[ty, tx, 2]))
            yield pd.DataFrame(rows)

    return df.select(key_col, payload_col).mapInPandas(resize, schema=schema)


def frame_sample(df: DataFrame, payload_col: str = "html",
                 key_col: str = "url", n_frames: int = 12,
                 every: int = 4) -> DataFrame:
    """Video frame-sampling analog: treat the payload as an n_frames
    sequence, emit every `every`-th frame with a deterministic
    fingerprint sha256(payload || ':' || ascii(frame_idx)) — the index
    suffix is ASCII (not packed bytes) so DuckDB's VARCHAR-only sha256
    reproduces it and the query is hash-match oracle-checkable."""
    schema = f"{key_col} string, frame_idx int, frame_sha string"

    def sample(batches):
        for pdf in batches:
            keys, idxs, shas = [], [], []
            for key, payload in zip(pdf[key_col], pdf[payload_col]):
                p = bytes(payload)
                for i in range(0, n_frames, every):
                    keys.append(key)
                    idxs.append(i)
                    shas.append(hashlib.sha256(
                        p + b":" + str(i).encode()).hexdigest()[:16])
            yield pd.DataFrame(
                {key_col: keys, "frame_idx": idxs, "frame_sha": shas})

    return df.select(key_col, payload_col).mapInPandas(sample, schema=schema)


def image_dhash(df: DataFrame, payload_col: str = "png",
                key_col: str = "url",
                strict: bool | None = None) -> DataFrame:
    """Perceptual difference hash (dHash) per image — the multimodal
    near-dup key: decode (real codecs), integer luma
    (299R + 587G + 114B, exact in int32), then one bit per horizontal
    neighbor pair (gray[y][x] > gray[y][x+1]) packed row-major into a
    bigint ((w-1) * h bits; 56 for the 8x8 media table). Images whose
    hash collides are near-duplicates up to brightness/contrast shifts
    — group on the hash exactly like text dedup groups on md5.

    Exactness: every step is integer arithmetic on decoded pixels, so
    for losslessly-coded payloads (PNG/GIF) the hash is a pure
    function of the planted formula and the DuckDB oracle recomputes
    it bit-for-bit.

    Returns (key, dhash bigint).
    """
    strict = STRICT_DECODE if strict is None else strict
    schema = f"{key_col} string, dhash bigint"

    def gen(batches):
        for pdf in batches:
            keys = pdf[key_col].tolist()
            payloads = [bytes(p) for p in pdf[payload_col]]
            for part in _chunks(payloads):
                imgs = _decode_chunk(payloads[part], ("png", "jpeg", "gif"),
                                     (8, 8), strict,
                                     "no codec for payload magic {magic!r}")
                yield pd.DataFrame({key_col: keys[part],
                                    "dhash": pd.array(_dhash(imgs),
                                                      "int64")})

    return df.mapInPandas(gen, schema)


def _dhash(imgs: list[np.ndarray]) -> list[int]:
    """dHash of each (h, w, 3) image (see ``image_dhash``)."""
    # luma + bit packing vectorized across the images, grouped by shape
    hashes: list[int] = [0] * len(imgs)
    by_shape: dict[tuple, list[int]] = {}
    for i, im in enumerate(imgs):
        by_shape.setdefault(im.shape, []).append(i)
    for idxs in by_shape.values():
        arr = np.stack([imgs[i] for i in idxs]).astype(np.int64)
        g = 299 * arr[..., 0] + 587 * arr[..., 1] + 114 * arr[..., 2]
        bits = (g[:, :, :-1] > g[:, :, 1:]).reshape(len(idxs), -1)
        weights = np.left_shift(
            np.uint64(1), np.arange(bits.shape[1], dtype=np.uint64))
        vals = (bits.astype(np.uint64) * weights).sum(axis=1)
        for i, v in zip(idxs, vals):
            hashes[i] = int(v)
    return hashes


def sql_image_dhash(dialect: str = "duckdb") -> str:
    """The identical 56-bit dHash of the 8x8 PNG media formula as SQL
    over (i): per (y, x<7) bit (g(x,y) > g(x+1,y)) << (y*7+x), summed.
    Bit shifts on bigint are exact (sum of distinct powers < 2^56)."""
    from ..sources.synth import MEDIA_CHANNEL_COEFS, MEDIA_SIZE

    (r_i, r_x, r_y), (g_i, g_x, g_y), (b_i, b_x, b_y) = \
        MEDIA_CHANNEL_COEFS

    def gray(x: str) -> str:
        return (f"(299 * ((i*{r_i} + {x}*{r_x} + y*{r_y}) % 256)"
                f" + 587 * ((i*{g_i} + {x}*{g_x} + y*{g_y}) % 256)"
                f" + 114 * ((i*{b_i} + {x}*{b_x} + y*{b_y}) % 256))")

    if dialect == "duckdb":
        shift = "(cast(1 as bigint) << cast(y * 7 + x as integer))"
    else:
        shift = "shiftleft(cast(1 as bigint), cast(y * 7 + x as int))"
    bit = (f"case when {gray('x')} > {gray('(x + 1)')}"
           f" then {shift} else 0 end")
    s = MEDIA_SIZE
    if dialect == "duckdb":
        grid = (f"(SELECT range AS x FROM range({s - 1})) xs,"
                f" (SELECT range AS y FROM range({s})) ys")
    else:
        grid = (f"(SELECT explode(sequence(0, {s - 2})) AS x) xs,"
                f" (SELECT explode(sequence(0, {s - 1})) AS y) ys")
    return (f"SELECT i, cast(sum({bit}) as bigint) AS dhash"
            f" FROM p0, {grid} GROUP BY i")
