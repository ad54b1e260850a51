"""Pure-python/numpy (Geo)TIFF codec — the reference's OWN format.

The reference reads and writes GeoTIFF through GDAL
(``/root/reference/process.py`` open, ``export_formats/storageRGB.py``
/ ``storageDEM.py`` GTiff driver); this engine decodes in executors
where native codecs may not be installable, so the format the whole
pipeline revolves around gets a real from-scratch codec like
PNG/JPEG/GIF/WAV/Y4M before it.

Supported, both directions:
- baseline strip-organized TIFF, little- OR big-endian (decode; the
  encoder emits little-endian "II"),
- RGB uint8 (PhotometricInterpretation=2, SamplesPerPixel=3) and
  single-band float32 DEM (Photometric=1, SampleFormat=IEEEFP) — the
  reference's two product kinds (storageRGB / storageDEM),
- Compression 1 (none), 32773 (PackBits), 8 (Adobe Deflate/zlib)
  and 5 (LZW, EarlyChange + optional horizontal predictor 2 — the
  codec most real-world GeoTIFFs ship with),
- multi-strip layouts (RowsPerStrip < height),
- GeoTIFF georeferencing: ModelPixelScale (33550), ModelTiepoint
  (33922) and a minimal GeoKeyDirectory (34735) carrying the EPSG
  code — the tags gdalinfo reports as the geotransform
  (helpers.py:52-60 analog).

Unsupported (documented, raise ValueError): tiles, palette TIFF,
JPEG-in-TIFF compression, PlanarConfiguration=2.

``decode_tiff`` decodes one payload, LZW strips with the scalar
``lzw_decode``; it is the reference. ``decode_tiff_batch`` returns the
same for a whole batch, with the LZW strips of all payloads decoded
together by ``functions.lzw``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import lzw as _lzw

# tag ids
_WIDTH, _HEIGHT = 256, 257
_BITS, _COMPRESSION, _PHOTOMETRIC = 258, 259, 262
_STRIP_OFFSETS, _SPP, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PLANAR, _SAMPLE_FORMAT = 284, 339
_PREDICTOR = 317
_PIXEL_SCALE, _TIEPOINT, _GEO_KEYS = 33550, 33922, 34735

_TYPE_SHORT, _TYPE_LONG, _TYPE_DOUBLE = 3, 4, 12
_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8}

# GeoKey ids for the minimal directory the encoder writes
_GT_MODEL_TYPE, _GT_RASTER_TYPE, _GEODETIC_CRS = 1024, 1025, 2048


def packbits_encode(data: bytes) -> bytes:
    """Apple PackBits RLE (TIFF spec §9): literal runs and repeat runs,
    both capped at 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while (i + run < n and run < 128
               and data[i + run] == data[i]):
            run += 1
        if run >= 2:
            out.append((257 - run) & 0xFF)
            out.append(data[i])
            i += run
            continue
        # literal run: until the next >=3 repeat (a 2-repeat inside a
        # literal is cheaper left literal) or 128 bytes
        j = i + 1
        while j < n and j - i < 128:
            if (j + 2 < n and data[j] == data[j + 1] == data[j + 2]):
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:                      # literal: h+1 bytes
            if i + h + 1 > n:
                raise ValueError("corrupt PackBits stream: literal "
                                 "overruns input")
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:                    # repeat: 257-h copies
            if i >= n:
                raise ValueError("corrupt PackBits stream: repeat "
                                 "missing byte")
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # h == 128: no-op
    if len(out) != expected:
        raise ValueError(
            f"corrupt PackBits stream: {len(out)} != {expected} bytes")
    return bytes(out)


_LZW_CLEAR, _LZW_EOI, _LZW_FIRST = 256, 257, 258


def lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW (spec §13): MSB-first bit packing, 9->12 bit
    codes with the EarlyChange rule (width bumps when the NEXT code to
    assign is 2^w - 1 — one entry earlier than pure LZW; the libtiff
    convention every real GeoTIFF uses), table reset at 4094."""
    out = bytearray()
    acc = n_acc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n_acc
        acc = (acc << width) | code
        n_acc += width
        while n_acc >= 8:
            n_acc -= 8
            out.append((acc >> n_acc) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt, width = _LZW_FIRST, 9
    emit(_LZW_CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        elif nxt == 4094:                # table full: reset
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = _LZW_FIRST, 9
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if n_acc:
        out.append((acc << (8 - n_acc)) & 0xFF)
    return bytes(out)


# base decoder table (codes 0-255 + CLEAR/EOI placeholders): built once
# at import, copied per stream — rebuilding 258 bytes objects per CLEAR
# was a visible slice of the per-decode profile (round 6)
_LZW_BASE: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]


def lzw_decode(data: bytes, expected: int) -> bytes:
    """Inverse of ``lzw_encode`` — same EarlyChange width schedule on
    the reader side (width bumps when the next code to ASSIGN is
    2^w - 1).

    Hot-loop form (round 6, mirroring gif._lzw_decode): bits
    accumulate MSB-first in a bounded int, the table length and the
    next width-bump threshold live in locals, and there is no
    per-code closure call — the previous ``read()``-per-code form was
    ~130 calls/decode and dominated decode_geotiff's worker profile.
    """
    if expected == 0:
        # a zero-byte strip: the first code would already overshoot
        return b""
    out = bytearray()
    table = _LZW_BASE[:]
    tlen = _LZW_FIRST
    width, prev = 9, None
    # the decoder's table is ONE entry behind the encoder's (its
    # entry for code j completes when code j+1 arrives), so the
    # EarlyChange bump lands at 2^w - 2 here vs 2^w - 1 on the
    # writer side — the classic paired off-by-one of TIFF LZW
    bump = (1 << 9) - 2
    acc = nbits = 0
    done = False
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            acc &= (1 << nbits) - 1
            if code == _LZW_EOI:
                done = True
                break
            if code == _LZW_CLEAR:
                table = _LZW_BASE[:]
                tlen = _LZW_FIRST
                width, prev = 9, None
                bump = (1 << 9) - 2
                continue
            if prev is None:
                if code >= tlen:
                    raise ValueError("corrupt LZW stream: first code out"
                                     " of range")
                entry = table[code]
            elif code < tlen:
                entry = table[code]
                table.append(prev + entry[:1])
                tlen += 1
            elif code == tlen:
                entry = prev + prev[:1]
                table.append(entry)
                tlen += 1
            else:
                raise ValueError("corrupt LZW stream: code gap")
            out += entry
            prev = entry
            if tlen == bump and width < 12:
                width += 1
                bump = (1 << width) - 2
            if len(out) >= expected:
                done = True
                break
        if done:
            break
    if len(out) != expected:
        raise ValueError(
            f"corrupt LZW stream: {len(out)} != {expected} bytes")
    return bytes(out)


def _predict2_encode(rows: "np.ndarray") -> bytes:
    """Horizontal-differencing predictor (tag 317 = 2) over a
    (rows, w, spp) uint8 block: each sample minus its left neighbor,
    mod 256 — runs become zeros, which is what makes LZW bite on
    natural rasters."""
    d = rows.astype(np.int16)
    d[:, 1:, :] -= rows[:, :-1, :].astype(np.int16)
    return (d % 256).astype(np.uint8).tobytes()


def _predict2_decode(raw: bytes, n_rows: int, w: int, spp: int) -> bytes:
    a = np.frombuffer(raw, dtype=np.uint8).reshape(n_rows, w, spp)
    return np.cumsum(a, axis=1, dtype=np.uint32).astype(np.uint8).tobytes()


def _entry(tag: int, typ: int, values, extra: list[bytes],
           extra_base: list[int]) -> bytes:
    """One 12-byte IFD entry; out-of-line payloads appended to
    ``extra`` with a patch slot recorded in ``extra_base``."""
    if typ == _TYPE_SHORT:
        payload = b"".join(struct.pack("<H", v) for v in values)
    elif typ == _TYPE_LONG:
        payload = b"".join(struct.pack("<I", v) for v in values)
    elif typ == _TYPE_DOUBLE:
        payload = b"".join(struct.pack("<d", v) for v in values)
    else:
        raise ValueError(f"unsupported IFD type {typ}")
    head = struct.pack("<HHI", tag, typ, len(values))
    if len(payload) <= 4:
        return head + payload.ljust(4, b"\0")
    extra_base.append(len(b"".join(extra)))
    extra.append(payload)
    return head + b"\0\0\0\0"            # offset patched by caller


def encode_tiff(img: np.ndarray, compression: int = 1,
                rows_per_strip: int = 16,
                pixel_scale: tuple[float, float] | None = None,
                tiepoint: tuple[float, float] | None = None,
                epsg: int | None = None,
                predictor: int = 1) -> bytes:
    """Little-endian strip TIFF from (h, w, 3) uint8 RGB or (h, w)
    float32 DEM. ``pixel_scale``/``tiepoint``/``epsg`` emit the
    GeoTIFF georeferencing tags (tiepoint anchors raster (0,0) at the
    given model x, y)."""
    if img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8:
        spp, bits, photometric, fmt = 3, 8, 2, 1
        raw_rows = np.ascontiguousarray(img)
    elif img.ndim == 2 and img.dtype == np.float32:
        spp, bits, photometric, fmt = 1, 32, 1, 3
        raw_rows = np.ascontiguousarray(img)
    else:
        raise ValueError("encode_tiff: (h,w,3) uint8 or (h,w) float32")
    h, w = img.shape[:2]
    rows_per_strip = min(rows_per_strip, h)
    if predictor == 2 and img.dtype != np.uint8:
        raise ValueError("predictor 2 is defined for uint8 samples")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")

    strips = []
    for y0 in range(0, h, rows_per_strip):
        block = raw_rows[y0:y0 + rows_per_strip]
        if predictor == 2:
            raw = _predict2_encode(block.reshape(block.shape[0], w, spp))
        else:
            raw = block.tobytes()
        if compression == 1:
            strips.append(raw)
        elif compression == 32773:
            strips.append(packbits_encode(raw))
        elif compression == 8:
            strips.append(zlib.compress(raw, 6))
        elif compression == 5:
            strips.append(lzw_encode(raw))
        else:
            raise ValueError(f"unsupported TIFF compression {compression}")

    entries = []          # (tag, typ, values)
    entries.append((_WIDTH, _TYPE_LONG, [w]))
    entries.append((_HEIGHT, _TYPE_LONG, [h]))
    entries.append((_BITS, _TYPE_SHORT, [bits] * spp))
    entries.append((_COMPRESSION, _TYPE_SHORT, [compression]))
    entries.append((_PHOTOMETRIC, _TYPE_SHORT, [photometric]))
    entries.append((_STRIP_OFFSETS, _TYPE_LONG, [0] * len(strips)))
    entries.append((_SPP, _TYPE_SHORT, [spp]))
    entries.append((_ROWS_PER_STRIP, _TYPE_LONG, [rows_per_strip]))
    entries.append((_STRIP_COUNTS, _TYPE_LONG,
                    [len(s) for s in strips]))
    entries.append((_PLANAR, _TYPE_SHORT, [1]))
    if predictor == 2:
        entries.append((_PREDICTOR, _TYPE_SHORT, [2]))
    entries.append((_SAMPLE_FORMAT, _TYPE_SHORT, [fmt] * spp))
    if pixel_scale is not None:
        entries.append((_PIXEL_SCALE, _TYPE_DOUBLE,
                        [pixel_scale[0], pixel_scale[1], 0.0]))
    if tiepoint is not None:
        entries.append((_TIEPOINT, _TYPE_DOUBLE,
                        [0.0, 0.0, 0.0, tiepoint[0], tiepoint[1], 0.0]))
    if epsg is not None:
        # minimal GeoKeyDirectory: version 1.1.0, 3 keys inline
        entries.append((_GEO_KEYS, _TYPE_SHORT, [
            1, 1, 0, 3,
            _GT_MODEL_TYPE, 0, 1, 2,      # ModelTypeGeographic
            _GT_RASTER_TYPE, 0, 1, 1,     # RasterPixelIsArea
            _GEODETIC_CRS, 0, 1, epsg,
        ]))
    entries.sort()

    # layout: header(8) | IFD | out-of-line tag data | strip data
    ifd_size = 2 + 12 * len(entries) + 4
    extra: list[bytes] = []
    extra_base: list[int] = []
    blobs = []
    for tag, typ, values in entries:
        blobs.append(_entry(tag, typ, values, extra, extra_base))
    extra_off = 8 + ifd_size
    data_off = extra_off + sum(len(e) for e in extra)

    # patch strip offsets now that the layout is fixed
    strip_offsets = []
    off = data_off
    for s in strips:
        strip_offsets.append(off)
        off += len(s)
    patched: list[bytes] = []
    k = 0
    for blob, (tag, typ, values) in zip(blobs, entries):
        payload_len = _TYPE_SIZES[typ] * len(values)
        if payload_len > 4:
            base = extra_off + extra_base[k]
            if tag == _STRIP_OFFSETS:
                extra[k] = b"".join(struct.pack("<I", o)
                                    for o in strip_offsets)
            blob = blob[:8] + struct.pack("<I", base)
            k += 1
        elif tag == _STRIP_OFFSETS:      # single inline strip offset
            blob = blob[:8] + struct.pack("<I", strip_offsets[0])
        patched.append(blob)

    ifd = (struct.pack("<H", len(entries)) + b"".join(patched)
           + struct.pack("<I", 0))
    return (b"II*\0" + struct.pack("<I", 8) + ifd
            + b"".join(extra) + b"".join(strips))


_VALUE_FORMATS = {3: "H", 4: "I", 11: "f", 12: "d"}


def _read_values(data: bytes, e: str, typ: int, count: int,
                 field: int) -> list:
    """Values of one IFD entry whose 4-byte value field is at ``field``."""
    size = _TYPE_SIZES.get(typ)
    if size is None:
        raise ValueError(f"unsupported TIFF IFD type {typ}")
    total = size * count
    off = field
    if total > 4:
        (off,) = struct.unpack_from(e + "I", data, field)
        if off + total > len(data):
            raise ValueError("corrupt TIFF: tag data past EOF")
    fmt = _VALUE_FORMATS.get(typ)
    if fmt is None:
        return list(data[off:off + total])
    return list(struct.unpack_from(f"{e}{count}{fmt}", data, off))


def decode_tiff(data: bytes) -> tuple[np.ndarray, dict]:
    """(pixels, meta): (h, w, 3) uint8 RGB or (h, w) float32 DEM, plus
    {width, height, compression, pixel_scale, tiepoint, epsg}."""
    layout = _parse_tiff(data)
    blocks = [_strip_bytes(layout, strip) for strip in layout["strips"]]
    return _assemble(layout, blocks)


def decode_tiff_batch(datas: list) -> list[tuple[np.ndarray, dict]]:
    """``decode_tiff`` of every payload, with the LZW strips of all
    payloads decoded together (``functions.lzw``). A payload the batch
    path cannot finish goes through ``decode_tiff``, which returns its
    result or raises its ValueError."""
    out: list = [None] * len(datas)
    layouts: dict[int, dict] = {}
    lzw_jobs: list[tuple[int, int]] = []     # (payload, strip)
    for i, d in enumerate(datas):
        try:
            layout = _parse_tiff(d)
        except ValueError:
            out[i] = decode_tiff(d)            # raises the reference's error
            continue
        layouts[i] = layout
        if layout["compression"] == 5:
            lzw_jobs += [(i, k) for k, (off, cnt, _r, expected)
                         in enumerate(layout["strips"])
                         if expected and off + cnt <= len(d)]
    lzw_out: dict[tuple[int, int], bytes] = {}
    if lzw_jobs:
        strips = [layouts[i]["strips"][k] for i, k in lzw_jobs]
        buf, start, length, ok = _lzw.decode_batch(
            [d[off:off + cnt] for (off, cnt, _r, _e), d in
             zip(strips, (datas[i] for i, _ in lzw_jobs))],
            [st[3] for st in strips], 8, msb=True, early=True)
        for n, job in enumerate(lzw_jobs):
            if ok[n] and length[n] == strips[n][3]:
                lzw_out[job] = buf[start[n]:start[n] + length[n]].tobytes()
    for i, layout in layouts.items():
        try:
            blocks = []
            for k, strip in enumerate(layout["strips"]):
                block = lzw_out.get((i, k))
                blocks.append(_strip_bytes(layout, strip) if block is None
                              else _unpredict(layout, strip, block))
            out[i] = _assemble(layout, blocks)
        except ValueError:
            out[i] = decode_tiff(datas[i])
    return out


def _parse_tiff(data: bytes) -> dict:
    """Header, IFD and tag checks: everything but the strip data."""
    if data[:4] == b"II*\0":
        e = "<"
    elif data[:4] == b"MM\0*":
        e = ">"
    else:
        raise ValueError(f"not a TIFF: magic {data[:4]!r}")
    if len(data) < 8:
        raise ValueError("corrupt TIFF: truncated header")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("corrupt TIFF: IFD past EOF")
    (n,) = struct.unpack(e + "H", data[ifd_off:ifd_off + 2])
    tags: dict[int, list] = {}
    head = struct.Struct(e + "HHII")
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        if base + 12 > len(data):
            raise ValueError("corrupt TIFF: truncated IFD")
        tag, typ, count, field = head.unpack_from(data, base)
        if count == 1 and typ == _TYPE_LONG:
            tags[tag] = [field]
        elif count == 1 and typ == _TYPE_SHORT:
            # a SHORT sits in the first two bytes of the value field
            tags[tag] = [field >> 16 if e == ">" else field & 0xFFFF]
        else:
            tags[tag] = _read_values(data, e, typ, count, base + 8)

    def one(tag, default=None):
        v = tags.get(tag)
        return default if v is None else v[0]

    w, h = one(_WIDTH), one(_HEIGHT)
    if not w or not h:
        raise ValueError("corrupt TIFF: missing dimensions")
    compression = one(_COMPRESSION, 1)
    spp = one(_SPP, 1)
    fmt = one(_SAMPLE_FORMAT, 1)
    bits = tags.get(_BITS, [8])[0]
    if one(_PLANAR, 1) != 1:
        raise ValueError("unsupported TIFF: PlanarConfiguration=2")
    if compression not in (1, 5, 8, 32773):
        raise ValueError(f"unsupported TIFF compression {compression}"
                         " (no JPEG-in-TIFF codec)")
    predictor = one(_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if (spp, bits, fmt) == (3, 8, 1):
        dtype, itemsize = np.uint8, 1
    elif (spp, bits, fmt) == (1, 32, 3):
        dtype, itemsize = np.float32, 4
    else:
        raise ValueError(
            f"unsupported TIFF sample layout spp={spp} bits={bits}"
            f" fmt={fmt}: RGB uint8 and float32 DEM only")

    offsets = tags.get(_STRIP_OFFSETS)
    counts = tags.get(_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: strip tables missing/mismatched")
    rows_per_strip = one(_ROWS_PER_STRIP, h)
    row_bytes = w * spp * itemsize
    # (offset, byte count, rows, decoded bytes) per strip
    strips = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        strips.append((off, cnt, n_rows, n_rows * row_bytes))

    scale = tags.get(_PIXEL_SCALE)
    tie = tags.get(_TIEPOINT)
    epsg = None
    gk = tags.get(_GEO_KEYS)
    if gk and len(gk) >= 4:
        for j in range(4, 4 + 4 * gk[3], 4):
            if j + 3 < len(gk) and gk[j] == _GEODETIC_CRS and gk[j + 1] == 0:
                epsg = gk[j + 3]
    return {
        "data": data, "e": e, "dtype": dtype, "itemsize": itemsize,
        "spp": spp, "w": w, "h": h, "predictor": predictor,
        "compression": compression, "strips": strips, "meta": {
            "width": int(w), "height": int(h),
            "compression": int(compression),
            "pixel_scale": (float(scale[0]), float(scale[1]))
            if scale else None,
            "tiepoint": (float(tie[3]), float(tie[4]))
            if tie and len(tie) >= 5 else None,
            "epsg": int(epsg) if epsg is not None else None,
        }}


def _strip_bytes(layout: dict, strip: tuple) -> bytes:
    """One strip, decompressed and un-predicted."""
    off, cnt, _n_rows, expected = strip
    if off + cnt > len(layout["data"]):
        raise ValueError("corrupt TIFF: strip past EOF")
    raw = layout["data"][off:off + cnt]
    compression = layout["compression"]
    if compression == 1:
        if len(raw) < expected:
            raise ValueError("corrupt TIFF: short strip")
        block = raw[:expected]
    elif compression == 8:
        block = zlib.decompress(bytes(raw))
    elif compression == 5:
        block = lzw_decode(bytes(raw), expected)
    else:
        block = packbits_decode(raw, expected)
    return _unpredict(layout, strip, block)


def _unpredict(layout: dict, strip: tuple, block: bytes) -> bytes:
    if layout["predictor"] == 2:
        if layout["itemsize"] != 1:
            raise ValueError("predictor 2 on non-uint8 samples")
        block = _predict2_decode(block, strip[2], layout["w"],
                                 layout["spp"])
    return block


def _assemble(layout: dict, blocks: list[bytes]) -> tuple[np.ndarray, dict]:
    h, w, spp = layout["h"], layout["w"], layout["spp"]
    itemsize, e = layout["itemsize"], layout["e"]
    raw = b"".join(blocks)
    if len(raw) != h * w * spp * itemsize:
        raise ValueError("corrupt TIFF: assembled pixel data size")
    arr = np.frombuffer(raw, dtype=e + {1: "u1", 4: "f4"}[itemsize])
    if e == ">":
        arr = arr.astype(layout["dtype"])
    arr = arr.reshape((h, w, spp)) if spp == 3 else arr.reshape((h, w))
    return np.asarray(arr, dtype=layout["dtype"]), layout["meta"]
