"""Pure-python/numpy PNG codec (stdlib zlib — no PIL/libjpeg needed).

Un-stubs the multimodal decode slot (round-2 verdict item 4): the
container has no image libraries, but PNG is just zlib + per-scanline
filters, both expressible with the stdlib and numpy. The encoder exists
so ``synth`` can plant REAL image payloads deterministically; the
batch decoder is the production path inside the ``decode_images``
Arrow kernel.

Supported: 8-bit grayscale (color type 0), RGB (2), indexed/PLTE (3)
and RGBA (6); sequential AND Adam7-interlaced; all five scanline
filters. ``decode_png`` unfilters one image at a time and is the
reference; ``decode_png_batch`` returns the same pixels for a batch,
unfiltering all same-shape (sub-)images of the batch in lockstep.
Reference analog: the JPEG preview sink of
``/root/reference/export_formats/previews.py:24-39`` (there GDAL owns
the codec; here the engine does, because the 100 TB pipeline decodes in
executors where native codecs may not be installable).
"""

from __future__ import annotations

import functools
import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# samples per pixel of each supported color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


# Adam7 interlace passes: (x_start, y_start, x_step, y_step)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _filter_rows(img: np.ndarray, filter_type: int) -> bytes:
    """Serialize an (h, w, c) sub-image with one fixed per-scanline
    filter (0=None 1=Sub 2=Up 3=Average 4=Paeth)."""
    h, w, _c = img.shape
    raw = bytearray()
    prev = np.zeros(img.shape[1:], np.int16)
    for y in range(h):
        row = img[y].astype(np.int16)
        left = np.zeros_like(row)
        left[1:] = row[:-1]
        if filter_type == 0:
            enc = row
        elif filter_type == 1:
            enc = row - left
        elif filter_type == 2:
            enc = row - prev
        elif filter_type == 3:
            enc = row - (left + prev) // 2
        elif filter_type == 4:
            upleft = np.zeros_like(row)
            upleft[1:] = prev[:-1]
            enc = row - _paeth(left, prev, upleft)
        else:
            raise ValueError(f"unknown filter {filter_type}")
        raw.append(filter_type)
        raw += (enc % 256).astype(np.uint8).tobytes()
        prev = row
    return bytes(raw)


def _serialize(img: np.ndarray, filter_type: int,
               interlace: bool) -> bytes:
    if not interlace:
        return _filter_rows(img, filter_type)
    out = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.shape[0] and sub.shape[1]:
            out += _filter_rows(sub, filter_type)
    return bytes(out)


def encode_png(img: np.ndarray, filter_type: int = 0,
               interlace: bool = False) -> bytes:
    """PNG writer: (h, w, 3) uint8 -> truecolor (type 2), (h, w) uint8
    -> grayscale (type 0); optional Adam7 interlace. ``filter_type``
    applies one fixed filter to every scanline — non-zero values exist
    to exercise the decoder's unfilter paths in tests."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_png expects (h, w[, 3]) uint8")
    if img.ndim == 2:
        ctype = 0
        img3 = img[:, :, None]
    elif img.shape[2] == 3:
        ctype = 2
        img3 = img
    else:
        raise ValueError("encode_png expects (h, w[, 3]) uint8")
    h, w = img3.shape[:2]
    ihdr = struct.pack(">II5B", w, h, 8, ctype, 0, 0,
                       1 if interlace else 0)
    raw = _serialize(img3, filter_type, interlace)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


def encode_png_indexed(indices: np.ndarray, palette: np.ndarray,
                       filter_type: int = 0,
                       interlace: bool = False) -> bytes:
    """Indexed-color PNG (type 3): (h, w) uint8 indices + (n, 3)
    uint8 PLTE."""
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("encode_png_indexed expects (h, w) uint8")
    if palette.ndim != 2 or palette.shape[1] != 3 \
            or palette.dtype != np.uint8 or not 1 <= len(palette) <= 256:
        raise ValueError("palette must be (1..256, 3) uint8")
    if indices.size and int(indices.max()) >= len(palette):
        raise ValueError("palette index out of range")
    h, w = indices.shape
    ihdr = struct.pack(">II5B", w, h, 8, 3, 0, 0,
                       1 if interlace else 0)
    raw = _serialize(indices[:, :, None], filter_type, interlace)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette.tobytes())
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (a=left, b=up, c=upper-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit PNG — grayscale (0), RGB (2), indexed (3) or
    RGBA (6), sequential or Adam7-interlaced — to (h, w, c) uint8
    (grayscale and indexed expand to (h, w, 3)).

    CRC-checked chunk walk, zlib inflate, then per-scanline unfilter:
    None/Up/Sub are fully vectorized (Sub is a per-channel cumsum mod
    256); Average/Paeth fall back to a per-pixel scan within the row
    (their recurrences are inherently sequential in x).
    """
    w, h, ctype, interlace, nc, plte, raw = _parse_png(data)
    if interlace:
        img = np.zeros((h, w, nc), np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in _passes(w, h, 1):
            nbytes = ph * (1 + pw * nc)
            if off + nbytes > len(raw):
                raise ValueError("IDAT size mismatch")
            sub = _unfilter(raw[off:off + nbytes], ph, pw, nc)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, nc)
            off += nbytes
        if off != len(raw):
            raise ValueError("IDAT size mismatch")
        out2 = img.reshape(h, w * nc)
    else:
        if len(raw) != h * (w * nc + 1):
            raise ValueError("IDAT size mismatch")
        out2 = _unfilter(raw, h, w, nc)
    if ctype == 3:
        idx = out2.reshape(h, w).astype(np.int32)
        if idx.size and int(idx.max()) >= len(plte):
            raise ValueError("palette index beyond PLTE")
        return plte[idx]
    if ctype == 0:
        g = out2.reshape(h, w)
        return np.stack([g, g, g], axis=-1)
    return out2.reshape(h, w, nc)


def _parse_png(data: bytes) -> tuple:
    """Chunk walk, header checks and inflate: (w, h, color type,
    interlace, channels, PLTE or None, filtered scanline bytes)."""
    if bytes(data[:8]) != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    n = len(data)
    while pos + 12 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        if pos + 12 + length > n:
            raise ValueError("truncated PNG chunk")
        tag = bytes(data[pos + 4:pos + 8])
        body = bytes(data[pos + 8:pos + 8 + length])
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = struct.unpack(">II5B", body)
        elif tag == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError("bad PLTE length")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or ctype not in (0, 2, 3, 6) or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG (depth={depth} color={ctype}"
            f" interlace={interlace}); this codec handles 8-bit"
            " gray/RGB/indexed/RGBA, sequential or Adam7")
    if ctype == 3 and plte is None:
        raise ValueError("indexed PNG missing PLTE")
    nc = _CHANNELS[ctype]
    return w, h, ctype, interlace, nc, plte, zlib.decompress(bytes(idat))


@functools.lru_cache(maxsize=256)
def _passes(w: int, h: int, interlace: int) -> tuple[tuple, ...]:
    """The non-empty sub-images of a layout: (x0, y0, dx, dy, width,
    height) — the seven Adam7 passes, or the whole image."""
    if not interlace:
        return ((0, 0, 1, 1, w, h),)
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return tuple(out)


@functools.lru_cache(maxsize=256)
def _raw_size(w: int, h: int, interlace: int, nc: int) -> int:
    """Filtered bytes of a layout: per scanline, a filter byte + samples."""
    return sum(ph * (1 + pw * nc) for *_, pw, ph in _passes(w, h, interlace))


def decode_png_batch(datas: list) -> list[np.ndarray]:
    """``decode_png`` of every payload. Chunk walk and inflate run per
    payload; the unfilter runs in lockstep over all same-shape
    (sub-)images of the batch (each Adam7 pass is a sub-image), and the
    pass interleave and color expansion run per image layout. A payload
    the batch path cannot finish goes through ``decode_png``, which
    returns its pixels or raises its ValueError."""
    out: list = [None] * len(datas)
    raws: list[bytes] = []
    raw_off = 0
    layouts: dict[tuple, list] = {}     # (w, h, ctype, interlace) -> rows
    for i, d in enumerate(datas):
        try:
            w, h, ctype, interlace, nc, plte, raw = _parse_png(d)
        except ValueError:
            out[i] = decode_png(d)      # raises the reference's error
            continue
        if not w or not h or len(raw) != _raw_size(w, h, interlace, nc):
            out[i] = decode_png(d)
            continue
        layouts.setdefault((w, h, ctype, interlace), []).append(
            (i, raw_off, plte))
        raws.append(raw)
        raw_off += len(raw)
    big = np.frombuffer(b"".join(raws), np.uint8)
    # every (sub-)image, grouped by shape: (layout, pass, raw offsets)
    jobs: dict[tuple, list] = {}
    for layout, members in layouts.items():
        w, h, ctype, interlace = layout
        nc = _CHANNELS[ctype]
        off = np.array([m[1] for m in members], np.int64)
        for step in _passes(w, h, interlace):
            pw, ph = step[4], step[5]
            jobs.setdefault((ph, pw, nc), []).append((layout, step, off))
            off = off + ph * (1 + pw * nc)
    subs: dict[tuple, list] = {}
    for (ph, pw, nc), parts in jobs.items():
        offs = np.concatenate([p[2] for p in parts])
        rows = big[offs[:, None] + np.arange(ph * (1 + pw * nc))]
        sub, ok = _unfilter_lockstep(rows.reshape(len(offs), ph, -1), nc)
        k = 0
        for layout, step, off in parts:
            n = len(off)
            subs.setdefault(layout, []).append(
                (step, sub[k:k + n].reshape(n, ph, pw, nc), ok[k:k + n]))
            k += n
    for layout, members in layouts.items():
        w, h, ctype, interlace = layout
        n = len(members)
        parts = subs[layout]
        good = np.logical_and.reduce([p[2] for p in parts])
        if interlace:
            img = np.zeros((n, h, w, _CHANNELS[ctype]), np.uint8)
            for (x0, y0, dx, dy, _pw, _ph), sub, _ok in parts:
                img[:, y0::dy, x0::dx] = sub
        else:
            img = parts[0][1]
        if ctype == 3:
            idx = img[..., 0]
            pltes = [m[2] for m in members]
            n_pal = np.array([len(t) for t in pltes])
            good &= idx.reshape(n, -1).max(axis=1, initial=0) < n_pal
            pal_off = np.zeros(n, np.int64)
            np.cumsum(n_pal[:-1], out=pal_off[1:])
            img = np.take(np.concatenate(pltes),
                          idx + pal_off[:, None, None], axis=0, mode="clip")
        elif ctype == 0:
            img = np.repeat(img, 3, axis=3)
        for j, (i, _off, _plte) in enumerate(members):
            out[i] = img[j] if good[j] else decode_png(datas[i])
    return out


def _unfilter_lockstep(rows: np.ndarray, nc: int
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Reverse the scanline filters of k same-shape (sub-)images at
    once: ``rows`` is (k, h, 1 + stride) filtered bytes. Returns the
    (k, h, stride) samples and which images used only known filters.
    Rows advance one scanline at a time for all images; Average and
    Paeth also advance one pixel at a time across images (same
    arithmetic as ``_unfilter``, in uint8/int16 with wrap-around)."""
    k, h, _ = rows.shape
    ftypes = rows[:, :, 0]
    ok = (ftypes <= 4).all(axis=1)
    data = rows[:, :, 1:]
    out = np.empty(data.shape, np.uint8)
    prev = np.zeros((k, data.shape[2]), np.uint8)
    for y in range(h):
        f = ftypes[:, y]
        f0 = int(f[0])
        if (f == f0).all():
            groups = [(f0, slice(None))]
        else:
            groups = [(int(v), np.flatnonzero(f == v)) for v in np.unique(f)]
        rec = out[:, y]
        for v, sel in groups:
            cur, up = data[sel, y], prev[sel]
            if v == 0:
                rec[sel] = cur
            elif v == 1:    # Sub: per-channel prefix sum mod 256
                rec[sel] = cur.reshape(len(cur), -1, nc).cumsum(
                    axis=1, dtype=np.uint8).reshape(len(cur), -1)
            elif v == 2:    # Up
                rec[sel] = cur + up
            elif v == 3:
                rec[sel] = _average_lockstep(cur, up, nc)
            elif v == 4:
                rec[sel] = _paeth_lockstep(cur, up, nc)
        prev = rec
    return out, ok


def _average_lockstep(cur: np.ndarray, up: np.ndarray, nc: int
                      ) -> np.ndarray:
    rec = np.empty_like(cur)
    rec[:, :nc] = cur[:, :nc] + (up[:, :nc] >> 1)
    up16 = up.astype(np.uint16)
    for x in range(nc, cur.shape[1], nc):
        s = slice(x, x + nc)
        rec[:, s] = cur[:, s] + ((rec[:, x - nc:x] + up16[:, s]) >> 1) \
            .astype(np.uint8)
    return rec


def _paeth_lockstep(cur: np.ndarray, up: np.ndarray, nc: int
                    ) -> np.ndarray:
    """Paeth with a = left, b = up, c = upper-left; the distances use
    |p-a| = |b-c|, |p-b| = |a-c| and |p-c| = |(a-c) + (b-c)|."""
    rec = np.empty_like(cur)
    rec[:, :nc] = cur[:, :nc] + up[:, :nc]   # a = c = 0: predict b
    b = up.astype(np.int16)
    b_c = b[:, nc:] - b[:, :-nc]
    pa_all = np.abs(b_c)
    for x in range(nc, cur.shape[1], nc):
        s, left = slice(x, x + nc), slice(x - nc, x)
        a = rec[:, left].astype(np.int16)
        a_c = a - b[:, left]
        pa = pa_all[:, left]
        pb = np.abs(a_c)
        pc = np.abs(a_c + b_c[:, left])
        pred = np.where((pa <= pb) & (pa <= pc), a,
                        np.where(pb <= pc, b[:, s], b[:, left]))
        rec[:, s] = cur[:, s] + pred.astype(np.uint8)
    return rec


def _unfilter(raw: bytes, h: int, w: int, nc: int) -> np.ndarray:
    """Reverse the per-scanline filters of one (sub-)image: raw is
    h rows of (1 filter byte + w*nc samples); returns (h, w*nc)."""
    stride = w * nc
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    if h * stride <= 4096:
        # tiny (sub-)image: the per-row numpy calls of the vectorized
        # path (~6 per row) cost more than the samples themselves —
        # run the whole unfilter over plain Python lists and convert
        # once (round 6: ~28 astype calls per 8x8 decode before)
        return _unfilter_small(raw, h, nc, stride)
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        f = int(ftypes[y])
        cur = rows[y]
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            rec = (cur.reshape(w, nc).cumsum(axis=0) % 256).reshape(stride)
        elif f == 2:  # Up
            rec = (cur + prev) % 256
        elif f in (3, 4):  # Average / Paeth: sequential in x
            # The x-recurrence can't vectorize, so run it over plain
            # Python lists (an order of magnitude faster than per-
            # element numpy indexing). The first nc samples have
            # a = c = 0, which collapses the predictor to b (Paeth:
            # pa=|b|, pb=0, pc=|b| so b wins unless b==0, where a==b)
            # and to b>>1 (Average) — split them off so the hot loop
            # is branch-free on x. Paeth distances use the identities
            # |p-a|=|b-c|, |p-b|=|a-c|, |p-c|=|a+b-2c|.
            cur_l = cur.tolist()
            prev_l = prev.tolist()
            rec_l = [0] * stride
            head = min(nc, stride)
            if f == 3:
                for x in range(head):
                    rec_l[x] = (cur_l[x] + (prev_l[x] >> 1)) & 255
                for x in range(head, stride):
                    rec_l[x] = (cur_l[x]
                                + ((rec_l[x - nc] + prev_l[x]) >> 1)) & 255
            else:
                for x in range(head):
                    rec_l[x] = (cur_l[x] + prev_l[x]) & 255
                for x in range(head, stride):
                    a = rec_l[x - nc]
                    b = prev_l[x]
                    c = prev_l[x - nc]
                    pa = b - c
                    if pa < 0:
                        pa = -pa
                    pb = a - c
                    if pb < 0:
                        pb = -pb
                    pc = a + b - 2 * c
                    if pc < 0:
                        pc = -pc
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    rec_l[x] = (cur_l[x] + pred) & 255
            rec = np.asarray(rec_l, np.int32)
        else:
            raise ValueError(f"unknown scanline filter {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec.astype(np.int32)
    return out


def _unfilter_small(raw: bytes, h: int, nc: int, stride: int) -> np.ndarray:
    """List-based unfilter for tiny (sub-)images — same per-filter
    arithmetic as the vectorized path, one numpy conversion total."""
    if h == 0 or stride == 0:
        return np.zeros((h, stride), np.uint8)
    out: list[list[int]] = []
    prev = [0] * stride
    head = min(nc, stride)
    pos = 0
    for _y in range(h):
        f = raw[pos]
        cur = list(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            rec = cur
            for x in range(head, stride):
                rec[x] = (rec[x] + rec[x - nc]) & 255
        elif f == 2:  # Up
            rec = [(cur[x] + prev[x]) & 255 for x in range(stride)]
        elif f == 3:  # Average
            rec = [0] * stride
            for x in range(head):
                rec[x] = (cur[x] + (prev[x] >> 1)) & 255
            for x in range(head, stride):
                rec[x] = (cur[x] + ((rec[x - nc] + prev[x]) >> 1)) & 255
        elif f == 4:  # Paeth (same identities as the array path)
            rec = [0] * stride
            for x in range(head):
                rec[x] = (cur[x] + prev[x]) & 255
            for x in range(head, stride):
                a = rec[x - nc]
                b = prev[x]
                c = prev[x - nc]
                pa = b - c
                if pa < 0:
                    pa = -pa
                pb = a - c
                if pb < 0:
                    pb = -pb
                pc = a + b - 2 * c
                if pc < 0:
                    pc = -pc
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rec[x] = (cur[x] + pred) & 255
        else:
            raise ValueError(f"unknown scanline filter {f}")
        out.append(rec)
        prev = rec
    return np.array(out, np.uint8)
