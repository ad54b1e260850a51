"""Pure-python/numpy GIF87a/89a codec (LZW).

With PNG (``functions/png.py``), JPEG (``functions/jpeg.py``), WAV
(``functions/wav.py``) and Y4M (``functions/y4m.py``) this completes
real decoders for EVERY magic kind ``operators/multimodal.py`` sniffs
('gif' was the last slot still served by the deterministic fake).
Reference analog: all media work is external-tool-side in the
reference (/root/reference/export_formats/previews.py:24-39).

Supported: single-frame images, interlaced or sequential, with a
global or local color table; extensions (GCE/comment/application) are
walked and skipped like PNG ancillary chunks. LZW decode is exact, so
planted payloads whose palette indices derive from an integer formula
are end-to-end oracle-checkable regardless of row order or table
placement.

``decode_gif`` decodes one payload with the scalar LZW reader
(``_lzw_decode``), the reference. ``decode_gif_batch`` returns the same
pixels for a whole batch: it decodes the LZW streams together with
``functions.lzw`` and does the palette lookup and de-interlacing per
image shape.
"""

from __future__ import annotations

import struct

import numpy as np

from . import lzw as _lzw


def _interlace_rows(h: int) -> np.ndarray:
    """GIF 89a appendix E four-pass interlace: the source row stored at
    stream position k, for k in 0..h-1."""
    return np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                           np.arange(2, h, 4), np.arange(1, h, 2)])


def encode_gif(indices: np.ndarray, palette: np.ndarray,
               interlace: bool = False,
               local_palette: bool = False) -> bytes:
    """(h, w) uint8 palette indices + (256, 3) uint8 palette -> GIF89a.

    ``interlace`` stores rows in the four-pass appendix-E order and
    sets the image-descriptor flag; ``local_palette`` writes the
    palette as a local color table on the image descriptor instead of
    a global one (both exercised by the decode path; pixel content is
    identical either way).

    The LZW stream uses the always-legal "emit literals, CLEAR before
    the code table would force a width change" strategy: every root
    code is valid at min_code_size 8 (9-bit codes), and resetting the
    table whenever 254 codes have been added keeps the width at 9 bits
    throughout — byte-simple, decodable by any conformant reader.
    """
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("encode_gif expects (h, w) uint8 indices")
    if palette.shape != (256, 3) or palette.dtype != np.uint8:
        raise ValueError("encode_gif expects a (256, 3) uint8 palette")
    h, w = indices.shape
    if interlace:
        indices = indices[_interlace_rows(h)]
    screen_packed = 0x07 if local_palette else 0xF7  # GCT flag + size
    ipacked = (0x80 if local_palette else 0) | (0x40 if interlace else 0)
    ipacked |= 0x07 if local_palette else 0  # LCT size: 256 entries
    out = [b"GIF89a", struct.pack("<HH", w, h),
           bytes([screen_packed, 0, 0])]
    if not local_palette:
        out.append(palette.tobytes())
    out += [b"\x2C", struct.pack("<HHHH", 0, 0, w, h), bytes([ipacked])]
    if local_palette:
        out.append(palette.tobytes())
    out.append(b"\x08")  # min code size 8
    clear, end = 256, 257
    acc, nbits = 0, 0
    codes = [clear]
    added = 0
    for v in indices.ravel().tolist():
        codes.append(v)
        added += 1
        if added >= 254:
            codes.append(clear)
            added = 0
    codes.append(end)
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 9
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = bytes(data[i:i + 255])
        out.append(bytes([len(chunk)]) + chunk)
    out.append(b"\x00")  # block terminator
    out.append(b"\x3B")  # trailer
    return b"".join(out)


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> (h, w, 3) uint8 RGB (first frame)."""
    gct, iw, ih, interlaced, min_code, lzw = _parse_gif(data)
    idx = np.frombuffer(
        _lzw_decode(lzw, min_code, iw * ih), np.uint8).astype(np.int32)
    if idx.size and int(idx.max()) >= len(gct):
        raise ValueError("corrupt LZW stream: palette index "
                         "beyond color table")
    rgb = gct[idx].reshape(ih, iw, 3)
    if interlaced:
        deinterlaced = np.empty_like(rgb)
        deinterlaced[_interlace_rows(ih)] = rgb
        rgb = deinterlaced
    return rgb


def _parse_gif(data: bytes) -> tuple:
    """Walk the blocks up to the first image: (color table, width,
    height, interlaced, LZW min code size, LZW bytes)."""
    data = bytes(data)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF file")
    if len(data) < 13:
        raise ValueError("truncated GIF payload")
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    def _need(p):
        if p >= len(data):
            raise ValueError("truncated GIF payload")
        return data[p]

    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while _need(pos) != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:
            if pos + 10 > len(data):
                raise ValueError("truncated GIF payload")
            # single-frame contract: the first image block IS the
            # picture (left/top offsets compose multi-frame GIFs only)
            iw, ih = struct.unpack("<HH", data[pos + 5:pos + 9])
            ipacked = data[pos + 9]
            pos += 10
            if ipacked & 0x80:  # local color table overrides the GCT
                n = 2 << (ipacked & 0x07)
                if pos + n * 3 > len(data):
                    raise ValueError("truncated GIF payload")
                gct = np.frombuffer(data, np.uint8, n * 3, pos) \
                    .reshape(n, 3)
                pos += n * 3
            if gct is None:
                raise ValueError("missing color table (no GCT or LCT)")
            min_code = _need(pos)
            pos += 1
            lzw = bytearray()
            while _need(pos) != 0:
                ln = data[pos]
                if pos + 1 + ln > len(data):
                    raise ValueError("truncated GIF payload")
                lzw += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            return gct, iw, ih, bool(ipacked & 0x40), min_code, bytes(lzw)
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"corrupt block 0x{b:02x}")
    raise ValueError("no image block")


def decode_gif_batch(datas: list) -> list[np.ndarray]:
    """``decode_gif`` of every payload, with the LZW streams of all
    payloads that share a min code size decoded together
    (``functions.lzw``) and the palette lookup and de-interlacing done
    per image shape. A payload the batch path cannot finish (a corrupt
    stream, a min code size outside 2..8) goes through ``decode_gif``,
    which returns its pixels or raises its ValueError."""
    out: list = [None] * len(datas)
    by_code: dict[int, list[tuple]] = {}
    for i, d in enumerate(datas):
        try:
            gct, iw, ih, interlaced, min_code, lzw = _parse_gif(d)
        except ValueError:
            out[i] = decode_gif(d)      # raises the reference's error
            continue
        if 2 <= min_code <= 8:
            by_code.setdefault(min_code, []).append(
                (i, gct, iw, ih, interlaced, lzw))
        else:
            out[i] = decode_gif(d)
    for min_code, items in by_code.items():
        buf, start, length, ok = _lzw.decode_batch(
            [it[5] for it in items], [it[2] * it[3] for it in items],
            min_code, msb=False, early=False)
        # palette lookup per (height, width, interlaced) group
        groups: dict[tuple, list[int]] = {}
        for k, (i, _gct, iw, ih, interlaced, _lzw_bytes) in enumerate(items):
            if ok[k] and length[k] == iw * ih:
                groups.setdefault((ih, iw, interlaced), []).append(k)
            else:
                out[i] = decode_gif(datas[i])
        for (ih, iw, interlaced), ks in groups.items():
            rows = np.arange(ih)
            if interlaced:      # image row r is stream row rows[r]
                rows = np.argsort(_interlace_rows(ih))
            idx = buf[start[ks][:, None]
                      + (rows[:, None] * iw + np.arange(iw)).ravel()]
            pals = [items[k][1] for k in ks]
            n_pal = np.array([len(t) for t in pals])
            beyond = idx.max(axis=1, initial=0) >= n_pal
            pal_off = _lzw._excl_cumsum(n_pal)[:-1]
            rgb = np.take(np.concatenate(pals), idx + pal_off[:, None],
                          axis=0, mode="clip").reshape(len(ks), ih, iw, 3)
            for j, k in enumerate(ks):
                i = items[k][0]
                out[i] = decode_gif(datas[i]) if beyond[j] else rgb[j]
    return out


_LZW_BASE_TABLES: dict[int, list[bytes]] = {}


def _lzw_decode(data: bytes, min_code: int, n_expected: int) -> bytes:
    """Standard GIF LZW: variable code width, CLEAR resets the table.

    The per-code loop is the one recurrence Python must run itself;
    it is kept allocation-lean: output accumulates in a bytearray
    (C-level memcpy per entry, O(1) amortized), the table length is
    tracked in a local instead of len() per code, and the next width
    bump threshold is precomputed so the hot path is integer compares
    only. Returns the decoded index stream as bytes (every GIF palette
    index fits a byte: max code size is 8 bits)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    table: list[bytes] = []
    # base tables cached per min_code (round 6): rebuilding 2^n bytes
    # objects on every CLEAR was ~30% of the per-decode profile; a
    # list copy of the cached base is a single C-level memcpy
    base = _LZW_BASE_TABLES.get(min_code)
    if base is None:
        base = [bytes([i]) for i in range(1 << min_code)] + [b"", b""]
        _LZW_BASE_TABLES[min_code] = base

    def reset():
        nonlocal table, width, tlen, grow_at
        table = base[:]
        width = min_code + 1
        tlen = len(table)
        grow_at = 1 << width

    width = min_code + 1
    tlen = grow_at = 0
    reset()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code >= tlen:
                    raise ValueError("corrupt LZW stream")
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
                raise ValueError("corrupt LZW stream")
            out += entry
            prev = entry
            if tlen == grow_at and width < 12:
                width += 1
                grow_at = 1 << width
            if len(out) >= n_expected:
                return bytes(out)
    return bytes(out)
