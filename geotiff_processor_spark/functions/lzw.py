"""Batch LZW decoder shared by the GIF and TIFF codecs.

``gif._lzw_decode`` and ``tiff.lzw_decode`` decode one stream with a
per-code Python loop. This module decodes every stream of a batch
together in numpy and returns, stream for stream, the same bytes.

The two formats differ in three properties, none of them an option:
GIF packs codes LSB-first and starts at ``min_code + 1`` bits; TIFF
packs them MSB-first, always starts at 9 bits, and widens one code
early (its reader widens when the table reaches 2^w - 2, GIF's when it
reaches 2^w).

The decode runs one CLEAR-segment at a time, for all streams at once.
Inside a segment, the width and the bit offset of code ``j`` depend on
``j`` alone, so they come from a table per (min code size, format).
A chunk of codes is unpacked for every stream, each stream's segment
ends at its first CLEAR or END code, and a stream whose chunk holds no
terminator rereads a chunk twice as long. Within a segment, code ``j``
(``j >= 1``) defines table entry ``base + j - 1`` as the string of code
``j - 1`` plus the first byte of code ``j``'s string. So a code that is
not a root refers to the earlier code ``e = code - base`` of the same
segment, its string is that code's string plus one byte, and those
bytes already sit in the output at code ``e``'s position. Lengths come
from pointer doubling over the references, and every output byte
points at an earlier output byte or at a root code; pointer doubling
over the output resolves them.

The table of the scalar GIF reader keeps growing past 4,096 entries
when a stream sends no CLEAR; here no table is stored at all, and codes
stay below 4,096, so both give the same bytes.
"""

from __future__ import annotations

import numpy as np

_MAX_WIDTH = 12
# codes read per stream in a segment's first chunk; a segment without a
# terminator in its chunk is read again with twice as many
_FIRST_CHUNK = 4096
_MIN_CHUNK = 256
# segments decoded per stream; a stream with more (say, a flood of CLEAR
# codes) is left to the scalar reader
_MAX_SEGMENTS = 64

_SCHEDULES: dict[tuple[int, bool], tuple] = {}


def _schedule(min_code: int, early: bool, n: int) -> tuple:
    """(start bit, width, mask) of codes 0..n-1 of a segment."""
    key = (min_code, early)
    sched = _SCHEDULES.get(key)
    if sched is None or len(sched[1]) < n:
        size = max(n, 2 * _FIRST_CHUNK)
        base = (1 << min_code) + 2
        j = np.arange(size, dtype=np.int64)
        # table length before code j: entries come from codes 1.. on
        tl = base + np.maximum(j - 1, 0)
        if early:
            tl = tl + 2
        width = np.minimum(_MAX_WIDTH,
                           np.floor(np.log2(tl)).astype(np.int64) + 1)
        start = np.zeros(size + 1, np.int64)
        np.cumsum(width, out=start[1:])
        sched = (start, width.astype(np.uint32),
                 ((1 << width) - 1).astype(np.uint32))
        _SCHEDULES[key] = sched
    return sched


def _words(buf: bytes, msb: bool) -> np.ndarray:
    """word[i]: the 24 bits of bytes i..i+2 in the format's bit order
    (two zero bytes pad the end, so every code reads three bytes)."""
    b = np.frombuffer(buf + b"\0\0", np.uint8).astype(np.uint32)
    if msb:
        w = b[:-2] << 16
        w |= b[1:-1] << 8
        w |= b[2:]
    else:
        w = b[2:] << 16
        w |= b[1:-1] << 8
        w |= b[:-2]
    return w


def _excl_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.zeros(a.size + 1, np.int64)
    np.cumsum(a, out=out[1:])
    return out


def _first_per_owner(flags: np.ndarray, owner: np.ndarray,
                     n_owners: int) -> np.ndarray:
    """Flat index of each owner's first flagged element, or -1."""
    out = np.full(n_owners, -1, np.int64)
    hit = np.flatnonzero(flags)
    if hit.size:
        who = owner[hit]
        first = np.ones(hit.size, bool)
        first[1:] = who[1:] != who[:-1]
        out[who[first]] = hit[first]
    return out


def decode_batch(streams: list, expected, min_code: int, msb: bool,
                 early: bool) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                       np.ndarray]:
    """Decode LZW streams that share one root code size.

    Each stream decodes like the scalar readers: CLEAR resets, END
    stops, and decoding also stops after the first code that brings the
    output to ``expected[i]`` bytes, or when no whole code is left.
    Returns ``(buf, start, length, ok)``: stream ``i`` decoded to
    ``buf[start[i]:start[i] + length[i]]`` unless ``ok[i]`` is False.
    False marks a code the scalar reader rejects before it stops, or a
    stream of more than ``_MAX_SEGMENTS`` segments; either way the
    caller decodes that stream with the scalar reader, which raises or
    returns its bytes. One stream's bytes never depend on another's.
    """
    n = len(streams)
    ok = np.ones(n, bool)
    if n == 0:
        return np.zeros(0, np.uint8), np.zeros(0, np.int64), \
            np.zeros(0, np.int64), ok
    clear, end = 1 << min_code, (1 << min_code) + 1
    expected = np.asarray(expected, np.int64)
    bit_end = np.fromiter(map(len, streams), np.int64, n) * 8
    bit0 = _excl_cumsum(bit_end)
    # index arrays are int32 unless the batch is too large for it
    itype = np.int32 if bit0[-1] < 2 ** 31 else np.int64
    bit0 = bit0[:-1]
    word = _words(b"".join(streams), msb)
    start, width, mask = _schedule(min_code, early, _FIRST_CHUNK + 1)
    # skip one leading CLEAR (writers open every stream with one): the
    # state after it is the initial state
    w0 = int(width[0])
    lead = word[np.minimum(bit0 >> 3, word.size - 1)]
    lead = (lead >> (24 - w0)) & mask[0] if msb else lead & mask[0]
    seg_bit = np.where((bit_end >= w0) & (lead == clear), w0, 0)

    produced = np.zeros(n, np.int64)        # output bytes so far
    pieces: list[tuple] = []                # (streams, starts, lens, buf)
    act = np.arange(n)                      # active streams, ascending
    cap = np.full(n, _FIRST_CHUNK, np.int64)
    for _ in range(_MAX_SEGMENTS):
        if not act.size:
            break
        # -- unpack a chunk of codes of every active stream's segment ----
        start, width, mask = _schedule(min_code, early,
                                       int(cap[act].max()) + 1)
        n_fit = np.searchsorted(start[1:], bit_end[act] - seg_bit[act],
                                "right")
        take = np.minimum(n_fit, cap[act])
        chunk0 = _excl_cumsum(take)
        owner = np.repeat(np.arange(act.size, dtype=itype), take)
        j = np.arange(chunk0[-1], dtype=itype)
        j -= chunk0[:-1].astype(itype)[owner]
        bit = (bit0[act] + seg_bit[act]).astype(itype)[owner]
        bit += start.astype(itype)[j]
        code = word[bit >> 3]
        if msb:
            code >>= 24 - (bit & 7).astype(np.uint32) - width[j]
        else:
            code >>= (bit & 7).astype(np.uint32)
        code &= mask[j]
        code = code.astype(itype)
        # the segment ends at the first CLEAR or END
        term = _first_per_owner((code == clear) | (code == end), owner,
                                act.size)
        has_term = term >= 0
        term_code = code[term[has_term]]
        seg_len = np.where(has_term, term - chunk0[:-1], take)
        if not np.array_equal(seg_len, take):
            keep = j < seg_len.astype(itype)[owner]
            owner, j, code = owner[keep], j[keep], code[keep]

        # -- lengths, where decoding stops, and the first bad code -------
        seg0 = _excl_cumsum(seg_len)
        root = code < clear
        # code j may name any entry made so far, or (KwKwK) the next one
        valid = code <= clear + 1 + j
        ref = code - (clear + 2)
        ref += seg0[:-1].astype(itype)[owner]
        single = root | ~valid
        ref[single] = np.flatnonzero(single)
        clen, top, rounds = _lengths(ref, single)
        cum = _excl_cumsum(clen)
        # the scalar readers check the size after each code, so an
        # expected size of 0 or less still takes one code
        want = np.maximum(expected[act] - produced[act], 1)
        stop = np.searchsorted(cum[1:], cum[seg0[:-1]] + want, "left")
        stops = stop < seg0[1:]
        bad = _first_per_owner(~valid, owner, act.size)
        failed = (bad >= 0) & (~stops | (bad <= stop))
        exhausted = ~has_term & (take == n_fit)
        ended = np.zeros(act.size, bool)
        ended[has_term] = term_code == end
        done = failed | stops | exhausted | ended
        # a chunk that ends nothing is read again, twice as long
        reread = ~done & ~has_term
        n_out = np.where(stops, stop - seg0[:-1] + 1, seg_len)
        n_out[failed | reread] = 0

        # -- output bytes -------------------------------------------------
        if not np.array_equal(n_out, seg_len):
            sel = j < n_out.astype(itype)[owner]
            shift = (seg0[:-1] - _excl_cumsum(n_out)[:-1]).astype(itype)
            owner, code, clen = owner[sel], code[sel], clen[sel]
            ref, top = ref[sel], top[sel]
            ref -= shift[owner]
            top -= shift[owner]
        pos = _excl_cumsum(clen)
        out = _expand(code, ref, top, clen, pos, rounds, itype)
        first = pos[_excl_cumsum(n_out)]
        pieces.append((act, first[:-1], np.diff(first), out))
        produced[act] += np.diff(first)
        ok[act[failed]] = False

        # -- next segment -------------------------------------------------
        nxt = has_term & ~done
        tj = np.maximum(term - chunk0[:-1], 0)
        seg_bit[act[nxt]] += (start[tj] + width[tj])[nxt]
        cap[act[nxt & (seg_len > 0)]] = np.maximum(
            _MIN_CHUNK, 2 * seg_len + 2)[nxt & (seg_len > 0)]
        cap[act[reread]] *= 2
        act = act[~done]
    ok[act] = False
    return _assemble(pieces, n, ok)


def _lengths(ref: np.ndarray, single: np.ndarray) -> tuple:
    """String length of every code, the root code its string starts
    with, and the doubling rounds that took; ``ref`` points each code at
    the earlier code whose string it extends (roots at themselves)."""
    if single.all():
        return np.ones(ref.size, ref.dtype), ref, 0
    ptr = ref
    depth = (~single).astype(ref.dtype)
    rounds = 0
    while True:
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            return depth + 1, ptr, rounds
        depth += depth[ptr]
        ptr = nxt
        rounds += 1


def _expand(code, ref, top, clen, pos, rounds, itype) -> np.ndarray:
    """Output bytes. A code's string is its reference's string plus one
    byte, the first byte of the code after the reference; so byte ``p``
    of a code is byte ``p`` of its reference, except the last byte."""
    if pos[-1] == code.size:            # only root codes
        return code.astype(np.uint8)
    last = pos[1:] - 1
    lastb = code[top[np.minimum(ref + 1, ref.size - 1)]].astype(np.uint8)
    roots = ref == np.arange(ref.size)
    lastb[roots] = code[roots]
    src = np.repeat((pos[ref] - pos[:-1]).astype(itype), clen)
    src += np.arange(src.size, dtype=itype)
    src[last] = last
    val = np.empty(src.size, np.uint8)
    val[last] = lastb
    for _ in range(rounds):
        src = src[src]
    return val[src]


def _assemble(pieces: list[tuple], n: int, ok: np.ndarray) -> tuple:
    """Join each stream's per-segment outputs in segment order."""
    bufs = [p[3] for p in pieces]
    boff = _excl_cumsum(np.array([b.size for b in bufs], np.int64))
    stream = np.concatenate([p[0] for p in pieces])
    pstart = np.concatenate([p[1] + o for p, o in zip(pieces, boff)])
    plen = np.concatenate([p[2] for p in pieces])
    allbuf = np.concatenate(bufs)
    length = np.bincount(stream, weights=plen, minlength=n).astype(np.int64)
    first = _excl_cumsum(length)[:-1]
    nz = plen > 0
    order = np.argsort(stream[nz], kind="stable")
    pstart, plen = pstart[nz][order], plen[nz][order]
    dst = _excl_cumsum(plen)[:-1]
    if np.array_equal(pstart, dst):     # already in stream order
        return allbuf, first, length, ok
    idx = np.repeat(pstart - dst, plen) + np.arange(allbuf.size)
    return allbuf[idx], first, length, ok
