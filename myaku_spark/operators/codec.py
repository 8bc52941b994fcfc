"""Posting-block codec: the one module that knows the block byte layout.

A block is a zlib (level 1) frame over ONE LEB128 varint stream:

    [n, doc-id deltas (n), tfs (n), 1, zigzag payloads (n),
     has_positions, (start delta, len) pairs (sum(tf) of them)]

Doc ids delta-encode within the block and position starts within each
posting, so every head value is absolute. The two flags are single
0x00/0x01 bytes, themselves valid 1-byte varints, which is what lets a
batch of blocks be one value array cut at per-block offsets. The layout
upgrades the reference's fixed-width cache codec (12-byte ids, 2-byte
scores, 2+1-byte positions, zlib(1) outer; myaku/datastore/
serialize.py:16-17,100-117); block-max metadata lives beside the blob
in plain segment columns (segments.py).

Encode and decode work on whole batches of blocks in numpy: callers
pass and receive flat per-posting arrays plus per-block offsets, and
per block the only Python work is one zlib call.
"""

from __future__ import annotations

import zlib

import numpy as np

_ZLIB_LEVEL = 1
_META_KEYS = ("n_postings", "min_doc", "max_doc", "max_tf", "max_score", "sum_tf")


def _varint_bytes_and_lengths(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 byte plane + per-value byte length for a uint64 array."""
    # Byte length per value: ceil(bit_length / 7), min 1.
    bl = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp > 0
        if not mask.any():
            break
        bl[mask] += 1
        tmp = tmp >> np.uint64(7)
    bl[bl == 0] = 1
    total = int(bl.sum())
    out = np.empty(total, dtype=np.uint8)
    # Offsets of each value's first byte.
    ends = np.cumsum(bl)
    starts = ends - bl
    max_len = int(bl.max())
    tmp = v.copy()
    for k in range(max_len):
        sel = bl > k
        idx = starts[sel] + k
        byte = (tmp[sel] & np.uint64(0x7F)).astype(np.uint8)
        more = (k + 1) < bl[sel]
        out[idx] = byte | (more.astype(np.uint8) << 7)
        tmp = tmp >> np.uint64(7)
    return out, bl


def _varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    values = np.zeros(ends.size, dtype=np.uint64)
    lengths = ends - starts + 1
    max_len = int(lengths.max())
    for k in range(max_len):
        sel = lengths > k
        idx = starts[sel] + k
        values[sel] |= (b[idx] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    return values


def encode_blocks_batch(
    doc_off: np.ndarray,
    doc_vals: np.ndarray,
    tf_vals: np.ndarray,
    pay_vals: np.ndarray,
    pos_off: np.ndarray | None = None,
    pos_starts: np.ndarray | None = None,
    pos_lens: np.ndarray | None = None,
) -> tuple[list[bytes], dict[str, np.ndarray]]:
    """Encode a batch of posting blocks in one vectorized pass.

    Every block's values go into one array, the varint byte plane is
    built once over it, and per-value byte lengths give each block's
    byte extent; per block only one ``zlib.compress`` over a memoryview
    slice remains.

    Args:
        doc_off: int64 ``[B+1]`` offsets into the flat value arrays
            (rebased to 0; blocks contiguous and in order).
        doc_vals/tf_vals/pay_vals: flat per-posting values (doc ids
            sorted ascending within each block).
        pos_off: ``[B+1]`` offsets into pos_starts/pos_lens (posting
            order, ``tf`` entries per posting), or None when no block
            has positions. A block with zero positions is written
            without them; any other count but its ``sum(tf)`` raises
            ValueError.
    Returns:
        (blobs, meta) where meta holds per-block ``n_postings``,
        ``min_doc``, ``max_doc``, ``max_tf``, ``max_score``, ``sum_tf``
        (0 for an empty block).
    """
    doc_off = np.asarray(doc_off, dtype=np.int64)
    b_cnt = doc_off.size - 1
    if b_cnt <= 0:
        return [], {k: np.empty(0, dtype=np.int64) for k in _META_KEYS}
    dv = np.asarray(doc_vals, dtype=np.uint64)
    tf_i = np.asarray(tf_vals, dtype=np.int64)
    s = np.asarray(pay_vals, dtype=np.int64)
    n_per = np.diff(doc_off)
    nz = n_per > 0
    heads = doc_off[:-1][nz]

    def per_block(ufunc, a):
        out = np.zeros(b_cnt, dtype=np.int64)
        if heads.size:
            out[nz] = ufunc.reduceat(a, heads)
        return out

    sum_tf = per_block(np.add, tf_i)
    if pos_off is None:
        m_per = np.zeros(b_cnt, dtype=np.int64)
    else:
        m_per = np.diff(np.asarray(pos_off, dtype=np.int64))
        bad = np.flatnonzero((m_per != 0) & (m_per != sum_tf))
        if bad.size:
            b = int(bad[0])
            raise ValueError(
                f"block {b}: {int(m_per[b])} positions, expected 0 or "
                f"sum(tf)={int(sum_tf[b])}"
            )

    # Per-block value counts → value-stream offsets off[i] per block.
    c = 1 + 3 * n_per + 2 + 2 * m_per
    off = np.concatenate(([0], np.cumsum(c)))
    vals = np.empty(int(off[-1]), dtype=np.uint64)

    # [n]
    vals[off[:-1]] = n_per.astype(np.uint64)
    # segmented intra-block index per posting
    intra = np.arange(dv.size, dtype=np.int64) - np.repeat(doc_off[:-1], n_per)
    # doc deltas with block-head resets
    deltas = dv.copy()
    if dv.size:
        deltas[1:] = dv[1:] - dv[:-1]
        deltas[heads] = dv[heads]
    vals[np.repeat(off[:-1] + 1, n_per) + intra] = deltas
    # tfs
    vals[np.repeat(off[:-1] + 1 + n_per, n_per) + intra] = tf_i.astype(np.uint64)
    # payload flag + zigzag payloads
    vals[off[:-1] + 1 + 2 * n_per] = 1
    zz = ((s << 1) ^ (s >> 63)).astype(np.uint64)
    vals[np.repeat(off[:-1] + 2 + 2 * n_per, n_per) + intra] = zz
    # positions flag + interleaved (start delta, len), per block
    pflag_idx = off[:-1] + 2 + 3 * n_per
    vals[pflag_idx] = (m_per > 0).astype(np.uint64)
    if m_per.any():
        starts = np.asarray(pos_starts, dtype=np.int64)
        pdeltas = starts.copy()
        pdeltas[1:] -= starts[:-1]
        # Reset at each posting's first position: positions are laid out
        # posting by posting, so a head sits at the running sum of the
        # position counts (tf in blocks with positions, else 0).
        ptf = np.where(np.repeat(m_per > 0, n_per), tf_i, 0)
        post_head = np.concatenate(([0], np.cumsum(ptf)[:-1]))[ptf > 0]
        pdeltas[post_head] = starts[post_head]
        inter = np.empty(starts.size * 2, dtype=np.uint64)
        inter[0::2] = pdeltas.astype(np.uint64)
        inter[1::2] = np.asarray(pos_lens, dtype=np.uint64)
        pos_head = np.concatenate(([0], np.cumsum(m_per)[:-1]))
        intra_pos = np.arange(inter.size, dtype=np.int64) - np.repeat(
            2 * pos_head, 2 * m_per
        )
        vals[np.repeat(pflag_idx + 1, 2 * m_per) + intra_pos] = inter

    byte_plane, bl = _varint_bytes_and_lengths(vals)
    blk_bytes = np.concatenate(([0], np.cumsum(bl)))[off]
    mv = memoryview(byte_plane.tobytes())
    blobs = [
        zlib.compress(mv[blk_bytes[i] : blk_bytes[i + 1]], _ZLIB_LEVEL)
        for i in range(b_cnt)
    ]
    min_doc = np.zeros(b_cnt, dtype=np.int64)
    max_doc = np.zeros(b_cnt, dtype=np.int64)
    min_doc[nz] = dv[heads].astype(np.int64)
    max_doc[nz] = dv[doc_off[1:][nz] - 1].astype(np.int64)
    meta = {
        "n_postings": n_per,
        "min_doc": min_doc,
        "max_doc": max_doc,
        "max_tf": per_block(np.maximum, tf_i),
        "max_score": per_block(np.maximum, s),
        "sum_tf": sum_tf,
    }
    return blobs, meta


def decode_blocks_batch(blobs: list[bytes]) -> dict:
    """Decode a batch of posting blocks in one vectorized pass (the
    mirror of :func:`encode_blocks_batch`).

    Per block the only Python work is one ``zlib.decompress`` and one
    O(1) step walking block boundaries in value space; the concatenated
    streams are LEB128-decoded in one call, and doc ids and position
    starts are rebuilt with segmented cumsums.

    Returns flat arrays plus per-block offsets:
        n_per       int64 [B]     postings per block
        doc_off     int64 [B+1]   offsets into doc_ids/tfs/scores
        doc_ids     int64 flat    (absolute, per block)
        tfs         int64 flat
        scores      int64 flat (zeros when a block has no payload)
        pos_off     int64 [B+1]   offsets into pos_starts/pos_lens
        pos_starts  int64 flat    (absolute within doc, per posting
                                   groups of tf — none for a block
                                   without positions)
        pos_lens    int64 flat
    """
    b_cnt = len(blobs)
    empty = np.empty(0, dtype=np.int64)
    if b_cnt == 0:
        z = np.zeros(1, dtype=np.int64)
        return {
            "n_per": empty, "doc_off": z, "doc_ids": empty,
            "tfs": empty, "scores": empty, "pos_off": z,
            "pos_starts": empty, "pos_lens": empty,
        }
    iv = _varint_decode(b"".join(zlib.decompress(b) for b in blobs))
    # Walk block boundaries in value space. Sections per block:
    # [n][deltas n][tfs n][flag][scores n?][flag][pos 2*sum(tf)?]
    n_per = np.empty(b_cnt, dtype=np.int64)
    d_start = np.empty(b_cnt, dtype=np.int64)
    s_start = np.empty(b_cnt, dtype=np.int64)  # -1 when absent
    p_start = np.empty(b_cnt, dtype=np.int64)  # -1 when absent
    m_per = np.zeros(b_cnt, dtype=np.int64)
    i = 0
    for b in range(b_cnt):
        n = int(iv[i]); i += 1
        n_per[b] = n
        d_start[b] = i
        i += 2 * n  # deltas + tfs
        has_scores = int(iv[i]); i += 1
        if has_scores:
            s_start[b] = i
            i += n
        else:
            s_start[b] = -1
        has_pos = int(iv[i]); i += 1
        if has_pos:
            # positions count = sum(tfs of this block)
            tf_sum = int(iv[d_start[b] + n : d_start[b] + 2 * n].sum())
            p_start[b] = i
            m_per[b] = tf_sum
            i += 2 * tf_sum
        else:
            p_start[b] = -1
    total_n = int(n_per.sum())
    doc_off = np.concatenate(([0], np.cumsum(n_per)))
    # Gather per-section flats with segmented index arithmetic.
    intra = np.arange(total_n, dtype=np.int64) - np.repeat(doc_off[:-1], n_per)
    d_idx = np.repeat(d_start, n_per) + intra
    deltas = iv[d_idx].astype(np.int64)
    # Segmented cumsum: global cumsum minus the running total at each
    # block head (safe for empty blocks: their head base is unused by
    # repeat with count 0, and max() guards the -1 index).
    g = np.cumsum(deltas)
    if total_n:
        head_base = np.where(
            doc_off[:-1] > 0, g[np.maximum(doc_off[:-1] - 1, 0)], 0
        )
    else:
        head_base = np.zeros(b_cnt, dtype=np.int64)
    doc_ids = g - np.repeat(head_base, n_per)
    tfs = iv[d_idx + np.repeat(n_per, n_per)].astype(np.int64)
    scores = np.zeros(total_n, dtype=np.int64)
    has_s = s_start >= 0
    if has_s.any():
        sel = np.repeat(has_s, n_per)
        zz = iv[np.repeat(np.where(has_s, s_start, 0), n_per)[sel] + intra[sel]]
        scores[sel] = (zz >> np.uint64(1)).astype(np.int64) ^ -(
            zz & np.uint64(1)
        ).astype(np.int64)
    pos_off = np.concatenate(([0], np.cumsum(m_per)))
    total_m = int(pos_off[-1])
    if total_m:
        intra_m = np.arange(total_m, dtype=np.int64) - np.repeat(
            pos_off[:-1], m_per
        )
        p_idx = np.repeat(p_start, m_per) + 2 * intra_m
        pdeltas = iv[p_idx].astype(np.int64)
        pos_lens = iv[p_idx + 1].astype(np.int64)
        # Starts restart at each posting: the encoder wrote an ABSOLUTE
        # start at every posting head, so each posting's starts are its
        # global-cumsum slice minus the cumsum just before its head.
        # Per-posting position counts: tf in blocks with positions,
        # 0 otherwise.
        gp = np.cumsum(pdeltas)
        ptf = np.where(np.repeat(p_start >= 0, n_per), tfs, 0)
        post_head = np.concatenate(([0], np.cumsum(ptf)[:-1]))
        base = np.where(post_head > 0, gp[np.maximum(post_head - 1, 0)], 0)
        pos_starts = gp - np.repeat(base, ptf)
    else:
        pos_starts = empty
        pos_lens = empty
    return {
        "n_per": n_per, "doc_off": doc_off,
        "doc_ids": doc_ids, "tfs": tfs, "scores": scores,
        "pos_off": pos_off, "pos_starts": pos_starts,
        "pos_lens": pos_lens,
    }


def decode_block(blob: bytes) -> dict:
    """One block's ``doc_ids``, ``tfs``, ``scores``, ``pos_starts`` and
    ``pos_lens`` (posting i owns the next ``tfs[i]`` position entries,
    none when the block has no positions): a view of
    :func:`decode_blocks_batch` over a batch of one."""
    dec = decode_blocks_batch([blob])
    return {k: dec[k] for k in ("doc_ids", "tfs", "scores", "pos_starts", "pos_lens")}
