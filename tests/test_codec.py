"""Posting codec tests: the batch encoder/decoder pair against a per-block
reference codec (property-based + edge cases), and a pin of the on-disk
block format."""

import itertools
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from myaku_spark.operators.codec import (
    decode_block,
    decode_blocks_batch,
    encode_blocks_batch,
)

# --- per-block reference codec (the oracle) --------------------------------
# Plain-Python twins of the layout in codec.py's docstring, one block at a
# time, positions as per-posting lists of (start, len) tuples.


def _varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def ref_encode_block(doc_ids, tfs, scores=None, positions=None) -> bytes:
    """One block; doc_ids sorted ascending. ``scores`` None writes the
    payload flag 0, ``positions`` None the positions flag 0."""
    doc_ids = [int(d) for d in doc_ids]
    vals = [len(doc_ids)]
    vals += [d - p for d, p in zip(doc_ids, [0] + doc_ids[:-1])]
    vals += [int(t) for t in tfs]
    if scores is None:
        vals.append(0)
    else:
        vals.append(1)
        vals += [((int(s) << 1) ^ (int(s) >> 63)) & (2**64 - 1) for s in scores]
    if positions is None:
        vals.append(0)
    else:
        vals.append(1)
        for plist in positions:
            prev = 0
            for start, ln in plist:
                vals += [start - prev, ln]
                prev = start
    return zlib.compress(b"".join(_varint(v) for v in vals), 1)


def ref_decode_block(blob: bytes) -> dict:
    """Inverse of ref_encode_block; absent sections decode to None."""
    vals, v, shift = [], 0, 0
    for byte in zlib.decompress(blob):
        v |= (byte & 0x7F) << shift
        shift += 7
        if not byte & 0x80:
            vals.append(v)
            v, shift = 0, 0
    it = iter(vals)
    n = next(it)
    doc_ids = list(itertools.accumulate(next(it) for _ in range(n)))
    tfs = [next(it) for _ in range(n)]
    scores = positions = None
    if next(it):
        scores = [(z >> 1) ^ -(z & 1) for z in (next(it) for _ in range(n))]
    if next(it):
        positions = []
        for tf in tfs:
            plist, start = [], 0
            for _ in range(tf):
                start += next(it)
                plist.append((start, next(it)))
            positions.append(plist)
    return {
        "doc_ids": doc_ids, "tfs": tfs, "scores": scores,
        "positions": positions,
    }


# --- adapters between reference blocks and the flat batch arrays -----------


def batch_encode(blocks):
    """blocks: [(doc_ids, tfs, scores, positions or None)] → the batch
    encoder's (blobs, meta)."""
    pos = [[p for plist in b[3] or [] for p in plist] for b in blocks]
    flat = [p for ps in pos for p in ps]
    return encode_blocks_batch(
        np.cumsum([0] + [len(b[0]) for b in blocks]),
        np.array([d for b in blocks for d in b[0]], dtype=np.uint64),
        np.array([t for b in blocks for t in b[1]], dtype=np.int64),
        np.array([s for b in blocks for s in b[2]], dtype=np.int64),
        np.cumsum([0] + [len(ps) for ps in pos]),
        np.array([s for s, _ in flat], dtype=np.int64),
        np.array([ln for _, ln in flat], dtype=np.int64),
    )


def batch_decode(blobs) -> list[dict]:
    """The batch decoder's output cut back into reference-shaped blocks
    (scores zeros and positions None when the block has none)."""
    dec = decode_blocks_batch(blobs)
    out = []
    for i in range(len(blobs)):
        lo, hi = dec["doc_off"][i], dec["doc_off"][i + 1]
        plo, phi = dec["pos_off"][i], dec["pos_off"][i + 1]
        tfs = dec["tfs"][lo:hi].tolist()
        pairs = list(
            zip(dec["pos_starts"][plo:phi].tolist(),
                dec["pos_lens"][plo:phi].tolist())
        )
        bounds = np.cumsum([0] + tfs)
        out.append({
            "doc_ids": dec["doc_ids"][lo:hi].tolist(),
            "tfs": tfs,
            "scores": dec["scores"][lo:hi].tolist(),
            "positions": [
                pairs[a:b] for a, b in zip(bounds[:-1], bounds[1:])
            ] if phi > plo else None,
        })
    return out


def roundtrip(blocks):
    """Batch-encode ``blocks``; assert byte identity with the reference
    encoder and that both decoders give the input back."""
    blobs, meta = batch_encode(blocks)
    assert blobs == [ref_encode_block(*b) for b in blocks]
    for got, ref, b in zip(batch_decode(blobs), map(ref_decode_block, blobs), blocks):
        want = {
            "doc_ids": [int(d) for d in b[0]],
            "tfs": [int(t) for t in b[1]],
            "scores": [int(s) for s in b[2]],
            "positions": b[3] or None,
        }
        assert got == want
        assert ref == want
    return blobs, meta


# --- tests -----------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip(vals):
    # Arbitrary 63-bit values ride the tf stream of one block.
    n = len(vals)
    roundtrip([(list(range(n)), vals, [0] * n, None)])


def test_varint_edge_values():
    edges = [0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1]
    pays = [-(2**63), -129, -65, -64, -1, 0, 63, 64, 2**63 - 1]
    docs = [0, 127, 128, 16511, 16512, 2**32, 2**40, 2**62, 2**63 - 1]
    roundtrip([(docs, edges, pays, None)])


def test_varint_empty():
    blobs, meta = encode_blocks_batch(
        np.array([0]), np.array([]), np.array([]), np.array([])
    )
    assert blobs == [] and all(v.size == 0 for v in meta.values())
    assert decode_blocks_batch([])["n_per"].size == 0
    # A block without postings, alone and between two others.
    blobs, meta = roundtrip([([], [], [], None)])
    assert all(v.tolist() == [0] for v in meta.values())
    blobs, meta = roundtrip(
        [([1, 4], [1, 2], [5, -5], [[(0, 1)], [(2, 1), (9, 1)]]),
         ([], [], [], None),
         ([7], [1], [3], [[(4, 2)]])]
    )
    assert meta["n_postings"].tolist() == [2, 0, 1]
    assert meta["max_doc"].tolist() == [4, 0, 7]


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300
    )
)
@settings(max_examples=60, deadline=None)
def test_delta_roundtrip(ids):
    s = sorted(set(ids))
    half = len(s) // 2
    # Two blocks: the second block's head delta restarts at its doc id.
    roundtrip([
        (s[:half], [1] * half, [0] * half, None),
        (s[half:], [1] * (len(s) - half), [0] * (len(s) - half), None),
    ])


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc_id
            st.integers(min_value=1, max_value=200),  # tf
            st.integers(min_value=-5000, max_value=5000),  # score
        ),
        min_size=0,
        max_size=80,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip(postings):
    postings.sort()
    doc_ids = [p[0] for p in postings]
    tfs = [p[1] for p in postings]
    scores = [p[2] for p in postings]
    (blob,), _ = roundtrip([(doc_ids, tfs, scores, None)])
    out = decode_block(blob)
    assert out["doc_ids"].tolist() == doc_ids
    assert out["tfs"].tolist() == tfs
    assert out["scores"].tolist() == scores
    assert out["pos_starts"].size == out["pos_lens"].size == 0


def test_block_with_positions():
    doc_ids = [3, 10, 55]
    tfs = [2, 1, 3]
    positions = [
        [(0, 2), (17, 4)],
        [(5, 1)],
        [(2, 2), (9, 3), (100, 1)],
    ]
    roundtrip([(doc_ids, tfs, [0, 0, 0], positions)])
    # A block written without a payload stream reads back zero payloads.
    out = decode_block(ref_encode_block(doc_ids, tfs, positions=positions))
    assert out["doc_ids"].tolist() == doc_ids
    assert out["scores"].tolist() == [0, 0, 0]
    assert out["pos_starts"].tolist() == [0, 17, 5, 2, 9, 100]
    assert out["pos_lens"].tolist() == [2, 4, 1, 2, 3, 1]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=60000),
                    st.integers(min_value=1, max_value=255),
                ),
                min_size=1,
                max_size=8,
            ),
            st.integers(min_value=-5000, max_value=5000),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=50, deadline=None)
def test_positions_roundtrip_matches_reference(postings):
    postings.sort()
    positions = [sorted(p[1]) for p in postings]
    roundtrip([(
        [p[0] for p in postings],
        [len(pl) for pl in positions],
        [p[2] for p in postings],
        positions,
    )])


def test_compression_actually_compresses():
    # Dense sequential ids → deltas of 1 → tiny blob.
    n = 10_000
    (blob,), _ = encode_blocks_batch(
        np.array([0, n]), np.arange(n), np.ones(n), np.zeros(n)
    )
    assert len(blob) < n  # far smaller than 8 bytes/posting


def _random_blocks(rng, count, with_positions):
    blocks = []
    for i in range(count):
        n = int(rng.integers(1, 50))
        docs = np.sort(rng.choice(5_000_000, size=n, replace=False)).tolist()
        tfs = rng.integers(1, 5, size=n).tolist()
        pays = rng.integers(-50, 9_000_000, size=n).tolist()
        positions = None
        if with_positions(i):
            positions = [
                sorted(
                    zip(rng.integers(0, 60_000, size=tf).tolist(),
                        rng.integers(1, 9, size=tf).tolist())
                )
                for tf in tfs
            ]
        blocks.append((docs, tfs, pays, positions))
    return blocks


def test_encode_blocks_batch_matches_per_block():
    """The batch encoder is byte-identical to the per-block reference
    (same varint stream, same zlib framing) and reports each block's
    metadata."""
    rng = np.random.default_rng(7)
    for with_positions in (lambda i: True, lambda i: False):
        blocks = _random_blocks(rng, 200, with_positions)
        _, meta = roundtrip(blocks)
        for i, (docs, tfs, pays, _) in enumerate(blocks):
            assert meta["n_postings"][i] == len(docs)
            assert meta["min_doc"][i] == docs[0]
            assert meta["max_doc"][i] == docs[-1]
            assert meta["max_tf"][i] == max(tfs)
            assert meta["max_score"][i] == max(pays)
            assert meta["sum_tf"][i] == sum(tfs)


def test_decode_blocks_batch_matches_per_block():
    """The batch decoder reproduces the reference decoder across blocks
    with and without positions and payloads."""
    rng = np.random.default_rng(11)
    blocks = _random_blocks(rng, 150, lambda i: i % 3 != 0)
    blobs = [
        ref_encode_block(d, t, None if i % 3 == 0 else p, pos)
        for i, (d, t, p, pos) in enumerate(blocks)
    ]
    for i, (got, blob) in enumerate(zip(batch_decode(blobs), blobs)):
        ref = ref_decode_block(blob)
        if ref["scores"] is None:
            ref["scores"] = [0] * len(ref["doc_ids"])
        assert got == ref, i


def test_positions_flag_is_per_block():
    # A batch given positions arrays writes the flag only for the blocks
    # that have positions; a count other than 0 or sum(tf) is refused.
    rng = np.random.default_rng(5)
    roundtrip(_random_blocks(rng, 60, lambda i: i % 2 == 0))
    with pytest.raises(ValueError, match="block 1: 2 positions"):
        encode_blocks_batch(
            np.array([0, 1, 3]), np.array([1, 1, 2]), np.array([1, 2, 1]),
            np.zeros(3), np.array([0, 1, 3]),
            np.array([0, 1, 2]), np.ones(3),
        )


def test_block_format_is_pinned():
    # The on-disk format: the varint stream of each block, hex-pinned,
    # inside one zlib level-1 frame.
    blobs, _ = batch_encode([
        ([3, 10, 300], [2, 1, 1], [-1, 0, 70000],
         [[(0, 2), (17, 4)], [(5, 1)], [(200, 3)]]),
        ([2**40, 2**40 + 5], [1, 3], [-129, 5], None),
    ])
    raws = [zlib.decompress(b) for b in blobs]
    assert [r.hex() for r in raws] == [
        "030307a202020101010100e0c50801000211040501c80103",
        "028080808080200501030181020a00",
    ]
    assert blobs == [zlib.compress(r, 1) for r in raws]
