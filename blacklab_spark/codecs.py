"""Posting-list block codecs — numpy-vectorized varint/delta encoding.

Reference analog: BlackLab's VInt/ZInt payload discipline and multi-codec token
storage (/root/reference/doc/technical/index-formats/integrated.md:78-94,252-258;
/root/reference/engine/src/main/java/nl/inl/blacklab/codec/tokens/TokensCodecType.java:15-21).
Ours is a columnar posting-block layout designed for Parquet rows:

    one block = up to `block_size` postings of ONE term, doc-id-sorted:
      first_doc_id   int64   (skip pointer: absolute docID of first posting)
      last_doc_id    int64   (skip pointer: absolute docID of last posting)
      num_docs       int32
      doc_gaps       binary  varint(d[0]-first=0, d[i]-d[i-1])
      tfs            binary  varint(tf[i])
      dls            binary  varint(dl[i])   exact doc lengths co-located so
                                             scoring never joins at query time
      positions      binary  varint position-gaps, doc-major (tf[i] entries per doc)
      block_max_tf   int32
      block_max_score float64  exact per-block BM25 upper bound (block-max WAND)

Delta decoding restarts at every block, so blocks are independently decodable —
this is what makes salted high-DF term merges correct: salt boundaries are
block boundaries (SURVEY.md §7.3 "Skew").

All encode/decode paths are vectorized numpy (bounded ≤10-iteration loops over
byte positions, never over values) — usable inside Arrow-batched pandas UDFs
with no per-row Python.
"""

from __future__ import annotations

import numpy as np

DEFAULT_BLOCK_SIZE = 128


# ---------------------------------------------------------------- varint ----

def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, with per-value byte lengths so callers
    can slice the buffer into sub-ranges (used to split one batch-wide
    encode into per-group byte strings without re-encoding). Vectorized:
    loops only over byte slots (<=10)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = np.ones(v.size, dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t > 0).astype(np.int64)
        t = t >> np.uint64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    for j in range(int(nb.max())):
        m = nb > j
        b = ((v[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1) > j
        b[cont] |= 0x80
        out[starts[m] + j] = b
    return out.tobytes(), nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 array. Vectorized like encode."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero((arr & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    for j in range(int(lengths.max())):
        m = lengths > j
        out[m] |= (arr[starts[m] + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
    return out


# ------------------------------------------------------------- pos lists ----

def encode_positions(positions_flat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode doc-major flattened position lists as per-doc position gaps.

    positions_flat: ascending positions per doc, concatenated in doc order;
    tfs: number of positions per doc. Gap restarts at each doc (first gap =
    absolute first position).
    """
    p = np.ascontiguousarray(positions_flat, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = np.diff(p, prepend=np.int64(0))
    doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
    gaps[doc_starts] = p[doc_starts]  # restart per doc
    return varint_encode(gaps.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions → flat int64 positions (doc-major).

    Per-doc cumulative sums computed as one global cumsum minus the running
    total at each doc's start (vectorized segment-cumsum trick).
    """
    gaps = varint_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    cs = np.cumsum(gaps)
    doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    base = np.zeros(len(tfs), dtype=np.int64)
    if len(tfs) > 1:
        base[1:] = cs[doc_starts[1:] - 1]
    return cs - np.repeat(base, tfs)


# ---------------------------------------------------------------- blocks ----

def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions_flat: np.ndarray | None,
    avgdl: float,
    idf_val: float,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> list[dict]:
    """Split one term's doc-sorted postings into independently-decodable blocks.

    Returns a list of dicts matching the FIXTURES.md §5 postings schema
    (minus term_id/block_no, which the caller assigns).
    """
    from blacklab_spark.scoring import bm25_upper_bound

    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    n = doc_ids.size
    blocks = []
    pos_offsets = None
    if positions_flat is not None:
        pos_offsets = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d = doc_ids[s:e]
        t = tfs[s:e]
        l = dls[s:e]
        gaps = np.diff(d, prepend=d[0]).astype(np.uint64)  # first gap = 0
        if positions_flat is not None:
            pf = positions_flat[pos_offsets[s]:pos_offsets[e]]
            pos_bytes = encode_positions(np.asarray(pf), t)
        else:
            pos_bytes = b""
        blocks.append({
            "first_doc_id": int(d[0]),
            "last_doc_id": int(d[-1]),
            "num_docs": int(e - s),
            "doc_gaps": varint_encode(gaps),
            "tfs": varint_encode(t.astype(np.uint64)),
            "dls": varint_encode(l.astype(np.uint64)),
            "positions": pos_bytes,
            "block_max_tf": int(t.max()),
            "block_max_score": bm25_upper_bound(t, l, avgdl, idf_val),
        })
    return blocks


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode a run of blocks → flat (doc_ids, tfs, dls) int64 in block
    order, plus each block's posting count — the inverse of the build's
    batch-wide encoder. `blocks` maps first_doc_id/doc_gaps/tfs/dls to
    per-block columns (a pandas frame, an Arrow batch's to_pydict()). One
    varint pass per column over the concatenated bytes; the doc-gap sums
    restart at every block (each block's first gap is 0)."""
    gap_bytes = blocks["doc_gaps"]
    buf = b"".join(gap_bytes)
    # a block's count = the varints ending (high bit clear) inside its bytes
    ends = np.flatnonzero(np.frombuffer(buf, dtype=np.uint8) < 0x80)
    byte_ends = np.cumsum(np.fromiter(map(len, gap_bytes), np.int64))
    counts = np.diff(np.searchsorted(ends, byte_ends), prepend=0)
    cs = np.cumsum(varint_decode(buf).astype(np.int64))
    before = np.concatenate(([0], cs))[np.cumsum(counts) - counts]
    first = np.asarray(blocks["first_doc_id"], dtype=np.int64)
    doc_ids = cs + np.repeat(first - before, counts)
    tfs = varint_decode(b"".join(blocks["tfs"])).astype(np.int64)
    dls = varint_decode(b"".join(blocks["dls"])).astype(np.int64)
    return doc_ids, tfs, dls, counts


def decode_block(block: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, dls int64)."""
    cols = ("first_doc_id", "doc_gaps", "tfs", "dls")
    return decode_blocks({c: [block[c]] for c in cols})[:3]


def decode_block_positions(block: dict) -> np.ndarray:
    """Decode a block's flat doc-major positions array."""
    tfs = varint_decode(block["tfs"]).astype(np.int64)
    return decode_positions(block["positions"], tfs)
