"""Posting-list block codec: docID-delta + LEB128 varint, per-block skip
pointers (first/last doc) and max-impact metadata for block-max pruning.

Pure numpy, fully vectorized (bounded loops over byte positions, never over
values) — runs inside Arrow UDF stages with zero per-row Python. This is the
storage-reduction analog of the reference's doc-embedding pooling
(`colbert_live/colbert_live.py:119-129`): the reference halves its index by
pooling token vectors; we compress postings ~4-8× with delta+varint and buy
query-time skipping with the block metadata (the analog of its ANN index
ordering, `example/cmdline/db.py:54-59`).

Block layout (one row per block in the postings table):
  term_id, salt, block_id, first_doc, last_doc, n, max_weight,
  docs (varint deltas, first doc stored in the column),
  tfs (varint), dls (varint)

``max_weight`` is the block max of the idf-free BM25 term weight
tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)); multiplying by qtf·idf at query time
gives the block's max impact. Storing it idf-free keeps blocks valid across
index merges that change df.
"""

from __future__ import annotations

import numpy as np

from colbert_live_spark import BM25_B, BM25_K1

BLOCK_SIZE = 128

_THRESH = np.array([1 << (7 * i) for i in range(1, 10)], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized: loops only over the ≤10
    byte positions, never over values."""
    return _varint_offsets(values)[0]


def varint_decode(data: bytes, n: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes back to uint64. Vectorized like encode."""
    arr = np.frombuffer(data, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = arr < 0x80
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    out = np.zeros(ends.size, dtype=np.uint64)
    maxlen = int(lengths.max())
    for i in range(maxlen):
        mask = lengths > i
        out[mask] |= (arr[starts[mask] + i] & np.uint64(0x7F)).astype(
            np.uint64) << np.uint64(7 * i)
    if n is not None:
        assert out.size == n, f"decoded {out.size} values, expected {n}"
    return out


def bm25_weight_np(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                   k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    tf = tf.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))


def _varint_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode the whole array once; return (bytes, end-offset per value).
    LEB128 concatenation is self-delimiting, so any value-aligned byte
    slice is itself a valid encoding — blocks slice this stream."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    lengths = np.ones(v.shape, dtype=np.int64)
    for t in _THRESH:
        lengths += (v >= t)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for i in range(int(lengths.max())):
        mask = lengths > i
        byte = ((v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        byte |= (lengths[mask] - 1 > i).astype(np.uint8) << 7
        out[starts[mask] + i] = byte
    return out.tobytes(), ends


def encode_posting_list_columns(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Vectorized block encoding of one sorted posting (sub-)list.

    Returns columnar output (lists/arrays, one element per block) matching
    the postings-table schema minus term_id/salt. All numeric work happens
    in whole-list numpy passes; the only per-block operations are byte
    slices of the pre-encoded streams.
    """
    n = doc_ids.size
    if n > 1:
        assert bool(np.all(doc_ids[:-1] < doc_ids[1:])), \
            "posting list must be sorted unique by doc_id"
    n_blocks = (n + block_size - 1) // block_size
    starts = np.arange(n_blocks) * block_size
    ends = np.minimum(starts + block_size, n)

    deltas = np.diff(doc_ids.astype(np.uint64))
    # exclude deltas that cross block starts (block-first docs are absolute)
    keep = np.ones(deltas.size, dtype=bool)
    keep[starts[1:] - 1] = False
    d_bytes, d_ends = _varint_offsets(deltas[keep])
    t_bytes, t_ends = _varint_offsets(tfs.astype(np.uint64))
    l_bytes, l_ends = _varint_offsets(dls.astype(np.uint64))

    weights = bm25_weight_np(tfs, dls, avgdl)
    max_w = np.maximum.reduceat(weights, starts)

    # byte offsets per block: deltas stream has (block_len - 1) values per
    # block; tf/dl streams have block_len values per block
    kept_per_block = ends - starts - 1
    d_val_ends = np.cumsum(kept_per_block)          # value-index end per block
    d_byte_ends = np.where(d_val_ends > 0, d_ends[d_val_ends - 1], 0) \
        if d_ends.size else np.zeros(n_blocks, dtype=np.int64)
    d_byte_starts = np.concatenate([[0], d_byte_ends[:-1]])
    t_byte_ends = t_ends[ends - 1]
    t_byte_starts = np.concatenate([[0], t_byte_ends[:-1]])
    l_byte_ends = l_ends[ends - 1]
    l_byte_starts = np.concatenate([[0], l_byte_ends[:-1]])

    return {
        "block_id": np.arange(n_blocks, dtype=np.int32),
        "first_doc": doc_ids[starts].astype(np.int64),
        "last_doc": doc_ids[ends - 1].astype(np.int64),
        "n": (ends - starts).astype(np.int32),
        "max_weight": max_w.astype(np.float64),
        "docs": [d_bytes[a:b] for a, b in zip(d_byte_starts, d_byte_ends)],
        "tfs": [t_bytes[a:b] for a, b in zip(t_byte_starts, t_byte_ends)],
        "dls": [l_bytes[a:b] for a, b in zip(l_byte_starts, l_byte_ends)],
    }


def encode_lists_columns(
    term_ids: np.ndarray,
    salts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Vectorized block encoding of MANY posting (sub-)lists in one pass.

    Input rows must be sorted by (term_id, salt, doc_id) with doc_id unique
    per (term_id, salt) group. Produces byte-identical blocks to calling
    :func:`encode_posting_list_columns` per group (block boundaries restart
    at every group start), but with no per-group Python — group/block
    segmentation, delta computation, varint encoding, and byte slicing are
    whole-array numpy operations. This is the index-build hot loop: the
    merge's reduce side calls it once per chunk of complete (term_id, salt)
    groups of the shuffled, doc-sorted posting rows.
    """
    n = doc_ids.size
    if n == 0:
        return {
            "term_id": np.zeros(0, dtype=np.int64),
            "salt": np.zeros(0, dtype=np.int32),
            "block_id": np.zeros(0, dtype=np.int32),
            "first_doc": np.zeros(0, dtype=np.int64),
            "last_doc": np.zeros(0, dtype=np.int64),
            "n": np.zeros(0, dtype=np.int32),
            "max_weight": np.zeros(0, dtype=np.float64),
            "docs": [], "tfs": [], "dls": [],
        }
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (term_ids[1:] != term_ids[:-1]) | (salts[1:] != salts[:-1])
    gidx = np.cumsum(new_group) - 1
    gstart = np.flatnonzero(new_group)
    off = np.arange(n, dtype=np.int64) - gstart[gidx]
    is_block_start = (off % block_size) == 0
    starts = np.flatnonzero(is_block_start)
    ends = np.concatenate([starts[1:], [n]])
    n_blocks = starts.size

    deltas = np.diff(doc_ids.astype(np.uint64))
    keep = ~is_block_start[1:]  # delta into a block-start row is not stored
    d_bytes, d_ends = _varint_offsets(deltas[keep])
    t_bytes, t_ends = _varint_offsets(tfs.astype(np.uint64))
    l_bytes, l_ends = _varint_offsets(dls.astype(np.uint64))

    kept_per_block = ends - starts - 1
    d_val_ends = np.cumsum(kept_per_block)
    d_byte_ends = np.where(d_val_ends > 0, d_ends[d_val_ends - 1], 0) \
        if d_ends.size else np.zeros(n_blocks, dtype=np.int64)
    d_byte_starts = np.concatenate([[0], d_byte_ends[:-1]])
    t_byte_ends = t_ends[ends - 1]
    t_byte_starts = np.concatenate([[0], t_byte_ends[:-1]])
    l_byte_ends = l_ends[ends - 1]
    l_byte_starts = np.concatenate([[0], l_byte_ends[:-1]])

    # block ordinal within its group: block index minus the group's first
    # block index (group starts are always block starts)
    block_of_group_start = np.cumsum(new_group[starts]) - 1
    first_block_of_group = np.flatnonzero(new_group[starts])
    weights = bm25_weight_np(tfs, dls, avgdl)
    return {
        "term_id": term_ids[starts].astype(np.int64),
        "salt": salts[starts].astype(np.int32),
        "block_id": (np.arange(n_blocks, dtype=np.int64)
                     - first_block_of_group[block_of_group_start]
                     ).astype(np.int32),
        "first_doc": doc_ids[starts].astype(np.int64),
        "last_doc": doc_ids[ends - 1].astype(np.int64),
        "n": (ends - starts).astype(np.int32),
        "max_weight": np.maximum.reduceat(weights, starts).astype(np.float64),
        "docs": [d_bytes[a:b] for a, b in zip(d_byte_starts, d_byte_ends)],
        "tfs": [t_bytes[a:b] for a, b in zip(t_byte_starts, t_byte_ends)],
        "dls": [l_bytes[a:b] for a, b in zip(l_byte_starts, l_byte_ends)],
    }


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> list[dict]:
    """Row-oriented view of :func:`encode_posting_list_columns` (tests and
    small callers)."""
    cols = encode_posting_list_columns(doc_ids, tfs, dls, avgdl, block_size)
    keys = list(cols)
    n_blocks = len(cols["block_id"])
    out = []
    for i in range(n_blocks):
        out.append({k: (cols[k][i] if not isinstance(cols[k], np.ndarray)
                        else cols[k][i].item()) for k in keys})
    return out


def decode_blocks(first_docs, ns, docs_blobs, tfs_blobs, dls_blobs
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks in one pass (the query-path hot loop).

    LEB128 streams are self-delimiting, so the per-block blobs concatenate
    into one decodable stream; absolute doc ids come back via a segmented
    prefix sum (no per-block Python). Output order = input block order.
    """
    ns = np.asarray(ns, dtype=np.int64)
    first_docs = np.asarray(first_docs, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    tf = varint_decode(b"".join(tfs_blobs), total).astype(np.int64)
    dl = varint_decode(b"".join(dls_blobs), total).astype(np.int64)
    n_deltas = int((ns - 1).sum())
    deltas = varint_decode(b"".join(docs_blobs), n_deltas).astype(np.int64)

    starts = np.concatenate([[0], np.cumsum(ns)[:-1]])       # doc-space
    vstarts = np.concatenate([[0], np.cumsum(ns - 1)[:-1]])  # delta-space
    cs = np.cumsum(deltas)
    prev_cs = np.where(vstarts > 0, cs[np.maximum(vstarts - 1, 0)], 0) \
        if cs.size else np.zeros(len(ns), dtype=np.int64)
    d = np.empty(total, dtype=np.int64)
    d[starts] = first_docs
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    if n_deltas:
        base = np.repeat(first_docs - prev_cs, ns)
        d[mask] = base[mask] + cs
    return d, tf, dl


def decode_block(first_doc: int, n: int, docs: bytes, tfs: bytes,
                 dls: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Block bytes → (doc_ids int64, tfs int64, dls int64)."""
    deltas = varint_decode(docs, n - 1)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[0] = first_doc
    if n > 1:
        doc_ids[1:] = first_doc + np.cumsum(deltas.astype(np.int64))
    return (doc_ids,
            varint_decode(tfs, n).astype(np.int64),
            varint_decode(dls, n).astype(np.int64))
