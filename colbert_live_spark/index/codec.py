"""Posting-list codec: docID-delta + LEB128 varint, one row per posting
list, with the list's first doc stored in its own column.

Pure numpy, fully vectorized (bounded loops over byte positions, never over
values) — runs inside Arrow UDF stages with zero per-row Python. This is the
storage-reduction analog of the reference's doc-embedding pooling
(`colbert_live/colbert_live.py:119-129`): the reference halves its index by
pooling token vectors; we compress postings ~4-8× with delta+varint.

List layout (one row per (term_id, salt) list in the postings table):
  term_id, salt, first_doc, n,
  docs (varint deltas, first doc stored in the column),
  tfs (varint), dls (varint)

No score bound is stored: the serving core decodes every matched list and
takes each list's exact max weight under the query-time avgdl
(operators/wand.py).
"""

from __future__ import annotations

import numpy as np

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


def _varint_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode the whole array once; return (bytes, end-offset per value).
    LEB128 concatenation is self-delimiting, so any value-aligned byte
    slice is itself a valid encoding — lists slice this stream."""
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


def encode_lists_columns(
    term_ids: np.ndarray,
    salts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
) -> dict:
    """Vectorized encoding of MANY posting (sub-)lists in one pass, one
    output row per (term_id, salt) list.

    Input rows must be sorted by (term_id, salt, doc_id) with doc_id unique
    per (term_id, salt) group. No per-group Python — group segmentation,
    delta computation, varint encoding, and byte slicing are whole-array
    numpy operations. This is the index-build hot loop: the merge's reduce
    side calls it once per chunk of complete (term_id, salt) groups of the
    shuffled, doc-sorted posting rows.
    """
    n = doc_ids.size
    if n == 0:
        return {
            "term_id": np.zeros(0, dtype=np.int64),
            "salt": np.zeros(0, dtype=np.int32),
            "first_doc": np.zeros(0, dtype=np.int64),
            "n": np.zeros(0, dtype=np.int32),
            "docs": [], "tfs": [], "dls": [],
        }
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (term_ids[1:] != term_ids[:-1]) | (salts[1:] != salts[:-1])
    starts = np.flatnonzero(new_group)
    ends = np.append(starts[1:], n)

    deltas = np.diff(doc_ids.astype(np.uint64))
    # the delta into a list's first row is not stored (first_doc is)
    d_bytes, d_ends = _varint_offsets(deltas[~new_group[1:]])
    t_bytes, t_ends = _varint_offsets(tfs.astype(np.uint64))
    l_bytes, l_ends = _varint_offsets(dls.astype(np.uint64))

    # a list of m postings stores m - 1 deltas
    d_val_ends = np.cumsum(ends - starts - 1)
    d_byte_ends = np.where(d_val_ends > 0, d_ends[d_val_ends - 1], 0) \
        if d_ends.size else np.zeros(starts.size, dtype=np.int64)

    def cut(data: bytes, byte_ends: np.ndarray) -> list[bytes]:
        byte_starts = np.concatenate([[0], byte_ends[:-1]])
        return [data[a:b] for a, b in zip(byte_starts, byte_ends)]

    return {
        "term_id": term_ids[starts].astype(np.int64),
        "salt": salts[starts].astype(np.int32),
        "first_doc": doc_ids[starts].astype(np.int64),
        "n": (ends - starts).astype(np.int32),
        "docs": cut(d_bytes, d_byte_ends),
        "tfs": cut(t_bytes, t_ends[ends - 1]),
        "dls": cut(l_bytes, l_ends[ends - 1]),
    }


def decode_blocks(first_docs, ns, docs_blobs, tfs_blobs, dls_blobs
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY encoded lists in one pass (the query-path hot loop).
    One postings row is one list: its ``first_doc``, its size ``n`` and
    its three varint blobs.

    LEB128 streams are self-delimiting, so the per-list blobs concatenate
    into one decodable stream; absolute doc ids come back via a segmented
    prefix sum (no per-list Python). Output order = input row order.
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
