"""Codec unit tests — property-based roundtrips (the unit-test layer the
reference lacks; SURVEY.md §5 'we add')."""
from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_live_spark.index.codec import (
    BLOCK_SIZE, decode_block, encode_posting_list, varint_decode, varint_encode,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr), len(vals)), arr)


def test_varint_edge_values():
    edges = [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**21, 2**28, 2**35,
             2**42, 2**49, 2**56, 2**63 - 1]
    arr = np.array(edges, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_compression_ratio():
    small = np.arange(10_000, dtype=np.uint64) % 100
    assert len(varint_encode(small)) == 10_000  # 1 byte each


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=600),
       st.integers(min_value=1, max_value=50))
def test_posting_roundtrip(doc_set, tf_max):
    rng = np.random.default_rng(42)
    doc_ids = np.array(sorted(doc_set), dtype=np.int64)
    tfs = rng.integers(1, tf_max + 1, doc_ids.size).astype(np.int64)
    dls = rng.integers(1, 500, doc_ids.size).astype(np.int64)
    blocks = encode_posting_list(doc_ids, tfs, dls, avgdl=100.0)
    got_d, got_t, got_l = [], [], []
    for i, blk in enumerate(blocks):
        assert blk["block_id"] == i
        d, t, l = decode_block(blk["first_doc"], blk["n"], blk["docs"],
                               blk["tfs"], blk["dls"])
        assert blk["first_doc"] == d[0] and blk["last_doc"] == d[-1]
        got_d.append(d); got_t.append(t); got_l.append(l)
    assert np.array_equal(np.concatenate(got_d), doc_ids)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)


@settings(max_examples=60, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**10), min_size=1,
               max_size=800),
       st.integers(min_value=2, max_value=64))
def test_decode_blocks_vectorized_roundtrip(doc_set, block_size):
    from colbert_live_spark.index.codec import decode_blocks
    rng = np.random.default_rng(9)
    doc_ids = np.array(sorted(doc_set), dtype=np.int64)
    tfs = rng.integers(1, 30, doc_ids.size).astype(np.int64)
    dls = rng.integers(1, 900, doc_ids.size).astype(np.int64)
    blocks = encode_posting_list(doc_ids, tfs, dls, 100.0, block_size)
    d, t, l = decode_blocks([b["first_doc"] for b in blocks],
                            [b["n"] for b in blocks],
                            [b["docs"] for b in blocks],
                            [b["tfs"] for b in blocks],
                            [b["dls"] for b in blocks])
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)


def test_decode_blocks_multi_list_order():
    """Blocks from different sub-lists decode in given order (interleaved
    salted lists)."""
    from colbert_live_spark.index.codec import decode_blocks
    a = np.array([5, 100, 2000], dtype=np.int64)
    b = np.array([1, 50], dtype=np.int64)
    ones = np.ones(3, np.int64)
    ba = encode_posting_list(a, ones, ones * 10, 10.0, block_size=2)
    bb = encode_posting_list(b, ones[:2], ones[:2] * 10, 10.0, block_size=2)
    blocks = ba + bb
    d, t, l = decode_blocks([x["first_doc"] for x in blocks],
                            [x["n"] for x in blocks],
                            [x["docs"] for x in blocks],
                            [x["tfs"] for x in blocks],
                            [x["dls"] for x in blocks])
    assert list(d) == [5, 100, 2000, 1, 50]


def test_block_max_weight_is_max():
    from colbert_live_spark.index.codec import bm25_weight_np
    doc_ids = np.arange(300, dtype=np.int64)
    tfs = (doc_ids % 7 + 1).astype(np.int64)
    dls = (doc_ids % 90 + 10).astype(np.int64)
    blocks = encode_posting_list(doc_ids, tfs, dls, avgdl=50.0)
    assert len(blocks) == 3  # 300 docs / 128
    for b0, blk in zip(range(0, 300, BLOCK_SIZE), blocks):
        w = bm25_weight_np(tfs[b0:b0 + BLOCK_SIZE], dls[b0:b0 + BLOCK_SIZE], 50.0)
        assert blk["max_weight"] == w.max()


# ------------------------------------------------------ multi-list codec

def test_encode_lists_columns_matches_per_group():
    """The vectorized multi-list encoder must be byte-identical to calling
    the single-list encoder per (term, salt) group."""
    import numpy as np
    from colbert_live_spark.index.codec import (encode_lists_columns,
                                                encode_posting_list_columns)
    rng = np.random.RandomState(11)
    rows = []
    for t in range(4):
        for s in range(3):
            n = rng.randint(1, 400)
            d = np.sort(rng.choice(10_000, size=n, replace=False))
            rows.append((t, s, d, rng.randint(1, 20, n),
                         rng.randint(5, 500, n)))
    term = np.concatenate([np.full(r[2].size, r[0]) for r in rows]).astype(np.int64)
    salt = np.concatenate([np.full(r[2].size, r[1]) for r in rows]).astype(np.int32)
    doc = np.concatenate([r[2] for r in rows]).astype(np.int64)
    tf = np.concatenate([r[3] for r in rows]).astype(np.int64)
    dl = np.concatenate([r[4] for r in rows]).astype(np.int64)
    multi = encode_lists_columns(term, salt, doc, tf, dl, 123.4, 128)
    ref = {k: [] for k in multi}
    for (t, s, d, tfs, dls) in rows:
        cols = encode_posting_list_columns(
            d.astype(np.int64), np.asarray(tfs, np.int64),
            np.asarray(dls, np.int64), 123.4, 128)
        nb = len(cols["block_id"])
        ref["term_id"].extend([t] * nb)
        ref["salt"].extend([s] * nb)
        for k in ("block_id", "first_doc", "last_doc", "n", "max_weight",
                  "docs", "tfs", "dls"):
            ref[k].extend(list(cols[k]))
    for k in multi:
        assert list(multi[k]) == list(ref[k]), k
