"""Codec unit tests — property-based roundtrips (the unit-test layer the
reference lacks; SURVEY.md §5 'we add'): varints, and the list codec over
random multi-list input (one postings row per (term_id, salt) list)."""
from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_live_spark.index.builder import LIST_SCHEMA
from colbert_live_spark.index.codec import (
    decode_blocks, encode_lists_columns, varint_decode, varint_encode,
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


@st.composite
def _lists(draw):
    """Random (term_id, salt) lists, sorted by key, each a sorted unique
    doc-id set with its tfs and dls."""
    keys = sorted(draw(st.sets(st.tuples(st.integers(0, 40),
                                         st.integers(0, 7)),
                               min_size=1, max_size=10)))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    out = []
    for t, s in keys:
        docs = np.array(sorted(draw(st.sets(
            st.integers(0, 10**12), min_size=1, max_size=300))), np.int64)
        out.append((t, s, docs,
                    rng.integers(1, 60, docs.size).astype(np.int64),
                    rng.integers(1, 5000, docs.size).astype(np.int64)))
    return out


def _encode(groups):
    def cat(i, dtype):
        return np.concatenate([np.broadcast_to(g[i], g[2].shape)
                               for g in groups]).astype(dtype)
    return encode_lists_columns(cat(0, np.int64), cat(1, np.int32),
                                cat(2, np.int64), cat(3, np.int64),
                                cat(4, np.int64))


def _decode(cols, rows):
    return decode_blocks(cols["first_doc"][rows], cols["n"][rows],
                         *([cols[c][i] for i in rows]
                           for c in ("docs", "tfs", "dls")))


@settings(max_examples=100, deadline=None)
@given(_lists())
def test_posting_roundtrip(groups):
    """One row per group carrying its key, first doc and size; each row
    decodes to exactly its group's (doc, tf, dl)."""
    cols = _encode(groups)
    assert len(cols["n"]) == len(groups)
    for i, (t, s, docs, tfs, dls) in enumerate(groups):
        assert (cols["term_id"][i], cols["salt"][i]) == (t, s)
        assert cols["first_doc"][i] == docs[0]
        assert cols["n"][i] == docs.size
        for got, want in zip(_decode(cols, [i]), (docs, tfs, dls)):
            assert np.array_equal(got, want)


@settings(max_examples=60, deadline=None)
@given(_lists(), st.randoms(use_true_random=False))
def test_decode_blocks_vectorized_roundtrip(groups, rnd):
    """Any row order decodes in one pass to the groups' concatenation in
    that order."""
    cols = _encode(groups)
    order = list(range(len(groups)))
    rnd.shuffle(order)
    for j, got in enumerate(_decode(cols, order)):
        assert np.array_equal(
            got, np.concatenate([groups[i][2 + j] for i in order]))


def test_decode_blocks_multi_list_order():
    """Lists of different (term, salt) keys decode in the given row order
    (a term's lists from several files, concatenated)."""
    a = np.array([5, 100, 2000], dtype=np.int64)
    b = np.array([1, 50], dtype=np.int64)
    ones = np.ones(3, np.int64)
    cols = _encode([(7, 0, a, ones, ones * 10), (7, 1, b, ones[:2],
                                                 ones[:2] * 10)])
    assert list(_decode(cols, [0, 1])[0]) == [5, 100, 2000, 1, 50]
    assert list(_decode(cols, [1, 0])[0]) == [1, 50, 5, 100, 2000]


def test_columns_follow_the_postings_schema():
    """The encoder's columns are the builder's postings schema, in order,
    for empty and non-empty input."""
    names = [c.split(" ")[0] for c in LIST_SCHEMA.split(", ")]
    one = np.ones(1, np.int64)
    assert list(_encode([(0, 0, one, one, one)])) == names
    z = np.zeros(0, np.int64)
    empty = encode_lists_columns(z, z.astype(np.int32), z, z, z)
    assert list(empty) == names
    assert all(len(v) == 0 for v in empty.values())
