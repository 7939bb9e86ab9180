"""Pure-pandas unit tests for the shard-batch scorer (no Spark session):
row-order independence (shuffle-robust determinism), filter/exclude
composition, exactness vs a brute-force reference, exact MaxScore bounds
and one decode pass per shard."""
from __future__ import annotations

import math

import numpy as np
import pandas as pd

from colbert_live_spark.index.codec import encode_lists_columns
from colbert_live_spark.operators import wand
from colbert_live_spark.operators.wand import (ShardLists, bm25_weight_np,
                                               score_shard_queries)

AVGDL = 100.0
K = 5


def _make_list(term_id, doc_ids, rng, salt=0):
    """One postings row: the encoded (term_id, salt) list of ``doc_ids``."""
    tfs = rng.integers(1, 6, doc_ids.size).astype(np.int64)
    dls = rng.integers(50, 200, doc_ids.size).astype(np.int64)
    pdf = pd.DataFrame(encode_lists_columns(
        np.full(doc_ids.size, term_id, np.int64),
        np.full(doc_ids.size, salt, np.int32), doc_ids, tfs, dls))
    return pdf, dict(zip(doc_ids.tolist(), tfs.tolist())), dict(
        zip(doc_ids.tolist(), dls.tolist()))


def _shard(rng, n_docs=5000):
    t1 = np.sort(rng.choice(n_docs, 400, replace=False)).astype(np.int64)
    t2 = np.sort(rng.choice(n_docs, 1500, replace=False)).astype(np.int64)
    t3 = np.sort(rng.choice(n_docs, 60, replace=False)).astype(np.int64)
    b1, tf1, dl1 = _make_list(1, t1, rng)
    b2, tf2, dl2 = _make_list(2, t2, rng)
    b3, tf3, dl3 = _make_list(3, t3, rng)
    frame = pd.concat([b1, b2, b3], ignore_index=True)
    return frame, {1: (tf1, dl1), 2: (tf2, dl2), 3: (tf3, dl3)}


QMETA = {
    "qa": [(1, 2.5), (2, 0.4)],
    "qb": [(3, 6.0), (2, 0.4), (1, 2.5)],
    "qc": [(2, 0.4)],
}
NQ = {"qa": 2, "qb": 3, "qc": 1}


def _brute(lists, qterms, k, member=None, exclude=None):
    scores: dict[int, float] = {}
    for tid, coef in qterms:
        tf, dl = lists[tid]
        for d in tf:
            if member is not None and d not in member:
                continue
            if exclude is not None and d in exclude:
                continue
            w = coef * float(bm25_weight_np(np.array([tf[d]]),
                                            np.array([dl[d]]), AVGDL)[0])
            scores[d] = scores.get(d, 0.0) + w
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _files(rng, n_files):
    """Postings rows of ``n_files`` doc-disjoint shards concatenated file
    after file — the frame a serving task reads for its file subset; with
    several files, each term's rows are non-contiguous."""
    parts = []
    for f in range(n_files):
        frame, _ = _shard(rng)
        shift = 5000 * f  # past _shard's doc-id range
        parts.append(frame.assign(first_doc=frame["first_doc"] + shift))
    return pd.concat(parts, ignore_index=True)


def test_row_order_independence():
    """Any row order of the postings frame scores bit-identically,
    disjunctive and conjunctive, for one file and for several doc-disjoint
    files: the term grouping keeps no positional assumption."""
    for n_files in (1, 3):
        frame = _files(np.random.default_rng(3), n_files)
        for conj in (False, True):
            base = score_shard_queries(frame, QMETA, NQ, AVGDL, K,
                                       conjunctive=conj)
            assert len(base)
            for seed in (1, 2, 3):
                shuffled = frame.sample(frac=1.0, random_state=seed
                                         ).reset_index(drop=True)
                got = score_shard_queries(shuffled, QMETA, NQ, AVGDL, K,
                                          conjunctive=conj)
                pd.testing.assert_frame_equal(base, got, check_exact=True)


def test_matches_bruteforce_and_pruned_equals_unpruned():
    rng = np.random.default_rng(7)
    frame, lists = _shard(rng)
    pruned = score_shard_queries(frame, QMETA, NQ, AVGDL, K, prune=True)
    full = score_shard_queries(frame, QMETA, NQ, AVGDL, K, prune=False)
    pd.testing.assert_frame_equal(pruned, full)
    got = {}
    for r in pruned.itertuples():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, qterms in QMETA.items():
        expect = _brute(lists, qterms, K)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], qid
        for (_, s1), (_, s2) in zip(g, expect):
            assert math.isclose(s1, s2, rel_tol=1e-12)


def test_filter_and_exclude_compose():
    rng = np.random.default_rng(11)
    frame, lists = _shard(rng)
    member = np.array(sorted(d for d in range(5000) if d % 3 == 0),
                      dtype=np.int64)
    excl = np.array(sorted(d for d in range(5000) if d % 10 == 0),
                    dtype=np.int64)
    got_df = score_shard_queries(frame, QMETA, NQ, AVGDL, K,
                                 filter_ids=member, exclude_ids=excl)
    got = {}
    for r in got_df.itertuples():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    mem, exc = set(member.tolist()), set(excl.tolist())
    for qid, qterms in QMETA.items():
        expect = _brute(lists, qterms, K, member=mem, exclude=exc)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], qid
        for (_, s1), (_, s2) in zip(g, expect):
            assert math.isclose(s1, s2, rel_tol=1e-12)


def test_property_scorer_vs_bruteforce():
    """Property-based: random list shapes/coefs/k — pruned shard scoring,
    unpruned, and the brute-force reference must agree on ranking (ties
    doc-asc) and scores; pruned == unpruned exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.data())
    def run(data):
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.default_rng(seed)
        n_docs = data.draw(st.integers(50, 2000))
        n_terms = data.draw(st.integers(1, 5))
        k = data.draw(st.integers(1, 12))
        parts, lists, qterms = [], {}, []
        for tid in range(1, n_terms + 1):
            sz = int(rng.integers(1, max(2, n_docs // 2)))
            ids = np.sort(rng.choice(n_docs, sz, replace=False)).astype(
                np.int64)
            b, tf, dl = _make_list(tid, ids, rng)
            parts.append(b)
            lists[tid] = (tf, dl)
            coef = float(rng.uniform(0.05, 8.0))
            qterms.append((tid, coef))
        frame = pd.concat(parts, ignore_index=True)
        qm = {"q": sorted(qterms, key=lambda x: (-x[1], x[0]))}
        nq = {"q": len(qterms)}
        pruned = score_shard_queries(frame, qm, nq, AVGDL, k, prune=True)
        full = score_shard_queries(frame, qm, nq, AVGDL, k, prune=False)
        pd.testing.assert_frame_equal(pruned, full)
        # brute sums in the scorer's term order so quasi-tied docs rank
        # identically (ULP-level float order sensitivity)
        expect = _brute(lists, qm["q"], k)
        got = [(r.doc_id, r.score) for r in pruned.itertuples()]
        assert [d for d, _ in got] == [d for d, _ in expect]
        for (_, s1), (_, s2) in zip(got, expect):
            assert math.isclose(s1, s2, rel_tol=1e-12)

    run()


def test_conjunctive_shard_semantics():
    """A query term absent from the shard ⇒ empty (its docs can't be in
    this shard); present terms intersect exactly."""
    rng = np.random.default_rng(13)
    frame, lists = _shard(rng)
    qm = {"qi": [(1, 2.5), (2, 0.4)], "qmiss": [(1, 2.5)]}
    nq = {"qi": 2, "qmiss": 2}  # qmiss had 2 raw terms, only 1 matched here
    got_df = score_shard_queries(frame, qm, nq, AVGDL, K, conjunctive=True)
    got = {}
    for r in got_df.itertuples():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert "qmiss" not in got
    tf1, _ = lists[1]
    tf2, _ = lists[2]
    inter = sorted(set(tf1) & set(tf2))
    scores = {}
    for d in inter:
        w = 0.0
        for tid, coef in qm["qi"]:
            tf, dl = lists[tid]
            w += coef * float(bm25_weight_np(np.array([tf[d]]),
                                             np.array([dl[d]]), AVGDL)[0])
        scores[d] = w
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    g = got.get("qi", [])
    assert [d for d, _ in g] == [d for d, _ in expect]
    for (_, s1), (_, s2) in zip(g, expect):
        assert math.isclose(s1, s2, rel_tol=1e-12)


def test_conjunctive_term_absent_from_index_returns_no_rows():
    """A conjunctive query whose second term is absent from the whole index
    (nothing to resolve, so only one term reaches the scorer) returns no
    rows, even though its other term has postings here; the same query
    scored disjunctively does match."""
    rng = np.random.default_rng(17)
    frame, _ = _shard(rng)
    qm, nq = {"q": [(1, 2.5)]}, {"q": 2}
    assert len(score_shard_queries(frame, qm, nq, AVGDL, K,
                                   conjunctive=True)) == 0
    assert len(score_shard_queries(frame, qm, nq, AVGDL, K))


def test_bounds_are_exact_list_maxima():
    """Each term's MaxScore bound is the exact max weight of its list after
    the filter and tombstone masks, also when a mask removes the doc that
    holds the unmasked list's max weight."""
    rng = np.random.default_rng(19)
    frame, lists = _shard(rng)
    top = []
    for tf, dl in lists.values():
        docs = np.array(sorted(tf), dtype=np.int64)
        w = bm25_weight_np(np.array([tf[d] for d in docs]),
                           np.array([dl[d] for d in docs]), AVGDL)
        top.append(int(docs[np.argmax(w)]))
    top = np.array(sorted(top), dtype=np.int64)
    everyone = np.arange(5000, dtype=np.int64)
    for filt, excl in ((None, top), (np.setdiff1d(everyone, top), None)):
        sl = ShardLists(frame, AVGDL, filter_ids=filt, exclude_ids=excl)
        for t in lists:
            d, w = sl.get(t)
            assert not np.isin(top, d).any()
            assert sl.sigma_base(t) == w.max()


def test_one_decode_per_shard(monkeypatch):
    """Scoring a multi-term batch over a several-file frame decodes every
    list in one decode_blocks call, disjunctive and conjunctive."""
    frame = _files(np.random.default_rng(23), 3)
    real = wand.decode_blocks
    calls = []

    def counting(*args):
        calls.append(len(args[0]))
        return real(*args)

    monkeypatch.setattr(wand, "decode_blocks", counting)
    for conj in (False, True):
        calls.clear()
        assert len(score_shard_queries(frame, QMETA, NQ, AVGDL, K,
                                       conjunctive=conj))
        assert calls == [len(frame)]
