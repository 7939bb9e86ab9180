"""The driver-side serving cache (operators/wand.py): dictionary, delta
and tombstone reads are cached per (root, manifest text), so any commit —
ingest, delete — rewrites the manifest and MUST invalidate. Staleness, and
races between concurrent callers and a committing writer, are the failure
modes these tests pin down."""
from __future__ import annotations

from colbert_live_spark.index.segments import (
    add_segment, delete_docs, segment_search_local)
from colbert_live_spark.operators import wand


def _ids(pdf):
    return set(int(x) for x in pdf["doc_id"])


def test_cache_hit_equals_cold_and_ingest_invalidates(spark, tmp_path):
    root = str(tmp_path / "root")
    docs1 = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta")],
        "doc_id long, text string")
    add_segment(spark, docs1, root, n_shards=2, salt_rows=100)

    cold = segment_search_local(root, [("q1", "alpha")], k=10)
    warm = segment_search_local(root, [("q1", "alpha")], k=10)  # cache hit
    assert cold.to_dict("records") == warm.to_dict("records")
    assert _ids(cold) == {0, 1}

    # serve -> add segment -> serve must see the new docs (the manifest
    # text changed, so every cached entry for this root is dropped)
    docs2 = spark.createDataFrame([(0, "alpha delta")],
                                  "doc_id long, text string")
    add_segment(spark, docs2, root, n_shards=2, salt_rows=100)
    after = segment_search_local(root, [("q1", "alpha")], k=10)
    assert _ids(after) == {0, 1, 2}  # new doc got global id next_doc_base+0
    only_new = segment_search_local(root, [("q2", "delta")], k=10)
    assert _ids(only_new) == {2}

    # cached-path answers must equal a completely cold cache
    wand._CACHE.clear()
    fresh = segment_search_local(root, [("q1", "alpha")], k=10)
    assert after.to_dict("records") == fresh.to_dict("records")


def test_delete_invalidates_excl_and_deltas(spark, tmp_path):
    root = str(tmp_path / "root")
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma"), (2, "alpha beta beta")],
        "doc_id long, text string")
    add_segment(spark, docs, root, n_shards=2, salt_rows=100)
    before = segment_search_local(root, [("q1", "beta")], k=10)
    assert _ids(before) == {0, 2}

    delete_docs(spark, root,
                spark.createDataFrame([(2,)], "doc_id long"))
    after = segment_search_local(root, [("q1", "beta")], k=10)
    assert _ids(after) == {0}
    # negative term stays correct through the cache
    assert len(segment_search_local(root, [("q2", "zzzmissing")], k=10)) == 0


def test_concurrent_serving_during_delete(spark, documents, tmp_path,
                                          monkeypatch):
    """Threads serve two roots in-process while delete_docs commits on one
    of them. With bounds tiny enough that entries, terms and deltas churn
    on every call, nothing raises, every answer equals the oracle for the
    state before or after the commit (the state that call read), and the
    cache stays within its bounds."""
    import os
    import sys
    import threading

    from pyspark.sql import functions as F

    from colbert_live_spark.oracle import build_oracle_index, oracle_search
    from colbert_live_spark.queryset import DOC_QUERIES
    monkeypatch.setattr(wand, "_CACHE_ROOTS_MAX", 1)
    monkeypatch.setattr(wand, "_CACHE_TERMS_MAX", 3)
    docs = documents.filter(F.col("doc_id") < 240)
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    for root in roots:
        for lo, hi in ((0, 120), (120, 240)):
            add_segment(spark, docs.filter((F.col("doc_id") >= lo)
                                           & (F.col("doc_id") < hi))
                        .withColumn("doc_id", F.col("doc_id") - lo),
                        root, n_shards=2, salt_rows=100)
    first = [d for d, _ in rows if d % 5 == 0]
    delete_docs(spark, roots[1], first)  # b carries tombstones throughout
    victims = [d for d, _ in rows if d % 5 == 1]

    def answers(docs_):
        oracle = build_oracle_index(docs_)
        return {qid: [d for d, _ in oracle_search(oracle, q, k=10)]
                for qid, q in DOC_QUERIES}

    before = answers([(d, t) for d, t in rows if d % 5 != 0])
    after = answers([(d, t) for d, t in rows if d % 5 > 1])
    static = answers(rows)
    errors, seen = [], {"a": [], "b": []}
    stop = threading.Event()

    def serve(name, root):
        try:
            while not stop.is_set():
                for q in DOC_QUERIES:
                    got = segment_search_local(root, [q], k=10)
                    seen[name].append((q[0], list(got["doc_id"])))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    # more threads than cores, switching often, so LRU bookkeeping races
    # would surface as lost or torn updates
    n_threads = (os.cpu_count() or 4) + 2
    threads = [threading.Thread(target=serve,
                                args=("ab"[i % 2], roots[i % 2]))
               for i in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        delete_docs(spark, roots[1], victims)
        for q in DOC_QUERIES:  # at least one full pass on the new state
            segment_search_local(roots[1], [q], k=10)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen["a"] and seen["b"]
    for qid, ids in seen["a"]:
        assert ids == static[qid], qid
    for qid, ids in seen["b"]:
        assert ids in (before[qid], after[qid]), qid
    assert len(wand._CACHE) <= 1
    for src in wand._CACHE.values():
        assert len(src.terms) <= 3 and len(src.deltas) <= 3
    # the committed state is served from here on
    for qid, q in DOC_QUERIES:
        got = segment_search_local(roots[1], [(qid, q)], k=10)
        assert list(got["doc_id"]) == after[qid], qid
    wand._CACHE.clear()


def test_cache_bookkeeping_is_thread_safe(monkeypatch):
    """The LRU bookkeeping alone, hammered from more threads than cores
    with a tiny bound: every lookup returns its loaded value, nothing
    raises, and the bound holds (an unguarded touch or eviction races into
    KeyError or an over-full map)."""
    import os
    import sys
    import threading
    from collections import OrderedDict
    monkeypatch.setattr(wand, "_CACHE_TERMS_MAX", 4)
    monkeypatch.setattr(wand, "_CACHE_ROOTS_MAX", 2)
    lru: OrderedDict = OrderedDict()
    errors, stop = [], threading.Event()

    def hammer(seed):
        try:
            i = seed
            while not stop.is_set():
                keys = [(i + j) % 11 for j in range(3)]
                got = wand._cached(lru, keys,
                                   lambda ks: {k: 2 * k for k in ks})
                assert got == {k: 2 * k for k in keys}
                wand._source(f"root{i % 5}", "text")
                i += 1
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=hammer, args=(s,))
               for s in range((os.cpu_count() or 4) + 4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        stop.wait(3.0)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(lru) <= 4 and len(wand._CACHE) <= 2
    wand._CACHE.clear()
