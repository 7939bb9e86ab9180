"""Incremental segments: rank-identity under incremental ingest, compaction
equivalence, streaming ingestion liveness, arrival-order independence of
natural-key (preserve_ids) ingest."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.segments import (
    add_segment, compact, segment_search,
)
from colbert_live_spark.oracle import build_oracle_index, oracle_search
from colbert_live_spark.queryset import DOC_QUERIES

K = 10
ATOL = 1e-9


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _assert_matches_oracle(got, oracle_index, queries=DOC_QUERIES):
    for qid, qtext in queries:
        expect = oracle_search(oracle_index, qtext, k=K)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expect):
            assert math.isclose(gs, es, abs_tol=ATOL), (qid, gd, gs, es)


@pytest.fixture(scope="module")
def seg_root(spark, documents, tmp_path_factory):
    """Corpus ingested in 3 increments; doc_ids kept identical to the
    monolithic build (bases are contiguous because splits are id ranges)."""
    root = str(tmp_path_factory.mktemp("segroot") / "live")
    n = documents.count()
    b1, b2 = n // 3, 2 * n // 3
    add_segment(spark, documents.filter(F.col("doc_id") < b1), root,
                salt_rows=100)
    add_segment(spark,
                documents.filter((F.col("doc_id") >= b1)
                                 & (F.col("doc_id") < b2))
                .withColumn("doc_id", F.col("doc_id") - b1), root,
                salt_rows=100)
    add_segment(spark,
                documents.filter(F.col("doc_id") >= b2)
                .withColumn("doc_id", F.col("doc_id") - b2), root,
                salt_rows=100)
    return root


def test_incremental_matches_oracle(spark, seg_root, oracle_index):
    """Global stats across segments → scores identical to full rebuild."""
    got = _collect(segment_search(spark, seg_root, DOC_QUERIES, k=K))
    _assert_matches_oracle(got, oracle_index)


def test_incremental_conjunctive_matches_relational(spark, seg_root,
                                                    documents):
    """Intersection semantics across segments == relational conjunctive."""
    from colbert_live_spark.operators import bm25
    got = _collect(segment_search(spark, seg_root, DOC_QUERIES, k=K,
                                  conjunctive=True))
    expect = _collect(bm25.search(spark, documents, DOC_QUERIES, k=K,
                                  conjunctive=True))
    assert got.keys() == expect.keys()
    for qid in expect:
        assert [d for d, _ in got[qid]] == [d for d, _ in expect[qid]]
        for (_, s1), (_, s2) in zip(got[qid], expect[qid]):
            assert math.isclose(s1, s2, abs_tol=ATOL)


def test_compaction_preserves_results(spark, seg_root, oracle_index):
    before = _collect(segment_search(spark, seg_root, DOC_QUERIES, k=K))
    seg = compact(spark, seg_root, salt_rows=100)
    after = _collect(segment_search(spark, seg_root, DOC_QUERIES, k=K))
    assert before.keys() == after.keys()
    for qid in before:
        assert [d for d, _ in before[qid]] == [d for d, _ in after[qid]]
        for (_, s1), (_, s2) in zip(before[qid], after[qid]):
            assert math.isclose(s1, s2, abs_tol=ATOL)
    _assert_matches_oracle(after, oracle_index)
    import json
    with open(f"{seg_root}/MANIFEST.json") as f:
        m = json.load(f)
    assert [s["name"] for s in m["segments"]] == [seg]


def test_streaming_ingest(spark, documents, tmp_path_factory, oracle_index):
    """Two parquet files → AvailableNow stream → two segments → queries
    answer identically to the oracle over the full corpus. File mtimes are
    pinned so ingestion order (and hence doc-id re-basing) reproduces the
    original ids."""
    import glob
    import json
    import os
    import shutil

    from colbert_live_spark.streaming.incremental import ingest_stream
    base = tmp_path_factory.mktemp("stream")
    inp, root, ckpt = str(base / "in"), str(base / "root"), str(base / "ckpt")
    os.makedirs(inp)
    n = documents.count()
    half = n // 2
    for i, part in enumerate([
            documents.filter(F.col("doc_id") < half),
            documents.filter(F.col("doc_id") >= half)
            .withColumn("doc_id", F.col("doc_id") - half)]):
        tmp = str(base / f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{inp}/{chr(ord('a') + i)}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    ingest_stream(spark, inp, documents.schema, root, ckpt)
    with open(f"{root}/MANIFEST.json") as f:
        m = json.load(f)
    assert len(m["segments"]) == 2
    assert sum(s["n_docs"] for s in m["segments"]) == n
    got = _collect(segment_search(spark, root, DOC_QUERIES, k=K))
    _assert_matches_oracle(got, oracle_index)


def test_preserve_ids_order_invariant(spark, documents, tmp_path_factory):
    """With preserve_ids, ingesting the same batches in EITHER order yields
    identical search results with the original corpus ids."""
    docs = documents.filter(F.col("doc_id") < 300)
    lo = docs.filter(F.col("doc_id") < 150)
    hi = docs.filter(F.col("doc_id") >= 150)
    roots = []
    for name, batches in [("ab", [lo, hi]), ("ba", [hi, lo])]:
        root = str(tmp_path_factory.mktemp("pids") / name)
        for b in batches:
            add_segment(spark, b, root, n_shards=2, salt_rows=100,
                        preserve_ids=True)
        roots.append(root)
    a = _collect(segment_search(spark, roots[0], DOC_QUERIES, k=K))
    b = _collect(segment_search(spark, roots[1], DOC_QUERIES, k=K))
    assert a == b and a
    # ids are the corpus ids, not offset ones
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    for hits in a.values():
        assert {d for d, _ in hits} <= all_ids
