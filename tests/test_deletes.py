"""Tombstone deletes/updates: delete→search must equal a from-scratch
rebuild without the deleted docs (stats exactly corrected: N, avgdl, df→idf);
compaction physically drops tombstones; updates are delete+re-add
(reference parity: "add, modify, or remove documents", README.md:21-23)."""
from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.segments import (
    add_segment, compact, delete_docs, segment_search, update_docs,
)
from colbert_live_spark.oracle import build_oracle_index, oracle_search
from colbert_live_spark.queryset import DOC_QUERIES

K = 10
ATOL = 1e-9
DELETED = lambda d: d % 7 == 3  # noqa: E731 — deterministic delete set


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


@pytest.fixture(scope="module")
def del_root(spark, documents, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("delroot") / "live")
    n = documents.count()
    half = n // 2
    add_segment(spark, documents.filter(F.col("doc_id") < half), root,
                salt_rows=100)
    add_segment(spark,
                documents.filter(F.col("doc_id") >= half)
                .withColumn("doc_id", F.col("doc_id") - half), root,
                salt_rows=100)
    return root


@pytest.fixture(scope="module")
def reduced_oracle(documents):
    rows = documents.select("doc_id", "text").collect()
    return build_oracle_index([(r.doc_id, r.text) for r in rows
                               if not DELETED(r.doc_id)])


def _assert_matches(got, oracle_index):
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (gd, gs), (_ed, es) in zip(g, expect):
            assert math.isclose(gs, es, abs_tol=ATOL), (qid, gd, gs, es)


def test_delete_equals_rebuild(spark, documents, del_root, reduced_oracle):
    ids = [r.doc_id for r in documents.collect() if DELETED(r.doc_id)]
    n = delete_docs(spark, del_root, ids)
    assert n == len(ids)
    got = _collect(segment_search(spark, del_root, DOC_QUERIES, k=K))
    _assert_matches(got, reduced_oracle)
    # deleting again is a no-op (idempotent)
    assert delete_docs(spark, del_root, ids[:5]) == 0
    # manifest stats corrected exactly
    with open(f"{del_root}/MANIFEST.json") as f:
        m = json.load(f)
    assert m["tombstones"]["n_deleted"] == len(ids)


def test_compact_drops_tombstones(spark, del_root, reduced_oracle):
    before = _collect(segment_search(spark, del_root, DOC_QUERIES, k=K))
    compact(spark, del_root, salt_rows=100)
    with open(f"{del_root}/MANIFEST.json") as f:
        m = json.load(f)
    assert m["tombstones"]["n_deleted"] == 0 and not m["tombstones"]["files"]
    after = _collect(segment_search(spark, del_root, DOC_QUERIES, k=K))
    assert before.keys() == after.keys()
    for qid in before:
        assert [d for d, _ in before[qid]] == [d for d, _ in after[qid]]
        for (_, s1), (_, s2) in zip(before[qid], after[qid]):
            assert math.isclose(s1, s2, abs_tol=ATOL)
    _assert_matches(after, reduced_oracle)


def test_update_docs_modifies(spark, documents, tmp_path_factory):
    """'Modify': updating a doc's text changes what queries find, and the
    old version stops matching — scores equal a rebuild with the new text."""
    root = str(tmp_path_factory.mktemp("updroot") / "live")
    add_segment(spark, documents, root, salt_rows=100)
    victim = 7
    new_text = "zzzunique marker document text"
    updated = spark.createDataFrame([(0, new_text)], "doc_id long, text string")
    update_docs(spark, updated, root, [victim], salt_rows=100)

    got = _collect(segment_search(spark, root, [("u1", "zzzunique")], k=K))
    rows = documents.select("doc_id", "text").collect()
    base = [(r.doc_id, r.text) for r in rows if r.doc_id != victim]
    # the re-added doc gets a fresh global id (next_doc_base offset)
    with open(f"{root}/MANIFEST.json") as f:
        m = json.load(f)
    new_id = m["segments"][-1]["doc_base"]
    oi = build_oracle_index(base + [(new_id, new_text)])
    expect = oracle_search(oi, "zzzunique", k=K)
    g = got.get("u1", [])
    assert [d for d, _ in g] == [d for d, _ in expect]
    assert g and g[0][0] == new_id
    # the old version is gone: a term unique to the victim's old text no
    # longer returns it
    victim_text = [r.text for r in rows if r.doc_id == victim][0]
    first_term = victim_text.split()[0]
    got2 = _collect(segment_search(spark, root, [("u2", first_term)], k=K))
    assert victim not in [d for d, _ in got2.get("u2", [])]
    expect2 = oracle_search(oi, first_term, k=K)
    assert [d for d, _ in got2.get("u2", [])] == [d for d, _ in expect2]
