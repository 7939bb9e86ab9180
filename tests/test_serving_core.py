"""The serving core (operators/wand.py): one plan per (source, batch), run
in-process or as Spark file tasks. Every source kind × executor × query
mode answers exactly like the BM25 oracle; layouts that break the
one-file-per-shard invariants raise instead of degrading; and the Spark
job count of each serving call has a ceiling."""
from __future__ import annotations

import math
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.entry_queries import (
    built_deleted_root, built_index, built_live_root)
from colbert_live_spark.index.segments import (
    compact, segment_search, segment_search_local)
from colbert_live_spark.operators.wand import wand_search, wand_search_local
from colbert_live_spark.oracle import build_oracle_index, oracle_search
from colbert_live_spark.queryset import DOC_QUERIES

K = 10
ATOL = 1e-9
DELETED = lambda d: d % 7 == 3  # noqa: E731 — built_deleted_root's set


@pytest.fixture(scope="module")
def sources(spark, sf_dir, documents):
    """source kind -> (path, spark search, local search, oracle docs)."""
    rows = [(r.doc_id, r.text) for r in
            documents.select("doc_id", "text").collect()]
    live = [(d, t) for d, t in rows if not DELETED(d)]
    return {
        "monolithic": (built_index(spark, sf_dir), wand_search,
                       wand_search_local, rows),
        "two_segment": (built_live_root(spark, sf_dir), segment_search,
                        segment_search_local, rows),
        "tombstoned": (built_deleted_root(spark, sf_dir), segment_search,
                       segment_search_local, live),
    }


def _ranked(result) -> dict:
    if hasattr(result, "toPandas"):
        result = result.toPandas()
    out: dict = {}
    for r in result.sort_values(["query_id", "rank"]).itertuples():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _assert_oracle(got: dict, docs, conjunctive=False, doc_filter=None):
    oracle = build_oracle_index(docs)
    for qid, qtext in DOC_QUERIES:
        want = oracle_search(oracle, qtext, k=K, conjunctive=conjunctive,
                             doc_filter=doc_filter)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in want], (qid, qtext)
        for (d, s1), (_, s2) in zip(g, want):
            assert math.isclose(s1, s2, abs_tol=ATOL), (qid, d, s1, s2)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("executor", ["in_process", "spark"])
@pytest.mark.parametrize("source", ["monolithic", "two_segment",
                                    "tombstoned"])
def test_path_identity(spark, sources, source, executor, mode):
    path, on_spark, local, docs = sources[source]
    conj = mode == "conjunctive"
    if executor == "spark":
        got = on_spark(spark, path, DOC_QUERIES, k=K, conjunctive=conj)
    else:
        got = local(path, DOC_QUERIES, k=K, conjunctive=conj)
    _assert_oracle(_ranked(got), docs, conjunctive=conj)


@pytest.mark.parametrize("executor", ["in_process", "spark"])
def test_path_identity_doc_filter(spark, sources, documents, executor):
    path, _, _, docs = sources["monolithic"]
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    en_ids = {r.doc_id for r in en.collect()}
    if executor == "spark":
        got = wand_search(spark, path, DOC_QUERIES, k=K, doc_filter=en)
    else:
        got = wand_search_local(path, DOC_QUERIES, k=K, filter_ids=en_ids)
    _assert_oracle(_ranked(got), docs, doc_filter=en_ids)


def test_unpartitioned_tombstones_raise_until_compacted(spark, sources,
                                                        tmp_path):
    """Tombstones written before shard partitioning cannot be split per
    file task: both executors refuse the root and name the fix; compact()
    migrates it and serving answers again."""
    import os

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq
    root = str(tmp_path / "root")
    shutil.copytree(sources["tombstoned"][0], root)
    tombs = f"{root}/tombstones"
    for name in os.listdir(tombs):
        if name.startswith("tomb-"):
            ids = pads.dataset(f"{tombs}/{name}").to_table(
                columns=["doc_id"])
            shutil.rmtree(f"{tombs}/{name}")
            os.makedirs(f"{tombs}/{name}")
            pq.write_table(ids, f"{tombs}/{name}/part-0.parquet")
    with pytest.raises(ValueError, match="compact"):
        segment_search(spark, root, DOC_QUERIES, k=K)
    with pytest.raises(ValueError, match="compact"):
        segment_search_local(root, DOC_QUERIES, k=K)
    compact(spark, root, n_shards=4, salt_rows=200)
    _assert_oracle(_ranked(segment_search_local(root, DOC_QUERIES, k=K)),
                   sources["tombstoned"][3])


def _jobs(spark, call) -> int:
    """Spark jobs run by ``call`` on this thread (serving submits no job
    from a thread pool, so the group catches all of them)."""
    sc = spark.sparkContext
    group = f"serving-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_serving_job_ceilings(spark, sources, documents):
    """Job-count ceilings per serving call (the result collected as is):
    a regression in job rounds fails here before it shows as wall time."""
    idx = sources["monolithic"][0]
    root = sources["tombstoned"][0]
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    calls = {
        "wand_search": (2, lambda: wand_search(
            spark, idx, DOC_QUERIES, k=K).collect()),
        "wand_search doc_filter": (3, lambda: wand_search(
            spark, idx, DOC_QUERIES, k=K, doc_filter=en).collect()),
        "segment_search tombstoned": (2, lambda: segment_search(
            spark, root, DOC_QUERIES, k=K).collect()),
        "wand_search_local": (0, lambda: wand_search_local(
            idx, DOC_QUERIES, k=K)),
        "segment_search_local": (0, lambda: segment_search_local(
            root, DOC_QUERIES, k=K)),
    }
    for name, (ceiling, call) in calls.items():
        assert _jobs(spark, call) <= ceiling, name
