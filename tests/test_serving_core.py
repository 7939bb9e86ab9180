"""The serving core (operators/wand.py): one plan per (source, batch), run
in-process or as at most one Spark task per core over doc-disjoint file
subsets. Every source kind × executor × query mode answers exactly like the
BM25 oracle (conjunctive mode composed with a doc filter too); any packing
of the files into subsets merges to the same answer; layouts that break
the one-file-per-shard invariants raise instead of degrading; and the Spark
job and task counts of a serving call have ceilings."""
from __future__ import annotations

import math
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from colbert_live_spark.entry_queries import (
    built_deleted_root, built_index, built_live_root)
from colbert_live_spark.index.segments import (
    compact, segment_search, segment_search_local)
from colbert_live_spark.operators.wand import (
    rank_partials, resolve, score_files, wand_search, wand_search_local)
from colbert_live_spark.oracle import build_oracle_index, oracle_search
from colbert_live_spark.queryset import DOC_QUERIES
from conftest import jobs_of, ranked

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
    _assert_oracle(ranked(got), docs, conjunctive=conj)


@pytest.mark.parametrize("executor", ["in_process", "spark"])
def test_path_identity_doc_filter(spark, sources, documents, executor):
    path, _, _, docs = sources["monolithic"]
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    en_ids = {r.doc_id for r in en.collect()}
    if executor == "spark":
        got = wand_search(spark, path, DOC_QUERIES, k=K, doc_filter=en)
    else:
        got = wand_search_local(path, DOC_QUERIES, k=K, filter_ids=en_ids)
    _assert_oracle(ranked(got), docs, doc_filter=en_ids)


@pytest.mark.parametrize("mode", ["disjunctive", "conjunctive"])
@pytest.mark.parametrize("source", ["two_segment", "tombstoned"])
def test_file_subsets_merge_to_local_answer(sources, source, mode):
    """Packing the plan's files into p doc-disjoint subsets (the Spark
    executor's task split, here scored in-process with no Spark) and
    merging the p partials gives exactly the in-process answer, ranks and
    scores, for p in {1, 2, 3, one subset per file}."""
    path, _, local, docs = sources[source]
    conj = mode == "conjunctive"
    want = local(path, DOC_QUERIES, k=K, conjunctive=conj)
    _assert_oracle(ranked(want), docs, conjunctive=conj)
    plan = resolve(path, DOC_QUERIES)
    files = plan.files
    spans = []
    for p in sorted({1, 2, 3, len(files)}):
        subsets = [files[i::p] for i in range(p)]
        spans += [(len({f.part for f in sub}),
                   len({f.salt for f in sub if f.tombs})) for sub in subsets]
        got = rank_partials(pd.concat(
            [score_files(plan, sub, K, True, conj) for sub in subsets],
            ignore_index=True), K)
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    if source == "two_segment":
        assert max(parts for parts, _ in spans) == 2
    else:
        assert max(salts for _, salts in spans) > 1


def test_unpartitioned_tombstones_raise_until_compacted(spark, sources,
                                                        tmp_path):
    """Tombstones written before shard partitioning cannot be split by
    doc shard: both executors refuse the root and name the fix; compact()
    rewrites them shard-partitioned and serving answers again."""
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
    _assert_oracle(ranked(segment_search_local(root, DOC_QUERIES, k=K)),
                   sources["tombstoned"][3])


def test_serving_job_ceilings(spark, sources, documents):
    """Job-count ceilings per serving call (the result collected as is):
    a regression in job rounds fails here before it shows as wall time."""
    idx = sources["monolithic"][0]
    root = sources["tombstoned"][0]
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    calls = {
        "wand_search": (1, lambda: wand_search(
            spark, idx, DOC_QUERIES, k=K).collect()),
        "wand_search doc_filter": (2, lambda: wand_search(
            spark, idx, DOC_QUERIES, k=K, doc_filter=en).collect()),
        "segment_search tombstoned": (1, lambda: segment_search(
            spark, root, DOC_QUERIES, k=K).collect()),
        "wand_search_local": (0, lambda: wand_search_local(
            idx, DOC_QUERIES, k=K)),
        "segment_search_local": (0, lambda: segment_search_local(
            root, DOC_QUERIES, k=K)),
    }
    for name, (ceiling, call) in calls.items():
        assert len(jobs_of(spark, call)) <= ceiling, name


def test_scoring_stage_task_ceiling(spark, sources):
    """segment_search over a root with more postings files than cores
    scores in at most one task per core: a regression back to one task per
    file fails here before it shows as wall time."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    for source in ("two_segment", "tombstoned"):
        root = sources[source][0]
        assert len(resolve(root, DOC_QUERIES).files) > cores, source
        jobs = jobs_of(spark, lambda: segment_search(
            spark, root, DOC_QUERIES, k=K).collect())
        tracker = sc.statusTracker()
        # the scoring stage is the first one submitted; the batch is
        # ranked on the driver, so no later stage reads its output
        scoring = min(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
        assert tracker.getStageInfo(scoring).numTasks <= cores, source


def test_spark_serving_leaves_no_broadcast_files(spark, sources, documents):
    """Each Spark serving batch broadcasts its plan and destroys it once
    the partials are collected: repeated calls leave no file behind in
    the driver's temp dir."""
    import os
    idx = sources["monolithic"][0]
    root = sources["tombstoned"][0]
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    temp = spark.sparkContext._temp_dir
    before = len(os.listdir(temp))
    for _ in range(3):
        wand_search(spark, idx, DOC_QUERIES, k=K).collect()
        wand_search(spark, idx, DOC_QUERIES, k=K, doc_filter=en).collect()
        segment_search(spark, root, DOC_QUERIES, k=K).collect()
    assert len(os.listdir(temp)) == before


def test_conjunctive_composes_with_doc_filter(spark, documents, oracle_index,
                                              tmp_path_factory):
    """conjunctive=True + doc_filter was silently ignored in round 1 (the
    filter branch won); now it must mean intersection ∩ filter."""
    from colbert_live_spark.entry_queries import built_index
    from colbert_live_spark.oracle import oracle_search
    idx = built_index(spark, "/root/testdata/sf0.001")
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    en_ids = {r.doc_id for r in en.collect()}
    got = {}
    res = wand_search(spark, idx, DOC_QUERIES, k=K, conjunctive=True,
                      doc_filter=en)
    for r in res.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K, conjunctive=True,
                               doc_filter=en_ids)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (_, s1), (_, s2) in zip(g, expect):
            assert math.isclose(s1, s2, abs_tol=ATOL)
