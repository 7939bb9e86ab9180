"""Physical-plan quality gates: pushdown, broadcast, no row-Python — the
'explain and iterate' discipline the scale story depends on."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.plans.explain import (
    assert_broadcast_join, assert_no_python_row_udf, assert_pushed_filters,
    physical_plan,
)


def test_lang_filter_pushdown(spark):
    """F1: the metadata predicate must reach the parquet scan. (Reads sf0.01
    — the sf0.001 table is session-cached by conftest and Spark substitutes
    InMemoryRelation for cached plans, hiding PushedFilters.)"""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    assert_pushed_filters(q, "lang")
    plan = physical_plan(q)
    assert "ReadSchema" in plan
    # column pruning: untouched columns must not be read
    assert "n_chars" not in plan.split("ReadSchema")[1][:200]


def test_term_id_isin_pushdown(spark, documents, tmp_path_factory):
    """The query path's term_id filter must push into the postings scan
    (row-group pruning is what makes dictionary-directed reads cheap)."""
    from colbert_live_spark.entry_queries import built_index
    idx = built_index(spark, "/root/testdata/sf0.001")
    post = (spark.read.parquet(f"{idx}/postings")
            .filter(F.col("term_id").isin([1, 2, 3])))
    assert_pushed_filters(post, "term_id")


def test_query_join_is_broadcast(spark, documents):
    """J3: query terms must broadcast — the postings side never moves."""
    from colbert_live_spark.operators import bm25
    from colbert_live_spark.queryset import DOC_QUERIES
    post = bm25.postings(documents)
    qterms = bm25.query_terms_df(spark, DOC_QUERIES)
    joined = post.join(F.broadcast(qterms), "term")
    assert_broadcast_join(joined)


def test_no_row_python_in_all_entry_queries(spark):
    """North-rule guard across the whole driver surface: no BatchEvalPython
    node in ANY queries() plan (Arrow-vectorized nodes are fine)."""
    import __spark_entry__ as m
    for name, fn in sorted(m.queries().items()):
        df = fn(spark, "/root/testdata/sf0.001")
        assert_no_python_row_udf(df)


def _serving_plans(spark, path, search, doc_filter=None):
    """(scoring-stage plan, returned frame's plan) of one serving batch:
    the scoring stage is the frame ``run_spark`` itself collects."""
    from colbert_live_spark.operators.wand import resolve, scoring_frame
    from colbert_live_spark.queryset import DOC_QUERIES
    kw = {} if doc_filter is None else {"doc_filter": doc_filter}
    with scoring_frame(spark, resolve(path, DOC_QUERIES), 10,
                       **kw) as scoring:
        plan = physical_plan(scoring)
    return plan, physical_plan(search(spark, path, DOC_QUERIES, k=10, **kw))


def _assert_ranked_on_driver(result_plan: str):
    """The batch is ranked on the driver: the returned frame is a bare
    local relation, with no Exchange and no Window after the scoring job."""
    assert result_plan.strip().startswith("LocalTableScan"), result_plan
    assert len(result_plan.strip().splitlines()) == 1, result_plan
    assert "Exchange" not in result_plan, result_plan
    assert "Window" not in result_plan, result_plan


def test_wand_search_plan(spark):
    """Serving plan shape: at most one MapInPandas task per core scores
    the postings files, NO shuffle of list bytes anywhere, and the ≤ k
    rows per query and task are ranked on the driver."""
    from colbert_live_spark.entry_queries import built_index
    from colbert_live_spark.operators.wand import wand_search
    idx = built_index(spark, "/root/testdata/sf0.001")
    plan, result = _serving_plans(spark, idx, wand_search)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # list bytes must never shuffle: no Exchange keyed on the shard salt
    assert "hashpartitioning(salt" not in plan
    _assert_ranked_on_driver(result)


def test_wand_search_filtered_plan(spark):
    """The doc_filter path shuffles ONLY the 8-byte filter-id rows
    (grouped by doc shard); lists are pyarrow-read inside each group task
    — no cogroup, no Exchange of list bytes, no row-Python."""
    from colbert_live_spark.entry_queries import built_index
    from colbert_live_spark.operators.wand import wand_search
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = built_index(spark, "/root/testdata/sf0.001")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    plan, result = _serving_plans(spark, idx, wand_search, doc_filter=en)
    assert "FlatMapGroupsInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # the only Exchange keys on the filter ids' shard column — list bytes
    # (the postings scan) never appear upstream of a shuffle
    assert "hashpartitioning(salt" not in plan
    _assert_ranked_on_driver(result)


def test_segment_search_plan(spark):
    """Segmented serving: MapInPandas tasks over (segment, postings file)
    subsets, no cogroup, no list-byte shuffle, ranked on the driver."""
    from colbert_live_spark.entry_queries import built_live_root
    from colbert_live_spark.index.segments import segment_search
    root = built_live_root(spark, "/root/testdata/sf0.001")
    plan, result = _serving_plans(spark, root, segment_search)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(salt" not in plan
    _assert_ranked_on_driver(result)


def test_segment_search_tombstoned_plan(spark):
    """Tombstones keep the file-task topology: each task reads its own
    shard's tombstone slice, nothing cogroups with the lists."""
    from colbert_live_spark.entry_queries import built_deleted_root
    from colbert_live_spark.index.segments import segment_search
    root = built_deleted_root(spark, "/root/testdata/sf0.001")
    plan, result = _serving_plans(spark, root, segment_search)
    assert "MapInPandas" in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "hashpartitioning(salt" not in plan
    _assert_ranked_on_driver(result)


def test_phrase_verify_tokenizes_candidates_only(spark):
    """r5 verdict ask #2: the phrase verify's token-string projection must
    run on the CANDIDATE-joined relation, never on the bare corpus scan —
    tokenizing below the join re-tokenizes the whole corpus per batch. In
    the printed tree, parents precede children, so the tokenize expression
    (array_join over the split) must appear ABOVE the first join operator,
    and the corpus side must flow into the join as raw (doc_id, text)."""
    from colbert_live_spark.operators.phrase import phrase_search_indexed
    from colbert_live_spark.entry_queries import built_index
    from colbert_live_spark.queryset import PHRASE_QUERIES
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = built_index(spark, "/root/testdata/sf0.001")
    df = phrase_search_indexed(spark, idx, docs, PHRASE_QUERIES, k=10,
                               candidates=64)
    plan = physical_plan(df)
    assert "array_join" in plan
    first_join = min(i for i in (plan.find("BroadcastHashJoin"),
                                 plan.find("SortMergeJoin"),
                                 plan.find("ShuffledHashJoin")) if i >= 0)
    # parents print before children: everything after the outer join's own
    # line is its subtree — the tokenize may appear on/above that line (the
    # join condition) but never below it (that would be a corpus-side
    # tokenize projection)
    join_line_end = plan.find("\n", first_join)
    assert "array_join" not in plan[join_line_end:], (
        "tokenize runs below the candidate join (full-corpus tokenize):\n"
        + plan[:4000])
