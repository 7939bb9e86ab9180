"""Compressed-index build + WAND query path: rank-identity vs oracle,
pruned == unpruned (safe pruning), checkpoint/resume equivalence, the
one-file-per-salt layout invariant."""
from __future__ import annotations

import math
import shutil

import pytest

from colbert_live_spark.index.builder import build_index, build_runs, merge_index
from colbert_live_spark.operators.wand import wand_search
from colbert_live_spark.oracle import oracle_search
from colbert_live_spark.queryset import DOC_QUERIES

K = 10
ATOL = 1e-9


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "idx")
    # salt_rows tiny to force multi-salt sub-lists on head terms (all terms
    # here have df≈450 → 5 salts): exercises the salted-merge path at test SF
    build_index(spark, documents, out, n_groups=4, n_shards=4, salt_rows=100)
    return out


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def test_wand_rank_identical_to_oracle(spark, index_dir, oracle_index):
    got = _collect(wand_search(spark, index_dir, DOC_QUERIES, k=K))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expect):
            assert math.isclose(gs, es, abs_tol=ATOL), (qid, gd, gs, es)


def test_pruned_equals_unpruned(spark, index_dir):
    pruned = _collect(wand_search(spark, index_dir, DOC_QUERIES, k=K, prune=True))
    full = _collect(wand_search(spark, index_dir, DOC_QUERIES, k=K, prune=False))
    assert pruned == full  # exact float equality — WAND is safe pruning


def test_checkpoint_resume_equivalence(spark, documents, tmp_path_factory,
                                       oracle_index):
    """Kill after 2 of 4 run groups, resume, assert (a) only pending groups
    re-processed, (b) resumed index answers rank-identically
    (FIXTURES.md §5; reference analog `example/bench/lotte.py:67-83`)."""
    out = str(tmp_path_factory.mktemp("resume") / "idx")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_runs(spark, documents, out, n_groups=4, fail_after_group=2)
    from colbert_live_spark.index.builder import completed_groups
    done = completed_groups(spark, out)
    assert len(done) == 2
    processed = build_runs(spark, documents, out, n_groups=4)
    assert len(processed) == 2 and set(processed).isdisjoint(done)
    merge_index(spark, out, n_shards=4, salt_rows=100)
    got = _collect(wand_search(spark, out, DOC_QUERIES, k=K))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K)
        assert [d for d, _ in got.get(qid, [])] == [d for d, _ in expect]
    # ledger has lineage + metrics rows for all 4 groups + merge stage
    ledger = spark.read.parquet(f"{out}/ledger")
    rows = {(r.gid, r.stage) for r in ledger.collect()}
    assert {(g, "runs") for g in range(4)}.issubset(rows)
    assert (-1, "merge") in rows
    mrow = [r for r in ledger.collect() if r.stage == "runs"][0]
    assert mrow.n_postings > 0 and mrow.bytes > 0 and mrow.wall_ms >= 0
    shutil.rmtree(out, ignore_errors=True)


def test_empty_query_no_rows(spark, index_dir):
    got = wand_search(spark, index_dir, [("qx", "zzzmissing")], k=K)
    assert got.count() == 0


def test_conjunctive_wand_matches_oracle(spark, index_dir, oracle_index):
    got = _collect(wand_search(spark, index_dir, DOC_QUERIES, k=K,
                               conjunctive=True))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K, conjunctive=True)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expect):
            assert math.isclose(gs, es, abs_tol=ATOL), (qid, gd)


def test_query_time_doc_filter_matches_oracle(spark, index_dir, documents,
                                              oracle_index):
    """Composable metadata predicate at query time — global stats preserved
    (F1 analog, `example/cmdline/db.py:82-88`)."""
    from pyspark.sql import functions as F
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    en_ids = {r.doc_id for r in en.collect()}
    got = _collect(wand_search(spark, index_dir, DOC_QUERIES, k=K,
                               doc_filter=en))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K, doc_filter=en_ids)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (gd, gs), (ed, es) in zip(g, expect):
            assert math.isclose(gs, es, abs_tol=ATOL)
        assert all(d in en_ids for d, _ in g)


def test_local_mode_doc_filter(spark, index_dir, documents, oracle_index):
    """Local mode composes with a doc filter (global stats preserved) —
    same answers as the oracle with the filter applied."""
    from colbert_live_spark.operators.wand import wand_search_local
    from colbert_live_spark.oracle import oracle_search
    en_ids = sorted(r.doc_id for r in
                    documents.filter(documents.lang == "en")
                    .select("doc_id").collect())
    local = wand_search_local(index_dir, DOC_QUERIES, k=K,
                              filter_ids=en_ids)
    got = {}
    for r in local.itertuples():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K,
                               doc_filter=set(en_ids))
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in expect], (qid, qtext)
        for (_, s1), (_, s2) in zip(g, expect):
            assert math.isclose(s1, s2, abs_tol=ATOL)


def test_doc_filter_is_distributed(spark, index_dir, documents):
    """The filtered path must shuffle the filter ids by doc shard (a
    FlatMapGroupsInPandas over the id rows), never collect them to the
    driver — and it must NOT move block bytes (no cogroup of the postings
    scan)."""
    from pyspark.sql import functions as F
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    df = wand_search(spark, index_dir, DOC_QUERIES, k=K, doc_filter=en)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dictionary_ids_unique(spark, index_dir):
    """Regression: dense term ids must be globally unique (a coalesce fused
    under the id-assignment stage once silently duplicated ids)."""
    d = spark.read.parquet(f"{index_dir}/dict")
    n = d.count()
    assert d.select("term_id").distinct().count() == n
    assert d.select("term").distinct().count() == n
    ids = sorted(r.term_id for r in d.select("term_id").collect())
    assert ids == list(range(n))  # dense 0..V-1


def test_intersection_missing_term_empty(spark, index_dir):
    """A conjunctive query with one term absent from the index matches no
    doc, on both executors."""
    from colbert_live_spark.operators.wand import wand_search_local
    qs = [("qc", "spark zzzmissing")]
    assert wand_search(spark, index_dir, qs, k=K,
                       conjunctive=True).count() == 0
    assert len(wand_search_local(index_dir, qs, k=K, conjunctive=True)) == 0
    # the present term alone does match
    assert len(wand_search_local(index_dir, [("q", "spark")], k=K,
                                 conjunctive=True))


def test_postings_one_file_per_salt_despite_session_split(
        spark, documents, tmp_path_factory):
    """A session-level file split (spark.sql.files.maxRecordsPerFile) must
    not split a doc shard's postings: the build stays salt_v3 with one
    file per salt dir and answers identically to a clean build."""
    import json
    import os

    from pyspark.sql import functions as F
    docs = documents.filter(F.col("doc_id") < 300)
    split_out = str(tmp_path_factory.mktemp("msalt") / "idx")
    clean_out = str(tmp_path_factory.mktemp("msalt") / "clean")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try:
        build_index(spark, docs, split_out, n_groups=2, n_shards=4,
                    salt_rows=100)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    build_index(spark, docs, clean_out, n_groups=2, n_shards=4,
                salt_rows=100)
    meta = json.loads(open(f"{split_out}/_INDEX_META.json").read())
    assert meta["layout"] == "salt_v3"
    salts = [d for d in os.listdir(f"{split_out}/postings")
             if d.startswith("salt=")]
    assert salts
    for d in salts:
        files = [f for f in os.listdir(f"{split_out}/postings/{d}")
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    got = _collect(wand_search(spark, split_out, DOC_QUERIES, k=K))
    want = _collect(wand_search(spark, clean_out, DOC_QUERIES, k=K))
    assert got == want


def test_unverified_layout_raises(spark, index_dir, tmp_path):
    """An index whose meta is not salt_v3 (a doc shard may span several
    postings files) is refused on both executors, never served through a
    slower path."""
    import json
    import shutil

    from colbert_live_spark.operators.wand import wand_search_local
    legacy = str(tmp_path / "idx")
    shutil.copytree(index_dir, legacy)
    meta = json.loads(open(f"{legacy}/_INDEX_META.json").read())
    meta["layout"] = "salt_v2"
    open(f"{legacy}/_INDEX_META.json", "w").write(json.dumps(meta))
    with pytest.raises(ValueError, match="rebuild"):
        wand_search(spark, legacy, DOC_QUERIES, k=K)
    with pytest.raises(ValueError, match="rebuild"):
        wand_search_local(legacy, DOC_QUERIES, k=K)


def test_local_dict_point_lookup_prunes_rowgroups(tmp_path):
    """Scale guard (VERDICT r3 ask #4): the local serving dictionary must
    never load the full vocabulary — misses go through a parquet
    point-lookup whose term predicate prunes to the row groups containing
    the queried terms. Asserted with pyarrow fragment statistics on a
    many-row-group dictionary file."""
    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq
    terms = [f"term{i:05d}" for i in range(1000)]
    t = pa.table({"term": terms,
                  "term_id": pa.array(range(1000), pa.int64()),
                  "df": pa.array([3] * 1000, pa.int64())})
    (tmp_path / "dict").mkdir()
    pq.write_table(t, tmp_path / "dict" / "part-0.parquet",
                   row_group_size=50)  # 20 term-sorted row groups
    from colbert_live_spark.operators.wand import _point_lookup, pruning_isin
    ds = pads.dataset(str(tmp_path / "dict"), format="parquet")
    frag = next(iter(ds.get_fragments()))
    # a bare isin does NOT prune (pyarrow only evaluates eq/range
    # guarantees against row-group stats — measured 20/20); the lookup's
    # predicate must
    pred = pruning_isin("term", ["term00007", "term00953"])
    matched = list(frag.split_by_row_group(pred))
    assert len(matched) <= 2, "stats pruning failed: read most row groups"
    # large-set shape still prunes to the min/max span
    big = [f"term{i:05d}" for i in range(100, 300)]
    span = list(frag.split_by_row_group(pruning_isin("term", big)))
    assert len(span) <= 5, "range conjunct did not prune outside the span"
    d = str(tmp_path)
    found = _point_lookup([d], ["term00007", "term00953", "zzzabsent"])
    assert found == {"term00007": {d: (7, 3)}, "term00953": {d: (953, 3)},
                     "zzzabsent": {}}


def test_local_dict_hot_cache(index_dir, monkeypatch):
    """Repeat queries must be served from the hot-term cache (including
    negative entries for absent terms) with zero dictionary reads."""
    from colbert_live_spark.operators import wand as wand_mod
    from colbert_live_spark.operators.wand import wand_search_local
    wand_mod._CACHE.clear()
    calls: list[list[str]] = []
    orig = wand_mod._point_lookup

    def spy(dirs, terms):
        calls.append(list(terms))
        return orig(dirs, terms)

    monkeypatch.setattr(wand_mod, "_point_lookup", spy)
    qs = DOC_QUERIES + [("qx", "zzzmissing keyword")]
    r1 = wand_search_local(index_dir, qs, k=K)
    n1 = len(calls)
    assert n1 >= 1
    r2 = wand_search_local(index_dir, qs, k=K)
    assert len(calls) == n1, "second batch re-read the dictionary"
    assert r1.equals(r2)
