"""Compressed-index build + WAND query path: rank-identity vs oracle,
pruned == unpruned (safe pruning), checkpoint/resume equivalence (and its
refusal of drifted inputs), transformed inputs indexed as given, concurrent
group builds, the index dir layout (each fact stored once, one file per
salt, one postings row per list), the refusal of any other layout, and
the Spark job ceilings of a build and of a segment root's writes."""
from __future__ import annotations

import glob
import math
import shutil

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.builder import (
    LAYOUT, LIST_SCHEMA, RUN_SCHEMA, build_index, build_runs, merge_index)
from colbert_live_spark.index.segments import (
    add_segment, compact, delete_docs, segment_search, segment_search_local,
    update_docs)
from colbert_live_spark.operators.wand import (
    resolve, scoring_frame, wand_search, wand_search_local)
from colbert_live_spark.oracle import oracle_search
from colbert_live_spark.queryset import DOC_QUERIES
from conftest import jobs_of

K = 10
ATOL = 1e-9
# jobs of one build_index (n_groups=4) on the documents fixture: 44 when it
# is the first reader of the cached fixture, 43 after
BUILD_JOB_CEILING = 44
# jobs of each write on a fresh segment root over the documents fixture
# (add_segment: 26 when it is the first reader of the cached fixture, 25
# after)
WRITE_JOB_CEILINGS = {"add_segment": 26, "delete_docs": 17,
                      "compact": 30}


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
    done = completed_groups(out)
    assert len(done) == 2
    processed = build_runs(spark, documents, out, n_groups=4)
    assert len(processed) == 2 and set(processed).isdisjoint(done)
    merge_index(spark, out, n_shards=4, salt_rows=100)
    got = _collect(wand_search(spark, out, DOC_QUERIES, k=K))
    for qid, qtext in DOC_QUERIES:
        expect = oracle_search(oracle_index, qtext, k=K)
        assert [d for d, _ in got.get(qid, [])] == [d for d, _ in expect]
    # ledger has lineage + metrics rows for all 4 groups + merge stage
    ledger = spark.read.parquet(f"{out}/ledger").collect()
    rows = {(r.gid, r.stage) for r in ledger}
    assert {(g, "runs") for g in range(4)}.issubset(rows)
    assert (-1, "merge") in rows
    runs_rows = [r for r in ledger if r.stage == "runs"]
    rrow = runs_rows[0]
    assert rrow.n_postings > 0 and rrow.bytes > 0 and rrow.wall_ms >= 0
    # the merge row counts postings (not postings-file rows)
    merge_row = next(r for r in ledger if r.stage == "merge")
    assert merge_row.n_postings == sum(r.n_postings for r in runs_rows)
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
    """The filtered path's scoring stage must shuffle the filter ids by doc
    shard (a FlatMapGroupsInPandas over the id rows), never collect them
    to the driver — and it must NOT move list bytes (no cogroup of the
    postings scan)."""
    from pyspark.sql import functions as F
    en = documents.filter(F.col("lang") == "en").select("doc_id")
    with scoring_frame(spark, resolve(index_dir, DOC_QUERIES), K,
                       doc_filter=en) as df:
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
    not split a doc shard's postings: the build keeps the current layout
    with one file per salt dir and answers identically to a clean
    build."""
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
    assert meta["layout"] == LAYOUT
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


def test_unverified_layout_raises(spark, documents, index_dir, tmp_path):
    """Sources of any other layout are refused by every entry point and
    left unchanged, never served or written through a slower path: an
    index dir whose meta names the retired ``salt_v4`` layout (a stored
    per-list score bound column), and a segment root whose manifest
    names it or has no layout stamp."""
    import json

    def edit(meta_file, change):
        meta = json.loads(open(meta_file).read())
        change(meta)
        open(meta_file, "w").write(json.dumps(meta))

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    root = str(tmp_path / "root")
    docs = documents.limit(50)
    add_segment(spark, docs, root, salt_rows=100)
    idx_calls = [
        lambda: wand_search(spark, idx, DOC_QUERIES, k=K),
        lambda: wand_search_local(idx, DOC_QUERIES, k=K)]
    root_calls = [
        lambda: segment_search(spark, root, DOC_QUERIES, k=K),
        lambda: segment_search_local(root, DOC_QUERIES, k=K),
        lambda: add_segment(spark, docs, root, salt_rows=100),
        lambda: delete_docs(spark, root, [1]),
        lambda: update_docs(spark, docs, root, [1], salt_rows=100),
        lambda: compact(spark, root, salt_rows=100)]
    old = [
        (f"{idx}/_INDEX_META.json", lambda m: m.update(layout="salt_v4"),
         idx_calls),
        (f"{root}/MANIFEST.json", lambda m: m.update(layout="salt_v4"),
         root_calls),
        (f"{root}/MANIFEST.json", lambda m: m.pop("layout"), root_calls),
    ]
    for meta_file, change, calls in old:
        edit(meta_file, change)
        before = open(meta_file, "rb").read()
        for call in calls:
            with pytest.raises(ValueError, match="rebuild"):
                call()
            assert open(meta_file, "rb").read() == before


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


def test_transformed_input_is_not_rereread_from_files(spark, documents,
                                                      tmp_path_factory):
    """A filtered/shifted DataFrame must be indexed AS GIVEN — the per-file
    grouping path once re-read raw files and silently discarded the
    transformation (indexing all 500 docs with unshifted ids)."""
    base = tmp_path_factory.mktemp("xform")
    raw = str(base / "raw")
    # a real on-disk scan (the cached `documents` fixture hides the bug:
    # cached plans return no inputFiles)
    documents.write.parquet(raw)
    docs = spark.read.parquet(raw)
    out = str(base / "idx")
    transformed = (docs.filter(F.col("doc_id") < 7)
                   .withColumn("doc_id", F.col("doc_id") + 100))
    build_index(spark, transformed, out, n_groups=2, n_shards=4,
                salt_rows=100)
    ids = sorted(r.doc_id for r in
                 spark.read.parquet(f"{out}/docs").select("doc_id").collect())
    assert ids == [100 + i for i in range(7)]


def test_concurrent_group_build_identical(spark, documents,
                                          tmp_path_factory):
    """build_runs with a driver thread pool (max_concurrency > 1) must
    produce the same index as the sequential build — same ledger groups,
    identical search results."""
    from colbert_live_spark.index.builder import merge_index
    base = tmp_path_factory.mktemp("conc")
    seq_dir, conc_dir = str(base / "seq"), str(base / "conc")
    for out, conc in ((seq_dir, 1), (conc_dir, 3)):
        build_runs(spark, documents, out, n_groups=4, max_concurrency=conc)
        merge_index(spark, out, n_shards=4, salt_rows=100)
    from colbert_live_spark.index.builder import completed_groups
    assert completed_groups(seq_dir) == completed_groups(
        conc_dir) == {0, 1, 2, 3}
    a = {(r.query_id, r.rank): (r.doc_id, round(r.score, 9))
         for r in wand_search(spark, seq_dir, DOC_QUERIES, k=K).collect()}
    b = {(r.query_id, r.rank): (r.doc_id, round(r.score, 9))
         for r in wand_search(spark, conc_dir, DOC_QUERIES, k=K).collect()}
    assert a == b and len(a) > 0


def test_resume_assignment_drift_fails_loudly(spark, documents,
                                              tmp_path_factory):
    """Completed groups whose recorded file lists no longer match the
    current assignment must abort the resume (silent reuse would skip or
    double-index docs)."""
    base = tmp_path_factory.mktemp("drift")
    raw = str(base / "raw")
    documents.repartition(4).write.parquet(raw)
    docs = spark.read.parquet(raw)
    out = str(base / "idx")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_runs(spark, docs, out, n_groups=2, fail_after_group=1)
    # a file appears between crash and resume → assignment drift
    src = glob.glob(f"{raw}/part-*.parquet")[0]
    shutil.copy(src, f"{raw}/part-zzz-extra.parquet")
    docs2 = spark.read.parquet(raw)
    with pytest.raises(RuntimeError, match="resume mismatch"):
        build_runs(spark, docs2, out, n_groups=2)


def test_index_dir_layout(spark, index_dir):
    """Each fact is stored once: exactly these top-level entries, stage-1
    runs without ``dl``, and ``docs`` partitioned by the postings salt (the
    encode's dl gather source)."""
    import json
    import os
    assert set(os.listdir(index_dir)) == {
        "_INDEX_META.json", "dfs", "dict", "doclens", "docs", "ledger",
        "postings", "runs"}
    runs = (spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{index_dir}/runs"))
    assert runs.schema.simpleString() == spark.createDataFrame(
        [], RUN_SCHEMA).schema.simpleString() == \
        "struct<term:string,doc_id:bigint,tf:int>"
    meta = json.loads(open(f"{index_dir}/_INDEX_META.json").read())
    docs = spark.read.parquet(f"{index_dir}/docs")
    assert docs.count() == meta["n_docs"] > 0
    assert docs.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(meta["doc_shards"]))
        != F.col("salt")).count() == 0


def test_postings_one_row_per_list(spark, documents, tmp_path):
    """The postings hold exactly the builder's columns (nothing per
    128-posting block) and one row per (term_id, salt) list of runs ⋈ dict,
    however long the list: one doc shard, so head-term lists run to
    hundreds of postings; the rows' sizes sum to the runs' postings."""
    import json
    out = str(tmp_path / "idx")
    build_index(spark, documents, out, n_groups=2, n_shards=1)
    meta = json.loads(open(f"{out}/_INDEX_META.json").read())
    assert meta["doc_shards"] == 1

    def read(sub):
        return (spark.read.option("recursiveFileLookup", "true")
                .parquet(f"{out}/{sub}"))

    postings = spark.read.parquet(f"{out}/postings")
    want = spark.createDataFrame([], LIST_SCHEMA).schema
    assert ({f.name: f.dataType for f in postings.schema}
            == {f.name: f.dataType for f in want})
    runs = read("runs")
    lists = (runs.join(read("dict"), "term")
             .select("term_id", F.pmod(F.xxhash64("doc_id"),
                                       F.lit(meta["doc_shards"]))
                     .cast("int").alias("salt")).distinct())
    rows = postings.select("term_id", "salt").collect()
    assert len(rows) == len(set(rows))
    assert set(rows) == set(lists.collect())
    n = postings.agg(F.sum("n").alias("s"), F.max("n").alias("m")).first()
    assert n.s == runs.count()
    assert n.m > 128


def test_build_job_ceiling(spark, documents, tmp_path):
    """Spark jobs of one build_index: a regression in job rounds fails here
    before it shows as wall time."""
    n = len(jobs_of(spark, lambda: build_index(
        spark, documents, str(tmp_path / "idx"), n_groups=4, n_shards=4,
        salt_rows=100)))
    assert 0 < n <= BUILD_JOB_CEILING, n


def test_write_job_ceilings(spark, documents, tmp_path):
    """Spark jobs of each write on a segment root: the first ingest, a
    delete and a compaction."""
    root = str(tmp_path / "root")
    calls = {
        "add_segment": lambda: add_segment(spark, documents, root,
                                           salt_rows=100),
        "delete_docs": lambda: delete_docs(spark, root,
                                           list(range(3, 1000, 7))),
        "compact": lambda: compact(spark, root, salt_rows=100),
    }
    for name, call in calls.items():
        n = len(jobs_of(spark, call))
        assert 0 < n <= WRITE_JOB_CEILINGS[name], (name, n)


def test_job_group_sees_pool_jobs(spark, documents, tmp_path):
    """The jobs the builder submits from its driver thread pools stay in
    the caller's job group: for a build, an ingest and a compaction the
    group holds every job id the call used up."""
    sc = spark.sparkContext

    def newest_job_id() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    root = str(tmp_path / "root")
    calls = {
        "build_index": lambda: build_index(
            spark, documents, str(tmp_path / "idx"), n_groups=4,
            n_shards=4, salt_rows=100),
        "add_segment": lambda: add_segment(spark, documents, root,
                                           salt_rows=100),
        "compact": lambda: compact(spark, root, salt_rows=100),
    }
    for name, call in calls.items():
        before = newest_job_id()
        n = len(jobs_of(spark, call))
        assert n == newest_job_id() - before > 0, name
