"""Incremental segments: rank-identity under incremental ingest, compaction
equivalence, streaming ingestion liveness, arrival-order independence of
natural-key (preserve_ids) ingest, the root's id mode, manifest stream
namespacing (replayed micro-batches, two streams) and empty batches."""
from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.segments import (
    _read_manifest, add_segment, compact, segment_search,
    segment_search_local, update_docs,
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
    # no tombstones, still the one stage-1 writer: group 0 of the new
    # segment holds runs, dfs and doclens
    import glob
    for sub in ("runs", "dfs", "doclens"):
        assert glob.glob(
            f"{seg_root}/segments/{seg}/{sub}/gid=0/*.parquet"), sub


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


def test_id_mode_change_refused(spark, documents, tmp_path):
    """add_segment records the root's id mode and refuses a preserve/offset
    change across batches (the ids would double-count)."""
    root = str(tmp_path / "mode_root")
    docs = documents.limit(20)
    add_segment(spark, docs, root, salt_rows=100)
    assert _read_manifest(root)["id_mode"] == "offset"
    with pytest.raises(ValueError, match="id_mode"):
        add_segment(spark, docs, root, salt_rows=100, preserve_ids=True)
    # same mode keeps working
    assert add_segment(spark, docs, root, salt_rows=100)


def test_empty_first_batch_does_not_fix_id_mode(spark, documents, tmp_path):
    """An empty first batch must not fix the root's id mode: the first real
    preserve_ids batch would then raise."""
    root = str(tmp_path / "emptyfirst")
    empty = documents.limit(0)
    # empty first micro-batch under the DEFAULT offset mode
    assert add_segment(spark, empty, root, salt_rows=100) is None
    # the first real batch arrives preserve_ids=True — must NOT raise
    assert add_segment(spark, documents.limit(10), root, salt_rows=100,
                       preserve_ids=True)
    assert _read_manifest(root)["id_mode"] == "preserve"
    assert len(segment_search_local(root, [("q", "spark")], k=5)) >= 0


def test_update_docs_refuses_preserve_roots(spark, documents, tmp_path):
    """update_docs on an id_mode='preserve' root would re-add docs under the
    SAME ids it tombstones (tombstone exclusion hides them, compact() drops
    them), so it must refuse such roots."""
    root = str(tmp_path / "proot")
    docs = documents.limit(20)
    add_segment(spark, docs, root, salt_rows=100, preserve_ids=True)
    changed = docs.limit(5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" rev2")))
    with pytest.raises(ValueError, match="preserve"):
        update_docs(spark, changed, root,
                    docs.limit(5).select("doc_id"), salt_rows=100)
    # the refusal must leave the root untouched (no staged tombstones)
    m = _read_manifest(root)
    assert m["tombstones"]["n_deleted"] == 0
    assert len(m["segments"]) == 1


def test_cli_ingest_stream_key_col(spark, documents, tmp_path):
    """A stream with no doc_id column and a non-'url' natural key must
    ingest via --key-col (advice r4: the default was hardcoded)."""
    from colbert_live_spark.cli import main
    inp = str(tmp_path / "in")
    (documents.limit(25).select(
        F.concat(F.lit("k"), F.col("doc_id")).alias("page_key"), "text")
     .coalesce(1).write.parquet(inp))
    root, ckpt = str(tmp_path / "root"), str(tmp_path / "ckpt")
    main(["ingest-stream", "--root", root, "--input", inp,
          "--checkpoint", ckpt, "--key-col", "page_key"])
    m = _read_manifest(root)
    assert sum(s["n_docs"] for s in m["segments"]) == 25


def test_streaming_replay_is_noop(spark, documents, tmp_path_factory):
    """At-least-once foreachBatch replays must not re-ingest (idempotent
    sink via manifest last_batch_id)."""
    from colbert_live_spark.index.segments import add_segment
    root = str(tmp_path_factory.mktemp("replay") / "live")
    small = documents.limit(20)
    assert add_segment(spark, small, root, salt_rows=100,
                       batch_id=0) is not None
    with open(f"{root}/MANIFEST.json") as f:
        before = json.load(f)
    # replay of batch 0: must be a no-op
    assert add_segment(spark, small, root, salt_rows=100, batch_id=0) is None
    with open(f"{root}/MANIFEST.json") as f:
        after = json.load(f)
    assert before == after
    assert len(after["segments"]) == 1
    # the NEXT batch ingests normally
    assert add_segment(spark, small, root, salt_rows=100,
                       batch_id=1) is not None


def test_add_segment_empty_batch_is_noop(spark, documents,
                                         tmp_path_factory):
    """An empty input batch must not crash (max(doc_id)=None) nor register
    a doc-less segment, but must still commit its batch_id."""
    root = str(tmp_path_factory.mktemp("empty") / "live")
    empty = documents.filter(F.lit(False))
    assert add_segment(spark, empty, root, salt_rows=100,
                       batch_id=0) is None
    with open(f"{root}/MANIFEST.json") as f:
        m = json.load(f)
    assert m["segments"] == []
    assert m["last_batch_id"] == 0
    # replay of the empty batch is still a no-op; the next batch ingests
    assert add_segment(spark, documents.limit(20), root, salt_rows=100,
                       batch_id=0) is None
    assert add_segment(spark, documents.limit(20), root, salt_rows=100,
                       batch_id=1) is not None


def test_two_streams_do_not_swallow_each_others_batches(
        spark, documents, tmp_path_factory):
    """Two streaming queries with separate checkpoints both start at
    batch_id 0; namespacing by stream_id must let both ingest."""
    root = str(tmp_path_factory.mktemp("twostreams") / "live")
    a = documents.filter(F.col("doc_id") < 50)
    b = (documents.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
         .withColumn("doc_id", F.col("doc_id") - 50))
    assert add_segment(spark, a, root, salt_rows=100, batch_id=0,
                       stream_id="ckpt-A") is not None
    assert add_segment(spark, b, root, salt_rows=100, batch_id=0,
                       stream_id="ckpt-B") is not None
    # per-stream replays are still no-ops
    assert add_segment(spark, a, root, salt_rows=100, batch_id=0,
                       stream_id="ckpt-A") is None
    with open(f"{root}/MANIFEST.json") as f:
        m = json.load(f)
    assert len(m["segments"]) == 2
    assert m["stream_batch_ids"] == {"ckpt-A": 0, "ckpt-B": 0}
