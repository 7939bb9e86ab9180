"""Regression tests for the round-2 advisor findings: legacy-root compact
migration, local dict-cache invalidation on rebuild, empty-batch ingest,
per-stream idempotence namespacing, mass-delete broadcast gating."""
from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.builder import build_index
from colbert_live_spark.index.segments import (
    add_segment, compact, delete_docs, segment_search)
from colbert_live_spark.operators.wand import wand_search_local
from colbert_live_spark.queryset import DOC_QUERIES

K = 10


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 6))
                  for r in df.collect())


def test_compact_migrates_legacy_root(spark, documents, tmp_path_factory):
    """A pre-doc-shard (round-1) root must come out of compact() fully
    migrated: manifest doc_shards recorded, segment_search serving again,
    and a subsequent add_segment reusing the SAME modulus (not auto-sizing
    a mismatched one)."""
    root = str(tmp_path_factory.mktemp("legacy") / "live")
    add_segment(spark, documents.filter(F.col("doc_id") < 300), root,
                salt_rows=100)
    expected = _rows(segment_search(spark, root, DOC_QUERIES, k=K))
    # simulate a round-1 manifest: doc_shards was never recorded
    mp = f"{root}/MANIFEST.json"
    with open(mp) as f:
        m = json.load(f)
    m["doc_shards"] = None
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="compact"):
        segment_search(spark, root, DOC_QUERIES, k=K)
    compact(spark, root, salt_rows=100)
    with open(mp) as f:
        m2 = json.load(f)
    assert m2["doc_shards"] is not None
    got = _rows(segment_search(spark, root, DOC_QUERIES, k=K))
    assert got == expected
    # post-migration ingest must share the compacted segment's modulus
    add_segment(spark, documents.filter((F.col("doc_id") >= 300)
                                        & (F.col("doc_id") < 400))
                .withColumn("doc_id", F.col("doc_id") - 300),
                root, salt_rows=100)
    with open(mp) as f:
        m3 = json.load(f)
    assert m3["doc_shards"] == m2["doc_shards"]
    meta = json.loads(open(
        f"{root}/segments/{m3['segments'][-1]['name']}/_INDEX_META.json"
    ).read())
    assert int(meta["doc_shards"]) == m2["doc_shards"]


def test_local_dict_cache_invalidated_on_rebuild(spark, documents,
                                                 tmp_path_factory):
    """A long-lived serving process must not apply a stale dictionary
    (term_ids reassigned) to a rebuilt index at the same path."""
    out = str(tmp_path_factory.mktemp("dcache") / "idx")
    build_index(spark, documents.filter(F.col("doc_id") < 200), out,
                n_shards=2, salt_rows=100)
    first = wand_search_local(out, DOC_QUERIES, k=K)  # warms the cache
    assert len(first)
    # rebuild at the SAME path over a different corpus slice: term ids,
    # idf, avgdl all change (delete first — an existing dir would
    # otherwise be a ledger-resume no-op)
    import shutil
    shutil.rmtree(out)
    build_index(spark, documents.filter(F.col("doc_id") >= 200), out,
                n_shards=2, salt_rows=100)
    got = wand_search_local(out, DOC_QUERIES, k=K)
    from colbert_live_spark.operators import wand as wand_mod
    wand_mod._CACHE.clear()
    fresh = wand_search_local(out, DOC_QUERIES, k=K)
    assert got.equals(fresh)
    assert not got.equals(first)


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


def test_delete_docs_empty_and_dataframe_input(spark, documents,
                                               tmp_path_factory):
    """Deleting zero (or already-deleted) ids must return 0 without writing
    tombstone files; DataFrame-shaped delete sets go through the size-gated
    join path and still produce rebuild-identical corrections."""
    root = str(tmp_path_factory.mktemp("deldf") / "live")
    add_segment(spark, documents.filter(F.col("doc_id") < 200), root,
                salt_rows=100)
    assert delete_docs(spark, root, []) == 0
    ids_df = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    assert delete_docs(spark, root, ids_df) == 50
    assert delete_docs(spark, root, ids_df) == 0  # already tombstoned
    got = _rows(segment_search(spark, root, DOC_QUERIES, k=K))
    rebuilt_root = str(tmp_path_factory.mktemp("deldf") / "rebuilt")
    add_segment(spark,
                documents.filter((F.col("doc_id") >= 50)
                                 & (F.col("doc_id") < 200)),
                rebuilt_root, salt_rows=100)
    want = _rows(segment_search(spark, rebuilt_root, DOC_QUERIES, k=K))
    assert got == want
