"""The merge shuffle carries no ``dl`` (it is gathered back from
``docs/salt=<s>`` at encode time); the written postings must equal a
reference encode of the same postings with ``dl`` joined in directly —
same lists, same compressed bytes. A doc missing from
``docs`` and a runs group without its dfs both fail loudly."""
from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index import codec
from colbert_live_spark.index.builder import build_runs, merge_index


def _postings_pdf(spark, out):
    pdf = (spark.read.parquet(f"{out}/postings")
           .orderBy("term_id", "salt").toPandas())
    # bytes-valued list columns: make hashable for frame compare
    for c in ("docs", "tfs", "dls"):
        pdf[c] = pdf[c].map(bytes)
    return pdf.reset_index(drop=True)


def test_postings_match_reference_encode(spark, documents, tmp_path):
    out = str(tmp_path / "idx")
    build_runs(spark, documents.filter(F.col("doc_id") < 300), out,
               n_groups=2)
    merge_index(spark, out, n_shards=4, salt_rows=100)
    with open(f"{out}/_INDEX_META.json") as fh:
        meta = json.load(fh)

    def read(sub):
        return (spark.read.option("recursiveFileLookup", "true")
                .parquet(f"{out}/{sub}"))

    rows = (read("runs").select("term", "doc_id", "tf")
            .join(read("doclens").select("doc_id", "dl"), "doc_id")
            .join(read("dict").select("term", "term_id"), "term")
            .select("term_id",
                    F.pmod(F.xxhash64("doc_id"), F.lit(meta["doc_shards"]))
                    .cast("int").alias("salt"),
                    "doc_id", "tf", "dl")
            .toPandas())
    t, s, d, tf, dl = (rows[c].to_numpy(np.int64)
                       for c in ("term_id", "salt", "doc_id", "tf", "dl"))
    o = np.lexsort((d, s, t))
    want = codec.encode_lists_columns(t[o], s[o], d[o], tf[o], dl[o])
    got = _postings_pdf(spark, out)
    assert len(got) == len(want["n"]) > 0
    for col in got.columns:
        assert list(got[col]) == list(want[col]), f"column {col} differs"


def test_missing_doc_length_fails_loudly(spark, documents, tmp_path):
    """A doc present in runs but absent from docs (stage-1 corruption)
    must raise, not silently mis-score."""
    import glob
    import os
    out = str(tmp_path / "idx")
    docs = documents.filter(F.col("doc_id") < 100)
    build_runs(spark, docs, out, n_groups=1)
    # the merge rewrites docs from doclens, so sabotage doclens: docs
    # comes out missing docs that runs still carry
    for f in glob.glob(f"{out}/doclens/*/*.parquet"):
        os.remove(f)
    docs.limit(10).select(
        "doc_id", F.lit(5).alias("dl")).write.mode("append").parquet(
        glob.glob(f"{out}/doclens/*")[0])
    with pytest.raises(Exception, match="docs salt=.* is missing doc ids"):
        merge_index(spark, out, n_shards=4, salt_rows=100)


def test_merge_refuses_runs_without_dfs(spark, documents, tmp_path):
    """The dictionary comes from the stage-1 dfs only: a runs group whose
    dfs is gone raises instead of falling back to a runs aggregation."""
    import shutil
    out = str(tmp_path / "idx")
    build_runs(spark, documents.filter(F.col("doc_id") < 100), out,
               n_groups=2)
    shutil.rmtree(f"{out}/dfs/gid=1")
    with pytest.raises(RuntimeError, match="no dfs"):
        merge_index(spark, out, n_shards=4, salt_rows=100)

