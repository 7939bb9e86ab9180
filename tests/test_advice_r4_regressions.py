"""Regressions for the round-4 ADVICE findings.

- the serving term cache must be bounded (LRU): an adversarial stream of
  distinct absent terms must not grow driver memory without bound, and
  evicted terms must still resolve via the point-lookup path.
- legacy-root stream migration: a root whose batches were committed before
  stream-id namespacing (no ns_version marker) must seed a newly named
  stream's namespace from the legacy token, so a replayed micro-batch is
  dropped instead of re-ingested as a duplicate segment.
- cli ingest-stream must expose --key-col for streams whose natural key is
  not 'url'.
- bench_merge must trim every level to the minimum common sample count
  (equal-effort best-of), not merely warn.
- add_segment must record the root's id mode and refuse preserve/offset
  mode changes across batches (silent double-count hazard).
"""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.index.builder import build_index
from colbert_live_spark.index.segments import (MANIFEST, _read_manifest,
                                               add_segment)
from colbert_live_spark.operators import wand

K = 5


@pytest.fixture(scope="module")
def small_index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("r4idx") / "idx")
    build_index(spark, documents.filter(F.col("doc_id") < 200), out,
                n_groups=2, n_shards=4, salt_rows=100)
    return out


def test_local_dict_cache_is_bounded_lru(small_index, tmp_path, monkeypatch):
    """The driver-side serving cache is bounded per root (terms, absent
    terms included) and across roots; evicted entries are point-read
    again with the same answer."""
    monkeypatch.setattr(wand, "_CACHE_TERMS_MAX", 8)
    wand._CACHE.clear()
    # flood with distinct absent terms — every one is a negative entry
    for i in range(50):
        assert wand.resolve(small_index, [("q", f"zz_absent_{i:04d}")]) \
            is None
    assert len(wand._CACHE[small_index].terms) <= 8
    # a real term evicted earlier must still resolve correctly (falls back
    # to the point-lookup path), and LRU touch keeps it resident
    first = wand.resolve(small_index, [("q", "spark")]).qmeta
    assert first["q"]
    for i in range(20):
        wand.resolve(small_index, [("q", f"zz_more_{i:04d} spark")])
    assert "spark" in wand._CACHE[small_index].terms
    assert wand.resolve(small_index, [("q", "spark")]).qmeta == first
    assert len(wand._CACHE[small_index].terms) <= 8
    # the root map is an LRU too: a second index evicts the first
    monkeypatch.setattr(wand, "_CACHE_ROOTS_MAX", 1)
    import shutil
    other = str(tmp_path / "copy")
    shutil.copytree(small_index, other)
    wand.resolve(other, [("q", "spark")])
    assert list(wand._CACHE) == [other]
    assert wand.resolve(small_index, [("q", "spark")]).qmeta == first
    wand._CACHE.clear()


def test_legacy_root_stream_namespace_seeded(spark, documents, tmp_path):
    """Simulate a pre-namespacing root: batches committed under the default
    token, manifest lacking the ns_version marker. A named stream resuming
    it must treat batch ids <= the legacy token as replays."""
    root = str(tmp_path / "legacy_root")
    docs = documents.limit(30)
    assert add_segment(spark, docs, root, salt_rows=100, batch_id=2)
    # strip the namespacing marker — this is what a pre-r4 manifest looks
    # like (batches recorded only under last_batch_id)
    m = json.loads(open(f"{root}/{MANIFEST}").read())
    assert m["last_batch_id"] == 2
    del m["ns_version"]
    m.pop("stream_batch_ids", None)
    open(f"{root}/{MANIFEST}", "w").write(json.dumps(m))

    # the one in-flight replayed micro-batch a checkpoint resume can
    # deliver: same batch id, named stream — must be dropped
    assert add_segment(spark, docs, root, salt_rows=100, batch_id=2,
                       stream_id="ckpt-a") is None
    assert len(_read_manifest(root)["segments"]) == 1
    # the next genuinely new batch ingests, and upgrades the root
    assert add_segment(spark, docs.withColumn(
        "doc_id", F.col("doc_id") + 1000), root, salt_rows=100, batch_id=3,
        stream_id="ckpt-a")
    m2 = _read_manifest(root)
    assert m2["ns_version"] == 2
    assert m2["stream_batch_ids"]["ckpt-a"] == 3
    # post-migration, a DIFFERENT new named stream starts at -1 as usual
    assert add_segment(spark, docs.withColumn(
        "doc_id", F.col("doc_id") + 2000), root, salt_rows=100, batch_id=0,
        stream_id="ckpt-b")


def test_id_mode_change_refused(spark, documents, tmp_path):
    root = str(tmp_path / "mode_root")
    docs = documents.limit(20)
    add_segment(spark, docs, root, salt_rows=100)
    assert _read_manifest(root)["id_mode"] == "offset"
    with pytest.raises(ValueError, match="id_mode"):
        add_segment(spark, docs, root, salt_rows=100, preserve_ids=True)
    # same mode keeps working
    assert add_segment(spark, docs, root, salt_rows=100)


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


def test_bench_merge_trims_to_equal_effort(tmp_path, monkeypatch, capsys):
    import bench_merge

    def run(cores, qps, build):
        return {"cores": cores, "batch_qps": qps,
                "build_docs_per_sec": build, "build_wall_s": 100.0 / build,
                "batch_wall_s": 1.0, "result_digest": "d1"}

    base = {
        "all_runs": {"2": [run(2, 100.0, 50.0)],
                     "8": [run(8, 300.0, 150.0)]},
        "delivered_cpu_ratio": 3.0, "rows": 110,
    }
    # over-sample the high level with a lucky fast run — without trimming
    # it would inflate the published efficiency
    extra = run(8, 9999.0, 9999.0)
    os.makedirs(tmp_path / "BENCH")
    bp, ep = str(tmp_path / "base.json"), str(tmp_path / "extra.json")
    json.dump(base, open(bp, "w"))
    json.dump(extra, open(ep, "w"))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr("sys.argv", ["bench_merge.py", bp, ep])
    bench_merge.main()
    out = json.load(open(tmp_path / "BENCH" / "scaling.json"))
    assert out["n_samples_per_level"] == {"2": 1, "8": 1}
    assert out["samples_trimmed_per_level"]["8"] == 1
    # the lucky extra sample must NOT have entered the best-of
    assert out["query_scaling_efficiency"] == round(300.0 / 100.0 / 4, 3)
    assert out["build_scaling_efficiency"] == round(150.0 / 50.0 / 4, 3)
