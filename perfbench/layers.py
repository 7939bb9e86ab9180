"""Outside-computed per-layer counts for the traced run.

- ``builder``: postings and bytes per part of the index the setup built.
- ``codec``: ``decode_blocks`` timed over the blocks the profiled queries
  match, and stored blob bytes per posting over the whole index.
- ``wand.local``: the local serving path taken apart. The pruned read is
  reproduced with ``fsio.resolve`` + ``pruning_isin`` and the blocks it
  read are scored in-process by ``score_shard_queries``; ``other`` is the
  engine call's wall time minus read and score (dictionary lookup, qmeta,
  finalisation).

Every measurement is recorded as a span (no Spark counters: none of these
runs a Spark job) so the trace and the per-layer table carry it.
"""

from __future__ import annotations

import json
import math
import time

import numpy as np

from spans import SPARK_KEYS as S_KEYS
from workloads import K, dir_bytes

S_UNITS = {"wall_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
           "busy_ratio": "ratio", "jobs": "count", "stages": "count",
           "tasks": "count"}
# layers whose Spark counters are reported
SPARK_LAYERS = ("builder.build_runs", "builder.merge_index",
                "wand.wand_search", "wand.wand_search_filtered",
                "bm25.search_payload", "segments.add_segment",
                "segments.delete_docs", "segments.segment_search",
                "segments.compact")


def _s_spec(layer: str) -> list[tuple[str, str, str]]:
    return [(f"{layer}.{k}", S_UNITS.get(k, "bytes"),
             "higher" if k == "busy_ratio" else "lower") for k in S_KEYS]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [("session.get_spark_s", "s", "lower")]
    out += _s_spec("builder.build_runs") + _s_spec("builder.merge_index")
    out += [("builder.postings", "count", "lower")]
    out += [(f"builder.{p}_bytes", "bytes", "lower")
            for p in ("runs", "postings", "dict", "aux")]
    out += [("codec.decode_ns_per_posting", "ns", "lower"),
            ("codec.bytes_per_posting", "bytes", "lower")]
    out += [(f"wand.local.{k}", "s", "lower")
            for k in ("read_s", "score_s", "other_s")]
    out += [(f"wand.local.{k}", "count", "lower")
            for k in ("blocks", "postings", "row_groups_read",
                      "row_groups_total")]
    out += [("wand.score_ns_per_posting", "ns", "lower")]
    for layer in SPARK_LAYERS[2:]:
        out += _s_spec(layer)
    out += [("segments.bytes_written_per_ingested_byte", "ratio", "lower"),
            ("segments.compact_bytes_rewritten", "bytes", "lower"),
            ("segments.local.segments", "count", "lower"),
            ("segments.local.tombstones", "count", "lower")]
    return out


def _row_groups(dataset, flt) -> tuple[int, int]:
    matched = total = 0
    for frag in dataset.get_fragments():
        total += frag.metadata.num_row_groups
        matched += len(frag.split_by_row_group(flt))
    return matched, total


def index_counts(index_dir: str) -> dict:
    """builder.* counts of one built index directory."""
    import pyarrow.dataset as pads
    n = pads.dataset(f"{index_dir}/postings", format="parquet").to_table(
        columns=["n"]).column("n").to_numpy().sum()
    parts = {p: dir_bytes(f"{index_dir}/{p}")
             for p in ("runs", "postings", "dict")}
    total = dir_bytes(index_dir)
    return {"postings": int(n), **{f"{p}_bytes": b for p, b in parts.items()},
            "aux_bytes": total - sum(parts.values())}


def blob_bytes_per_posting(index_dirs: list[str]) -> float:
    import pyarrow.dataset as pads
    import pyarrow.compute as pc
    blob = n = 0
    for d in index_dirs:
        t = pads.dataset(f"{d}/postings", format="parquet").to_table(
            columns=["n", "docs", "tfs", "dls"])
        n += int(pc.sum(t.column("n")).as_py())
        blob += sum(int(pc.sum(pc.binary_length(t.column(c))).as_py() or 0)
                    for c in ("docs", "tfs", "dls"))
    return blob / n


def profile_local(tracer, target: dict, engine_call) -> None:
    """Record wand.local.*, wand.score_shard_queries and codec.decode_blocks
    spans for each profiled query against ``target`` (an index directory,
    or a segmented root whose live segments are read like
    ``segment_search_local`` reads them)."""
    import pandas as pd
    import pyarrow.dataset as pads

    from colbert_live_spark.functions.tokenize import py_tokenize
    from colbert_live_spark.index import codec, fsio
    from colbert_live_spark.operators.wand import (build_qmeta, pruning_isin,
                                                   score_shard_queries)

    path = target["path"]
    if target["kind"] == "index":
        with open(f"{path}/_INDEX_META.json") as f:
            meta = json.load(f)
        dirs, n_docs, avgdl = [path], int(meta["n_docs"]), meta["avgdl"]
        excl = None
    else:
        with open(f"{path}/MANIFEST.json") as f:
            m = json.load(f)
        dirs = [f"{path}/segments/{s['name']}" for s in m["segments"]]
        n_docs = (sum(s["n_docs"] for s in m["segments"])
                  - m["tombstones"]["n_deleted"])
        avgdl = (sum(s["sum_dl"] for s in m["segments"])
                 - m["tombstones"]["deleted_dl"]) / n_docs
        excl = None
        if m["tombstones"]["files"]:
            excl = np.unique(np.concatenate([
                pads.dataset(f"{path}/{f}", format="parquet")
                .to_table(columns=["doc_id"]).column("doc_id").to_numpy()
                for f in m["tombstones"]["files"]]))

    decode_in = []
    for qid, text, conj in target["queries"]:
        t_total = time.perf_counter()
        engine_call((qid, text, conj))
        t_total = time.perf_counter() - t_total

        terms = sorted(set(py_tokenize(text)))
        seg_dict, df = [], {}
        for d in dirs:
            t = pads.dataset(f"{d}/dict", format="parquet").to_table(
                filter=pruning_isin("term", terms),
                columns=["term", "term_id", "df"])
            sd = dict(zip(t.column("term").to_pylist(),
                          t.column("term_id").to_pylist()))
            for term, v in zip(t.column("term").to_pylist(),
                               t.column("df").to_pylist()):
                df[term] = df.get(term, 0) + v
            seg_dict.append(sd)
        gid = {t: i for i, t in enumerate(sorted(df))}
        qmeta, nq = build_qmeta(
            [(qid, text)],
            lambda t: ((gid[t], math.log(1 + (n_docs - df[t] + 0.5)
                                         / (df[t] + 0.5)))
                       if t in df else None))
        if not qmeta:
            continue

        frames = []
        t0 = time.perf_counter()
        for d, sd in zip(dirs, seg_dict):
            if not sd:
                continue
            fs, p = fsio.resolve(f"{d}/postings")
            ds = pads.dataset(p, format="parquet", filesystem=fs)
            flt = pruning_isin("term_id", sorted(sd.values()))
            blocks = ds.to_table(filter=flt).to_pandas()
            back = {tid: gid[t] for t, tid in sd.items()}
            blocks["term_id"] = blocks["term_id"].map(back).astype(np.int64)
            frames.append((blocks, ds, flt))
        read_s = time.perf_counter() - t0
        blocks = pd.concat([f[0] for f in frames], ignore_index=True)
        rgs = [_row_groups(ds, flt) for _, ds, flt in frames]
        postings = int(blocks["n"].sum())
        tracer.record("wand.local.read", read_s, blocks=len(blocks),
                      postings=postings,
                      row_groups_read=sum(r for r, _ in rgs),
                      row_groups_total=sum(t for _, t in rgs))
        t0 = time.perf_counter()
        score_shard_queries(blocks, qmeta, nq, avgdl, K, conjunctive=conj,
                            exclude_ids=excl)
        score_s = time.perf_counter() - t0
        tracer.record("wand.score_shard_queries", score_s, postings=postings)
        tracer.record("wand.local.other", t_total - read_s - score_s)
        decode_in.append(blocks)

    blocks = pd.concat(decode_in, ignore_index=True)
    args = (blocks["first_doc"].to_numpy(), blocks["n"].to_numpy(),
            blocks["docs"].to_list(), blocks["tfs"].to_list(),
            blocks["dls"].to_list())
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        codec.decode_blocks(*args)
        best = min(best, time.perf_counter() - t0)
    tracer.record("codec.decode_blocks", best,
                  postings=int(blocks["n"].sum()), blocks=len(blocks),
                  bytes_per_posting=blob_bytes_per_posting(dirs))
