"""The ``serve`` and ``live`` workloads: one single-threaded closed-loop
client driving the engine's public API.

Each workload returns a :class:`Result`: per-operation wall-time samples,
the number of operations attempted and failed (a call that raised or an
answer that differs from the exact oracle), and the end-to-end metrics.
Answers are checked against ``oracle.oracle_search`` outside the timed
calls: ranks identical, scores within 1e-9.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen

K = 10
PAYLOAD_K = 5
# cached inputs are keyed by the generator's source as well as seed and size
with open(gen.__file__, "rb") as _f:
    GEN_VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
SCORE_TOL = 1e-9
POINT_PASSES = 3  # executions of each point query (see fastest)


@dataclass
class Result:
    samples: dict[str, list[float]] = field(default_factory=dict)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checked: int = 0
    digest: str = ""   # of every generated input the run used

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED: {what}", file=sys.stderr)


def fastest(timings: list[float], n: int) -> list[float]:
    """Per query, the fastest of its ``POINT_PASSES`` executions.
    ``timings`` holds blocks of ``POINT_PASSES`` passes over ``n`` queries,
    pass-major, so the executions of one query are a pass apart (half a
    second): a stall of the shared host's CPU rarely hits all of them."""
    a = np.asarray(timings).reshape(-1, POINT_PASSES, n)
    return a.min(axis=1).ravel().tolist()


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    return float(np.percentile(np.asarray(xs), 90, method="higher"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def text_bytes(table) -> int:
    return sum(len(t.encode()) for t in table.column("text").to_pylist())


class Client:
    """Runs operations, counts attempts and failures, checks answers."""

    def __init__(self, res: Result, tracer):
        self.res = res
        self.tracer = tracer

    def call(self, sample: str | None, span: str, fn, *a,
             spark_counters: bool = True, counts: dict | None = None, **kw):
        """Time one operation; record its wall time under ``sample``
        (None: not a metric sample, e.g. a warm-up). Returns None when the
        call raised."""
        self.res.attempted += 1
        if sample is None:
            span += ".warmup"
        with self.tracer.span(span, spark_counters, **(counts or {})):
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            except Exception:  # keep the run going; the failure is counted
                traceback.print_exc()
                self.res.fail(span)
                return None
            dt = time.perf_counter() - t0
        if sample is not None:
            self.res.add(sample, dt)
        return out

    def check(self, what: str, got: list[tuple[int, float]],
              want: list[tuple[int, float]]) -> None:
        self.res.checked += 1
        ok = (len(got) == len(want)
              and all(g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL
                      for g, w in zip(got, want)))
        if not ok:
            self.res.fail(f"oracle mismatch in {what}: got {got[:3]}... "
                          f"want {want[:3]}...")


def ranked(pdf, qid: str) -> list[tuple[int, float]]:
    """[(doc_id, score)] of one query from a (query_id, rank, doc_id, score)
    pandas frame, in rank order."""
    g = pdf[pdf["query_id"] == qid].sort_values("rank")
    return list(zip(g["doc_id"].astype(int), g["score"].astype(float)))


def settle() -> None:
    """Flush dirty pages and collect garbage before a timed phase, so the
    timed calls do not share the machine with the writeback of what the
    previous call wrote or with a collection of the garbage it left. (Not
    the JVM's: a forced JVM collection wakes Spark's context cleaner, which
    then deletes shuffle files while the next timed calls run.) The
    survivors, such as the answers kept for the oracle checks, are frozen
    out of the collector's generations, so that the collections the timed
    calls trigger do not grow with what the benchmark holds."""
    os.sync()
    gc.collect()
    gc.freeze()


def warm_workers(spark) -> None:
    """Start one Python worker per core (first Arrow UDF calls pay it)."""
    def ident(it):
        yield from it
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(ident, "id long").collect()


def inputs_dir(work: str, name: str) -> str:
    return os.path.join(work, "inputs", name)


def cached_corpus(work: str, key: str, seed: int, n_docs: int,
                  n_files: int, stream: str = "base"):
    """Generate (or reuse) a corpus written as parquet; returns (dir, table)."""
    import pyarrow.parquet as pq
    d = inputs_dir(work, f"{key}-s{seed}-{stream}-{n_docs}-{n_files}"
                         f"-{GEN_VERSION}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_corpus(gen.corpus(seed, n_docs, stream), d, n_files)
        open(os.path.join(d, "_DONE"), "w").close()
    return d, pq.read_table(d)


# --------------------------------------------------------------- serve

SERVE_DOCS = 4000
SERVE_FILES = 4
SERVE_BATCH = 256
SERVE_SQL_BATCH = 32
SERVE_POINTS = 32           # point queries per round
SERVE_MIN_ROUNDS = 2
CHECK_PER_BATCH = 8
CHECK_POINTS = 16


def serve(ctx) -> Result:
    """Static monolithic index built in setup; read-only measured region.

    One round: a batched ``wand_search``, the same batch under a
    ``doc_filter`` keeping the ``FILTER_LANG`` docs (about one in ten), and
    ``SERVE_POINTS`` single ``wand_search_local`` queries, each run in
    ``POINT_PASSES`` passes (the driver caches are warm, so every pass does
    the same work). After the rounds,
    one relational ``bm25.search`` batch with a broadcast payload join; it
    is the process's first relational call (a warm-up would cost as much as
    the measured call)."""
    from pyspark.sql import functions as F

    from colbert_live_spark.index.builder import build_index
    from colbert_live_spark.operators import bm25
    from colbert_live_spark.operators.wand import (wand_search,
                                                   wand_search_local)
    from colbert_live_spark.oracle import build_oracle_index, oracle_search
    from colbert_live_spark.session import spread_input

    res, seed = Result(), ctx.seed
    cl = Client(res, ctx.tracer)
    corpus_dir, table = cached_corpus(ctx.work, "serve", seed, SERVE_DOCS,
                                      SERVE_FILES)
    n_rounds_max = 64
    batches = [gen.queries(seed, SERVE_BATCH, f"batch{r}")
               for r in range(n_rounds_max)]
    points = [q for r in range(n_rounds_max)
              for q in gen.queries(seed, SERVE_POINTS, f"point{r}")]
    sql_qs = gen.queries(seed, SERVE_SQL_BATCH, "sql")
    warm_qs = gen.queries(seed, 32, "warm")
    res.digest = gen.digest([table], batches + [points, sql_qs, warm_qs])
    oracle = build_oracle_index(list(zip(table.column("doc_id").to_pylist(),
                                         table.column("text").to_pylist())))
    filt_ids = {int(d) for d, lang in zip(table.column("doc_id").to_pylist(),
                                          table.column("lang").to_pylist())
                if lang == gen.FILTER_LANG}
    index_dir = os.path.join(ctx.run_dir, "index")

    # ---- setup: session + index build + warm-up of every measured call
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    warm_workers(spark)
    docs = spark.read.parquet(corpus_dir)
    meta = docs.select("doc_id", "lang")
    cl.call("build_s", "builder.build_index", build_index, spark, docs,
            index_dir, n_groups=2, n_shards=4, salt_rows=1_000_000,
            doc_meta=meta)
    settle()
    filt = (spark.read.parquet(os.path.join(index_dir, "docs"))
            .filter(F.col("lang") == gen.FILTER_LANG).select("doc_id"))

    def batch(qs, doc_filter=None):
        return wand_search(spark, index_dir, [(q, t) for q, t, _ in qs],
                           k=K, doc_filter=doc_filter).toPandas()

    def sql_payload(qs):
        top = bm25.search(spark, spread_input(docs),
                          [(q, t) for q, t, _ in qs], k=PAYLOAD_K)
        return (docs.join(F.broadcast(top), "doc_id")
                .select("query_id", "rank", "doc_id", "score",
                        F.substring("text", 1, 40).alias("snippet"),
                        "lang").toPandas())

    def point(q):
        qid, text, conj = q
        return wand_search_local(index_dir, [(qid, text)], k=K,
                                 conjunctive=conj)

    cl.call(None, "wand.wand_search", batch, warm_qs)
    cl.call(None, "wand.wand_search_filtered", batch, warm_qs, filt)
    for q in warm_qs:
        cl.call(None, "wand.wand_search_local", point, q,
                spark_counters=False)
    res.metrics["setup_s"] = (time.perf_counter() - t_setup, "s")

    # ---- measured region
    answers = []   # (kind, queries, result) checked after the clock stops
    t0 = time.perf_counter()
    r = 0
    while r < SERVE_MIN_ROUNDS or (time.perf_counter() - t0 < ctx.seconds
                                   and r < n_rounds_max):
        qs = batches[r]
        answers.append(("batch", qs, cl.call("batch_s", "wand.wand_search",
                                             batch, qs)))
        answers.append(("filtered", qs, cl.call(
            "filtered_s", "wand.wand_search_filtered", batch, qs, filt)))
        settle()
        for _ in range(POINT_PASSES):
            for q in points[r * SERVE_POINTS:(r + 1) * SERVE_POINTS]:
                answers.append(("point", [q], cl.call(
                    "point_pass_s", "wand.wand_search_local", point, q,
                    spark_counters=False)))
        r += 1
    answers.append(("sql", sql_qs, cl.call("sql_s", "bm25.search_payload",
                                           sql_payload, sql_qs)))
    measured_s = time.perf_counter() - t0

    # ---- oracle checks (outside every timed call)
    rng = np.random.default_rng([seed, 99])
    texts = dict(zip(table.column("doc_id").to_pylist(),
                     table.column("text").to_pylist()))
    point_answers = [a for a in answers if a[0] == "point"]
    for i in rng.choice(len(point_answers), min(CHECK_POINTS,
                                                len(point_answers)),
                        replace=False):
        _, ((qid, text, conj),), pdf = point_answers[i]
        if pdf is not None:
            cl.check(f"point {qid}", ranked(pdf, qid),
                     oracle_search(oracle, text, K, conjunctive=conj))
    for kind, qs, pdf in answers:
        if kind == "point" or pdf is None:
            continue
        k = PAYLOAD_K if kind == "sql" else K
        dfilter = filt_ids if kind == "filtered" else None
        for i in rng.choice(len(qs), CHECK_PER_BATCH, replace=False):
            qid, text, _ = qs[i]
            cl.check(f"{kind} {qid}", ranked(pdf, qid),
                     oracle_search(oracle, text, k, doc_filter=dfilter))
            if kind == "sql":
                for _, row in pdf[pdf["query_id"] == qid].iterrows():
                    if row["snippet"] != texts[int(row["doc_id"])][:40]:
                        res.fail(f"payload snippet of doc {row['doc_id']}")

    s = res.samples
    n_docs = table.num_rows
    m = res.metrics
    m["build_docs_per_s"] = (n_docs / s["build_s"][0], "docs/s")
    m["index_bytes_per_text_byte"] = (dir_bytes(index_dir)
                                      / text_bytes(table), "ratio")
    m["batch_qps"] = (median([SERVE_BATCH / x for x in s["batch_s"]]), "q/s")
    s["point_s"] = fastest(s["point_pass_s"], SERVE_POINTS)
    e = res.extra
    e["point_p50_ms"] = (1e3 * median(s["point_s"]), "ms")
    e["point_p90_ms"] = (1e3 * p90(s["point_s"]), "ms")
    e["filtered_batch_qps"] = (median([SERVE_BATCH / x
                                       for x in s["filtered_s"]]), "q/s")
    e["sql_payload_qps"] = (SERVE_SQL_BATCH / s["sql_s"][0], "q/s")
    e["rounds"] = (r, "count")
    e["point_samples"] = (len(s["point_s"]), "count")
    e["measured_s"] = (measured_s, "s")
    ctx.profile_targets = {"kind": "index", "path": index_dir,
                           "queries": points[:32]}
    return res


# ---------------------------------------------------------------- live

LIVE_BASE_DOCS = 2000
LIVE_ADD_DOCS = 1000
LIVE_DELETE = 200
LIVE_BATCH = 128
LIVE_POINTS = 50            # segment_search_local queries per root state


def live(ctx) -> Result:
    """Writes beside reads on a segmented root prepared in setup.

    A fixed script over three root states, each read cold (every commit
    rewrites the manifest, which drops the per-root caches):

    1. the base root from setup (one segment): ``LIVE_POINTS`` single
       ``segment_search_local`` queries;
    2. after ``add_segment`` of a new batch and ``delete_docs`` of random
       live ids (two segments and tombstones): one batched
       ``segment_search`` and ``LIVE_POINTS`` single queries;
    3. after ``compact`` (one segment): ``LIVE_POINTS`` single queries.

    The work is fixed rather than timed, so every run reads the same
    sequence of states. One write cycle and one batch: each costs seconds
    of Spark job rounds. The point metrics pool the three states. The
    oracle follows every commit; global ids come from the manifest's
    ``next_doc_base``."""
    from colbert_live_spark.index import segments
    from colbert_live_spark.oracle import build_oracle_index, oracle_search

    res, seed = Result(), ctx.seed
    cl = Client(res, ctx.tracer)
    base_dir, base = cached_corpus(ctx.work, "live", seed, LIVE_BASE_DOCS, 2)
    add_dir, add = cached_corpus(ctx.work, "live", seed, LIVE_ADD_DOCS, 1,
                                 stream="add0")
    batch_qs = gen.queries(seed, LIVE_BATCH, "lbatch")
    points = [gen.queries(seed, LIVE_POINTS, f"lpoint{i}") for i in range(3)]
    warm_qs = gen.queries(seed, 16, "lwarm")
    res.digest = gen.digest([base, add], [batch_qs, warm_qs] + points)
    root = os.path.join(ctx.run_dir, "root")
    live_docs = dict(zip(base.column("doc_id").to_pylist(),
                         base.column("text").to_pylist()))

    def manifest() -> dict:
        with open(os.path.join(root, segments.MANIFEST)) as f:
            return json.load(f)

    def batch(qs):
        return segments.segment_search(
            spark, root, [(q, t) for q, t, _ in qs], k=K).toPandas()

    def point(q):
        qid, text, conj = q
        return segments.segment_search_local(root, [(qid, text)], k=K,
                                             conjunctive=conj)

    def local_counts():
        if not ctx.tracer.enabled:
            return {}
        m = manifest()
        return {"segments": len(m["segments"]),
                "tombstones": m["tombstones"]["n_deleted"]}

    def point_queries(sample: str, qs) -> list:
        settle()
        return [("point", [q], cl.call(
            sample, "segments.segment_search_local", point, q,
            spark_counters=False, counts=local_counts())) for q in qs]

    # ---- setup: session + base root + warm-up
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    warm_workers(spark)
    if cl.call("build_s", "segments.add_segment", segments.add_segment,
               spark, spark.read.parquet(base_dir), root) is None:
        raise RuntimeError("base add_segment failed")
    root_bytes = dir_bytes(root)
    settle()
    cl.call(None, "segments.segment_search", batch, warm_qs[:8])
    for q in warm_qs:
        cl.call(None, "segments.segment_search_local", point, q,
                spark_counters=False, counts=local_counts())
    res.metrics["setup_s"] = (time.perf_counter() - t_setup, "s")

    # ---- measured region
    rng = np.random.default_rng([seed, 7])
    snapshots = []  # (live docs of the state, [(kind, qs, result)])
    t0 = time.perf_counter()
    snapshots.append((dict(live_docs), point_queries("point_s", points[0])))

    doc_base = manifest()["next_doc_base"]
    before = dir_bytes(root)
    settle()
    if cl.call("ingest_s", "segments.add_segment", segments.add_segment,
               spark, spark.read.parquet(add_dir), root) is not None:
        live_docs.update(zip((doc_base + i for i in
                              add.column("doc_id").to_pylist()),
                             add.column("text").to_pylist()))
        res.add("ingest_bytes_ratio",
                (dir_bytes(root) - before) / text_bytes(add))
    ids = [int(i) for i in rng.choice(sorted(live_docs), LIVE_DELETE,
                                      replace=False)]
    settle()
    if cl.call("delete_s", "segments.delete_docs", segments.delete_docs,
               spark, root, ids) is not None:
        for i in ids:
            del live_docs[i]
    settle()
    got = [("batch", batch_qs, cl.call("batch_s", "segments.segment_search",
                                       batch, batch_qs))]
    got += point_queries("point_s", points[1])
    snapshots.append((dict(live_docs), got))

    before = dir_bytes(root)
    settle()
    cl.call("compact_s", "segments.compact", segments.compact, spark, root)
    res.add("compact_bytes", dir_bytes(root) - before)
    snapshots.append((dict(live_docs),
                      point_queries("after_compact_s", points[2])))
    measured_s = time.perf_counter() - t0

    # ---- oracle checks: one oracle per committed state
    for docs, got in snapshots:
        oracle = build_oracle_index(list(docs.items()))
        for kind, qs, pdf in got:
            if pdf is None:
                continue
            sample = (qs if kind == "point" else
                      [qs[i] for i in rng.choice(len(qs), CHECK_PER_BATCH,
                                                 replace=False)])
            for qid, text, conj in sample:
                conj = conj and kind == "point"
                cl.check(f"live {kind} {qid}", ranked(pdf, qid),
                         oracle_search(oracle, text, K, conjunctive=conj))

    s = res.samples
    m = res.metrics
    m["build_docs_per_s"] = (base.num_rows / s["build_s"][0], "docs/s")
    m["index_bytes_per_text_byte"] = (root_bytes / text_bytes(base), "ratio")
    m["batch_qps"] = (LIVE_BATCH / s["batch_s"][0], "q/s")
    pooled = s["point_s"] + s["after_compact_s"]
    e = res.extra
    e["live_query_p50_ms"] = (1e3 * median(pooled), "ms")
    e["live_query_p90_ms"] = (1e3 * p90(pooled), "ms")
    e["live_ingest_p50_s"] = (median(s["ingest_s"]), "s")
    e["live_delete_p50_s"] = (median(s["delete_s"]), "s")
    e["live_compact_s"] = (s["compact_s"][0], "s")
    e["live_query_after_compact_p50_ms"] = (
        1e3 * median(s["after_compact_s"]), "ms")
    e["point_samples"] = (len(pooled), "count")
    e["measured_s"] = (measured_s, "s")
    ctx.profile_targets = {"kind": "root", "path": root,
                           "queries": points[0][:32],
                           "ingest_bytes_ratio": median(
                               s["ingest_bytes_ratio"]),
                           "compact_bytes": s["compact_bytes"][0]}
    return res
