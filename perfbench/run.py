"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The engine runs on ``local[<cores>]``
driven by one single-threaded closed-loop client (see ``workloads.py``).
Every file the run writes stays under ``.perfbench/`` in the checkout:
generated inputs (cached by seed and size), Spark's shuffle and temp
directories (``SPARK_LOCAL_DIRS``), the index, results and traces.

Standard output: the end-to-end metrics by name with their units, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans go to ``.perfbench/traces/``. The
exit code is non-zero when any operation raised or any checked answer
differs from the exact oracle.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
E2E = ("setup_s", "build_docs_per_s", "index_bytes_per_text_byte",
       "batch_qps")


class Ctx:
    def __init__(self, args, workload: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = WORK
        self.run_dir = os.path.join(WORK, "runs",
                                    f"{workload}-{args.seed}-{os.getpid()}")
        self.tracer = tracer
        self.spark = None
        self.profile_targets: dict = {}

    def start_spark(self):
        from colbert_live_spark.session import get_spark
        from spans import StatusStore
        with self.tracer.span("session.get_spark", spark_counters=False):
            self.spark = get_spark(
                "perfbench", cores=len(os.sched_getaffinity(0)),
                extra_conf={"spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={WORK}/tmp"})
        self.tracer.store = StatusStore(self.spark)
        return self.spark


def _environment() -> None:
    """Point Spark and its Python workers at this checkout and keep every
    scratch file inside ``.perfbench/``; identical on both sides of an
    A/B."""
    sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "3g"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _trace_patches(tracer):
    """Span the builder and merge calls the engine makes internally."""
    from colbert_live_spark.index import builder, segments
    return [tracer.wrap(builder, "build_runs", "builder.build_runs"),
            tracer.wrap(builder, "merge_index", "builder.merge_index"),
            tracer.wrap(segments, "build_index", "builder.build_index"),
            tracer.wrap(segments, "merge_index", "builder.merge_index")]


def _per_layer(ctx, workload: str, other) -> dict:
    """The per-layer metrics of ``workload``. A layer it does not call is
    read from ``other``, the Ctx of the other workload run in the same
    traced process."""
    import layers
    tracer, t = ctx.tracer, ctx.profile_targets
    if workload == "serve":
        from colbert_live_spark.operators.wand import wand_search_local
        index_dir = t["path"]

        def call(q):
            return wand_search_local(t["path"], [q[:2]], conjunctive=q[2])
    else:
        from colbert_live_spark.index.segments import segment_search_local
        # the base segment add_segment built in setup (compaction leaves
        # its directory in place)
        index_dir = os.path.join(t["path"], "segments", "seg00000")

        def call(q):
            return segment_search_local(t["path"], [q[:2]],
                                        conjunctive=q[2])
    layers.profile_local(tracer, t, call)
    agg = {**other.tracer.by_layer(), **tracer.by_layer()}
    out = {}

    def per_call(layer: str, key: str) -> float:
        a = agg[layer]
        return a[key] / a["calls"]

    out["session.get_spark_s"] = agg["session.get_spark"]["dur_s"]
    for layer in layers.SPARK_LAYERS:
        for k in layers.S_KEYS:
            out[f"{layer}.{k}"] = (agg[layer]["busy_ratio"]
                                   if k == "busy_ratio"
                                   else per_call(layer, k))
    for k, v in layers.index_counts(index_dir).items():
        out[f"builder.{k}"] = v
    dec = agg["codec.decode_blocks"]
    out["codec.decode_ns_per_posting"] = 1e9 * dec["dur_s"] / dec["postings"]
    out["codec.bytes_per_posting"] = dec["bytes_per_posting"]
    for k in ("read", "other"):
        out[f"wand.local.{k}_s"] = per_call(f"wand.local.{k}", "dur_s")
    out["wand.local.score_s"] = per_call("wand.score_shard_queries", "dur_s")
    for k in ("blocks", "postings", "row_groups_read", "row_groups_total"):
        out[f"wand.local.{k}"] = per_call("wand.local.read", k)
    sc = agg["wand.score_shard_queries"]
    out["wand.score_ns_per_posting"] = 1e9 * sc["dur_s"] / sc["postings"]
    seg_t = t if workload == "live" else other.profile_targets
    out["segments.bytes_written_per_ingested_byte"] = seg_t[
        "ingest_bytes_ratio"]
    out["segments.compact_bytes_rewritten"] = seg_t["compact_bytes"]
    for k in ("segments", "tombstones"):
        out[f"segments.local.{k}"] = per_call("segments.segment_search_local",
                                              k)
    units = {n: u for n, u, _ in layers.per_layer_spec()}
    if set(units) != set(out):
        raise RuntimeError(f"per-layer names differ: {set(units) ^ set(out)}")
    return {n: {"value": out[n], "unit": units[n]} for n in units}


def _layer_table(tracer) -> None:
    print("# per-layer spans: calls, total s, self s, jobs, stages, "
          "busy_ratio")
    for name, a in sorted(tracer.by_layer().items()):
        print(f"#   {name:40s} {a['calls']:5d} {a['dur_s']:9.3f} "
              f"{a['self_s']:9.3f} {a.get('jobs', 0):6.0f} "
              f"{a.get('stages', 0):6.0f} {a.get('busy_ratio', 0):6.3f}")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=("serve", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _environment()
    if importlib.util.find_spec("colbert_live_spark") is None:
        print("perfbench: the engine package colbert_live_spark is not in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2

    import workloads
    from spans import Tracer
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args, args.workload, tracer)
    other = None  # traced runs: the other workload's Ctx
    undo = _trace_patches(tracer) if args.trace else []
    t_run = time.perf_counter()
    try:
        res = getattr(workloads, args.workload)(ctx)
        if args.trace:
            # Every per-layer metric is reported on every workload: the
            # layers this workload does not call come from a run of the
            # other workload in the same process, after this one.
            for u in undo:
                u()
            name = "live" if args.workload == "serve" else "serve"
            other = Ctx(args, name, Tracer(f"{run_id}-{name}"))
            undo = _trace_patches(other.tracer)
            o_res = getattr(workloads, name)(other)
            res.attempted += o_res.attempted
            res.failed += o_res.failed
            res.checked += o_res.checked
            metrics = _per_layer(ctx, args.workload, other)
    finally:
        for u in undo:
            u()
        if ctx.spark is not None:
            _stop(ctx.spark)
        for c in (ctx, other):
            if c is not None:
                shutil.rmtree(c.run_dir, ignore_errors=True)
    wall = time.perf_counter() - t_run

    named = {**res.metrics, **res.extra,
             "failed_op_ratio": (res.failed / res.attempted, "ratio")}
    for name, (value, unit) in named.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"# {res.attempted} operations, {res.checked} oracle checks, "
          f"{res.failed} failed; run wall {wall:.1f} s; "
          f"input digest {res.digest}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({**{k: v for k, (v, _) in named.items()},
                   "samples": res.samples}, f)
    if args.trace:
        _layer_table(tracer)
        untraced = os.path.join(WORK, "results",
                                f"{args.workload}-{args.seed}-trace0.json")
        overhead = {}
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            overhead = {k: named[k][0] - base[k] for k in named
                        if k in base}
            for k, v in overhead.items():
                print(f"# tracing overhead {k}: {v:+.6g} "
                      f"(traced minus untraced, same seed)")
        else:
            print("# tracing overhead: run --trace 0 with this seed first")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"),
                    {"e2e": {k: v for k, (v, _) in named.items()},
                     "overhead": overhead})
    else:
        metrics = {k: {"value": res.metrics[k][0], "unit": res.metrics[k][1]}
                   for k in E2E}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
