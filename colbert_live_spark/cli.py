"""spark-submit entry points (north rule: packaged for
``spark-submit --py-files`` on a multi-executor cluster).

Usage (cluster):
    zip -r colbert_live_spark.zip colbert_live_spark
    spark-submit --py-files colbert_live_spark.zip jobs.py build \
        --input /path/webpages_parquet --output /path/index \
        --id-col doc_id --text-col text --n-shards 256 --salt-rows 1000000
    spark-submit --py-files colbert_live_spark.zip jobs.py query \
        --index /path/index --query "hash join" --k 10 --out /path/rankings

Local: ``python -m colbert_live_spark.cli <cmd> ...`` (same args; a local
SparkSession is created when none is provided by spark-submit).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _get_spark(app: str):
    from pyspark import SparkConf
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if SparkConf().contains("spark.master"):
        # launched via spark-submit: inherit master/conf from the submit.
        # No spark.python.daemon.module here (get_spark sets it): under
        # --py-files the package reaches a worker's path only per task,
        # after the daemon has started, so the daemon could not import it.
        spark = (SparkSession.builder.appName(app)
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("WARN")
        return spark
    from colbert_live_spark.session import get_spark
    return get_spark(app)


def cmd_generate(args) -> None:
    from colbert_live_spark.sources.webpages import generate_webpages_fast
    spark = _get_spark("cls-generate")
    df = generate_webpages_fast(spark, args.rows, args.partitions,
                                include_html=args.html)
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": args.rows, "output": args.output}))


def cmd_build(args) -> None:
    from colbert_live_spark.index.builder import build_index
    from colbert_live_spark.index.ids import assign_dense_ids
    spark = _get_spark("cls-build")
    docs = spark.read.parquet(args.input)
    if args.id_col not in docs.columns:
        docs = assign_dense_ids(docs, args.key_col, args.id_col)
    t0 = time.time()
    build_index(spark, docs, args.output, id_col=args.id_col,
                text_col=args.text_col, n_groups=args.n_groups,
                n_shards=args.n_shards, salt_rows=args.salt_rows)
    wall = time.time() - t0
    n = docs.count()
    print(json.dumps({"n_docs": n, "wall_s": round(wall, 3),
                      "docs_per_sec": round(n / wall, 1),
                      "index": args.output}))


def _read_queries(args) -> list[tuple[str, str]]:
    if args.queries_tsv:
        queries = []
        with open(args.queries_tsv) as f:
            for line in f:
                qid, qtext = line.rstrip("\n").split("\t", 1)
                queries.append((qid, qtext))
        return queries
    return [("q0", args.query)]


def cmd_query(args) -> None:
    from colbert_live_spark.operators.wand import wand_search, wand_search_local
    queries = _read_queries(args)
    if args.local:
        # low-latency driver-local mode: zero Spark jobs
        t0 = time.time()
        pdf = wand_search_local(args.index, queries, k=args.k,
                                prune=not args.no_prune,
                                conjunctive=args.conjunctive)
        wall = time.time() - t0
        if args.out:
            pdf[["query_id", "doc_id", "rank", "score"]].to_csv(
                args.out, sep="\t", header=False, index=False)
        else:
            for r in pdf.itertuples():
                print(f"{r.query_id}\t{r.doc_id}\t{r.rank}\t{r.score:.6f}",
                      file=sys.stderr)
        print(json.dumps({"n_queries": len(queries), "rows": len(pdf),
                          "wall_s": round(wall, 3), "mode": "local",
                          "qps": round(len(queries) / wall, 2)}))
        return
    spark = _get_spark("cls-query")
    t0 = time.time()
    res = wand_search(spark, args.index, queries, k=args.k,
                      prune=not args.no_prune, conjunctive=args.conjunctive)
    if args.out:
        from colbert_live_spark.sources.sinks import write_rankings_tsv
        write_rankings_tsv(res, args.out)
        n = spark.read.option("sep", "\t").csv(args.out).count()
    else:
        rows = res.collect()
        n = len(rows)
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank))[:50]:
            print(f"{r.query_id}\t{r.doc_id}\t{r.rank}\t{r.score:.6f}",
                  file=sys.stderr)
    wall = time.time() - t0
    print(json.dumps({"n_queries": len(queries), "rows": n,
                      "wall_s": round(wall, 3),
                      "qps": round(len(queries) / wall, 2)}))


def cmd_add_segment(args) -> None:
    from colbert_live_spark.index.segments import add_segment
    spark = _get_spark("cls-add-segment")
    docs = spark.read.parquet(args.input)
    seg = add_segment(spark, docs, args.root, id_col=args.id_col,
                      text_col=args.text_col, n_shards=args.n_shards)
    print(json.dumps({"segment": seg, "root": args.root}))


def cmd_delete(args) -> None:
    from colbert_live_spark.index.segments import delete_docs
    spark = _get_spark("cls-delete")
    ids = [int(x) for x in args.ids.split(",") if x.strip()]
    n = delete_docs(spark, args.root, ids)
    print(json.dumps({"deleted": n, "root": args.root}))


def cmd_compact(args) -> None:
    from colbert_live_spark.index.segments import compact
    spark = _get_spark("cls-compact")
    seg = compact(spark, args.root, n_shards=args.n_shards)
    print(json.dumps({"segment": seg, "root": args.root}))


def cmd_ingest_stream(args) -> None:
    """Structured-Streaming ingest (AvailableNow): drain the input directory
    into a live segment root, one micro-batch per file."""
    from colbert_live_spark.index.segments import _read_manifest
    from colbert_live_spark.streaming.incremental import ingest_stream
    spark = _get_spark("cls-ingest-stream")
    schema = spark.read.parquet(args.input).schema
    t0 = time.time()
    ingest_stream(spark, args.input, schema, args.root,
                  checkpoint=args.checkpoint, id_col=args.id_col,
                  text_col=args.text_col, preserve_ids=args.preserve_ids,
                  key_col=args.key_col)
    m = _read_manifest(args.root)
    print(json.dumps({"root": args.root,
                      "segments": len(m["segments"]),
                      "n_docs": sum(s["n_docs"] for s in m["segments"]),
                      "wall_s": round(time.time() - t0, 3)}))


def cmd_search_live(args) -> None:
    from colbert_live_spark.index.segments import segment_search
    spark = _get_spark("cls-search-live")
    queries = _read_queries(args)
    t0 = time.time()
    rows = segment_search(spark, args.root, queries, k=args.k).collect()
    wall = time.time() - t0
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank))[:50]:
        print(f"{r.query_id}\t{r.doc_id}\t{r.rank}\t{r.score:.6f}",
              file=sys.stderr)
    print(json.dumps({"n_queries": len(queries), "rows": len(rows),
                      "wall_s": round(wall, 3)}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser("colbert_live_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a synthetic webpages corpus")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--partitions", type=int, default=32)
    g.add_argument("--html", action="store_true")
    g.add_argument("--output", required=True)
    g.set_defaults(fn=cmd_generate)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--id-col", default="doc_id")
    b.add_argument("--key-col", default="url",
                   help="PK used to assign dense ids when id-col is absent")
    b.add_argument("--text-col", default="text")
    b.add_argument("--n-groups", type=int, default=None)
    b.add_argument("--n-shards", type=int, default=16)
    b.add_argument("--salt-rows", type=int, default=1_000_000)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="run top-k queries against an index")
    q.add_argument("--index", required=True)
    q.add_argument("--query", default=None)
    q.add_argument("--queries-tsv", default=None)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--no-prune", action="store_true")
    q.add_argument("--conjunctive", action="store_true")
    q.add_argument("--local", action="store_true",
                   help="driver-local low-latency mode (zero Spark jobs)")
    q.add_argument("--out", default=None)
    q.set_defaults(fn=cmd_query)

    a = sub.add_parser("add-segment", help="ingest a batch into a live root")
    a.add_argument("--root", required=True)
    a.add_argument("--input", required=True)
    a.add_argument("--id-col", default="doc_id")
    a.add_argument("--text-col", default="text")
    a.add_argument("--n-shards", type=int, default=4)
    a.set_defaults(fn=cmd_add_segment)

    d = sub.add_parser("delete", help="tombstone doc ids in a live root")
    d.add_argument("--root", required=True)
    d.add_argument("--ids", required=True,
                   help="comma-separated global doc ids")
    d.set_defaults(fn=cmd_delete)

    c = sub.add_parser("compact", help="fold segments, drop tombstones")
    c.add_argument("--root", required=True)
    c.add_argument("--n-shards", type=int, default=4)
    c.set_defaults(fn=cmd_compact)

    st = sub.add_parser("ingest-stream",
                        help="Structured-Streaming ingest into a live root")
    st.add_argument("--root", required=True)
    st.add_argument("--input", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--id-col", default="doc_id")
    st.add_argument("--key-col", default="url",
                    help="natural key used to assign dense ids when id-col "
                         "is absent from the stream")
    st.add_argument("--text-col", default="text")
    st.add_argument("--preserve-ids", action="store_true")
    st.set_defaults(fn=cmd_ingest_stream)

    sl = sub.add_parser("search-live", help="query a live segment root")
    sl.add_argument("--root", required=True)
    sl.add_argument("--query", default=None)
    sl.add_argument("--queries-tsv", default=None)
    sl.add_argument("--k", type=int, default=10)
    sl.set_defaults(fn=cmd_search_live)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
