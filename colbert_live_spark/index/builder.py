"""Distributed, resumable inverted-index build (SURVEY.md §7 stages 3-6).

The Spark re-expression of the reference's ingest path
(`example/bench/lotte.py:50-95`: batch → encode → bulk insert, resumable from
``start_ordinal`` `:81-83`, idempotence guard `:67-69`):

Stage 1 — ``build_runs``: input docs are split into commit groups (by input
file when available — the real-scale path where groups = ingest increments —
else by hash of doc id). Each group is one Spark job producing a sorted
posting run ``(term, doc_id, tf, dl)`` under ``runs/gid=N/`` plus a ledger row
(lineage: group id, files, row counts, postings/sec, bytes, wall ms). A killed
build resumes by anti-joining pending groups against the ledger — completed
groups are never re-read.

Stage 2 — ``merge_index``: one idempotent job (overwrite semantics):
dictionary with dense term ids + exact df/idf, a global doc-shard salt
(``salt = hash(doc_id) mod doc_shards`` — the same shard for every term, so
one shard holds the complete mini-index of its doc subset), then the big
merge-shuffle: hash ``repartition(term_id, salt)`` + ``sortWithinPartitions``
+ streaming group-encode in ``mapInPandas`` → block-compressed term-sharded
postings, written sorted by term_id so parquet row-group stats prune
query-time term lookups.

The doc-shard salt serves two masters at once:
- **skew**: ``doc_shards >= ceil(max df / salt_rows)`` splits every posting
  list into doc-disjoint sub-lists of ≤ ``salt_rows`` rows, so the largest
  (term, salt) merge group is bounded regardless of Zipf head terms;
- **batched serving**: because the shard is doc-complete across terms and
  written as one file, one serving task per file scores ALL queries of a
  batch locally and only k rows per (query, shard) merge globally.
  Compressed blocks never move, independent of batch size (see
  operators/wand.py).

Scale notes:
- the ONLY large shuffle is the hash repartition of runs on (term_id, salt);
  the doc-shard salt bounds the largest group to ~``salt_rows`` rows
  regardless of Zipf skew.
- doc-sharding cost: a tail term with df < doc_shards spreads over df
  single-posting blocks (block metadata overhead ~50 B/row). Bounded: tail
  terms are a minority of postings under Zipf, and D is chosen from df_max,
  not vocabulary size. This is the price of batch-scalable serving and is
  measured in BENCH (compressed index bytes).
- the dictionary build shuffles one small row per distinct (term) — vocab,
  not corpus, sized.
- dense doc ids are taken from the input when present (our corpora provide
  them); ``assign_dense_ids`` provides the zipWithIndex-pattern fallback.
"""

from __future__ import annotations

import json
import math
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_live_spark.index import codec, fsio

RUN_SCHEMA = "term string, doc_id long, tf int, dl int"
BLOCK_SCHEMA = ("term_id long, salt int, block_id int, first_doc long, "
                "last_doc long, n int, max_weight double, "
                "docs binary, tfs binary, dls binary")
# pre-shuffle packed partial runs (fixed-width streams + per-chunk width
# codes; no block_id/last_doc/max_weight — those are assigned after the
# global per-(term,salt) merge)
PARTIAL_BLOCK_SCHEMA = ("term_id long, salt int, first_doc long, n int, "
                        "dw tinyint, tw tinyint, lw tinyint, "
                        "docs binary, tfs binary, dls binary")
LEDGER_SCHEMA = ("gid int, stage string, n_docs long, n_postings long, "
                 "bytes long, wall_ms long, files string")


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from colbert_live_spark.functions.tokenize import tokenize_expr
    return docs.select(F.col(id_col).alias("doc_id"),
                       tokenize_expr(text_col).alias("tokens"))


def _runs_from_tokens(toks: DataFrame) -> DataFrame:
    return (toks.select("doc_id", F.size("tokens").alias("dl"),
                        F.explode("tokens").alias("term"))
                .groupBy("term", "doc_id", "dl")
                .agg(F.count(F.lit(1)).cast("int").alias("tf"))
                .select("term", "doc_id", "tf", "dl"))


# driver-side metadata IO goes through the pyarrow.fs abstraction so the
# ledger/manifest work on object stores (index/fsio.py); Spark handles the
# big data through its own Hadoop FS layer
_dir_bytes = fsio.dir_bytes
_parquet_rows = fsio.parquet_rows


def _ledger_files(out_dir: str) -> list[str]:
    return fsio.list_files(f"{out_dir}/ledger", ".parquet")


def completed_groups(spark: SparkSession, out_dir: str) -> set[int]:
    return set(completed_group_files(out_dir))


def completed_group_files(out_dir: str) -> dict[int, list[str]]:
    """gid -> input-file list recorded at commit time (lineage)."""
    done: dict[int, list[str]] = {}
    for f in _ledger_files(out_dir):
        t = fsio.read_parquet_table(
            f, columns=["gid", "stage", "files"]).to_pylist()
        for r in t:
            if r["stage"] == "runs":
                done[r["gid"]] = json.loads(r["files"])
    return done


def _append_ledger(spark: SparkSession, out_dir: str, row: tuple) -> None:
    """Driver-side pyarrow append — the commit record must not cost a Spark
    job (it was 1-6s of fixed overhead per group as a Spark write). One file
    per commit keeps appends atomic (write temp + move via fsio — works on
    object stores too)."""
    import uuid

    import pyarrow as pa
    names = [f.split(" ")[0] for f in LEDGER_SCHEMA.split(", ")]
    table = pa.table({n: [v] for n, v in zip(names, row)},
                     schema=pa.schema([
                         ("gid", pa.int32()), ("stage", pa.string()),
                         ("n_docs", pa.int64()), ("n_postings", pa.int64()),
                         ("bytes", pa.int64()), ("wall_ms", pa.int64()),
                         ("files", pa.string())]))
    fsio.write_parquet_atomic(
        f"{out_dir}/ledger/commit-{uuid.uuid4().hex}.parquet", table)


def _is_bare_scan(docs: DataFrame) -> bool:
    """True iff ``docs`` is an untransformed file scan (its analyzed logical
    plan is a bare relation). Only then may build_runs re-read the input
    files per commit group — re-reading a *transformed* DataFrame's files
    would silently discard the transformation (filters, id shifts, ...)."""
    try:
        plan = docs._jdf.queryExecution().analyzed()
        name = plan.getClass().getSimpleName()
        return name in ("LogicalRelation", "LogicalRelationWithTable") \
            and plan.children().isEmpty()
    except Exception:
        return False


def build_runs(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_groups: int | None = None,
    fail_after_group: int | None = None,
    max_concurrency: int = 1,
) -> list[int]:
    """Stage 1. Returns the list of group ids processed in this invocation.

    ``fail_after_group`` is test hookery for the kill-and-resume fixture
    (FIXTURES.md §5): raise after committing that many groups.

    ``max_concurrency`` > 1 submits group jobs from a bounded driver thread
    pool (Spark schedules concurrent jobs fine); each group still commits
    its ledger row independently, so resume semantics are unchanged.
    """
    files = sorted(docs.inputFiles()) if _is_bare_scan(docs) else []
    done = completed_group_files(out_dir)
    if files:
        if n_groups is None:
            n_groups = len(files)
        groups = {g: [f for i, f in enumerate(files) if i % n_groups == g]
                  for g in range(n_groups)}
        groups = {g: fl for g, fl in groups.items() if fl}
        # resume safety: a completed gid whose recorded file list no longer
        # matches the current assignment means files were added/removed (or
        # n_groups changed) between crash and resume — silently reusing the
        # gid would skip or double-index docs. Fail loudly instead.
        for gid, recorded in done.items():
            if recorded and gid in groups and recorded != groups[gid]:
                raise RuntimeError(
                    f"resume mismatch for group {gid}: ledger recorded "
                    f"{len(recorded)} files but current assignment has "
                    f"{len(groups[gid])} — input files or n_groups changed "
                    "since the original build; use a fresh out_dir")
    else:
        n_groups = n_groups or 16
        groups = {g: None for g in range(n_groups)}

    def process(gid: int) -> int:
        t0 = time.time()
        if groups[gid] is not None:
            from colbert_live_spark.session import spread_input
            # a group with one small file (or one giant row group) would
            # tokenize on a single core — spread it (no-op when the files
            # already split into enough scan tasks; guide §2.5)
            part = spread_input(
                spark.read.schema(docs.schema).parquet(*groups[gid]))
        else:
            part = docs.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)) == gid)
        toks = _tokenized(part, id_col, text_col)
        run_path = f"{out_dir}/runs/gid={gid}"

        def write_runs_then_dfs():
            _runs_from_tokens(toks).write.mode("overwrite").parquet(run_path)
            # per-group partial term dfs (vocab-sized): groups partition
            # docs, so global df = Σ group dfs. Checkpointing this here
            # moves the merge's dictionary pass OFF its critical path — the
            # merge phase scales worst (measured 2.0-2.6× at 1M on 2→8
            # cores vs 2.9-4.35× for the runs phase), so every full runs
            # scan moved into stage 1 improves whole-build scaling; it also
            # re-aggregates per GROUP on resume, never globally.
            (spark.read.parquet(run_path).groupBy("term")
             .agg(F.count(F.lit(1)).cast("long").alias("df"))
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{out_dir}/dfs/gid={gid}"))

        def write_doclens():
            # second pass re-tokenizes: cheaper than caching the token
            # arrays
            toks.select("doc_id", F.size("tokens").alias("dl")).write.mode(
                "overwrite").parquet(f"{out_dir}/doclens/gid={gid}")

        # the doclens job is independent of the runs/dfs chain — submit
        # both and let Spark overlap them (guide §2.6: the scheduler runs
        # concurrent jobs fine; actions are only sequential because driver
        # code calls them sequentially). The ledger commit below still
        # happens strictly after BOTH outputs exist.
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=2) as pool:
            fr = pool.submit(write_runs_then_dfs)
            fd = pool.submit(write_doclens)
            fr.result()
            fd.result()
        # counts from parquet footers — driver-side, no Spark jobs
        n_docs = _parquet_rows(f"{out_dir}/doclens/gid={gid}")
        n_post = _parquet_rows(run_path)
        wall_ms = int((time.time() - t0) * 1000)
        _append_ledger(spark, out_dir, (
            gid, "runs", n_docs, n_post, _dir_bytes(run_path), wall_ms,
            json.dumps(groups[gid] or [])))
        return gid

    pending = [g for g in sorted(groups) if g not in done]
    processed: list[int] = []
    if max_concurrency > 1 and fail_after_group is None and len(pending) > 1:
        # bounded driver thread pool: overlaps one group's shuffle/write with
        # the next group's scan (at 1000 groups a strictly sequential driver
        # serializes the cluster); ledger appends are one-file-per-commit so
        # they are concurrency-safe
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            processed = sorted(pool.map(process, pending))
    else:
        for gid in pending:
            processed.append(process(gid))
            if fail_after_group is not None \
                    and len(processed) >= fail_after_group:
                raise RuntimeError(f"injected failure after group {gid}")
    return processed


def _complete_group_chunks(it, min_rows: int, count_col: str | None = None):
    """Re-chunk a mapInPandas batch iterator (sorted by (term_id, salt))
    into DataFrames that contain only COMPLETE (term_id, salt) groups, each
    ~``min_rows`` big. Bounds encoder memory to chunk + one group (a group
    is ≤ salt_rows postings by construction) no matter how large the task's
    partition is — a single salt's reduce partition at 10^12 docs is far
    bigger than executor memory. ``count_col``: when set, rows are weighted
    by that column (partial blocks count their decoded postings, not their
    block rows)."""
    import numpy as np
    import pandas as pd

    def weight(pdf):
        return int(pdf[count_col].sum()) if count_col else len(pdf)

    buf: list[pd.DataFrame] = []
    nrows = 0
    for pdf in it:
        if pdf.empty:
            continue
        buf.append(pdf)
        nrows += weight(pdf)
        if nrows < min_rows:
            continue
        whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        keys = whole[["term_id", "salt"]].to_numpy()
        change = np.flatnonzero((keys[1:] != keys[:-1]).any(axis=1)) + 1
        if change.size == 0:
            # one giant group still in flight — keep buffering (bounded by
            # the salt_rows group-size invariant)
            buf = [whole]
            continue
        cut = int(change[-1])
        yield whole.iloc[:cut]
        rest = whole.iloc[cut:].reset_index(drop=True)
        buf = [rest]
        nrows = weight(rest)
    if buf:
        whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        if len(whole):
            yield whole


def _dense_term_ids(spark: SparkSession, terms: DataFrame,
                    n_parts: int) -> DataFrame:
    """(term, df) -> (term, df, term_id dense 0..V-1)."""
    from colbert_live_spark.index.ids import assign_dense_ids
    return assign_dense_ids(terms, "term", "term_id", n_parts)


def merge_index(
    spark: SparkSession,
    out_dir: str,
    n_shards: int = 16,
    salt_rows: int = 1_000_000,
    block_size: int = codec.BLOCK_SIZE,
    doc_meta: DataFrame | None = None,
    doc_shards: int | None = None,
    doc_shards_headroom: int = 1,
    pre_encode: bool = False,
    slim_shuffle: bool = True,
) -> None:
    """Stage 2: runs → dictionary + compressed term-sharded postings + stats.

    ``slim_shuffle`` (default ON): keep per-doc ``dl`` OUT of the merge
    shuffle — it would repeat on every one of a doc's ~dl posting rows,
    ~20% of the bytes through the shuffle and the row sort (the two
    bandwidth-bound merge passes). Each salt's (doc_id → dl) map is
    written once to a ``dlmap`` sidecar (n_docs rows ≪ postings) and
    gathered back at encode time from a cache-resident sorted array.
    Blocks are byte-identical either way (tested); the flag exists to
    keep the fatter-row alternative measurable.

    ``pre_encode``: fixed-width-pack partial runs on the map side so the
    merge Exchange moves ~6-10 B/posting instead of ~30-50 B/posting of
    raw rows. Results are byte-identical (tested) either way. DEFAULT OFF:
    this targets network-shuffle clusters, where shuffle bytes cross NICs;
    on this sandbox's single-bus local mode the raw shuffle never leaves
    the page cache and the pack path's extra Arrow crossing + numpy passes
    measurably LOSE (1M docs, merge phase: raw 120s vs pack 237s at 8
    cores, 242s vs 339s at 2 — recorded negative result, BENCH/ANALYSIS).
    On a real cluster turn it on when the merge is network-bound.

    ``doc_shards`` (D): the global doc-shard count. salt = hash(doc_id) mod D
    for EVERY term, so shard s is a complete mini-index of its doc subset —
    the batched-serving topology groups blocks by shard and scores all
    queries per shard (operators/wand.py). Defaults to
    max(n_shards, ceil(max df / salt_rows) · doc_shards_headroom) so the
    largest (term, salt) merge group stays ≤ ``salt_rows`` rows (the
    head-term skew bound, north rule) while providing ≥ n_shards of serving
    parallelism. ``doc_shards_headroom`` > 1 is for callers that must FIX D
    before the corpus is fully known (segment roots size D from their first
    ingest batch; headroom keeps the salt_rows bound holding as the root
    grows ~headroom× beyond that batch).
    """
    t0 = time.time()
    runs = (spark.read.option("recursiveFileLookup", "true")
            .parquet(f"{out_dir}/runs"))

    # The docs/stats chain and the dictionary's expensive part (dfs agg +
    # range-partitioned dense-id assignment, which materializes a persisted
    # relation and collects per-partition counts) are INDEPENDENT — only
    # the final idf projection needs n_docs. Submit both chains from a
    # 2-thread pool so their jobs overlap (guide §2.6); everything after
    # joins on both results.
    def stats_chain():
        dstats = (spark.read.option("recursiveFileLookup", "true")
                  .parquet(f"{out_dir}/doclens").select("doc_id", "dl"))
        if doc_meta is not None:
            dstats = dstats.join(doc_meta, "doc_id", "left")
        dstats.write.mode("overwrite").parquet(f"{out_dir}/docs")
        dstats = spark.read.parquet(f"{out_dir}/docs")
        st = dstats.agg(F.count(F.lit(1)).alias("n_docs"),
                        F.avg("dl").alias("avgdl"),
                        F.sum("dl").cast("long").alias("sum_dl")).collect()[0]
        # avgdl is NULL over an empty corpus (empty ingest batch) — a crash
        # here would poison the segment-root manifest path (advice r2)
        return (dstats, st.n_docs, float(st.avgdl or 0.0),
                int(st.sum_dl or 0))

    def dict_chain():
        # dictionary dfs: prefer the stage-1 per-group partials
        # (vocab-sized scan instead of a full postings scan — the merge
        # phase is the worst-scaling one); fall back to the full runs
        # aggregation for roots whose runs were produced without dfs
        # (e.g. compact()'s rewrite path)
        def _gid_dirs(sub: str) -> set[str]:
            return {f.rsplit("/", 2)[-2] for f in
                    fsio.list_files(f"{out_dir}/{sub}", ".parquet")}

        if _gid_dirs("dfs") and _gid_dirs("dfs") >= _gid_dirs("runs"):
            df_t = (spark.read.option("recursiveFileLookup", "true")
                    .parquet(f"{out_dir}/dfs")
                    .groupBy("term").agg(
                        F.sum("df").cast("long").alias("df")))
        else:
            df_t = runs.groupBy("term").agg(
                F.count(F.lit(1)).cast("long").alias("df"))
        rd = _dense_term_ids(spark, df_t, n_parts=max(4, n_shards))
        # df_max needs only the df column (not n_docs from the stats
        # chain) — compute it here so doc_shards is known the moment both
        # chains join (the persisted dense-id input makes this agg cheap)
        dmax = (None if doc_shards is not None
                else int(rd.agg(F.max("df")).collect()[0][0] or 1))
        return rd, dmax

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_stats = pool.submit(stats_chain)
        f_dict = pool.submit(dict_chain)
        dstats, n_docs, avgdl, sum_dl = f_stats.result()
        raw_dict, df_max = f_dict.result()

    # stats table written driver-side (single row — not worth a Spark job)
    import pyarrow as pa
    fsio.write_parquet_atomic(
        f"{out_dir}/stats/stats.parquet",
        pa.table({"n_docs": [int(n_docs)], "avgdl": [avgdl]},
                 schema=pa.schema([("n_docs", pa.int64()),
                                   ("avgdl", pa.float64())])))

    dict_df = raw_dict.select(
        "term", "term_id", "df",
        F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5)
              / (F.col("df") + 0.5)).alias("idf"))
    if doc_shards is None:
        doc_shards = max(n_shards,
                         math.ceil(df_max / salt_rows) * doc_shards_headroom)

    def write_dict():
        # few files (query-time dictionary point-lookups pay per-file
        # overhead), term-sorted WITHIN each file so the driver-side
        # pyarrow lookup prunes to the row groups containing the queried
        # terms (at web scale the dictionary is ~10^8 rows; the lookup
        # must not read all of it). MUST be repartition, not coalesce:
        # coalesce fuses into the id-assign mapInPandas stage and changes
        # TaskContext.partitionId() under it, corrupting the dense-id
        # offsets; repartition is a shuffle barrier.
        (dict_df.repartition(max(2, n_shards // 8))
         .sortWithinPartitions("term")
         .write.mode("overwrite").parquet(f"{out_dir}/dict"))
        # NOT re-read from disk: assign_dense_ids keeps its input
        # persisted, so reuse stays deterministic and we skip a read-back

    # The merge-shuffle: postings + term ids, salted by global doc shard so
    # each (term_id, salt) group is contiguous and sorted by doc_id.
    # ``dl`` does NOT ride the shuffle on the default path: it is per-DOC
    # data that would repeat on every one of the doc's ~dl posting rows —
    # ~20% of the bytes through the merge's two bandwidth-bound passes
    # (shuffle write/read and the row sort), which are exactly where the
    # measured 1M-doc scaling sits at the host's delivered-bandwidth
    # envelope. Instead each salt's (doc_id → dl) map is written once to a
    # dlmap sidecar (n_docs rows total, ≪ postings by the avgdl factor)
    # and gathered back at encode time from an in-cache sorted array
    # (n_docs/doc_shards entries — the same docs-per-shard bound the
    # serving topology already assumes). Blocks come out byte-identical.
    slim = slim_shuffle and not pre_encode
    shuffle_cols = ["term_id",
                    F.pmod(F.xxhash64("doc_id"), F.lit(doc_shards))
                     .cast("int").alias("salt"),
                    "doc_id", F.col("tf").cast("int").alias("tf")]
    if not slim:
        shuffle_cols.append("dl")
    tagged = (runs.join(F.broadcast(dict_df.select("term", "term_id")),
                        "term")
              .select(*shuffle_cols))

    def write_dlmap():
        # one cheap n_docs-row job: per-salt (doc_id, dl), one dir per salt
        (dstats.select(F.pmod(F.xxhash64("doc_id"), F.lit(doc_shards))
                        .cast("int").alias("salt"), "doc_id", "dl")
         .repartition(doc_shards, "salt")
         .write.partitionBy("salt").mode("overwrite")
         .parquet(f"{out_dir}/dlmap"))

    # dict and dlmap writes are independent of each other (and both must
    # finish before the encode tasks run — encode reads dlmap, serving
    # reads dict); overlap them (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(write_dict)]
        if slim:
            futs.append(pool.submit(write_dlmap))
        for f in futs:
            f.result()
    # hash repartition, not repartitionByRange: the range sampler would scan
    # the whole join twice. Partitioning by SALT ALONE (layout salt_v3, one
    # output file per doc shard) makes every output file a complete
    # mini-index of its doc subset — serving then assigns one task per
    # FILE, each reading its own blocks directly (term_id predicate pushed
    # to parquet row-group pruning) with NO shuffle of block bytes
    # (operators/wand.py). Partition volume stays balanced under
    # Zipf skew because hash(doc_id) spreads every term's postings
    # uniformly across the doc_shards salts; the per-(term,salt) group
    # bound (≤ salt_rows) is unchanged.
    if pre_encode:
        # Pack partial runs BEFORE the shuffle, so the Exchange moves
        # ~6-10 B/posting of fixed-width packed bytes instead of
        # ~30-50 B/posting of raw rows — the merge-shuffle was the measured
        # 1M-doc build scaling bottleneck (one-bus shuffle volume does not
        # parallelize). Two measured dead ends shaped this design:
        # (a) a Spark sortWithinPartitions of the raw posting rows before
        # packing cost 33% of absolute build throughput — each map task
        # instead np.lexsorts its ~4M-row chunks in-process; a group split
        # across chunks just yields more partial fragments, which the
        # reduce merges anyway; (b) varint-encoding the partials cost ~25
        # whole-array passes per stream and DOUBLED build wall — the
        # fixed-width pack codec (astype+tobytes / frombuffer+cumsum,
        # per-chunk width selection) keeps ~80% of the byte reduction at
        # ~10× less CPU. The reduce side Spark-sorts only the packed RUN
        # rows (~|distinct (term,salt)| × chunks, ≪ postings), then
        # unpacks, np.lexsorts, and varint-encodes final blocks —
        # byte-identical to encoding the raw rows directly (tested), since
        # the merged (doc, tf, dl) arrays are identical.

        def encode_partials(it):
            import numpy as np
            import pandas as pd

            def flush(buf):
                chunk = (pd.concat(buf, ignore_index=True)
                         if len(buf) > 1 else buf[0])
                t = chunk["term_id"].to_numpy(np.int64)
                s = chunk["salt"].to_numpy(np.int32)
                d = chunk["doc_id"].to_numpy(np.int64)
                tf = chunk["tf"].to_numpy(np.int64)
                dl = chunk["dl"].to_numpy(np.int64)
                o = np.lexsort((d, s, t))
                cols = codec.pack_lists_columns(t[o], s[o], d[o], tf[o],
                                                dl[o])
                return pd.DataFrame(cols)

            buf: list = []
            n = 0
            for pdf in it:
                if pdf.empty:
                    continue
                buf.append(pdf)
                n += len(pdf)
                if n >= 4_000_000:
                    yield flush(buf)
                    buf, n = [], 0
            if buf:
                yield flush(buf)

        partials = tagged.mapInPandas(encode_partials,
                                      schema=PARTIAL_BLOCK_SCHEMA)
        parted = (partials.repartition(doc_shards, "salt")
                  .sortWithinPartitions("term_id", "salt", "first_doc"))

        def merge_partials(it):
            import numpy as np
            import pandas as pd
            # chunk bound: complete groups only, so the in-memory merge is
            # ≤ chunk + one (term,salt) group (≤ salt_rows) regardless of
            # how large one salt's reduce partition grows at scale
            for chunk in _complete_group_chunks(it, 2_000_000,
                                                count_col="n"):
                d, tf, dl = codec.unpack_blocks(
                    chunk["first_doc"].to_numpy(np.int64),
                    chunk["n"].to_numpy(np.int64),
                    chunk["dw"].to_numpy(np.int8),
                    chunk["tw"].to_numpy(np.int8),
                    chunk["lw"].to_numpy(np.int8),
                    chunk["docs"].to_list(), chunk["tfs"].to_list(),
                    chunk["dls"].to_list())
                ns = chunk["n"].to_numpy(np.int64)
                row_t = np.repeat(chunk["term_id"].to_numpy(np.int64), ns)
                row_s = np.repeat(chunk["salt"].to_numpy(np.int32), ns)
                # partial sub-lists of one group interleave doc ranges →
                # global per-group doc order needs one lexsort; groups stay
                # contiguous (term_id, salt are the major keys)
                order = np.lexsort((d, row_s, row_t))
                cols = codec.encode_lists_columns(
                    row_t[order], row_s[order], d[order], tf[order],
                    dl[order], avgdl, block_size, partial=False)
                yield pd.DataFrame(cols)[
                    ["term_id", "salt", "block_id", "first_doc", "last_doc",
                     "n", "max_weight", "docs", "tfs", "dls"]]

        blocks_df = parted.mapInPandas(merge_partials, schema=BLOCK_SCHEMA)
    else:
        parted = (tagged.repartition(doc_shards, "salt")
                        .sortWithinPartitions("term_id", "salt", "doc_id"))
        dlmap_dir = f"{out_dir}/dlmap"

        def encode_partition_fat(it):
            import numpy as np
            import pandas as pd
            for chunk in _complete_group_chunks(it, 2_000_000):
                cols = codec.encode_lists_columns(
                    chunk["term_id"].to_numpy(np.int64),
                    chunk["salt"].to_numpy(np.int32),
                    chunk["doc_id"].to_numpy(np.int64),
                    chunk["tf"].to_numpy(np.int64),
                    chunk["dl"].to_numpy(np.int64),
                    avgdl, block_size, partial=False)
                yield pd.DataFrame(cols)[
                    ["term_id", "salt", "block_id", "first_doc", "last_doc",
                     "n", "max_weight", "docs", "tfs", "dls"]]

        def encode_partition(it):
            import numpy as np
            import pandas as pd
            import pyarrow.dataset as pads

            # {salt -> (sorted doc_ids, dls)}: ≤ #salts in this task's
            # partition entries, each n_docs/doc_shards × 16 B — L2/L3
            # resident at the design point, loaded once per salt per task
            cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

            def dls_for(salts, d):
                out = np.empty(len(d), np.int64)
                for s in np.unique(salts):
                    ent = cache.get(int(s))
                    if ent is None:
                        fs, p = fsio.resolve(f"{dlmap_dir}/salt={int(s)}")
                        t = pads.dataset(p, format="parquet",
                                         filesystem=fs).to_table()
                        ids = t.column("doc_id").to_numpy()
                        dls = t.column("dl").to_numpy()
                        o = np.argsort(ids, kind="stable")
                        ent = cache[int(s)] = (ids[o], dls[o])
                    ids, dls = ent
                    mask = salts == s
                    idx = np.searchsorted(ids, d[mask])
                    if (idx >= len(ids)).any() or (ids[idx] != d[mask]).any():
                        raise RuntimeError(
                            f"dlmap salt={int(s)} is missing doc ids "
                            "present in the postings shuffle — stage-1 "
                            "doclens and runs disagree")
                    out[mask] = dls[idx]
                return out

            for chunk in _complete_group_chunks(it, 2_000_000):
                salts = chunk["salt"].to_numpy(np.int32)
                d = chunk["doc_id"].to_numpy(np.int64)
                cols = codec.encode_lists_columns(
                    chunk["term_id"].to_numpy(np.int64), salts, d,
                    chunk["tf"].to_numpy(np.int64), dls_for(salts, d),
                    avgdl, block_size, partial=False)
                yield pd.DataFrame(cols)[
                    ["term_id", "salt", "block_id", "first_doc", "last_doc",
                     "n", "max_weight", "docs", "tfs", "dls"]]

        blocks_df = parted.mapInPandas(
            encode_partition if slim else encode_partition_fat,
            schema=BLOCK_SCHEMA)
    # partitionBy(salt): EXACTLY one file per doc shard (each shuffle
    # partition holds whole salts, so each salt is written by exactly one
    # task into its own salt=<s>/ directory; maxRecordsPerFile=0 overrides
    # any session-level split). The serving file tasks then get D
    # equal-volume units of work — hash occupancy of D salts into D hash
    # partitions would otherwise leave ~1/e of files empty-sized and some
    # with 2-3 salts (measured max/mean 1.69 at 1M docs → straggler tail at
    # high core counts). Scoring is salt-oblivious within a file.
    (blocks_df.write.partitionBy("salt").option("maxRecordsPerFile", 0)
     .mode("overwrite").parquet(f"{out_dir}/postings"))

    # VERIFY the one-file-per-salt invariant before stamping salt_v3: each
    # serving task scores one postings file, so a salt split across two
    # files (speculative writes, a future writer change) would emit partial
    # per-file scores and merge them as duplicates silently.
    per_salt: dict[str, int] = {}
    for f in fsio.list_files(f"{out_dir}/postings", ".parquet"):
        key = f.rsplit("/", 2)[-2]
        per_salt[key] = per_salt.get(key, 0) + 1
    split = sorted(k for k, c in per_salt.items() if c > 1)
    if split:
        raise RuntimeError(
            f"{out_dir}/postings: {split} hold several files each; every "
            "doc shard must be written as one file")

    n_blocks = _parquet_rows(f"{out_dir}/postings")
    _append_ledger(spark, out_dir, (
        -1, "merge", n_docs, n_blocks, _dir_bytes(f"{out_dir}/postings"),
        int((time.time() - t0) * 1000), "[]"))
    fsio.write_text_atomic(
        f"{out_dir}/_INDEX_META.json",
        json.dumps({"n_shards": n_shards, "salt_rows": salt_rows,
                    "block_size": block_size, "n_docs": int(n_docs),
                    "avgdl": avgdl, "sum_dl": sum_dl,
                    "doc_shards": int(doc_shards),
                    # salt_v3: every doc shard's blocks live wholly in ONE
                    # postings file (verified above)
                    "layout": "salt_v3"}))
    # release the dense-id persist (it leaked one cached DataFrame per
    # merge_index call — one per segment / streaming micro-batch)
    cached = getattr(raw_dict, "_cls_persisted", None)
    if cached is not None:
        cached.unpersist()


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_groups: int | None = None,
    n_shards: int = 16,
    salt_rows: int = 1_000_000,
    doc_meta: DataFrame | None = None,
    doc_shards: int | None = None,
    doc_shards_headroom: int = 1,
    max_concurrency: int = 1,
    pre_encode: bool = False,
) -> None:
    """Full build: checkpointed runs then merge. Safe to re-invoke after a
    failure — completed run groups are skipped via the ledger."""
    build_runs(spark, docs, out_dir, id_col, text_col, n_groups,
               max_concurrency=max_concurrency)
    merge_index(spark, out_dir, n_shards=n_shards, salt_rows=salt_rows,
                doc_meta=doc_meta, doc_shards=doc_shards,
                doc_shards_headroom=doc_shards_headroom,
                pre_encode=pre_encode)
