"""Distributed, resumable inverted-index build (SURVEY.md §7 stages 3-6).

The Spark re-expression of the reference's ingest path
(`example/bench/lotte.py:50-95`: batch → encode → bulk insert, resumable from
``start_ordinal`` `:81-83`, idempotence guard `:67-69`):

Stage 1 — ``build_runs``: input docs are split into commit groups (by input
file when available — the real-scale path where groups = ingest increments —
else by hash of doc id). Each group writes a posting run ``(term, doc_id,
tf)`` under ``runs/gid=N/``, its partial term dfs under ``dfs/gid=N/`` and its
doc lengths ``(doc_id, dl)`` under ``doclens/gid=N/`` (``_write_group`` — the
one stage-1 writer, shared with ``segments.compact``), plus a ledger row
(lineage: group id, files, row counts, postings/sec, bytes, wall ms). A killed
build resumes by anti-joining pending groups against the ledger — completed
groups are never re-read.

Stage 2 — ``merge_index``: one idempotent job (overwrite semantics):
dictionary with dense term ids + exact df, the per-doc ``docs`` table
(doc lengths + doc metadata, partitioned by doc shard), a global doc-shard salt
(``salt = hash(doc_id) mod doc_shards`` — the same shard for every term, so
one shard holds the complete mini-index of its doc subset), then the big
merge-shuffle: hash ``repartition(doc_shards, "salt")`` +
``sortWithinPartitions`` + streaming group-encode in ``mapInPandas`` →
compressed postings
partitioned by doc shard, one row per (term_id, salt) list, written sorted
by term_id so parquet row-group stats prune query-time term lookups.

File format: every Spark write of an index file goes through
``index_writer`` (zstd, Parquet v2 pages) and the driver's ledger appends
are zstd too; runs are written ``(term, doc_id)``-sorted, dfs and the
dictionary term-sorted and the postings ``(term_id, salt, doc_id)``-sorted,
so Parquet's dictionary, delta and RLE encoders find long runs. At the
perfbench serve corpus (seed 1) that takes the index from 1.31 to 0.75
bytes per text byte. Readers accept the older snappy / v1-page files as
well, so the format is not part of :data:`LAYOUT`.

The doc-shard salt serves two masters at once:
- **skew**: ``doc_shards >= ceil(max df / salt_rows)`` splits every posting
  list into doc-disjoint sub-lists of ≤ ``salt_rows`` rows, so the largest
  (term, salt) merge group is bounded regardless of Zipf head terms;
- **batched serving**: because the shard is doc-complete across terms and
  written as one file, files are doc-disjoint: a serving task scores ALL
  queries of a batch over any subset of files (at most one task per core)
  and only k rows per (query, task) reach the driver's merge.
  Compressed lists never move, independent of batch size (see
  operators/wand.py).

Scale notes:
- the ONLY large shuffle is the hash repartition of runs on the salt
  alone, one partition per doc shard; the doc-shard salt bounds the
  largest (term, salt) group to ~``salt_rows`` rows regardless of Zipf
  skew.
- doc-sharding cost: a tail term with df < doc_shards spreads over df
  single-posting lists, each row repeating its own term_id, first_doc and
  n. Bounded: tail terms are a minority of postings under
  Zipf, and D is chosen from df_max, not vocabulary size. This is the
  price of batch-scalable serving and is measured in BENCH (compressed
  index bytes).
- the dictionary build shuffles one small row per distinct (term) — vocab,
  not corpus, sized.
- dense doc ids are taken from the input when present (our corpora provide
  them); ``assign_dense_ids`` provides the zipWithIndex-pattern fallback.
"""

from __future__ import annotations

import json
import math
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from colbert_live_spark.index import codec, fsio
from colbert_live_spark.index.ids import assign_dense_ids
from colbert_live_spark.operators import bm25
from colbert_live_spark.session import is_bare_scan, spread_input

RUN_SCHEMA = "term string, doc_id long, tf int"
LIST_SCHEMA = ("term_id long, salt int, first_doc long, n int, "
               "docs binary, tfs binary, dls binary")
LEDGER_SCHEMA = ("gid int, stage string, n_docs long, n_postings long, "
                 "bytes long, wall_ms long, files string")
# the one on-disk layout, stamped on every index meta and root manifest:
# one postings file per doc shard (merge_index verifies it before stamping),
# one postings row per (term_id, salt) list, no stored score bound
LAYOUT = "salt_v5"


def require_layout(meta: dict, path: str) -> None:
    """Raise unless ``meta`` (an index meta or a root manifest) carries the
    current :data:`LAYOUT`: an older layout is rebuilt, not converted."""
    if meta.get("layout") != LAYOUT:
        raise ValueError(
            f"{path} has layout {meta.get('layout')!r}, not {LAYOUT!r}; "
            "rebuild it with the current builder")


def index_writer(df: DataFrame) -> DataFrameWriter:
    """The one writer of every Spark-written index file: overwrite, zstd,
    Parquet v2 pages (delta-encoded integer columns where the dictionary
    does not pay). Set per write, not on the session, so the index format
    holds whatever session writes it and user outputs keep their own."""
    return (df.write.mode("overwrite").option("compression", "zstd")
            .option("parquet.writer.version", "v2"))


def _in_parallel(spark: SparkSession, *calls):
    """Run ``calls`` on their own driver threads so their Spark jobs
    overlap; results in order. Each call inherits the caller's local
    properties and tags, so its jobs stay in the caller's job group."""
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inherit(c)) for c in calls]
        return [f.result() for f in futures]


# driver-side metadata IO goes through the pyarrow.fs abstraction so the
# ledger/manifest work on object stores (index/fsio.py); Spark handles the
# big data through its own Hadoop FS layer
def _ledger_files(out_dir: str) -> list[str]:
    return fsio.list_files(f"{out_dir}/ledger", ".parquet")


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


def _append_ledger(out_dir: str, row: tuple) -> None:
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


def _write_group(spark: SparkSession, out_dir: str, gid: int,
                 runs: DataFrame, doclens: DataFrame) -> None:
    """The one stage-1 writer (builds and compaction): ``runs`` ``(term,
    doc_id, tf)`` to ``runs/gid=N``, that group's partial term dfs to
    ``dfs/gid=N`` and ``doclens`` ``(doc_id, dl)`` to ``doclens/gid=N``."""
    run_path = f"{out_dir}/runs/gid={gid}"

    def write_runs_then_dfs():
        # sorted, so each file's term column runs in long equal-value
        # stretches and its doc ids ascend within a term: both encode small
        index_writer(runs.sortWithinPartitions("term", "doc_id")).parquet(
            run_path)
        # per-group partial term dfs (vocab-sized): groups partition
        # docs, so global df = Σ group dfs. Checkpointing this here
        # moves the merge's dictionary pass OFF its critical path — the
        # merge phase scales worst (measured 2.0-2.6× at 1M on 2→8
        # cores vs 2.9-4.35× for the runs phase), so every full runs
        # scan moved into stage 1 improves whole-build scaling; it also
        # re-aggregates per GROUP on resume, never globally.
        index_writer(spark.read.parquet(run_path).groupBy("term")
                     .agg(F.count(F.lit(1)).cast("long").alias("df"))
                     .coalesce(1).sortWithinPartitions("term")
                     ).parquet(f"{out_dir}/dfs/gid={gid}")

    def write_doclens():
        index_writer(doclens).parquet(f"{out_dir}/doclens/gid={gid}")

    # the doclens job is independent of the runs/dfs chain — overlap
    # them. The caller's ledger commit still happens strictly after BOTH
    # outputs exist.
    _in_parallel(spark, write_runs_then_dfs, write_doclens)


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
    files = sorted(docs.inputFiles()) if is_bare_scan(docs) else []
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
            # a group with one small file (or one giant row group) would
            # tokenize on a single core — spread it (no-op when the files
            # already split into enough scan tasks; guide §2.5)
            part = spread_input(
                spark.read.schema(docs.schema).parquet(*groups[gid]))
        else:
            part = docs.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)) == gid)
        # doclens re-tokenizes: cheaper than caching the token arrays
        _write_group(spark, out_dir, gid,
                     bm25.postings(part, id_col, text_col),
                     bm25.doc_stats(part, id_col, text_col))
        # counts from parquet footers — driver-side, no Spark jobs
        run_path = f"{out_dir}/runs/gid={gid}"
        n_docs = fsio.parquet_rows(f"{out_dir}/doclens/gid={gid}")
        n_post = fsio.parquet_rows(run_path)
        wall_ms = int((time.time() - t0) * 1000)
        _append_ledger(out_dir, (
            gid, "runs", n_docs, n_post, fsio.dir_bytes(run_path), wall_ms,
            json.dumps(groups[gid] or [])))
        return gid

    pending = [g for g in sorted(groups) if g not in done]
    processed: list[int] = []
    if max_concurrency > 1 and fail_after_group is None and len(pending) > 1:
        # bounded driver thread pool: overlaps one group's shuffle/write with
        # the next group's scan (at 1000 groups a strictly sequential driver
        # serializes the cluster); ledger appends are one-file-per-commit so
        # they are concurrency-safe
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            processed = sorted(pool.map(
                inheritable_thread_target(spark)(process), pending))
    else:
        for gid in pending:
            processed.append(process(gid))
            if fail_after_group is not None \
                    and len(processed) >= fail_after_group:
                raise RuntimeError(f"injected failure after group {gid}")
    return processed


def _complete_group_chunks(it, min_rows: int):
    """Re-chunk a mapInPandas batch iterator (sorted by (term_id, salt))
    into DataFrames that contain only COMPLETE (term_id, salt) groups, each
    ~``min_rows`` big. Bounds encoder memory to chunk + one group (a group
    is ≤ salt_rows postings by construction) no matter how large the task's
    partition is — a single salt's reduce partition at 10^12 docs is far
    bigger than executor memory."""
    import numpy as np
    import pandas as pd

    buf: list[pd.DataFrame] = []
    nrows = 0
    for pdf in it:
        if pdf.empty:
            continue
        buf.append(pdf)
        nrows += len(pdf)
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
        nrows = len(rest)
    if buf:
        whole = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        if len(whole):
            yield whole


def merge_index(
    spark: SparkSession,
    out_dir: str,
    n_shards: int = 16,
    salt_rows: int = 1_000_000,
    doc_meta: DataFrame | None = None,
    doc_shards: int | None = None,
    doc_shards_headroom: int = 1,
) -> None:
    """Stage 2: runs, dfs and doclens → dictionary (from dfs only), the
    ``docs`` table, compressed postings partitioned by doc shard and
    ``_INDEX_META.json`` (n_docs / avgdl / sum_dl / max_doc_id straight from
    doclens, and the :data:`LAYOUT` stamp).

    The postings come from one merge shuffle of ``(term_id, salt, doc_id,
    tf)`` rows, hash-partitioned by salt and sorted by (term_id, salt,
    doc_id), then encoded into one row per complete (term_id, salt) group
    in one ``mapInPandas`` pass. Per-doc ``dl`` stays out of that shuffle:
    the ``docs`` table is written partitioned by salt and each salt's
    (doc_id → dl) map is gathered back from ``docs/salt=<s>`` at encode
    time (see the comment above ``shuffle_cols``). Raises if a runs group
    has no dfs.

    ``doc_shards`` (D): the global doc-shard count. salt = hash(doc_id) mod D
    for EVERY term, so shard s is a complete mini-index of its doc subset —
    the batched-serving topology groups lists by shard and scores all
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
    read = spark.read.option("recursiveFileLookup", "true").parquet

    # stage 1 writes runs and dfs together per group (_write_group): a runs
    # group without its dfs is a damaged index dir, not a reason to fall
    # back to aggregating the full runs
    def _gid_dirs(sub: str) -> set[str]:
        return {f.rsplit("/", 2)[-2] for f in
                fsio.list_files(f"{out_dir}/{sub}", ".parquet")}

    missing = sorted(_gid_dirs("runs") - _gid_dirs("dfs"))
    if missing:
        raise RuntimeError(
            f"{out_dir}: runs groups {missing} have no dfs — stage 1 writes "
            "both per group; rebuild those groups")
    doclens = read(f"{out_dir}/doclens").select("doc_id", "dl")

    # The corpus stats and the dictionary's expensive part (dfs agg +
    # range-partitioned dense-id assignment, which materializes a persisted
    # relation and collects per-partition counts) are INDEPENDENT. Run
    # both chains at once so their jobs overlap; everything after joins on
    # both results.
    def stats_chain():
        st = doclens.agg(F.count(F.lit(1)).alias("n_docs"),
                         F.avg("dl").alias("avgdl"),
                         F.sum("dl").cast("long").alias("sum_dl"),
                         F.max("doc_id").alias("max_doc_id")).collect()[0]
        # avgdl and max_doc_id are NULL over an empty corpus (empty ingest
        # batch) — a crash here would poison the segment-root manifest path
        return (st.n_docs, float(st.avgdl or 0.0), int(st.sum_dl or 0),
                st.max_doc_id)

    def dict_chain():
        # dictionary dfs from the stage-1 per-group partials: a
        # vocab-sized scan instead of a full postings scan (the merge
        # phase is the worst-scaling one); schema given, as inferring it
        # costs one more Spark job
        df_t = (spark.read.schema("term string, df long")
                .option("recursiveFileLookup", "true")
                .parquet(f"{out_dir}/dfs").groupBy("term")
                .agg(F.sum("df").cast("long").alias("df")))
        rd = assign_dense_ids(df_t, "term", "term_id", max(4, n_shards))
        # df_max needs only the df column (not n_docs from the stats
        # chain) — compute it here so doc_shards is known the moment both
        # chains join (the persisted dense-id input makes this agg cheap)
        dmax = (None if doc_shards is not None
                else int(rd.agg(F.max("df")).collect()[0][0] or 1))
        return rd, dmax

    (n_docs, avgdl, sum_dl, max_doc_id), (raw_dict, df_max) = _in_parallel(
        spark, stats_chain, dict_chain)

    # no idf column: readers take idf from the (tombstone-corrected) df
    dict_df = raw_dict.select("term", "term_id", "df")
    if doc_shards is None:
        doc_shards = max(n_shards,
                         math.ceil(df_max / salt_rows) * doc_shards_headroom)
    salt = (F.pmod(F.xxhash64("doc_id"), F.lit(doc_shards))
            .cast("int").alias("salt"))

    def write_dict():
        # few files (query-time dictionary point-lookups pay per-file
        # overhead), term-sorted WITHIN each file so the driver-side
        # pyarrow lookup prunes to the row groups containing the queried
        # terms (at web scale the dictionary is ~10^8 rows; the lookup
        # must not read all of it). MUST be repartition, not coalesce:
        # coalesce fuses into the id-assign mapInPandas stage and changes
        # TaskContext.partitionId() under it, corrupting the dense-id
        # offsets; repartition is a shuffle barrier.
        index_writer(dict_df.repartition(max(2, n_shards // 8))
                     .sortWithinPartitions("term")).parquet(
                         f"{out_dir}/dict")
        # NOT re-read from disk: assign_dense_ids keeps its input
        # persisted, so reuse stays deterministic and we skip a read-back

    def write_docs():
        # one cheap n_docs-row job: (doc_id, dl, doc_meta...), one dir per
        # doc shard — the encode's dl gather source
        docs = (doclens if doc_meta is None
                else doclens.join(doc_meta, "doc_id", "left"))
        (index_writer(docs.select("*", salt).repartition(doc_shards, "salt"))
         .partitionBy("salt").parquet(f"{out_dir}/docs"))

    # The merge-shuffle: postings + term ids, salted by global doc shard so
    # each (term_id, salt) group is contiguous and sorted by doc_id.
    # ``dl`` does NOT ride the shuffle: it is per-DOC data that would repeat
    # on every one of the doc's ~dl posting rows — ~20% of the bytes
    # through the merge's two bandwidth-bound passes (shuffle write/read
    # and the row sort), which are exactly where the measured 1M-doc
    # scaling sits at the host's delivered-bandwidth envelope. Instead
    # each salt's (doc_id → dl) map is gathered back at encode time from
    # ``docs/salt=<s>`` (n_docs rows total, ≪ postings by the avgdl factor)
    # as an in-cache sorted array (n_docs/doc_shards entries — the same
    # docs-per-shard bound the serving topology already assumes). A
    # posting whose doc is missing from docs raises: stage-1 runs and
    # doclens must agree.
    shuffle_cols = ["term_id", salt, "doc_id",
                    F.col("tf").cast("int").alias("tf")]
    tagged = (read(f"{out_dir}/runs")
              .join(F.broadcast(dict_df.select("term", "term_id")), "term")
              .select(*shuffle_cols))

    # dict and docs writes are independent of each other (and both must
    # finish before the encode tasks run — encode reads docs, serving
    # reads dict); overlap them
    _in_parallel(spark, write_dict, write_docs)
    # hash repartition, not repartitionByRange: the range sampler would scan
    # the whole join twice. Partitioning by SALT ALONE (one output file
    # per doc shard, see LAYOUT) makes every output file a complete
    # mini-index of its doc subset — serving then runs at most one task
    # per core, each scoring a doc-disjoint file subset and reading its own
    # lists directly (term_id predicate pushed to parquet row-group
    # pruning) with NO shuffle of list bytes (operators/wand.py).
    # Partition volume stays balanced under Zipf skew because hash(doc_id)
    # spreads every term's postings uniformly across the doc_shards salts;
    # the per-(term,salt) group bound (≤ salt_rows) is unchanged.
    parted = (tagged.repartition(doc_shards, "salt")
                    .sortWithinPartitions("term_id", "salt", "doc_id"))

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
                    fs, p = fsio.resolve(f"{out_dir}/docs/salt={int(s)}")
                    t = pads.dataset(p, format="parquet",
                                     filesystem=fs).to_table(
                        columns=["doc_id", "dl"])
                    ids = t.column("doc_id").to_numpy()
                    dls = t.column("dl").to_numpy()
                    o = np.argsort(ids, kind="stable")
                    ent = cache[int(s)] = (ids[o], dls[o])
                ids, dls = ent
                mask = salts == s
                idx = np.searchsorted(ids, d[mask])
                if (idx >= len(ids)).any() or (ids[idx] != d[mask]).any():
                    raise RuntimeError(
                        f"docs salt={int(s)} is missing doc ids "
                        "present in the postings shuffle — stage-1 "
                        "doclens and runs disagree")
                out[mask] = dls[idx]
            return out

        for chunk in _complete_group_chunks(it, 2_000_000):
            salts = chunk["salt"].to_numpy(np.int32)
            d = chunk["doc_id"].to_numpy(np.int64)
            cols = codec.encode_lists_columns(
                chunk["term_id"].to_numpy(np.int64), salts, d,
                chunk["tf"].to_numpy(np.int64), dls_for(salts, d))
            yield pd.DataFrame(cols)

    lists_df = parted.mapInPandas(encode_partition, schema=LIST_SCHEMA)
    # partitionBy(salt): EXACTLY one file per doc shard (each shuffle
    # partition holds whole salts, so each salt is written by exactly one
    # task into its own salt=<s>/ directory; maxRecordsPerFile=0 overrides
    # any session-level split). Serving packs D equal-volume files into at
    # most one task per core, each scoring a doc-disjoint file subset —
    # hash occupancy of D salts into D hash partitions would otherwise
    # leave ~1/e of files empty-sized and some with 2-3 salts (measured
    # max/mean 1.69 at 1M docs → straggler tail at high core counts).
    # Scoring is salt-oblivious within a file.
    (index_writer(lists_df).partitionBy("salt")
     .option("maxRecordsPerFile", 0).parquet(f"{out_dir}/postings"))

    # VERIFY the one-file-per-salt invariant before stamping LAYOUT:
    # serving packs whole files into doc-disjoint task subsets, so a salt
    # split across two files (speculative writes, a future writer change)
    # could land in two tasks, emit partial scores for the same docs and
    # merge them as duplicates silently.
    per_salt: dict[str, int] = {}
    for f in fsio.list_files(f"{out_dir}/postings", ".parquet"):
        key = f.rsplit("/", 2)[-2]
        per_salt[key] = per_salt.get(key, 0) + 1
    split = sorted(k for k, c in per_salt.items() if c > 1)
    if split:
        raise RuntimeError(
            f"{out_dir}/postings: {split} hold several files each; every "
            "doc shard must be written as one file")

    # runs hold one row per posting (builds and compaction alike)
    n_postings = fsio.parquet_rows(f"{out_dir}/runs")
    _append_ledger(out_dir, (
        -1, "merge", n_docs, n_postings,
        fsio.dir_bytes(f"{out_dir}/postings"),
        int((time.time() - t0) * 1000), "[]"))
    fsio.write_text_atomic(
        f"{out_dir}/_INDEX_META.json",
        json.dumps({"n_shards": n_shards, "salt_rows": salt_rows,
                    "n_docs": int(n_docs),
                    "avgdl": avgdl, "sum_dl": sum_dl,
                    "max_doc_id": max_doc_id,
                    "doc_shards": int(doc_shards), "layout": LAYOUT}))
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
) -> None:
    """Full build: checkpointed runs then merge. Safe to re-invoke after a
    failure — completed run groups are skipped via the ledger."""
    build_runs(spark, docs, out_dir, id_col, text_col, n_groups,
               max_concurrency=max_concurrency)
    merge_index(spark, out_dir, n_shards=n_shards, salt_rows=salt_rows,
                doc_meta=doc_meta, doc_shards=doc_shards,
                doc_shards_headroom=doc_shards_headroom)
