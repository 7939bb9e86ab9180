"""Implementations behind __spark_entry__.queries() / oracle_sql().

Each query is a (spark, sf_dir) -> DataFrame callable paired with an ANSI-SQL
oracle string DuckDB runs over the same parquet tables. Column names/aliases
match exactly on both sides (the driver sorts columns by name before
value-hashing). Float score columns are rounded to 6 decimals on BOTH sides;
ranking always happens on unrounded values with a deterministic doc_id
tie-break, so rounding only stabilizes the hash, never the order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_live_spark.functions.tokenize import DUCKDB_TOKENIZE
from colbert_live_spark.operators import bm25
from colbert_live_spark.queryset import DOC_QUERIES

ROUND = 6


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from colbert_live_spark.session import spread_input
    return spread_input(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_bare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-spread scan for narrow uses (metadata filters, payload gathers):
    the spread exchange is pure overhead when no tokenize/hash pipeline
    follows (r6 measurement)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tok_sql(col: str = "text") -> str:
    return DUCKDB_TOKENIZE.format(col=col)


# SQL fragment: the query set as an inline VALUES relation (qid, term, qtf,
# n_terms), pre-tokenized driver-side so the oracle shares the tokenizer.
def _queries_values_sql(queries=DOC_QUERIES) -> str:
    from colbert_live_spark.functions.tokenize import py_tokenize
    rows = []
    for qid, qtext in queries:
        counts: dict[str, int] = {}
        for t in py_tokenize(qtext):
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in sorted(counts.items()):
            rows.append(f"('{qid}', '{term}', {qtf}, {len(counts)})")
    return ("(VALUES " + ", ".join(rows)
            + ") AS qt(query_id, term, qtf, n_terms)")


# Shared oracle CTE prelude: tokens, postings, doc lengths, corpus stats, idf.
_BM25_CTES = f"""
WITH tok AS (
  SELECT doc_id, {_tok_sql()} AS toks FROM documents
),
doclen AS (
  SELECT doc_id, len(toks) AS dl FROM tok
),
post AS (
  SELECT term, doc_id, count(*)::INT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY term, doc_id
),
cstats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM doclen
),
tstats AS (
  SELECT term, count(*)::BIGINT AS df,
         ln(1.0 + (cstats.n_docs - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM post, cstats GROUP BY term, cstats.n_docs
)
"""


def _bm25_topk_sql(k: int = 10, conjunctive: bool = False,
                   lang: str | None = None,
                   doc_pred: str | None = None) -> str:
    """``lang``/``doc_pred``: QUERY-TIME doc predicates (corpus statistics
    stay global — the reference's filter semantics); ``doc_pred`` is an
    arbitrary SQL condition over the documents alias ``d``."""
    if lang is not None:
        lang_pred = f"d.lang = '{lang}'"
        doc_pred = (f"({doc_pred}) AND {lang_pred}" if doc_pred is not None
                    else lang_pred)
    lang_join = ""
    lang_where = ""
    if doc_pred is not None:
        lang_join = "JOIN documents d ON d.doc_id = post.doc_id"
        lang_where = f"AND ({doc_pred})"
    having = "HAVING count(*) = first(qt.n_terms)" if conjunctive else ""
    return f"""
{_BM25_CTES},
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql()} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  {lang_join}
  CROSS JOIN cstats
  WHERE 1=1 {lang_where}
  GROUP BY qt.query_id, post.doc_id
  {having}
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::INT AS rank, doc_id, round(score, {ROUND}) AS score
FROM ranked WHERE rank <= {k}
"""


def _phrase_values_sql() -> str:
    from colbert_live_spark.functions.tokenize import py_tokenize
    from colbert_live_spark.queryset import PHRASE_QUERIES
    rows = []
    for qid, qtext in PHRASE_QUERIES:
        toks = py_tokenize(qtext)
        if toks:
            pat = " " + " ".join(toks) + " "
            rows.append(f"('{qid}', '{pat}')")
    return "(VALUES " + ", ".join(rows) + ") AS ph(query_id, pat)"


def _phrase_topk_sql(k: int = 10, cap: int | None = None) -> str:
    """Phrase top-k oracle: conjunctive BM25 candidates, token-ADJACENCY
    verify via space-padded containment over the joined token array (exact
    — tokens contain no spaces), then top-k. ``cap``: the indexed path's
    rescore budget — candidates are cut to the BM25 top-``cap`` BEFORE the
    phrase verify, mirroring phrase_search_indexed exactly (deterministic:
    the cut ranks on unrounded score with doc_id tie-break)."""
    from colbert_live_spark.queryset import PHRASE_QUERIES
    cap_cte, src = "", "scored"
    if cap is not None:
        cap_cte = f""",
capped AS (
  SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS crank
    FROM scored) WHERE crank <= {cap}
)"""
        src = "capped"
    return f"""
{_BM25_CTES},
tokstr AS (
  SELECT doc_id, ' ' || array_to_string(toks, ' ') || ' ' AS ts FROM tok
),
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql(PHRASE_QUERIES)} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
  GROUP BY qt.query_id, post.doc_id
  HAVING count(*) = first(qt.n_terms)
){cap_cte},
verified AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM {src} s
  JOIN tokstr t ON t.doc_id = s.doc_id
  JOIN {_phrase_values_sql()} ON ph.query_id = s.query_id
  WHERE contains(t.ts, ph.pat)
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM verified
)
SELECT query_id, rank::INT AS rank, doc_id, round(score, {ROUND}) AS score
FROM ranked WHERE rank <= {k}
"""


def _html_roundtrip_sql() -> str:
    from colbert_live_spark.sources.webpages import HTML_PREFIX, HTML_SUFFIX
    return f"""
WITH h AS (
  SELECT doc_id, '{HTML_PREFIX}' || text || '{HTML_SUFFIX}' AS html, text
  FROM documents
)
SELECT doc_id, octet_length(encode(html))::INT AS n_bytes,
       (regexp_replace(regexp_replace(html, '^{HTML_PREFIX}', ''),
                       '{HTML_SUFFIX}$', '') = text)::INT AS extract_ok
FROM h
"""


def _success_at_k_sql() -> str:
    singles = [(q, t) for q, t in DOC_QUERIES if " " not in t.strip()]
    return f"""
{_BM25_CTES},
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql(singles)} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
  GROUP BY qt.query_id, post.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
qrels AS (
  SELECT DISTINCT qt.query_id, post.doc_id
  FROM post JOIN {_queries_values_sql(singles)} ON qt.term = post.term
  WHERE post.tf >= 3
),
hits AS (
  SELECT DISTINCT r.query_id FROM ranked r
  JOIN qrels q ON q.query_id = r.query_id AND q.doc_id = r.doc_id
  WHERE r.rank <= 5
)
SELECT t.query_id,
       CASE WHEN h.query_id IS NULL THEN 0 ELSE 1 END AS success
FROM (SELECT DISTINCT query_id FROM ranked WHERE rank <= 10) t
LEFT JOIN hits h ON h.query_id = t.query_id
"""


def _round_score(df: DataFrame) -> DataFrame:
    return df.withColumn("score", F.round("score", ROUND))


def _ndcg_sql(k: int = 10) -> str:
    singles = [(q, t) for q, t in DOC_QUERIES if " " not in t.strip()]
    return f"""
{_BM25_CTES},
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql(singles)} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
  GROUP BY qt.query_id, post.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
rel AS (
  SELECT qt.query_id, post.doc_id, least(post.tf, 3)::DOUBLE AS rel
  FROM post JOIN {_queries_values_sql(singles)} ON qt.term = post.term
),
dcg AS (
  SELECT r.query_id,
         sum(coalesce(rel.rel, 0.0) * ln(2.0) / ln(r.rank + 1.0)) AS dcg
  FROM ranked r
  LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  WHERE r.rank <= {k} GROUP BY r.query_id
),
irank AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id ASC) AS r
  FROM rel
),
idcg AS (
  SELECT query_id, sum(rel * ln(2.0) / ln(r + 1.0)) AS idcg
  FROM irank WHERE r <= {k} GROUP BY query_id
)
SELECT d.query_id, round(d.dcg / i.idcg, {ROUND}) AS ndcg
FROM dcg d JOIN idcg i USING (query_id)
"""


# ------------------------------------------------------------------ queries

def q_postings(spark, sf_dir):
    """S8/T2/A2: the uncompressed posting relation (term, doc_id, tf)."""
    return bm25.postings(_docs(spark, sf_dir))


def q_doc_stats(spark, sf_dir):
    return bm25.doc_stats(_docs(spark, sf_dir))


def q_term_stats(spark, sf_dir):
    """A5: exact df + idf per term."""
    docs = _docs(spark, sf_dir)
    post = bm25.postings(docs)
    dstats = bm25.doc_stats(docs)
    n = bm25.corpus_stats(dstats).select("n_docs")
    return bm25.term_stats(post, n).withColumn("idf", F.round("idf", ROUND))


def q_corpus_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (bm25.corpus_stats(bm25.doc_stats(docs))
            .select("n_docs", F.round("avgdl", ROUND).alias("avgdl")))


def q_bm25_topk(spark, sf_dir):
    """The flagship serving path: batched disjunctive BM25 top-10."""
    return _round_score(bm25.search(spark, _docs(spark, sf_dir), DOC_QUERIES, k=10))


def q_bm25_conjunctive(spark, sf_dir):
    """Posting-list intersection semantics (SURVEY.md §2.9)."""
    return _round_score(
        bm25.search(spark, _docs(spark, sf_dir), DOC_QUERIES, k=10,
                    conjunctive=True))


def q_bm25_lang_filtered(spark, sf_dir):
    """F1 analog: metadata predicate composed with retrieval
    (`example/cmdline/db.py:82-88` tag-filtered ANN)."""
    spark_df = _docs(spark, sf_dir)
    docs_en = spark_df.filter(F.col("lang") == "en")
    return _round_score(bm25.search(spark, docs_en, DOC_QUERIES, k=10))


def q_topk_payload(spark, sf_dir):
    """S10/J5/R1: join top-k back to the docs table for payloads — broadcast
    join of the tiny result side (`colbert_live/db/astra.py:249-260` analog)."""
    docs = _docs(spark, sf_dir)
    top = bm25.search(spark, docs, DOC_QUERIES, k=5)
    return (_docs_bare(spark, sf_dir).join(F.broadcast(top), "doc_id")
            .select("query_id", "rank", "doc_id",
                    F.round("score", ROUND).alias("score"),
                    F.substring("text", 1, 40).alias("snippet"),
                    "lang"))


_INDEX_CACHE: dict[str, str] = {}


def built_index(spark, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the compressed term-sharded index
    for the documents corpus under /tmp; returns the index dir.

    ``SPARK_GRAFT_INDEX_ROOT``: when set, indexes build under that directory
    instead of the shared /tmp location. bench.py sets it to a fresh mktemp
    dir so the build is really measured every run (the shared /tmp cache
    once turned the bench's index_build metric into a 0.0s no-op)."""
    if sf_dir not in _INDEX_CACHE:
        import hashlib
        import os
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        # v2: doc-sharded layout (salt = global doc shard) — the version tag
        # keeps stale round-1 layouts from being reused across processes
        root = os.environ.get("SPARK_GRAFT_INDEX_ROOT", "/tmp")
        out = f"{root}/cls_index_v3_{tag}"
        if not os.path.exists(f"{out}/_INDEX_META.json"):
            from colbert_live_spark.index.builder import build_index
            # bare scan (no spread_input): build_runs' file-group mode +
            # resume ledger key on the unmodified input files; the build
            # spreads each group's scan internally (builder.py)
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            build_index(spark, docs, out, n_groups=4, n_shards=4,
                        salt_rows=200,
                        doc_meta=docs.select("doc_id", "lang"))
        _INDEX_CACHE[sf_dir] = out
    return _INDEX_CACHE[sf_dir]


def q_bm25_topk_wand(spark, sf_dir):
    """Same answer as bm25_topk but served from the compressed term-sharded
    index via block-max-pruned scoring (oracle: identical SQL — the driver's
    hash-match proves the codec+WAND path is rank/score-identical)."""
    from colbert_live_spark.operators.wand import wand_search
    idx = built_index(spark, sf_dir)
    return _round_score(wand_search(spark, idx, DOC_QUERIES, k=10))


def q_bm25_conjunctive_wand(spark, sf_dir):
    """Posting-list intersection over the compressed index (merge-based
    with skip-pointer block pruning) — same oracle as bm25_conjunctive."""
    from colbert_live_spark.operators.wand import wand_search
    idx = built_index(spark, sf_dir)
    return _round_score(wand_search(spark, idx, DOC_QUERIES, k=10,
                                    conjunctive=True))


_LOCAL_SCHEMA = "query_id string, rank int, doc_id long, score double"


def q_bm25_topk_local(spark, sf_dir):
    """The ZERO-Spark-job local serving mode (wand_search_local — the
    single-user-waiting path, reference cost model colbert_live.py:167-169)
    surfaced through the driver oracle: the pandas result is lifted into a
    DataFrame only for the comparison — same SQL oracle as bm25_topk, so
    the hash-match proves the driver-local scorer is rank/score-identical
    to both the cluster path and the relational form."""
    from colbert_live_spark.operators.wand import wand_search_local
    idx = built_index(spark, sf_dir)
    pdf = wand_search_local(idx, DOC_QUERIES, k=10)
    return _round_score(spark.createDataFrame(pdf, schema=_LOCAL_SCHEMA))


def q_bm25_local_segmented(spark, sf_dir):
    """Zero-Spark-job local serving over a LIVE two-segment root
    (segment_search_local): global stats composed across segments on the
    driver — oracle identical to bm25_topk (the monolithic SQL), the
    liveness twin of bm25_topk_local."""
    from colbert_live_spark.index.segments import segment_search_local
    root = built_live_root(spark, sf_dir)
    pdf = segment_search_local(root, DOC_QUERIES, k=10)
    return _round_score(spark.createDataFrame(pdf, schema=_LOCAL_SCHEMA))


def built_pre_encoded_index(spark, sf_dir: str) -> str:
    """Index built with the merge's pre_encode=True shuffle (map-side
    partial block encode → compressed shuffle → reduce-side re-encode —
    the network-bound-cluster merge path, index/builder.py). Byte-identical
    postings are already unit-tested; this root feeds the driver-visible
    oracle entry so the cluster-targeted codepath cannot rot unnoticed."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.environ.get("SPARK_GRAFT_INDEX_ROOT", "/tmp")
    out = f"{root}/cls_preenc_v3_{tag}"
    if not os.path.exists(f"{out}/_INDEX_META.json"):
        from colbert_live_spark.index.builder import build_index
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        build_index(spark, docs, out, n_groups=4, n_shards=4,
                    salt_rows=200, pre_encode=True)
    return out


def q_bm25_pre_encoded(spark, sf_dir):
    """bm25_topk served from an index whose merge ran the pre-encoded
    shuffle (pre_encode=True) — same SQL oracle as bm25_topk: the
    hash-match proves the alternate merge topology produces a
    serving-identical index end to end."""
    from colbert_live_spark.operators.wand import wand_search
    idx = built_pre_encoded_index(spark, sf_dir)
    return _round_score(wand_search(spark, idx, DOC_QUERIES, k=10))


def q_doc_keywords(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords (query-independent doc profiling —
    the keyword-tagging op of a training-data pipeline)."""
    return (bm25.doc_keywords(_docs(spark, sf_dir), k=3)
            .withColumn("score", F.round("score", ROUND)))


def q_source_stats(spark, sf_dir):
    """Per-source corpus profile: exact integer sums + rounded ratio
    (the per-domain breakdown run before corpus sampling)."""
    return bm25.source_stats(_docs(spark, sf_dir))


def q_bm25_phrase(spark, sf_dir):
    """Exact phrase top-k (token adjacency): conjunctive BM25 candidates —
    all of them — verified against the token sequence, then ranked."""
    from colbert_live_spark.operators.phrase import phrase_search
    from colbert_live_spark.queryset import PHRASE_QUERIES
    return _round_score(
        phrase_search(spark, _docs(spark, sf_dir), PHRASE_QUERIES, k=10))


def q_bm25_phrase_wand(spark, sf_dir):
    """Phrase top-k from the compressed index with the reference's rescore
    budget: conjunctive block-max WAND top-64 per query, text gathered and
    phrase-verified — oracle mirrors the cap exactly (same cut before the
    verify), so the hash-match proves the indexed path's candidate cut,
    gather, and verify are all rank/score-identical."""
    from colbert_live_spark.operators.phrase import phrase_search_indexed
    from colbert_live_spark.queryset import PHRASE_QUERIES
    docs = _docs_bare(spark, sf_dir)
    idx = built_index(spark, sf_dir)
    return _round_score(phrase_search_indexed(
        spark, idx, docs, PHRASE_QUERIES, k=10, candidates=64))


def q_bm25_filtered_wand(spark, sf_dir):
    """F1 at scale: the metadata predicate composed with the COMPRESSED
    index path — the filter-id set shuffles by doc shard and each shard's
    task scores that shard's postings file (never collected to the driver;
    see wand_search).
    Corpus statistics stay global (reference semantics: the tag filter of
    `example/cmdline/db.py:82-88` narrows candidates, not the model)."""
    from colbert_live_spark.operators.wand import wand_search
    docs = _docs_bare(spark, sf_dir)
    idx = built_index(spark, sf_dir)
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    return _round_score(wand_search(spark, idx, DOC_QUERIES, k=10,
                                    doc_filter=en))


def q_bm25_tag_filtered(spark, sf_dir):
    """Array-typed tag predicate (the literal `tags set<text> CONTAINS ?`
    analog, `example/cmdline/db.py:43,82-88`): docs carry an
    array<string> tags column; the predicate is array_contains, composed
    with compressed-index retrieval at query time (global stats)."""
    from colbert_live_spark.operators.wand import wand_search
    docs = _docs_bare(spark, sf_dir)
    idx = built_index(spark, sf_dir)
    tagged = docs.withColumn("tags", F.array(F.col("lang"), F.col("source")))
    keep = tagged.filter(F.array_contains("tags", "zh")
                         | F.array_contains("tags", "src3")).select("doc_id")
    return _round_score(wand_search(spark, idx, DOC_QUERIES, k=10,
                                    doc_filter=keep))


_DELETE_PRED_SQL = "doc_id % 7 = 3"


def built_deleted_root(spark, sf_dir: str) -> str:
    """Segment root over the documents corpus with docs (doc_id % 7 == 3)
    tombstoned — built once per sf_dir per process under /tmp."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/cls_segdel_v5_{tag}"
    ready = f"{root}/_READY"
    if not os.path.exists(ready):
        # sentinel-guarded: a process killed mid-setup must not leave a
        # half-built root to be reused by later processes
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        from colbert_live_spark.index.segments import add_segment, delete_docs
        docs = _docs(spark, sf_dir)
        add_segment(spark, docs, root, n_shards=4, salt_rows=200)
        delete_docs(spark, root,
                    docs.filter(F.expr(_DELETE_PRED_SQL)).select("doc_id"))
        open(ready, "w").close()
    return root


def built_live_root(spark, sf_dir: str) -> str:
    """Two-segment live root over the documents corpus (ingested in two
    increments with contiguous id ranges, so global ids equal the
    monolithic corpus ids) — built once per sf_dir per process."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/cls_seglive_v5_{tag}"
    ready = f"{root}/_READY"
    if not os.path.exists(ready):
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        from colbert_live_spark.index.segments import add_segment
        docs = _docs(spark, sf_dir)
        half = docs.count() // 2
        add_segment(spark, docs.filter(F.col("doc_id") < half), root,
                    n_shards=4, salt_rows=200)
        add_segment(spark,
                    docs.filter(F.col("doc_id") >= half)
                    .withColumn("doc_id", F.col("doc_id") - half),
                    root, n_shards=4, salt_rows=200)
        open(ready, "w").close()
    return root


def q_bm25_incremental(spark, sf_dir):
    """§2.11 liveness, driver-oracle-checked: the corpus ingested as TWO
    independent segments answers exactly like a monolithic index (global
    N/avgdl/df→idf computed across segments at query time) — the oracle is
    the SAME SQL as bm25_topk."""
    from colbert_live_spark.index.segments import segment_search
    root = built_live_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10))


def q_bm25_incremental_conjunctive(spark, sf_dir):
    """Conjunctive (posting-list intersection) semantics over the live
    segmented root — oracle identical to bm25_conjunctive."""
    from colbert_live_spark.index.segments import segment_search
    root = built_live_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10,
                                       conjunctive=True))


def q_bm25_after_delete(spark, sf_dir):
    """Live deletes ("remove documents", reference README.md:21-23):
    tombstoned docs vanish from results AND from the statistics — top-k
    equals the oracle recomputed over the reduced corpus (N, avgdl, df→idf
    all corrected exactly via delete-time df deltas; index/segments.py)."""
    from colbert_live_spark.index.segments import segment_search
    root = built_deleted_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10))


def built_compacted_root(spark, sf_dir: str) -> str:
    """Segment root with the same tombstoned state as built_deleted_root,
    then compact()ed: tombstoned docs physically dropped, tombstone set
    cleared — built once per sf_dir per process under /tmp."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/cls_segcomp_v5_{tag}"
    ready = f"{root}/_READY"
    if not os.path.exists(ready):
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        from colbert_live_spark.index.segments import (
            add_segment, compact, delete_docs)
        docs = _docs(spark, sf_dir)
        add_segment(spark, docs, root, n_shards=4, salt_rows=200)
        delete_docs(spark, root,
                    docs.filter(F.expr(_DELETE_PRED_SQL)).select("doc_id"))
        compact(spark, root, n_shards=4, salt_rows=200)
        # compaction must physically drop the tombstone state
        assert not os.path.exists(f"{root}/tombstones"), \
            "compact() left tombstone files behind"
        open(ready, "w").close()
    return root


def q_bm25_after_compact(spark, sf_dir):
    """Compaction invariant, driver-oracle-checked: folding all segments
    into one and PHYSICALLY dropping tombstoned docs changes no answer —
    the oracle is the same reduced-corpus recompute as bm25_after_delete
    (compaction alters physical layout only, never results)."""
    from colbert_live_spark.index.segments import segment_search
    root = built_compacted_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10))


def built_streamed_root(spark, sf_dir: str) -> str:
    """Segment root populated via STRUCTURED STREAMING: the corpus is staged
    as three parquet files, readStream + Trigger.AvailableNow drains them
    through foreachBatch(add_segment) with the idempotent batch-id sink.
    ``preserve_ids`` keeps the corpus doc ids, so the result is independent
    of the file order the stream source happens to list — any order yields
    the same root contents."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/cls_segstream_v5_{tag}"
    ready = f"{root}/_READY"
    if not os.path.exists(ready):
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        from colbert_live_spark.streaming.incremental import ingest_stream
        docs = _docs(spark, sf_dir)
        stage = f"{root}/_stage"
        docs.repartition(3).write.mode("overwrite").parquet(stage)
        ingest_stream(spark, stage, docs.schema, f"{root}/live",
                      checkpoint=f"{root}/_ckpt", preserve_ids=True)
        open(ready, "w").close()
    return f"{root}/live"


def q_bm25_streamed(spark, sf_dir):
    """§2.11 driver-oracle-checked END TO END through Structured Streaming:
    micro-batch ingest (AvailableNow) into a segmented root answers exactly
    like a monolithic index — the oracle is the SAME SQL as bm25_topk
    (VERDICT r3 ask #5; reference liveness README.md:21-23)."""
    from colbert_live_spark.index.segments import segment_search
    root = built_streamed_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10))


_UPDATE_PRED_SQL = "doc_id % 5 = 1"
_UPDATE_SUFFIX = " refreshed revision"


def built_updated_root(spark, sf_dir: str) -> str:
    """Segment root where docs (doc_id % 5 == 1) were MODIFIED in place via
    update_docs (tombstone old version + re-ingest new text as a fresh
    segment — the reference's "modify documents", README.md:21-23). The
    re-added docs get deterministic new global ids = old id + N (N = corpus
    size), which the oracle mirrors."""
    import hashlib
    import os
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/cls_segupd_v5_{tag}"
    ready = f"{root}/_READY"
    if not os.path.exists(ready):
        import shutil
        shutil.rmtree(root, ignore_errors=True)
        from colbert_live_spark.index.segments import add_segment, update_docs
        docs = _docs(spark, sf_dir)
        add_segment(spark, docs, root, n_shards=4, salt_rows=200)
        changed = (docs.filter(F.expr(_UPDATE_PRED_SQL))
                   .withColumn("text", F.concat(F.col("text"),
                                                F.lit(_UPDATE_SUFFIX))))
        update_docs(spark, changed, root,
                    docs.filter(F.expr(_UPDATE_PRED_SQL)).select("doc_id"),
                    n_shards=4, salt_rows=200)
        open(ready, "w").close()
    return root


def q_bm25_after_update(spark, sf_dir):
    """Live modify ("update documents"): top-k equals the oracle recomputed
    over the corpus with the updated docs' text replaced (statistics — N,
    avgdl, df→idf — all reflect the mutation exactly; VERDICT r3 ask #6)."""
    from colbert_live_spark.index.segments import segment_search
    root = built_updated_root(spark, sf_dir)
    return _round_score(segment_search(spark, root, DOC_QUERIES, k=10))


def q_ndcg_at_k(spark, sf_dir):
    """A7 eval: NDCG@10 with graded relevance rel = least(tf, 3) derived
    from the single-term queries (the metric the reference reports for
    BEIR, `example/bench/beir.py:102-110`)."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    single = [(q, t) for q, t in DOC_QUERIES if " " not in t.strip()]
    top = bm25.search(spark, docs, single, k=10)
    post = bm25.postings(docs)
    qterms = bm25.query_terms_df(spark, single)
    rel = (post.join(F.broadcast(qterms.select("query_id", "term")), "term")
           .select("query_id", "doc_id",
                   F.least(F.col("tf"), F.lit(3)).cast("double").alias("rel")))
    ln2 = F.log(F.lit(2.0))
    dcg = (top.join(rel, ["query_id", "doc_id"], "left")
           .select("query_id",
                   (F.coalesce(F.col("rel"), F.lit(0.0)) * ln2
                    / F.log(F.col("rank") + 1.0)).alias("g"))
           .groupBy("query_id").agg(F.sum("g").alias("dcg")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("doc_id"))
    idcg = (rel.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 10)
            .select("query_id",
                    (F.col("rel") * ln2 / F.log(F.col("r") + 1.0)).alias("g"))
            .groupBy("query_id").agg(F.sum("g").alias("idcg")))
    return (dcg.join(idcg, "query_id")
            .select("query_id",
                    F.round(F.col("dcg") / F.col("idcg"), ROUND).alias("ndcg")))


RRF_NANN = 100  # per-token candidate cut before fusion (reference
# n_ann_docs: only the top-n ANN hits per token enter the fuse,
# `colbert_live/colbert_live.py:177-194`) — also what keeps this a bounded
# partial top-n per term (WindowGroupLimit) instead of a full per-term sort


def q_rrf_fusion(spark, sf_dir):
    """C4: literal reciprocal-rank fusion (rrf_k=60,
    `colbert_live/colbert_live.py:189-194`) across per-term rankings,
    fusing only the top-RRF_NANN docs per (query, term)."""
    from pyspark.sql import Window
    docs = _docs(spark, sf_dir)
    post = bm25.postings_dl(docs)
    dstats = bm25.doc_stats(docs)
    cstats = bm25.corpus_stats(dstats)
    tstats = bm25.term_stats(post, cstats.select("n_docs"))
    qterms = bm25.query_terms_df(spark, DOC_QUERIES)
    # dl rides the posting rows (postings_dl) — no corpus-cardinality join
    per_term = (post.join(F.broadcast(qterms), "term")
                .join(F.broadcast(tstats.select("term", "idf")), "term")
                .crossJoin(F.broadcast(cstats.select("avgdl")))
                .select("query_id", "term", "doc_id",
                        (F.col("idf") * bm25.bm25_weight(
                            F.col("tf"), F.col("dl"), F.col("avgdl"))).alias("w")))
    w_rank = Window.partitionBy("query_id", "term").orderBy(
        F.desc("w"), F.asc("doc_id"))
    fused = (per_term.withColumn("trank", F.row_number().over(w_rank))
             .filter(F.col("trank") <= RRF_NANN)
             .groupBy("query_id", "doc_id")
             .agg(F.sum(1.0 / (60.0 + F.col("trank"))).alias("score")))
    return _round_score(bm25.topk(fused, k=10))


def q_html_roundtrip(spark, sf_dir):
    """Input-hint invariant through the driver gate: wrap text into the html
    binary shape, extract it back, assert byte-identity per row (S6 analog —
    the deterministic stand-in for PDF→image ingest,
    `example/cmdline/main.py:16-29`)."""
    from colbert_live_spark.sources.webpages import (
        HTML_PREFIX, HTML_SUFFIX, extract_text)
    docs = _docs_bare(spark, sf_dir)
    html = F.encode(
        F.concat(F.lit(HTML_PREFIX), F.col("text"), F.lit(HTML_SUFFIX)),
        "UTF-8")
    return docs.select(
        "doc_id",
        F.length(html).alias("n_bytes"),
        (extract_text(html) == F.col("text")).cast("int").alias("extract_ok"))


def q_success_at_k(spark, sf_dir):
    """A6 eval: Success@5 against derived qrels (relevant = docs with
    tf(term) ≥ 3 for the single-term queries)."""
    from colbert_live_spark.sources.sinks import success_at_k
    docs = _docs(spark, sf_dir)
    single = [(q, t) for q, t in DOC_QUERIES if " " not in t.strip()]
    top = bm25.search(spark, docs, single, k=10)
    post = bm25.postings(docs)
    qterms = bm25.query_terms_df(spark, single)
    qrels = (post.join(F.broadcast(qterms.select("query_id", "term")), "term")
             .filter(F.col("tf") >= 3).select("query_id", "doc_id"))
    return success_at_k(top, qrels, k=5)


def q_rankings_sink(spark, sf_dir):
    """S9/O4 rankings sink shape: qid, doc_id, rank, score (TSV-writable,
    `example/bench/lotte.py:111-116`)."""
    top = bm25.search(spark, _docs(spark, sf_dir), DOC_QUERIES, k=10)
    return top.select(F.col("query_id").alias("qid"), "doc_id", "rank",
                      F.round("score", ROUND).alias("score"))


# -------------------------------------------------------------- oracle SQL

def oracle_map() -> dict[str, str]:
    from colbert_live_spark import entry_queries_pipeline as pipeline
    base = dict(pipeline.oracle_map())
    base.update(_core_oracle_map())
    return base


def _core_oracle_map() -> dict[str, str]:
    rrf_sql = f"""
{_BM25_CTES},
per_term AS (
  SELECT qt.query_id, post.term, post.doc_id,
         tstats.idf * post.tf * (1.2 + 1.0)
           / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl)) AS w
  FROM post
  JOIN {_queries_values_sql()} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
),
tranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id, term
                            ORDER BY w DESC, doc_id ASC) AS trank
  FROM per_term
),
fused AS (
  SELECT query_id, doc_id, sum(1.0 / (60.0 + trank)) AS score
  FROM tranked WHERE trank <= {RRF_NANN} GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank::INT AS rank, doc_id, round(score, {ROUND}) AS score
FROM ranked WHERE rank <= 10
"""
    payload_sql = f"""
{_BM25_CTES},
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql()} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
  GROUP BY qt.query_id, post.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT r.query_id, r.rank::INT AS rank, r.doc_id,
       round(r.score, {ROUND}) AS score,
       substr(d.text, 1, 40) AS snippet, d.lang
FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
WHERE r.rank <= 5
"""
    return {
        "postings_build": f"""
WITH tok AS (SELECT doc_id, {_tok_sql()} AS toks FROM documents)
SELECT term, doc_id, count(*)::INT AS tf
FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
GROUP BY term, doc_id
""",
        "doc_stats": f"""
SELECT doc_id, len({_tok_sql()})::INT AS dl FROM documents
""",
        "term_stats": f"""
WITH tok AS (SELECT doc_id, {_tok_sql()} AS toks FROM documents),
post AS (
  SELECT term, doc_id FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY term, doc_id
),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT term, count(*)::BIGINT AS df,
       round(ln(1.0 + (n.n_docs - count(*) + 0.5) / (count(*) + 0.5)), {ROUND}) AS idf
FROM post, n GROUP BY term, n.n_docs
""",
        "corpus_stats": f"""
WITH tok AS (SELECT doc_id, {_tok_sql()} AS toks FROM documents)
SELECT count(*)::BIGINT AS n_docs, round(avg(len(toks)), {ROUND}) AS avgdl FROM tok
""",
        "bm25_topk": _bm25_topk_sql(k=10),
        "bm25_topk_wand": _bm25_topk_sql(k=10),
        # zero-Spark-job serving modes + the pre-encoded merge topology all
        # answer exactly like the relational monolith
        "bm25_topk_local": _bm25_topk_sql(k=10),
        "bm25_local_segmented": _bm25_topk_sql(k=10),
        "bm25_pre_encoded": _bm25_topk_sql(k=10),
        "bm25_conjunctive": _bm25_topk_sql(k=10, conjunctive=True),
        "bm25_conjunctive_wand": _bm25_topk_sql(k=10, conjunctive=True),
        "bm25_phrase": _phrase_topk_sql(k=10),
        "bm25_phrase_wand": _phrase_topk_sql(k=10, cap=64),
        "doc_keywords": f"""
{_BM25_CTES},
kw AS (
  SELECT post.doc_id, post.term, post.tf * tstats.idf AS kw
  FROM post JOIN tstats ON tstats.term = post.term
),
ranked AS (
  SELECT doc_id, term, kw,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY kw DESC, term ASC) AS krank
  FROM kw
)
SELECT doc_id, krank::INT AS krank, term, round(kw, {ROUND}) AS score
FROM ranked WHERE krank <= 3
""",
        "source_stats": f"""
WITH tok AS (
  SELECT doc_id, source, lang, n_chars, {_tok_sql()} AS toks FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       sum(len(toks))::BIGINT AS sum_dl,
       count(DISTINCT lang)::BIGINT AS n_langs,
       round(sum(n_chars)::DOUBLE / count(*), 6) AS avg_chars
FROM tok GROUP BY source
""",
        "bm25_lang_filtered": _bm25_topk_sql(k=10).replace(
            "FROM documents", "FROM (SELECT * FROM documents WHERE lang = 'en')"),
        # query-time filters: statistics global, candidates narrowed
        "bm25_filtered_wand": _bm25_topk_sql(k=10, lang="en"),
        "bm25_tag_filtered": _bm25_topk_sql(
            k=10, doc_pred="list_contains([d.lang, d.source], 'zh') "
                           "OR list_contains([d.lang, d.source], 'src3')"),
        # delete semantics: equals a full recompute over the reduced corpus
        "bm25_after_delete": _bm25_topk_sql(k=10).replace(
            "FROM documents",
            f"FROM (SELECT * FROM documents WHERE NOT ({_DELETE_PRED_SQL}))"),
        # compaction changes physical layout only — same reduced-corpus oracle
        "bm25_after_compact": _bm25_topk_sql(k=10).replace(
            "FROM documents",
            f"FROM (SELECT * FROM documents WHERE NOT ({_DELETE_PRED_SQL}))"),
        # liveness: segmented results must equal the MONOLITHIC oracle
        "bm25_incremental": _bm25_topk_sql(k=10),
        "bm25_incremental_conjunctive": _bm25_topk_sql(k=10,
                                                       conjunctive=True),
        # streaming micro-batch ingest changes nothing vs the monolith
        "bm25_streamed": _bm25_topk_sql(k=10),
        # modify = recompute over the mutated corpus; re-added docs carry
        # deterministic new ids (old id + N) per the update_docs contract
        "bm25_after_update": _bm25_topk_sql(k=10).replace(
            "FROM documents",
            f"""FROM (SELECT doc_id, text FROM documents
            WHERE NOT ({_UPDATE_PRED_SQL})
            UNION ALL
            SELECT doc_id + (SELECT count(*) FROM documents) AS doc_id,
                   text || '{_UPDATE_SUFFIX}' AS text FROM documents
            WHERE {_UPDATE_PRED_SQL})"""),
        "ndcg_at_k": _ndcg_sql(),
        "topk_payload": payload_sql,
        "rrf_fusion": rrf_sql,
        "html_roundtrip": _html_roundtrip_sql(),
        "success_at_k": _success_at_k_sql(),
        "rankings_sink": f"""
{_BM25_CTES},
scored AS (
  SELECT qt.query_id, post.doc_id,
         sum(qt.qtf * tstats.idf * post.tf * (1.2 + 1.0)
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * doclen.dl / cstats.avgdl))
         ) AS score
  FROM post
  JOIN {_queries_values_sql()} ON qt.term = post.term
  JOIN tstats ON tstats.term = post.term
  JOIN doclen ON doclen.doc_id = post.doc_id
  CROSS JOIN cstats
  GROUP BY qt.query_id, post.doc_id
),
ranked AS (
  SELECT query_id AS qid, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT qid, doc_id, rank::INT AS rank, round(score, {ROUND}) AS score
FROM ranked WHERE rank <= 10
""",
    }


def query_map():
    from colbert_live_spark import entry_queries_pipeline as pipeline
    base = dict(pipeline.query_map())
    base.update(_core_query_map())
    return base


def _core_query_map():
    return {
        "postings_build": q_postings,
        "doc_stats": q_doc_stats,
        "term_stats": q_term_stats,
        "corpus_stats": q_corpus_stats,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_wand": q_bm25_topk_wand,
        "bm25_topk_local": q_bm25_topk_local,
        "bm25_local_segmented": q_bm25_local_segmented,
        "bm25_pre_encoded": q_bm25_pre_encoded,
        "bm25_conjunctive": q_bm25_conjunctive,
        "bm25_conjunctive_wand": q_bm25_conjunctive_wand,
        "bm25_phrase": q_bm25_phrase,
        "bm25_phrase_wand": q_bm25_phrase_wand,
        "doc_keywords": q_doc_keywords,
        "source_stats": q_source_stats,
        "bm25_lang_filtered": q_bm25_lang_filtered,
        "bm25_filtered_wand": q_bm25_filtered_wand,
        "bm25_tag_filtered": q_bm25_tag_filtered,
        "bm25_after_delete": q_bm25_after_delete,
        "bm25_after_compact": q_bm25_after_compact,
        "bm25_incremental": q_bm25_incremental,
        "bm25_incremental_conjunctive": q_bm25_incremental_conjunctive,
        "bm25_streamed": q_bm25_streamed,
        "bm25_after_update": q_bm25_after_update,
        "ndcg_at_k": q_ndcg_at_k,
        "topk_payload": q_topk_payload,
        "rrf_fusion": q_rrf_fusion,
        "rankings_sink": q_rankings_sink,
        "html_roundtrip": q_html_roundtrip,
        "success_at_k": q_success_at_k,
    }
