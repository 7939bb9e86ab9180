"""BM25 retrieval as declarative Spark DataFrame plans.

This is the relational re-expression of the reference's serving path
(``colbert_live/colbert_live.py:177-208``): encode query → per-token candidate
generation (``db.query_ann``, `colbert_live/db/astra.py:235-247`) → fused
accumulate (`:189-194`) → top-k (`:205-208`). Here:

- candidate generation = ``postings ⋈ broadcast(query_terms)`` — the broadcast
  join is the Spark-idiomatic analog of the reference's concurrent per-token
  fan-out (one ANN query per embedding, `colbert_live/db/astra.py:238-239`);
  at 100 TB the postings side stays partitioned in place and only the tiny
  query-term table moves.
- fused accumulate = ``groupBy(query_id, doc_id).sum`` — partial (map-side)
  aggregation happens automatically, so per-executor traffic is one partial
  row per (query, doc) not one per posting.
- top-k = ``row_number`` over (query_id) or ``TakeOrderedAndProject``.

Everything in this module is JVM-side whole-stage-codegen — zero Python UDFs.
The compressed, MaxScore-pruned path lives in ``operators/wand.py``.

Scale notes (1000-executor / 10^12-doc design):
- stats (N, avgdl) and per-term df are tiny relative to postings; they join
  broadcast. df_t is exact (countDistinct) — rank-identity forbids
  approx_count_distinct (SURVEY.md §2.6 A5).
- the postings build's only shuffle is the groupBy(term, doc_id); Catalyst
  map-side-combines it. Head-term skew at full scale is handled by the
  compressed index build (index/builder.py) which salts; this uncompressed
  relational form relies on AQE skew handling and is the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from colbert_live_spark import BM25_B, BM25_K1
from colbert_live_spark.functions.tokenize import py_tokenize, tokenize_expr


# ---------------------------------------------------------------- build side

def doc_tokens(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(doc_id, tokens array<string>) — the T2 document-encode analog
    (`colbert_live/models.py:95-106`), JVM tokenizer."""
    return docs.select(F.col(id_col).alias("doc_id"),
                       tokenize_expr(text_col).alias("tokens"))


def doc_stats(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(doc_id, dl) document lengths."""
    return doc_tokens(docs, id_col, text_col).select(
        "doc_id", F.size("tokens").alias("dl"))


def postings(docs: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf) — the uncompressed posting relation; the analog of
    the reference's one-row-per-token-embedding table
    (`example/cmdline/db.py:38-47`) with tf replacing the vector payload."""
    toks = doc_tokens(docs, id_col, text_col)
    return (toks.select("doc_id", F.explode("tokens").alias("term"))
                .groupBy("term", "doc_id")
                .agg(F.count(F.lit(1)).cast("int").alias("tf")))


def postings_dl(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf, dl) — postings with the doc length riding each
    row (the index builder's runs are :func:`postings` instead: its merge
    gathers ``dl`` per doc shard). Scoring paths use this to skip the
    corpus-cardinality doc-length join entirely (guide §2.4: remove
    shuffles outright): dl is per-doc data already known at tokenize time,
    so carrying 4 bytes per posting beats shuffling and joining an n_docs
    relation on every query."""
    toks = doc_tokens(docs, id_col, text_col)
    return (toks.select("doc_id", F.size("tokens").alias("dl"),
                        F.explode("tokens").alias("term"))
                .groupBy("term", "doc_id", "dl")
                .agg(F.count(F.lit(1)).cast("int").alias("tf")))


def term_stats(post: DataFrame, n_docs_df: DataFrame) -> DataFrame:
    """(term, df, idf). Exact df; Lucene idf = ln(1+(N-df+.5)/(df+.5))."""
    df_t = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (df_t.crossJoin(F.broadcast(n_docs_df))
            .select("term", "df",
                    F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                          / (F.col("df") + 0.5)).alias("idf")))


def corpus_stats(dstats: DataFrame) -> DataFrame:
    """Single row (n_docs, avgdl)."""
    return dstats.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.avg("dl").alias("avgdl"))


# ---------------------------------------------------------------- query side

def query_terms_df(spark, queries: list[tuple[str, str]]) -> DataFrame:
    """(query_id, term, qtf, n_terms) from [(query_id, text)].

    Driver-side tokenization (T1 analog, `colbert_live/models.py:92-93`) —
    queries are tiny; duplicate query terms collapse into qtf, the analog of
    query-embedding pooling (`colbert_live/colbert_live.py:22-49`).
    """
    rows = []
    for qid, qtext in queries:
        toks = py_tokenize(qtext)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for term, qtf in sorted(counts.items()):
            rows.append((qid, term, qtf, len(counts)))
    return spark.createDataFrame(rows, "query_id string, term string, qtf int, n_terms int")


def bm25_weight(tf: Column, dl: Column, avgdl: Column,
                k1: float = BM25_K1, b: float = BM25_B) -> Column:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def score_queries(
    post: DataFrame,
    dstats: DataFrame,
    qterms: DataFrame,
    conjunctive: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) exact BM25, disjunctive by default.

    Join order is scale-shaped: postings (huge) ⋈ broadcast(qterms, tiny)
    prunes to matching terms first, then ⋈ broadcast(term idf). When the
    posting relation carries ``dl`` (``postings_dl`` — the builder's run
    shape), the corpus-cardinality doc-length join disappears from the
    plan entirely (guide §2.4); otherwise the dl join carries NO broadcast
    hint: dstats is one row per document, so a forced broadcast is an OOM
    at scale — AQE converts the shuffle join to broadcast at runtime when
    the matched side is actually small. On a real corpus dl rides inside
    the compressed index (see index/builder.py) so no big-big join exists
    on the serving path at all.
    """
    cstats = corpus_stats(dstats)
    tstats = term_stats(post, cstats.select("n_docs"))
    matched = (post.join(F.broadcast(qterms), "term")
                   .join(F.broadcast(tstats.select("term", "idf")), "term"))
    if "dl" not in post.columns:
        matched = matched.join(dstats, "doc_id")
    matched = matched.crossJoin(F.broadcast(cstats.select("avgdl")))
    contrib = matched.select(
        "query_id", "doc_id", "n_terms",
        (F.col("qtf") * F.col("idf")
         * bm25_weight(F.col("tf"), F.col("dl"), F.col("avgdl"))).alias("w"))
    agg = (contrib.groupBy("query_id", "doc_id")
                  .agg(F.sum("w").alias("score"),
                       F.count(F.lit(1)).alias("terms_hit"),
                       F.first("n_terms").alias("n_terms")))
    if conjunctive:
        agg = agg.filter(F.col("terms_hit") == F.col("n_terms"))
    return agg.select("query_id", "doc_id", "score")


def doc_keywords(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, krank, term, score): per-doc top-k TF-IDF keywords — the
    query-independent document-profiling op of a training-data pipeline
    (tag every page with its most characteristic terms).

    Scale shape: postings is the corpus-sized relation; the tstats join
    keys on term with NO broadcast hint (the full web vocabulary is GBs —
    unlike the query path, nothing narrows it first; both sides derive
    from postings, so AQE picks the join). The per-doc window partitions
    by doc_id (uniform under hash — bounded by per-doc vocab, no skewed
    key) and Catalyst bounds the sort via WindowGroupLimit."""
    post = postings(docs, id_col, text_col)
    cstats = corpus_stats(doc_stats(docs, id_col, text_col))
    tstats = term_stats(post, cstats.select("n_docs"))
    scored = (post.join(tstats.select("term", "idf"), "term")
                  .select("doc_id", "term",
                          (F.col("tf") * F.col("idf")).alias("kw")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("kw"), F.asc("term"))
    return (scored.withColumn("krank", F.row_number().over(w))
                  .filter(F.col("krank") <= k)
                  .select("doc_id", F.col("krank").cast("int").alias("krank"),
                          "term", F.col("kw").alias("score")))


def source_stats(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-source corpus profile (the per-domain/host breakdown a web
    pipeline runs before sampling): doc count, exact char/token sums, a
    rounded chars-per-doc ratio, distinct language count. Sums are exact
    integers (portable across engines — no float accumulation order);
    one hash-shuffle groupBy with map-side partial aggregation."""
    dl = docs.select(F.col(id_col).alias("doc_id"), "source", "lang",
                     "n_chars", F.size(tokenize_expr(text_col)).alias("dl"))
    return (dl.groupBy("source")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.sum("n_chars").cast("long").alias("sum_chars"),
                   F.sum("dl").cast("long").alias("sum_dl"),
                   F.countDistinct("lang").cast("long").alias("n_langs"))
              .withColumn("avg_chars",
                          F.round(F.col("sum_chars")
                                  / F.col("n_docs"), 6)))


def topk(scored: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, rank, doc_id, score) — deterministic tie-break doc_id ASC.

    Per-query top-k via row_number window; Catalyst turns the per-partition
    sort + filter into a bounded partial top-k (WindowGroupLimit), the
    distributed analog of TakeOrderedAndProject (O2/O3,
    `colbert_live/colbert_live.py:199-208`).
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", "doc_id", "score"))


def search(
    spark,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    conjunctive: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end batched search over a raw document table (builds the
    uncompressed index inline). The compressed-index path with WAND pruning
    is ``index.builder.build_index`` + ``operators.wand.wand_search``."""
    post = postings_dl(docs, id_col, text_col)
    dstats = doc_stats(docs, id_col, text_col)
    qterms = query_terms_df(spark, queries)
    return topk(score_queries(post, dstats, qterms, conjunctive=conjunctive), k)
