"""Similarity search over embedding columns — the vector-native analog of
the reference's core capability (per-token ANN top-n, `colbert_live/db/db.py:
10-23`; brute-force oracle `tests/db.py:29-39`).

- :func:`knn_bruteforce` — exact cosine top-k, all JVM-side (zip_with +
  aggregate in double); the correctness baseline, O(Q·N).
- :func:`knn_ivf` — deterministic IVF: fixed centroid subset, assign via
  argmin over centroids (broadcast), probe ``nprobe`` nearest lists. The
  scale path: the probe join touches only assigned clusters, so cost drops
  to O(Q·N·nprobe/C). Fully deterministic → exactly reproducible by the SQL
  oracle (it is an *approximation* of brute force, but a *deterministic
  function* of its inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _vecd(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _with_norm(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"), _vecd(F.col(vec_col)).alias("v")
    ).withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))


def knn_bruteforce(emb: DataFrame, query_ids: list[int], k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """(query_id, rank, vec_id, cos) exact top-k cosine, self excluded.
    Queries broadcast (tiny); ranking via per-query window top-k."""
    base = _with_norm(emb, id_col, vec_col)
    q = base.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n").alias("qn"))
    scored = (base.crossJoin(F.broadcast(q))
              .filter(F.col("id") != F.col("query_id"))
              .select("query_id", F.col("id").alias("vec_id"),
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("n"))).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos"))


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, v, n, centroid_id): nearest-centroid assignment with ZERO
    shuffle of the corpus (guide §2.4): the C ≪ N centroids collapse into
    ONE array row (tiny agg), broadcast-cross-joined onto every vector,
    and the argmax runs as a per-row fold over that array — no N·C row
    blowup, no groupBy(id) exchange of the corpus (the previous form
    shuffled ~N rows per assignment; there are 3 assignments per 2-iter
    k-means chain). Tie-break identical to the old max_by form: highest
    cos, then lowest centroid_id — the fold's replace-iff-strictly-better
    rule makes the result independent of centroid array order."""
    carr = cents.agg(F.collect_list(
        F.struct("centroid_id", "cv", "cn")).alias("cs"))
    init = F.struct(F.lit(float("-inf")).alias("bc"),
                    F.lit(-1).cast("long").alias("bid"))

    def step(acc, c):
        cos = _dot(F.col("v"), c["cv"]) / (F.col("n") * c["cn"])
        better = (cos > acc["bc"]) | ((cos == acc["bc"])
                                      & (c["centroid_id"] < acc["bid"]))
        return F.when(better, F.struct(cos.alias("bc"),
                                       c["centroid_id"].alias("bid"))
                      ).otherwise(acc)

    best = F.aggregate(F.col("cs"), init, step)
    return (base.crossJoin(F.broadcast(carr))
            .select("id", "v", "n", best["bid"].alias("centroid_id")))


def _portable_id_hash(col):
    """Engine-portable 60-bit hash of an integer id (md5-hex prefix) —
    shared by the Spark plan and the DuckDB oracle for deterministic
    sampling."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def kmeans_centroids(emb: DataFrame, n_centroids: int, iters: int = 2,
                     round_dp: int = 9, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     train_sample: int | None = None) -> DataFrame:
    """(centroid_id, cv, cn): fixed-iteration Lloyd k-means with
    deterministic seeding (the n_centroids lowest-id vectors of the
    training set) and per-iteration centroid rounding to ``round_dp``
    decimals.

    ``train_sample``: train on the ``train_sample`` lowest-hash vectors
    instead of the full corpus — the 100 TB shape: Lloyd iterations over
    10^12 rows per iteration are wasted work (centroid quality converges on
    a sample); assignment of the FULL corpus still happens once, outside
    this function. The sample is deterministic (portable md5-hash order,
    id tie-break) so the DuckDB oracle reproduces it exactly; the top-S
    selection is a TakeOrdered (per-partition bounded heap + driver merge),
    not a global sort.

    The rounding is load-bearing for oracle checkability: element-wise means
    are float sums whose order differs between engines; rounding the means
    (errors ~1e-13 ≪ 0.5·10^-9) makes both engines' centroids bit-identical,
    so assignments — and hence the final index — match exactly. Clusters
    that lose all members simply drop out (both engines agree)."""
    base = _with_norm(emb, id_col, vec_col)
    train = base
    if train_sample is not None:
        train = (base.withColumn("hh", _portable_id_hash(F.col("id")))
                 .orderBy("hh", "id").limit(train_sample).drop("hh"))
    cents = train.orderBy("id").limit(n_centroids).select(
        F.col("id").alias("centroid_id"), F.col("v").alias("cv"),
        F.col("n").alias("cn"))
    for _ in range(iters):
        assigned = _assign(train, cents)
        # SAMPLED training (the scale path — bounded rows): one exchange
        # per iteration, not two. Repartitioning by centroid_id BEFORE the
        # per-(centroid, pos) mean makes hashpartitioning(cid) satisfy the
        # ClusteredDistribution of BOTH aggregations (cid ⊆ (cid, pos)),
        # so the second groupBy needs no new shuffle — verified
        # bit-identical centroids, knn_ivf ~2.5s -> ~1.9s warm at sf0.1.
        # FULL-corpus training keeps the two-exchange form: the repartition
        # ships raw exploded rows (train_rows × dim), losing the map-side
        # partial aggregation that bounds shuffle bytes at C × dim per map
        # partition — correct trade only when the training set is sample-
        # bounded. (A dim-pivoted single-aggregation form — 64 avg columns
        # — was measured 1.5x SLOWER: >100 aggregate buffer fields disable
        # whole-stage codegen; recorded negative, OPTIMIZATION_r06.md.)
        exploded = assigned.select("centroid_id", F.posexplode("v")
                                   .alias("pos", "val"))
        if train_sample is not None:
            exploded = exploded.repartition("centroid_id")
        means = (exploded
                 .groupBy("centroid_id", "pos")
                 .agg(F.round(F.avg("val"), round_dp).alias("m"))
                 .groupBy("centroid_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "m"))),
                     lambda s: s["m"]).alias("cv")))
        cents = means.withColumn(
            "cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    return cents


def _doc_vecs(emb: DataFrame, tokens_per_doc: int, id_col: str,
              vec_col: str) -> DataFrame:
    """(doc_id, tpos, v, n): the multi-vector document model — consecutive
    runs of ``tokens_per_doc`` vec_ids form one document's token-embedding
    set (the reference's one-row-per-token-embedding table,
    `example/cmdline/db.py:38-47`)."""
    base = _with_norm(emb, id_col, vec_col)
    return base.select(
        F.floor(F.col("id") / tokens_per_doc).cast("long").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(tokens_per_doc)).cast("int").alias("tpos"),
        "v", "n")


def _maxsim_score(per_tok: DataFrame, tokens_per_doc: int) -> DataFrame:
    """(query_id, doc_id, score): exact MaxSim from per-(query-token, doc,
    doc-token) cosines — max over doc tokens per query token (order-free
    selection), then an EXPLICIT left-to-right sum over the fixed T query
    tokens, so float summation order is engine-independent (the same
    discipline as the WAND scorer's driver-fixed term order)."""
    pm = (per_tok.groupBy("query_id", "doc_id")
          .agg(*[F.max(F.when(F.col("qtpos") == t, F.col("c")))
                 .alias(f"m{t}") for t in range(tokens_per_doc)]))
    score = F.coalesce(F.col("m0"), F.lit(0.0))
    for t in range(1, tokens_per_doc):
        score = score + F.coalesce(F.col(f"m{t}"), F.lit(0.0))
    return pm.select("query_id", "doc_id", score.alias("score"))


def maxsim_topk(emb: DataFrame, query_doc_ids: list[int], k: int = 10,
                tokens_per_doc: int = 4, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(query_id, rank, doc_id, score) exact multi-vector MaxSim top-k —
    the reference's late-interaction scoring model
    (`colbert_live/models.py:45-65` einsum max-over-doc-tokens,
    sum-over-query-tokens) as a DataFrame plan. Scores EVERY doc (the
    O(Q·N) correctness baseline, the analog of the reference's brute-force
    oracle `tests/db.py:29-39`); the scale path is
    :func:`maxsim_topk_ivf`."""
    dv = _doc_vecs(emb, tokens_per_doc, id_col, vec_col)
    q = dv.filter(F.col("doc_id").isin(query_doc_ids)).select(
        F.col("doc_id").alias("query_id"), F.col("tpos").alias("qtpos"),
        F.col("v").alias("qv"), F.col("n").alias("qn"))
    per_tok = (dv.crossJoin(F.broadcast(q))
               .filter(F.col("doc_id") != F.col("query_id"))
               .select("query_id", "doc_id", "qtpos",
                       (_dot(F.col("qv"), F.col("v"))
                        / (F.col("qn") * F.col("n"))).alias("c")))
    scored = _maxsim_score(per_tok, tokens_per_doc)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def maxsim_topk_ivf(emb: DataFrame, query_doc_ids: list[int], k: int = 10,
                    tokens_per_doc: int = 4, n_centroids: int = 16,
                    nprobe: int = 4, n_ann: int = 20,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    kmeans_iters: int = 2,
                    train_sample: int | None = None,
                    n_maxsim_candidates: int | None = None) -> DataFrame:
    """(query_id, rank, doc_id, score): the reference's serving loop
    (`colbert_live/colbert_live.py:177-208`) composed Spark-first —

    1. per query-token ANN: probe the nprobe nearest IVF lists, keep the
       top ``n_ann`` vector hits per token (C1: per-token index probe with
       a bounded candidate cut, the ``n_ann_docs`` analog);
    2. candidate union: distinct docs over all token hit-lists (C4's fuse
       stage, minus RRF — candidates carry their best observed per-token
       cosine instead of reciprocal ranks);
    3. optional ``n_maxsim_candidates`` cut (C5, the reference's
       `_expand`-sized rescore budget): keep only the top candidates by
       FUSED observed evidence — the sum over query tokens of each doc's
       best observed per-token cosine (doc_id tie-break). This mirrors the
       reference's fuse-before-cut (RRF over per-token rankings,
       `colbert_live/colbert_live.py:189-200`) but fuses the cosines
       themselves, which the replica sweep measured strictly better than
       best-single-token ordering (+0.06 recall@10 at the same budget on
       the uniform corpus). Default None = rescore the full union;
    4. exact MaxSim rescore on candidates only (R3: gather all of a
       candidate doc's token vectors — the PK semi-join R1 — and score
       against all query tokens);
    5. final top-k (R4).

    Cost: O(Q·T·N·nprobe/C) probe + O(Q·cand·T²) rescore with cand ≤
    min(T·n_ann, n_maxsim_candidates) — independent of corpus size in the
    rescore stage, sublinear in the probe; nothing quadratic, nothing
    corpus-sized ever broadcasts."""
    base = _with_norm(emb, id_col, vec_col)
    cents = kmeans_centroids(emb, n_centroids, kmeans_iters,
                             id_col=id_col, vec_col=vec_col,
                             train_sample=train_sample)
    assigned = _assign(base, cents)
    dv = _doc_vecs(emb, tokens_per_doc, id_col, vec_col)
    q = dv.filter(F.col("doc_id").isin(query_doc_ids)).select(
        F.col("doc_id").alias("query_id"), F.col("tpos").alias("qtpos"),
        F.col("v").alias("qv"), F.col("n").alias("qn"))
    qc = (q.crossJoin(F.broadcast(cents))
          .select("query_id", "qtpos", "qv", "qn", "centroid_id",
                  (_dot(F.col("qv"), F.col("cv"))
                   / (F.col("qn") * F.col("cn"))).alias("cos")))
    wq = Window.partitionBy("query_id", "qtpos").orderBy(
        F.desc("cos"), F.asc("centroid_id"))
    probes = (qc.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= nprobe)
              .select("query_id", "qtpos", "qv", "qn", "centroid_id"))
    tok_hits = (assigned.join(F.broadcast(probes), "centroid_id")
                .withColumn("cdoc", F.floor(F.col("id") / tokens_per_doc)
                            .cast("long"))
                .filter(F.col("cdoc") != F.col("query_id"))
                .select("query_id", "qtpos", "id", "cdoc",
                        (_dot(F.col("qv"), F.col("v"))
                         / (F.col("qn") * F.col("n"))).alias("c")))
    wt = Window.partitionBy("query_id", "qtpos").orderBy(
        F.desc("c"), F.asc("id"))
    hits = (tok_hits.withColumn("r", F.row_number().over(wt))
            .filter(F.col("r") <= n_ann))
    if n_maxsim_candidates is None:
        cand = (hits.select("query_id", F.col("cdoc").alias("doc_id"))
                .distinct())
    else:
        # C5 candidate cut: rank the union by FUSED observed evidence —
        # per-token best observed cosine (order-free max selection), then
        # an explicit left-to-right sum over the fixed T query tokens
        # (missing tokens contribute 0.0), so the doubles are bit-identical
        # in both engines; doc_id tie-break; keep top n_maxsim_candidates
        best = (hits.groupBy("query_id", "cdoc")
                .agg(*[F.max(F.when(F.col("qtpos") == t, F.col("c")))
                       .alias(f"m{t}") for t in range(tokens_per_doc)]))
        fused = F.coalesce(F.col("m0"), F.lit(0.0))
        for t in range(1, tokens_per_doc):
            fused = fused + F.coalesce(F.col(f"m{t}"), F.lit(0.0))
        wc = Window.partitionBy("query_id").orderBy(F.desc("fused"),
                                                    F.asc("cdoc"))
        cand = (best.withColumn("fused", fused)
                .withColumn("cr", F.row_number().over(wc))
                .filter(F.col("cr") <= n_maxsim_candidates)
                .select("query_id", F.col("cdoc").alias("doc_id")))
    # join strategy left to AQE (r6: explicit F.broadcast(cand)/(q) hints
    # were measured SLOWER — 3.3-3.9s vs 2.7-3.0s warm at sf0.1 — the
    # forced broadcast exchanges serialize ahead of the main stage while
    # AQE already picks a broadcast from runtime sizes)
    per_tok = (cand.join(dv, "doc_id")
               .join(q, "query_id")
               .select("query_id", "doc_id", "qtpos",
                       (_dot(F.col("qv"), F.col("v"))
                        / (F.col("qn") * F.col("n"))).alias("c")))
    scored = _maxsim_score(per_tok, tokens_per_doc)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def knn_ivf(emb: DataFrame, query_ids: list[int], k: int = 10,
            n_centroids: int = 16, nprobe: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            kmeans_iters: int = 2,
            train_sample: int | None = None) -> DataFrame:
    """(query_id, rank, vec_id, cos) IVF-approximate top-k: probe the
    nprobe nearest centroid lists only (cost O(Q·N·nprobe/C) instead of
    O(Q·N)); centroids from deterministic fixed-iteration k-means.
    ``train_sample`` trains the centroids on a deterministic sample (the
    web-scale shape — see :func:`kmeans_centroids`); the full corpus is
    still assigned and probed."""
    base = _with_norm(emb, id_col, vec_col)
    cents = kmeans_centroids(emb, n_centroids, kmeans_iters,
                             id_col=id_col, vec_col=vec_col,
                             train_sample=train_sample)
    assigned = _assign(base, cents)
    q = base.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("n").alias("qn"))
    qc = (q.crossJoin(F.broadcast(cents))
          .select("query_id", "qv", "qn", "centroid_id",
                  (_dot(F.col("qv"), F.col("cv"))
                   / (F.col("qn") * F.col("cn"))).alias("cos")))
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                F.asc("centroid_id"))
    probes = (qc.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= nprobe)
              .select("query_id", "qv", "qn", "centroid_id"))
    scored = (assigned.join(F.broadcast(probes), "centroid_id")
              .filter(F.col("id") != F.col("query_id"))
              .select("query_id", F.col("id").alias("vec_id"),
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.col("qn") * F.col("n"))).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos"))
