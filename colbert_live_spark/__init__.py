"""colbert_live_spark — a from-scratch PySpark-native inverted-index + BM25
retrieval engine with the query/data-processing capabilities of
jbellis/colbert-live (reference at /root/reference, v0.9.0).

The reference serves late-interaction retrieval off a live vector DB:
per-token candidate generation (`colbert_live/db/db.py:10-23`), rank-fusion
cut (`colbert_live/colbert_live.py:189-200`), exact rescore
(`colbert_live/models.py:45-65`), top-k (`colbert_live/colbert_live.py:205-208`).
This engine re-expresses that capability Spark-first as:

- tokenize with JVM built-ins / vectorized Arrow UDFs (never per-row Python),
- per-partition sorted posting lists, delta+varint list compression
  (``index/codec.py``),
- merge into global postings partitioned by doc shard
  (``salt = hash(doc_id) mod D``, one row per (term_id, salt) list), which
  also splits head-term lists,
- query = broadcast query terms ⋈ postings → exact BM25 (k1=1.2, b=0.75)
  or MaxScore-pruned scoring → top-k, rank-identical to a pure-Python
  oracle (the analog of the reference's brute-force oracle ``tests/db.py:29-39``).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
