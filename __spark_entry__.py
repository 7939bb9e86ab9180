"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship batched BM25 top-k over sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — matching DuckDB SQL per query (same column names; float
scores rounded identically on both sides).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: batched disjunctive BM25
    top-10 for the reference query set, served from the COMPRESSED
    doc-sharded index via MaxScore-pruned scoring (the 100 TB serving
    path — no corpus-cardinality relation is ever broadcast; doc lengths
    ride inside the posting lists)."""
    from colbert_live_spark.entry_queries import q_bm25_topk_wand
    return q_bm25_topk_wand(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from colbert_live_spark.entry_queries import query_map
    return query_map()


def oracle_sql() -> dict[str, str]:
    from colbert_live_spark.entry_queries import oracle_map
    return oracle_map()
