"""Session helpers: ``spread_input`` only spreads bare file scans."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from colbert_live_spark.session import is_bare_scan, spread_input


def test_spread_input_refuses_transformed_scan(spark, sf_dir):
    """A filtered DataFrame is refused loudly: its ``.rdd`` split planning
    could run a job, and a caller re-reading its files would drop the
    filter. The bare scan it came from is spread and keeps every row."""
    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    filtered = scan.filter(F.col("doc_id") < 10)
    assert is_bare_scan(scan) and not is_bare_scan(filtered)
    with pytest.raises(ValueError, match="untransformed file scan"):
        spread_input(filtered)
    spread = spread_input(scan)
    assert spread.rdd.getNumPartitions() >= \
        spark.sparkContext.defaultParallelism
    assert spread.count() == scan.count()
