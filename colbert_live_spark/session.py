"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen to also be correct at 1000-executor / 100 TB scale:

- AQE on (runtime coalesce + skew-join splitting),
- Arrow enabled for every JVM<->Python boundary,
- shuffle partitions sized to cores locally (cluster deployments override via
  ``spark-submit --conf``; the engine never hard-codes partition counts into
  logic — layout decisions use ``df.rdd.getNumPartitions()`` or explicit args),
- Python workers fork from ``colbert_live_spark.daemon``
  (``spark.python.daemon.module``), which makes zipimport cache invalidation
  lazy on CPython 3.10-3.12 as 3.13 does (gh-103200): worker setup calls
  ``importlib.invalidate_caches()`` once per task, which otherwise makes
  each zipimporter (on ``pyspark.zip``, py4j's zip, the spark-core jar)
  re-read its archive's central directory. Only sessions made here run it;
  a spark-submit session keeps pyspark's daemon.
- the directory this package is imported from goes on the workers' path
  (``spark.executorEnv.PYTHONPATH``, which Spark merges with the worker's
  own), so the daemon and the engine's UDFs import it whatever the
  driver's working directory and ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# get_spark only makes local[...] sessions: their workers share this
# process's file system, so the package's parent dir is valid there too
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_bare_scan(df) -> bool:
    """True iff ``df`` is an untransformed file scan (its analyzed logical
    plan is a bare relation). Only then may a caller re-read or re-split its
    input files — doing so to a *transformed* DataFrame would silently
    discard the transformation (filters, id shifts, ...)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        name = plan.getClass().getSimpleName()
        return name in ("LogicalRelation", "LogicalRelationWithTable") \
            and plan.children().isEmpty()
    except Exception:
        return False


def spread_input(df, target: int | None = None):
    """Input-skew guard (guide §2.5 "one huge unsplittable file"): when a
    scan yields fewer partitions than the session's parallelism — a single
    small file, or one giant row group that byte-range splitting cannot cut
    — every downstream tokenize/hash pipeline serializes on one core. Spread
    such inputs with one round-robin exchange of the raw rows. NO-OP when
    the scan already has enough splits (returns ``df`` unchanged), so at
    real scale, where input files provide the parallelism, nothing is ever
    shuffled. Row-identical either way (round-robin placement only).

    Raises ValueError unless ``df`` is a freshly-read scan: ``df.rdd`` is
    driver-side split planning for a file scan (no job), but would trigger
    execution under an adaptive plan with exchanges."""
    if not is_bare_scan(df):
        raise ValueError("spread_input needs an untransformed file scan "
                         "(spark.read.parquet(...)); spread before "
                         "transforming the DataFrame")
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def get_spark(
    app_name: str = "colbert_live_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS or *]``. On a real cluster the
    caller submits with ``spark-submit --py-files`` and master is inherited.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing OFF: it mis-sizes the Arrow-blob scoring shuffle (size
        # estimator vs binary columns) and halves effective parallelism;
        # this engine sizes its stages explicitly via shuffle_partitions
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND isnotnull(e)`
        # pre-filters for explode(e); with e = a tokenize/shingle expression
        # the inferred filters re-evaluate the whole expression per row and
        # predicate pushdown drags them below the input-spread Exchange onto
        # the (often single-task) scan — measured 2-3x the entire pipeline's
        # CPU serialized on one core at sf0.1. Our explodes are over dense
        # text-derived arrays (the filter removes ~nothing), so the rule is
        # pure overhead at any scale.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # workers fork from a daemon that makes per-task zip-cache
        # invalidation lazy (see colbert_live_spark/daemon.py)
        .config("spark.python.daemon.module", "colbert_live_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # local-mode shuffle goes through spark.local.dir; on this sandbox the
    # default /tmp is a virtual disk while /dev/shm is a 126G tmpfs — keep
    # shuffle in RAM (a real cluster overrides via spark-submit conf)
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
