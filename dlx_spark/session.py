"""SparkSession construction tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
setting here is chosen to also hold on a large multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to the local core count; on a real cluster AQE
  coalesces from a deliberately high initial number
- UTC session timezone so timestamp semantics match a UTC-naive oracle
  (DuckDB) and are stable across machines
- Arrow enabled for the (rare) pandas-UDF paths

A session that is already running is returned as it is: none of these
settings is applied to it.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def get_spark(app_name: str = "dlx_spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # a running session is returned untouched: its runtime conf belongs
    # to whoever started it (a script entry called in-process must not
    # reset the caller's shuffle partitions, which also size keyed
    # index writes)
    try:
        running = SparkSession.active()
    except PySparkRuntimeError:
        running = None
    # make the package importable in Python workers regardless of the
    # caller's cwd (UDF closures reference dlx_spark modules); on a real
    # cluster ship the package with --py-files instead.  The env var only
    # reaches workers when WE start the JVM — if a session already
    # exists, mutating it would be silently ineffective, so warn instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        if running is not None:
            import warnings
            warnings.warn(
                "get_spark(): a SparkSession already exists, so its Python "
                "workers won't see dlx_spark on PYTHONPATH — UDF closures "
                "importing dlx_spark may fail. Start the session via "
                "get_spark() first, or ship the package with --py-files.")
        else:
            os.environ["PYTHONPATH"] = (pkg_root + os.pathsep + existing) if existing else pkg_root
    if running is not None:
        return running

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches by BYTES, not only rows (guide §4.2): the
        # default 10k-records-per-batch cap is fine for text rows but a
        # media batch of multi-MB binary payloads would build a
        # GiB-scale ArrowRecordBatch in executor memory before the
        # Python worker sees it (the multimodal operators move whole
        # payloads through mapInPandas).  64 MiB caps that; both limits
        # apply — a batch closes when either is hit — so narrow-row
        # paths keep their 10k-row batches (pinned by
        # tests/test_arrow_batch_bound.py)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # nested-schema pruning so JMARC struct scans read only the
        # touched sub-columns (parquet column pruning for array<struct>)
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )

    return builder.getOrCreate()
