"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads);
the configuration below is chosen so the same code scales to a large
cluster unchanged:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- parquet filter pushdown / column pruning left at their defaults (on),
- Arrow transfer for the few pandas-UDF code paths,
- UTC session timezone so timestamp semantics match the DuckDB oracle.

NOTE: this must be the first session creator in the process — static
(pre-JVM) confs like driver memory cannot apply to a pre-existing
session.  On a cluster, pass master/memory via spark-submit; this
factory only falls back to local[] when no master is configured.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkConf
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "olap-storage-engine-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                if shuffle_partitions is not None
                else DEFAULT_SHUFFLE_PARTITIONS
            ),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (the legacy default) carries NO footer min/max stats —
        # it defeats both parquet row-group pruning and the manifest
        # col_stats harvest for timestamp key columns.  TIMESTAMP_MICROS
        # is the modern parquet annotation every engine reads.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # InferFiltersFromGenerate turns explode(attr) into a
        # size(attr)>0 filter that predicate pushdown substitutes
        # through the projections and pushes below repartitions —
        # re-running the expensive tokenize/shingle expressions on the
        # unspread scan partition (measured 6s vs 0.4s per shingle
        # pass at sf0.1).  Row-dropping from empty arrays is not worth
        # a duplicated heavy expression in any of our plans.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Bucketed scans report the bucket files' sortBy order, letting
        # sort-merge joins over co-bucketed tables skip their sorts
        # entirely (q21_bucketed: 4 fact-side sorts -> 0).  Sound ONLY
        # when every bucket holds exactly one sorted file — every
        # bucketed writer in this engine (the bucketed_pair and
        # bucketed_fact_pair artifacts in fixtures.ARTIFACTS,
        # OlapTable.register_bucketed) enforces
        # that by repartitioning on the bucket key before bucketBy+
        # sortBy, so a bucket is written by exactly one task.  Do NOT
        # register foreign bucketed tables with multi-file buckets in
        # this session.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Respect a master from spark-submit/--master or SPARK_MASTER env;
    # fall back to local[] only when nothing configured the master.
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
