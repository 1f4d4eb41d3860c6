"""Input parallelism for the row-heavy operators.

A small input (a fixture file, one shard of a corpus) often arrives as a
single parquet split, and then every per-row expression above the scan
— tokenize, regex, replace chains, vector folds — runs in one task
however many cores the session has.  ``spread`` round-robins such an
input over ``defaultParallelism`` partitions.  At real scale the input
already has many splits and ``spread`` returns it untouched, so the rule
sizes parallelism to the data and adds no shuffle where none is needed.

Apply it at the entry of operators whose per-row work outweighs one
narrow shuffle of the source rows; cheap passes (a token count, a hash
aggregate that shuffles anyway) are faster without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned round-robin to ``defaultParallelism`` when
    it has fewer than half that many partitions; ``df`` itself
    otherwise, and always for a streaming frame (its micro-batches are
    the source's to split, and it has no RDD to count)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    # the plan->RDD conversion is a driver-side analysis pass; memoize
    # the partition count on the DataFrame object so repeated operator
    # builds over the same (fixture-cached) source pay it once
    cur = getattr(df, "_olap_nparts", None)
    if cur is None:
        cur = df.rdd.getNumPartitions()
        try:
            df._olap_nparts = cur
        except AttributeError:
            pass
    if cur < sc.defaultParallelism // 2:
        return df.repartition(sc.defaultParallelism)
    return df
