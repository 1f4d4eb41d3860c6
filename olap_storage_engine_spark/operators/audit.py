"""Write-audit-publish (WAP): data-quality gates between durability
and visibility.

The storage layer already has the two halves — ``OlapTable.write(df,
publish=False)`` lands a rowset PREPARED (durable, invisible;
reference two-phase publish, src/meta.rs:85) and ``commit`` flips it
VISIBLE — this module packages them into the Iceberg-style WAP
pattern every production pipeline runs: stage the batch, run
expectation checks against the STAGED FILES (exactly the bytes
readers would see, not the input DataFrame — a routing or write bug
is caught too), then commit on green or discard on red.  An aborted
batch never becomes visible to any reader, and its version slot is
reclaimed (PREPARED rowsets never extend the version graph).

Scale: the checks are ordinary Spark jobs over one rowset's files —
O(batch), never O(table); a 100 TB table gates a 100 GB batch at
100 GB cost.  Expectations that need table context (e.g. key overlap)
read the table's snapshot alongside, which the API allows since a
check is just ``fn(staged_df) -> bool``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..table import OlapTable


def expect_min_rows(n: int):
    """Batch must carry at least ``n`` rows (guards against an
    upstream outage publishing an empty or truncated batch)."""
    return (f"min_rows({n})", lambda df: df.count() >= n)


def expect_no_nulls(col: str):
    """No NULLs in ``col`` (required-field contract)."""
    return (
        f"no_nulls({col})",
        lambda df: df.filter(F.col(col).isNull()).limit(1).count() == 0,
    )


def expect_unique(cols: list):
    """No duplicate (cols) tuple inside the batch — the pre-publish
    twin of the UNIQUE keys model (which would silently collapse
    duplicates instead of surfacing the upstream bug)."""
    name = f"unique({','.join(cols)})"

    def fn(df: DataFrame) -> bool:
        return (
            df.groupBy(*cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
            == 0
        )

    return (name, fn)


def expect_in_range(col: str, lo=None, hi=None):
    """Every non-null value of ``col`` inside [lo, hi] (domain
    contract; either bound may be None)."""
    name = f"in_range({col},{lo},{hi})"

    def fn(df: DataFrame) -> bool:
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (F.col(col) < lo)
        if hi is not None:
            bad = bad | (F.col(col) > hi)
        return df.filter(bad).limit(1).count() == 0

    return (name, fn)


def write_audit_publish(
    table: OlapTable,
    df: DataFrame,
    checks: list,
    partitions: list | None = None,
) -> tuple[bool, int, list]:
    """Stage ``df`` as a PREPARED rowset, evaluate every check against
    the staged files, then commit (all green) or discard (any red).

    Returns (published, rowset_id, report) where report is
    [(check_name, passed), ...] — the audit log a pipeline records
    next to the publish.  All checks run even after a failure so the
    report is complete.  Discarded rowsets are invisible forever and
    reclaimable by normal GC; the version slot is never consumed
    (PREPARED intervals don't extend the graph until commit).
    """
    rs = table.write(df, publish=False, partitions=partitions)
    staged = table.spark.read.option("basePath", table.root).parquet(
        os.path.join(table.root, rs.path)
    )
    report = [(name, bool(fn(staged))) for name, fn in checks]
    ok = all(passed for _, passed in report)
    if ok:
        table.commit(rs.rowset_id)
    else:
        table.manifest.with_retry(
            lambda m: m.mark_stale([rs.rowset_id], reason="discarded")
        )
    return ok, rs.rowset_id, report
