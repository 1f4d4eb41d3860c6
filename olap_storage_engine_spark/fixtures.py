"""Fixture OlapTables and publish-time artifacts built from the driver
test data.

Each builder writes one engine table (spec + manifest + versioned
Parquet) into a per-process warehouse, once per (sf_dir, table); the
declared queries in __spark_entry__.py read through these so every
correctness row exercises the real write -> route -> publish -> cover ->
collapse path, not a bare ``spark.read``.

Version fixtures mirror the reference demo (examples/basic_usage.rs:
222-283): multiple single-version rowsets, a compacted interval, and a
hole case (tested in tests/, not in declared queries).

Publish-time artifacts (index tables, trained models, interchange
exports, managed bucketed tables) are declared once each, in
``ARTIFACTS``: an entry's name is its warehouse directory and its cache
key, and it lists the source tables whose files validate the cache and
the build that writes it.  Readers go through ``artifact_path`` (build
once, return what the build returned), ``read_artifact`` (a parquet
artifact as a DataFrame, with the schema resolved once from a file
footer and cached with the path, so reads launch no schema-inference
job) and ``artifact_rows`` (driver-sized artifacts as tuples via
pyarrow, no Spark job at all).
"""

from __future__ import annotations

import os
import re
import tempfile
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from .sources.testdata import load_table
from .spec import (
    AggregateType,
    BucketSpec,
    BucketType,
    ColumnSpec,
    ColumnType,
    KeysType,
    PartitionPolicy,
    PartitionType,
    TableSpec,
)
from .table import OlapTable

_WAREHOUSE: dict[str, str] = {}
_TABLES: dict[tuple[str, str], OlapTable] = {}
_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_META_LOCK = threading.Lock()


def warehouse_for(sf_dir: str) -> str:
    with _META_LOCK:
        if sf_dir not in _WAREHOUSE:
            _WAREHOUSE[sf_dir] = tempfile.mkdtemp(prefix="olap_wh_")
        return _WAREHOUSE[sf_dir]


def get_table(spark: SparkSession, sf_dir: str, name: str) -> OlapTable:
    key = (sf_dir, name)
    with _META_LOCK:
        if key in _TABLES:
            return _TABLES[key]
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:  # one builder per table; Spark jobs from other threads proceed
        if key not in _TABLES:
            _TABLES[key] = _BUILDERS[name](spark, sf_dir)
        return _TABLES[key]


def build_all(spark: SparkSession, sf_dir: str, parallelism: int = 4) -> None:
    """Build every fixture table and every ``ARTIFACTS`` entry,
    ``parallelism`` at a time — Spark's scheduler runs jobs from
    separate driver threads concurrently, so wall time is bounded by
    the largest builds, not the sum.  Index training and export writes
    are one-time build costs by design, so queries — and the bench —
    time the serving path only.  A build that needs another table or
    artifact calls its accessor; the per-key lock orders them."""
    from concurrent.futures import ThreadPoolExecutor

    # the olapseg artifact builds SERIALLY before the pool: Python
    # data-source resolution is main-thread-bound in this Spark (a
    # save() issued from a secondary py4j thread fails DATA_SOURCE_
    # NOT_FOUND even after re-registration) — every query-path olapseg
    # write runs on the driver main thread, so only build_all needs
    # this care
    artifact_path(spark, sf_dir, "segtbl_dir")
    # orders_rollup reads orders_agg: build dependencies first
    get_table(spark, sf_dir, "orders_agg")
    with ThreadPoolExecutor(max_workers=parallelism) as ex:
        tables = ex.map(lambda n: get_table(spark, sf_dir, n), _BUILDERS)
        arts = ex.map(lambda n: artifact_path(spark, sf_dir, n), ARTIFACTS)
        list(tables), list(arts)


# ---------------------------------------------------------------- orders


def _orders_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.withColumn("o_orderdate", F.to_date("o_orderdate"))


# orders o_orderdate spans 1995-01-01 .. 2001-08-01 in the test data
ORDER_RANGE_BOUNDS = [
    ("p1995", "1996-01-01"),
    ("p1996", "1997-01-01"),
    ("p1997", "1998-01-01"),
    ("p1998", "1999-01-01"),
    ("p1999", "2000-01-01"),
    ("p2000", "2001-01-01"),
    ("pmax", "9999-12-31"),
]


def _build_orders_dup(spark: SparkSession, sf_dir: str) -> OlapTable:
    """DUPLICATE keys model, RANGE-partitioned by order year, HASH
    buckets on o_custkey (reference demo shape,
    examples/basic_usage.rs:76-121)."""
    spec = TableSpec(
        name="orders_dup",
        columns=[
            ColumnSpec.key("o_orderdate", ColumnType.DATE),
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_custkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
            ColumnSpec.value("o_orderpriority", ColumnType.VARCHAR),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "o_orderdate", bounds=ORDER_RANGE_BOUNDS
        ),
        bucket=BucketSpec(BucketType.HASH, "o_custkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(
        _orders_df(spark, sf_dir).select(
            "o_orderdate",
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
        )
    )
    return t


def _build_orders_agg(spark: SparkSession, sf_dir: str) -> OlapTable:
    """AGGREGATE keys model: (o_orderdate, o_custkey) -> SUM price,
    SUM n_orders (SURVEY §7.2 M1 flagship table)."""
    spec = TableSpec(
        name="orders_agg",
        columns=[
            ColumnSpec.key("o_orderdate", ColumnType.DATE),
            ColumnSpec.key("o_custkey", ColumnType.INT64),
            ColumnSpec.value("sum_price", ColumnType.FLOAT64, AggregateType.SUM),
            ColumnSpec.value("n_orders", ColumnType.INT64, AggregateType.SUM),
        ],
        keys_type=KeysType.AGGREGATE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "o_orderdate", bounds=ORDER_RANGE_BOUNDS
        ),
        bucket=BucketSpec(BucketType.HASH, "o_custkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(
        _orders_df(spark, sf_dir).select(
            "o_orderdate",
            "o_custkey",
            F.col("o_totalprice").alias("sum_price"),
            F.lit(1).cast("long").alias("n_orders"),
        )
    )
    return t


def _build_lineitem_agg(spark: SparkSession, sf_dir: str) -> OlapTable:
    """AGGREGATE keys model with MIN/MAX/SUM value columns."""
    spec = TableSpec(
        name="lineitem_agg",
        columns=[
            ColumnSpec.key("l_orderkey", ColumnType.INT64),
            ColumnSpec.value("min_price", ColumnType.FLOAT64, AggregateType.MIN),
            ColumnSpec.value("max_price", ColumnType.FLOAT64, AggregateType.MAX),
            ColumnSpec.value("sum_qty", ColumnType.FLOAT64, AggregateType.SUM),
            ColumnSpec.value("n_lines", ColumnType.INT64, AggregateType.SUM),
        ],
        keys_type=KeysType.AGGREGATE,
        bucket=BucketSpec(BucketType.HASH, "l_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(
        li.select(
            "l_orderkey",
            F.col("l_extendedprice").alias("min_price"),
            F.col("l_extendedprice").alias("max_price"),
            F.col("l_quantity").alias("sum_qty"),
            F.lit(1).cast("long").alias("n_lines"),
        )
    )
    return t


def _versioned_orders(spark: SparkSession, sf_dir: str):
    """v1 = all orders; v2 = every 10th order re-ingested with doubled
    price and UPDATED status — the deterministic two-version fixture
    shared by the unique/replace queries and their SQL oracles."""
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v2 = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("UPDATED"))
    )
    return base, v2


def _build_orders_unique(spark: SparkSession, sf_dir: str) -> OlapTable:
    """UNIQUE keys model: same key across versions -> latest wins."""
    spec = TableSpec(
        name="orders_unique",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_custkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    v1, v2 = _versioned_orders(spark, sf_dir)
    t.write(v1)
    t.write(v2)
    return t


def _build_orders_replace(spark: SparkSession, sf_dir: str) -> OlapTable:
    """AGGREGATE keys model exercising REPLACE (latest status wins)
    alongside SUM (prices accumulate across versions)."""
    spec = TableSpec(
        name="orders_replace",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value(
                "o_orderstatus", ColumnType.VARCHAR, AggregateType.REPLACE
            ),
            ColumnSpec.value(
                "o_totalprice", ColumnType.FLOAT64, AggregateType.SUM
            ),
        ],
        keys_type=KeysType.AGGREGATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    v1, v2 = _versioned_orders(spark, sf_dir)
    t.write(v1.select("o_orderkey", "o_orderstatus", "o_totalprice"))
    t.write(v2.select("o_orderkey", "o_orderstatus", "o_totalprice"))
    return t


def _build_orders_rollup(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Materialized rollup (reference A15: rollup_indexes — declared in
    metadata there, real here): coarser key set (o_orderdate only),
    derived from the orders_agg base table's collapsed view."""
    base = get_table(spark, sf_dir, "orders_agg")
    spec = TableSpec(
        name="orders_rollup",
        columns=[
            ColumnSpec.key("o_orderdate", ColumnType.DATE),
            ColumnSpec.value("sum_price", ColumnType.FLOAT64, AggregateType.SUM),
            ColumnSpec.value("n_orders", ColumnType.INT64, AggregateType.SUM),
        ],
        keys_type=KeysType.AGGREGATE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "o_orderdate", bounds=ORDER_RANGE_BOUNDS
        ),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(base.read().select("o_orderdate", "sum_price", "n_orders"))
    return t


def _lineorder_mvs(spark: SparkSession, sf_dir: str):
    """Build-once pair of materialized views over ONE shared fact
    table: the fact (lineitem keyed on l_orderkey) lands in three
    publishes, and after each publish BOTH MVs delta-refresh from the
    same rowset — the JOIN MV appends delta⋈dim pre-joined rows
    (operators/rollup.join_mv_delta_refresh) and the AGGREGATE-over-
    JOIN MV appends the delta's partial aggregate
    (join_agg_mv_delta_refresh), merged by the keys-model collapse at
    read.  One fact, one dim, two derived layouts — the production MV
    topology (and no duplicate fact copies in the warehouse)."""
    from .operators.rollup import (
        join_agg_mv_delta_refresh,
        join_mv_delta_refresh,
    )

    def build():
        fact_spec = TableSpec(
            name="lineorder_fact",
            columns=[
                ColumnSpec.key("l_orderkey", ColumnType.INT64),
                ColumnSpec.value("l_extendedprice", ColumnType.FLOAT64),
                ColumnSpec.value("l_discount", ColumnType.FLOAT64),
            ],
            keys_type=KeysType.DUPLICATE,
            bucket=BucketSpec(BucketType.HASH, "l_orderkey", 4),
        )
        fact = OlapTable.create(
            spark, fact_spec, warehouse_for(sf_dir), overwrite=True
        )
        mv_spec = TableSpec(
            name="lineorder_mv",
            columns=[
                ColumnSpec.key("l_orderkey", ColumnType.INT64),
                ColumnSpec.value("l_extendedprice", ColumnType.FLOAT64),
                ColumnSpec.value("l_discount", ColumnType.FLOAT64),
                ColumnSpec.value("o_orderdate", ColumnType.DATE),
                ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ],
            keys_type=KeysType.DUPLICATE,
            bucket=BucketSpec(BucketType.HASH, "l_orderkey", 4),
        )
        mv = OlapTable.create(
            spark, mv_spec, warehouse_for(sf_dir), overwrite=True
        )
        agg_mv_spec = TableSpec(
            name="lineorder_agg_mv",
            columns=[
                ColumnSpec.key("o_year", ColumnType.INT32),
                ColumnSpec.key("o_orderstatus", ColumnType.VARCHAR),
                ColumnSpec.value(
                    "revenue_micro", ColumnType.INT64, AggregateType.SUM
                ),
                ColumnSpec.value(
                    "n_lines", ColumnType.INT64, AggregateType.SUM
                ),
            ],
            keys_type=KeysType.AGGREGATE,
        )
        agg_mv = OlapTable.create(
            spark, agg_mv_spec, warehouse_for(sf_dir), overwrite=True
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        dim = _orders_df(spark, sf_dir).select(
            F.col("o_orderkey"), "o_orderdate", "o_orderstatus"
        )
        agg_dim = dim.withColumn(
            "o_year", F.year("o_orderdate").cast("int")
        ).select("o_orderkey", "o_year", "o_orderstatus")
        aggs = [
            F.sum(
                (
                    (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    .cast("decimal(18,6)")
                    * 1000000
                ).cast("long")
            ).alias("revenue_micro"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        ]
        on = F.col("l_orderkey") == F.col("o_orderkey")
        for i in range(3):
            rs = fact.write(li.filter(F.col("l_orderkey") % 3 == i))
            join_mv_delta_refresh(
                fact, dim, mv, rs.start_version, rs.end_version, on
            )
            join_agg_mv_delta_refresh(
                fact,
                agg_dim,
                agg_mv,
                rs.start_version,
                rs.end_version,
                on,
                aggs,
            )
        return (mv, agg_mv)

    return _aux_cached("lineorder_mvs", sf_dir, build, ("lineitem", "orders"))


def _build_lineorder_mv(spark: SparkSession, sf_dir: str) -> OlapTable:
    return _lineorder_mvs(spark, sf_dir)[0]


def _build_lineorder_agg_mv(spark: SparkSession, sf_dir: str) -> OlapTable:
    return _lineorder_mvs(spark, sf_dir)[1]


def _build_customer_list(spark: SparkSession, sf_dir: str) -> OlapTable:
    """LIST-partitioned customer table on c_mktsegment."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    spec = TableSpec(
        name="customer_list",
        columns=[
            ColumnSpec.key("c_custkey", ColumnType.INT64),
            ColumnSpec.value("c_name", ColumnType.VARCHAR),
            ColumnSpec.value("c_nationkey", ColumnType.INT32),
            ColumnSpec.value("c_acctbal", ColumnType.FLOAT64),
            ColumnSpec.value("c_mktsegment", ColumnType.VARCHAR),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.LIST, "c_mktsegment", mapping={s: s for s in segs}
        ),
        bucket=BucketSpec(BucketType.HASH, "c_custkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(load_table(spark, sf_dir, "customer"))
    return t


def _build_lineitem_ship(spark: SparkSession, sf_dir: str) -> OlapTable:
    """lineitem keyed (sorted) by ship date — the zone-map fixture:
    sorted writes make Parquet row-group min/max stats tight so range
    predicates skip row groups (reference A16/A18)."""
    spec = TableSpec(
        name="lineitem_ship",
        columns=[
            ColumnSpec.key("l_shipdate", ColumnType.TIMESTAMP),
            ColumnSpec.key("l_orderkey", ColumnType.INT64),
            ColumnSpec.key("l_linenumber", ColumnType.INT32),
            ColumnSpec.value("l_quantity", ColumnType.FLOAT64),
            ColumnSpec.value("l_extendedprice", ColumnType.FLOAT64),
            ColumnSpec.value("l_discount", ColumnType.FLOAT64),
            ColumnSpec.value("l_returnflag", ColumnType.VARCHAR),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "l_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(
        li.select(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
        )
    )
    return t


def _build_lineitem_key(spark: SparkSession, sf_dir: str) -> OlapTable:
    """lineitem keyed by (l_orderkey, l_linenumber) — the short-key /
    point-lookup fixture; bloom filter on l_orderkey at write."""
    spec = TableSpec(
        name="lineitem_key",
        columns=[
            ColumnSpec.key("l_orderkey", ColumnType.INT64),
            ColumnSpec.key("l_linenumber", ColumnType.INT32),
            ColumnSpec.value("l_partkey", ColumnType.INT64),
            ColumnSpec.value("l_suppkey", ColumnType.INT64),
            ColumnSpec.value("l_quantity", ColumnType.FLOAT64),
            ColumnSpec.value("l_extendedprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "l_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
        )
    )
    return t


def _split_write(t: OlapTable, df: DataFrame, col: str, parts: int) -> None:
    for i in range(parts):
        t.write(df.filter(F.col(col) % parts == i))


def _build_orders_versions(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Three single-version rowsets (orders split by o_orderkey % 3) —
    the snapshot-read fixture (reference examples/basic_usage.rs:222-249)."""
    spec = TableSpec(
        name="orders_versions",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_custkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    _split_write(t, base, "o_orderkey", 3)
    return t


def _build_orders_gc(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Three single-version rowsets (orders split by o_orderkey % 3) —
    the retention-GC fixture: the gc_retention_read query compacts it,
    physically GCs with min_retained_version=1, and reads the retained
    pre-compaction snapshot [0, 1] through the time-travel graph."""
    spec = TableSpec(
        name="orders_gc",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    _split_write(t, base, "o_orderkey", 3)
    return t


def _build_orders_multi(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Five single-version rowsets — the compaction fixture
    (reference examples/basic_usage.rs:254-270)."""
    spec = TableSpec(
        name="orders_multi",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    _split_write(t, base, "o_orderkey", 5)
    return t


def _build_orders_compact(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Separate five-rowset table mutated by the compaction_rewrite
    query, so compaction_score's fixtures stay pristine regardless of
    query execution order."""
    spec = TableSpec(
        name="orders_compact",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    _split_write(t, base, "o_orderkey", 5)
    return t


def _build_orders_two(spark: SparkSession, sf_dir: str) -> OlapTable:
    spec = TableSpec(
        name="orders_two",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select("o_orderkey", "o_totalprice")
    _split_write(t, base, "o_orderkey", 2)
    return t


def _build_lineitem_rt(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Full-width lineitem round-trip table (write_read_roundtrip)."""
    spec = TableSpec(
        name="lineitem_rt",
        columns=[
            ColumnSpec.key("l_orderkey", ColumnType.INT64),
            ColumnSpec.key("l_linenumber", ColumnType.INT32),
            ColumnSpec.value("l_partkey", ColumnType.INT64),
            ColumnSpec.value("l_suppkey", ColumnType.INT64),
            ColumnSpec.value("l_quantity", ColumnType.FLOAT64),
            ColumnSpec.value("l_extendedprice", ColumnType.FLOAT64),
            ColumnSpec.value("l_discount", ColumnType.FLOAT64),
            ColumnSpec.value("l_tax", ColumnType.FLOAT64),
            ColumnSpec.value("l_returnflag", ColumnType.VARCHAR),
            ColumnSpec.value("l_linestatus", ColumnType.VARCHAR),
            ColumnSpec.value("l_shipdate", ColumnType.TIMESTAMP),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "l_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    li = load_table(spark, sf_dir, "lineitem")
    t.write(
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        )
    )
    return t


def _build_orders_delete(spark: SparkSession, sf_dir: str) -> OlapTable:
    """DELETE fixture: duplicate-model orders with all 'F'-status rows
    deleted through the copy-on-write rewrite — version 0 keeps the
    full data (time travel sees it), version 1 is the post-delete
    state."""
    from .operators.compaction import delete_where

    spec = TableSpec(
        name="orders_delete",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(
        _orders_df(spark, sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    delete_where(t, F.col("o_orderstatus") == "F")
    return t


def _build_doc_postings(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Inverted text index as a secondary-index table: one row per
    (term, doc_id), HASH-bucketed by term so a term lookup is a
    bucket-routed point read (1/num_buckets of the files listed, then
    stats/bloom skipping inside the bucket) — the Doris inverted-index
    idea built from the engine's own primitives."""
    from .operators.dedup import shingles

    spec = TableSpec(
        name="doc_postings",
        columns=[
            ColumnSpec.key("term", ColumnType.VARCHAR),
            ColumnSpec.value("doc_id", ColumnType.INT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "term", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    docs = load_table(spark, sf_dir, "documents")
    t.write(
        shingles(docs, n=1).select(
            F.col("shingle").alias("term"), "doc_id"
        )
    )
    return t


def _build_orders_merge(spark: SparkSession, sf_dir: str) -> OlapTable:
    """MERGE INTO fixture: UNIQUE-model orders, one deterministic merge
    applied through the copy-on-write rewrite — every 7th order updated
    (status MERGED, price doubled — exact in binary, so the oracle's
    rounding can't diverge on half-way cents), plus new rows inserted
    under shifted keys.  Version 0 keeps the pre-merge data (time travel — asserted
    in tests); version 1 is the merged state."""
    from .operators.compaction import merge_into

    spec = TableSpec(
        name="orders_merge",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_custkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t.write(base)
    updates = (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("MERGED"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = base.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("NEWROW").alias("o_orderstatus"),
        "o_totalprice",
    )
    merge_into(t, updates.unionByName(inserts))
    return t


def _build_orders_part_merge(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Partition-scoped MERGE fixture: RANGE-partitioned (by order
    year) UNIQUE orders, one merge whose source rows all fall in 1996 —
    published as a rowset scoped to the single partition ``p1996``
    (operators/compaction.py merge_into), so every other year's files
    stay byte-identical.  This is the O(affected partitions) DML path
    the reference's per-tablet rowsets imply (src/meta.rs:90-121);
    the one-partition-only property is pinned at build time here and
    in tests/test_partition_scoped_dml.py."""
    from .operators.compaction import merge_into

    spec = TableSpec(
        name="orders_part_merge",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderdate", ColumnType.DATE),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "o_orderdate", bounds=ORDER_RANGE_BOUNDS
        ),
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    t.write(base)
    in_1996 = (F.col("o_orderdate") >= F.lit("1996-01-01")) & (
        F.col("o_orderdate") < F.lit("1997-01-01")
    )
    updates = (
        base.filter(in_1996 & (F.col("o_orderkey") % 11 == 0))
        .withColumn("o_orderstatus", F.lit("SCOPED"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    inserts = base.filter(in_1996 & (F.col("o_orderkey") % 500 == 0)).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_orderdate",
        F.lit("NEWROW").alias("o_orderstatus"),
        "o_totalprice",
    )
    rs = merge_into(t, updates.unionByName(inserts))
    assert rs.partitions == ["p1996"], rs.partitions
    return t


def _build_documents_ver(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Documents as a two-rowset engine table: version 0 = the base
    corpus (doc_id % 5 != 0), version 1 = a later published delta
    (doc_id % 5 == 0) — the fixture for incremental index maintenance
    on publish."""
    spec = TableSpec(
        name="documents_ver",
        columns=[
            ColumnSpec.key("doc_id", ColumnType.INT64),
            ColumnSpec.value("text", ColumnType.VARCHAR),
            ColumnSpec.value("lang", ColumnType.VARCHAR),
            ColumnSpec.value("source", ColumnType.VARCHAR),
            ColumnSpec.value("n_chars", ColumnType.INT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "doc_id", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    docs = load_table(spark, sf_dir, "documents")
    t.write(docs.filter(F.col("doc_id") % 5 != 0))  # version 0: base
    t.write(docs.filter(F.col("doc_id") % 5 == 0))  # version 1: delta
    return t


def _build_doc_postings_fresh(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Incrementally-maintained inverted index: built from the base
    corpus rowset only, then refreshed for the delta publish via
    ``postings_delta_refresh`` — shingling ONLY the delta rowset
    (version 1 of documents_ver).  The index's own rowset 1 therefore
    holds exactly the delta docs' postings, which the declared query
    probes (its min term comes from footer stats of that rowset
    alone)."""
    from .operators.indexes import postings_delta_refresh, postings_from

    dv = get_table(spark, sf_dir, "documents_ver")
    spec = TableSpec(
        name="doc_postings_fresh",
        columns=[
            ColumnSpec.key("term", ColumnType.VARCHAR),
            ColumnSpec.value("doc_id", ColumnType.INT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "term", 8),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(postings_from(dv.read(0, 0)))  # full build over the base
    postings_delta_refresh(dv, t, 1, 1)  # incremental: delta only
    return t


def _build_embeddings_ver(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Embeddings as a two-rowset engine table: version 0 = the base
    corpus (vec_id % 10 != 0), version 1 = a later published delta
    (vec_id % 10 == 0) — the versioned source for incremental
    ANN-index maintenance on publish."""
    spec = TableSpec(
        name="embeddings_ver",
        columns=[
            ColumnSpec.key("vec_id", ColumnType.INT64),
            ColumnSpec.value("embedding", ColumnType.ARRAY_FLOAT),
            ColumnSpec.value("label", ColumnType.INT32),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "vec_id", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    emb = load_table(spark, sf_dir, "embeddings")
    t.write(emb.filter(F.col("vec_id") % 10 != 0))  # version 0: base
    t.write(emb.filter(F.col("vec_id") % 10 == 0))  # version 1: delta
    return t


def _build_emb_cells(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Persisted IVF cell table: every corpus vector stored WITH its
    coarse-quantizer cell id, LIST-partitioned by cent_id — the real
    100 TB IVF layout, where serving reads ONLY the probed cells'
    partition directories instead of re-assigning the whole corpus per
    query (reference A15 materialized-index metadata made physical).

    Built incrementally like doc_postings_fresh: full assignment of the
    base rowset, then ``ivf_cells_delta_refresh`` for the delta publish
    — so the fixture also pins publish-time ANN-index maintenance.
    The LIST partition values are the trained cent_ids (known at
    index-build time, exactly when the table is created)."""
    from .operators.indexes import ivf_cells_delta_refresh
    from .operators.similarity import ivf_cell_assign

    ev = get_table(spark, sf_dir, "embeddings_ver")
    cents = read_artifact(spark, sf_dir, "ivf_centroids")
    cent_ids = sorted(
        c for c, in artifact_rows(spark, sf_dir, "ivf_centroids", ("cent_id",))
    )
    spec = TableSpec(
        name="emb_cells",
        columns=[
            ColumnSpec.key("cent_id", ColumnType.INT64),
            ColumnSpec.key("vec_id", ColumnType.INT64),
            ColumnSpec.value("embedding", ColumnType.ARRAY_FLOAT),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.LIST,
            "cent_id",
            mapping={str(c): f"c{c}" for c in cent_ids},
        ),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    t.write(ivf_cell_assign(ev.read(0, 0), cents))  # full build: base
    ivf_cells_delta_refresh(ev, t, cents, 1, 1)  # incremental: delta
    return t


def _build_emb_cells_pq(spark: SparkSession, sf_dir: str) -> OlapTable:
    """IVF-PQ cell table: the emb_cells layout with the vectors
    REPLACED by their m-byte PQ codes — LIST-partitioned by cent_id so
    serving reads only the probed cells, and those reads move codes
    (~64x smaller) instead of float arrays.  The exact-rescore step
    fetches true vectors for the candidate set only."""
    from .operators.similarity import ivf_cell_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cents = read_artifact(spark, sf_dir, "ivf_centroids")
    cent_ids = sorted(
        c for c, in artifact_rows(spark, sf_dir, "ivf_centroids", ("cent_id",))
    )
    codes = read_artifact(spark, sf_dir, "pq_codes")
    spec = TableSpec(
        name="emb_cells_pq",
        columns=[
            ColumnSpec.key("cent_id", ColumnType.INT64),
            ColumnSpec.key("vec_id", ColumnType.INT64),
            ColumnSpec.value("codes", ColumnType.ARRAY_INT64),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.LIST,
            "cent_id",
            mapping={str(c): f"c{c}" for c in cent_ids},
        ),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    assigned = ivf_cell_assign(emb, cents).select("cent_id", "vec_id")
    t.write(assigned.join(codes, "vec_id").select("cent_id", "vec_id", "codes"))
    return t


def _build_events_sketch(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Persisted mergeable-sketch rollup: per-day HLL sketches of
    distinct users, written as TWO publishes of partial sketches
    (event_id % 4 splits — every day gets partials in both rowsets, so
    the read-time union genuinely merges).  The sketch algebra makes
    publish-time maintenance append-only: no read-modify-write, each
    new rowset just adds its partials."""
    from .operators.sketches import group_sketch

    spec = TableSpec(
        name="events_sketch",
        columns=[
            ColumnSpec.key("day", ColumnType.DATE),
            ColumnSpec.value("sketch", ColumnType.BINARY),
        ],
        keys_type=KeysType.DUPLICATE,
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("day")
    )
    t.write(group_sketch(ev.filter(F.col("event_id") % 4 != 0), ["day"], "user_id"))
    t.write(group_sketch(ev.filter(F.col("event_id") % 4 == 0), ["day"], "user_id"))
    return t


def _build_orders_pcompact(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Per-partition compaction fixture: RANGE-partitioned orders
    ingested as two versions, then ONLY the 1995/1996 partitions
    compacted (operators/compaction.compact_partitions) — a scoped
    collapsed rowset serves those labels while the global rowsets keep
    serving the rest, files untouched."""
    from .operators.compaction import compact_partitions

    spec = TableSpec(
        name="orders_pcompact",
        columns=[
            ColumnSpec.key("o_orderdate", ColumnType.DATE),
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "o_orderdate", bounds=ORDER_RANGE_BOUNDS
        ),
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderdate", "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t.write(base.filter(F.col("o_orderkey") % 2 == 0))
    t.write(base.filter(F.col("o_orderkey") % 2 == 1))
    compact_partitions(t, ["p1995", "p1996"])
    return t


def _build_orders_rollback(spark: SparkSession, sf_dir: str) -> OlapTable:
    """MVCC rollback fixture: v0 = base orders, v1 = every-10th-order
    UPDATE (UNIQUE model), then ``rollback(0)`` — the v1 rowset flips
    STALE, max_version resets, and reads serve the v0 snapshot as if
    the update never published.  The declared query reads the
    rolled-back table; its oracle is the plain base data."""
    spec = TableSpec(
        name="orders_rollback",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_custkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    v1, v2 = _versioned_orders(spark, sf_dir)
    t.write(v1)
    t.write(v2)
    t.rollback(0)
    return t


def _build_orders_ranges(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Three publishes of disjoint o_orderkey ranges — each rowset's
    manifest col_stats (harvested from footers at write time) then
    cover a distinct key band, so a key-range read can skip whole
    rowsets driver-side (table.read_skipped)."""
    spec = TableSpec(
        name="orders_ranges",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    o = _orders_df(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    hi = o.agg(F.max("o_orderkey")).collect()[0][0]
    cut1, cut2 = hi // 3, 2 * hi // 3
    t.write(o.filter(F.col("o_orderkey") <= cut1))
    t.write(
        o.filter((F.col("o_orderkey") > cut1) & (F.col("o_orderkey") <= cut2))
    )
    t.write(o.filter(F.col("o_orderkey") > cut2))
    return t


def _build_events_qsketch(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Round-5 sibling of events_sketch for the OTHER two mergeable
    sketch families: per-day KLL quantile partials over the event
    value and Theta set-operation partials over user_id, again as two
    publishes so read-time merging is genuinely exercised."""
    from .operators.sketches import group_kll_sketch, group_theta_sketch

    spec = TableSpec(
        name="events_qsketch",
        columns=[
            ColumnSpec.key("day", ColumnType.DATE),
            ColumnSpec.value("kll", ColumnType.BINARY),
            ColumnSpec.value("theta", ColumnType.BINARY),
        ],
        keys_type=KeysType.DUPLICATE,
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.to_date("ts").alias("day")
    )
    for part in [ev.filter(F.col("event_id") % 4 != 0),
                 ev.filter(F.col("event_id") % 4 == 0)]:
        kll = group_kll_sketch(part, ["day"], "value")
        theta = group_theta_sketch(part, ["day"], "user_id")
        t.write(kll.join(theta, "day"))
    return t


def _build_docs_freqitems(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Round-9 fourth mergeable rollup family: per-language frequent-
    token partials over the documents corpus (sketches.
    group_freq_items — top-k truncated counts + residual mass), as two
    publishes split on doc_id % 3 so read-time merging is genuinely
    exercised.  The fixture vocabulary (31 distinct tokens) sits under
    k=64, so residuals are 0 and the rollup serves EXACT counts — the
    same exact-regime discipline as the HLL/KLL/Theta fixtures."""
    from .operators.sketches import group_freq_items

    spec = TableSpec(
        name="docs_freqitems",
        columns=[
            ColumnSpec.key("lang", ColumnType.VARCHAR),
            ColumnSpec.value("item", ColumnType.VARCHAR),
            ColumnSpec.value("cnt", ColumnType.INT64),
        ],
        keys_type=KeysType.DUPLICATE,
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    for part in [
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
    ]:
        t.write(group_freq_items(part, ["lang"], "token", k=64))
    return t


def _build_orders_evolve(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Additive schema evolution fixture: rowset 0 written under the
    v1 schema (no ``note`` column), then ``add_column``, then rowset 1
    written with it — reads must surface the old rowset's missing
    column as typed nulls and the new rowset's values verbatim."""
    spec = TableSpec(
        name="orders_evolve",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t.write(base.filter(F.col("o_orderkey") % 2 == 0))
    t.add_column(ColumnSpec.value("note", ColumnType.VARCHAR))
    t.write(
        base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "note", F.lit("v2")
        )
    )
    return t


def _build_orders_evolve_nonadd(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Non-additive schema evolution fixture (r10): rowset 0 written
    under the v1 schema with an ``o_comment`` column (later dropped)
    and an ``o_orderstatus`` column (later renamed to ``status``);
    rowset 1 written under the evolved schema.  Reads must serve BOTH
    generations under the current layout: the drop projected away from
    old files, the rename applied to them, new files verbatim."""
    spec = TableSpec(
        name="orders_evolve_nonadd",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
            ColumnSpec.value("o_comment", ColumnType.VARCHAR),
            ColumnSpec.value("o_orderstatus", ColumnType.VARCHAR),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select(
        "o_orderkey",
        "o_totalprice",
        # synthesized: the fixture orders table carries no comment
        # column; the content is irrelevant — it exists to be dropped
        F.concat(F.lit("c"), F.col("o_orderkey")).alias("o_comment"),
        "o_orderstatus",
    )
    t.write(base.filter(F.col("o_orderkey") % 2 == 0))
    t.drop_column("o_comment")
    t.rename_column("o_orderstatus", "status")
    t.write(
        base.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderstatus").alias("status"),
        )
    )
    return t


def _build_orders_evolve_readd(spark: SparkSession, sf_dir: str) -> OlapTable:
    """The hard drop case: a column dropped and RE-ADDED at a
    different type.  Rowset 0 carries ``flag`` as VARCHAR; after
    drop_column + add_column(INT64), rowset 1 carries it as INT64.
    Reads must surface the old generation's flag as typed NULLs — the
    stale VARCHAR bytes in the old files must never leak into the new
    column (the read schema of the pre-drop rowset leaves them out)."""
    spec = TableSpec(
        name="orders_evolve_readd",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
            ColumnSpec.value("flag", ColumnType.VARCHAR),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t.write(
        base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "flag", F.lit("old")
        )
    )
    t.drop_column("flag")
    t.add_column(ColumnSpec.value("flag", ColumnType.INT64))
    t.write(
        base.filter(F.col("o_orderkey") % 3 == 1).withColumn(
            "flag", F.lit(7).cast("long")
        )
    )
    return t


def _build_orders_evolve_widen(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Type-widening evolution fixture: rowset 0 carries ``qty`` as
    INT32; after widen_column(INT64), rowset 1 stores values past the
    int32 range.  The Parquet reader promotes the old generation's
    physical int32 to long, and reads serve one bigint column."""
    spec = TableSpec(
        name="orders_evolve_widen",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
            ColumnSpec.value("qty", ColumnType.INT32),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t.write(
        base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "qty", (F.col("o_orderkey") % 100).cast("int")
        )
    )
    t.widen_column("qty", ColumnType.INT64)
    t.write(
        base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "qty", F.col("o_orderkey") + F.lit(3_000_000_000)
        )
    )
    return t


def _build_orders_repart(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Layout-evolution fixture: born as a coarse 2-partition RANGE
    table on o_orderdate (bucket 2), written, then REORGANIZED
    (operators/compaction.repartition_table) into 4 finer partitions
    at bucket 4, then written again — the grown-table reshape.  Reads
    and pruned reads must serve the post-reorg layout exactly."""
    from .operators.compaction import repartition_table

    spec = TableSpec(
        name="orders_repart",
        columns=[
            ColumnSpec.key("o_orderdate", ColumnType.DATE),
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.RANGE,
            "o_orderdate",
            bounds=[("h1", "1996-01-01"), ("h2", "9999-12-31")],
        ),
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 2),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    o = _orders_df(spark, sf_dir).select(
        "o_orderdate", "o_orderkey", "o_totalprice"
    )
    t.write(o.filter(F.col("o_orderkey") % 2 == 0))
    repartition_table(
        t,
        new_partition=PartitionPolicy(
            PartitionType.RANGE,
            "o_orderdate",
            bounds=[
                ("q1", "1994-01-01"),
                ("q2", "1995-01-01"),
                ("q3", "1996-01-01"),
                ("q4", "9999-12-31"),
            ],
        ),
        new_bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t.write(o.filter(F.col("o_orderkey") % 2 == 1))
    return t


def _build_orders_wap(spark: SparkSession, sf_dir: str) -> OlapTable:
    """Write-audit-publish fixture: a good batch (even keys) passes
    its expectation checks and commits; a bad batch (odd keys with
    negated prices, violating the >= 0 domain check) is staged,
    audited, and DISCARDED — it must never become visible.  The final
    table holds exactly the good batch (operators/audit)."""
    from .operators.audit import (
        expect_in_range,
        expect_min_rows,
        expect_no_nulls,
        write_audit_publish,
    )

    spec = TableSpec(
        name="orders_wap",
        columns=[
            ColumnSpec.key("o_orderkey", ColumnType.INT64),
            ColumnSpec.value("o_totalprice", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "o_orderkey", 4),
    )
    t = OlapTable.create(spark, spec, warehouse_for(sf_dir), overwrite=True)
    base = _orders_df(spark, sf_dir).select("o_orderkey", "o_totalprice")
    checks = [
        expect_min_rows(1),
        expect_no_nulls("o_totalprice"),
        expect_in_range("o_totalprice", lo=0.0),
    ]
    ok1, _, _ = write_audit_publish(
        t, base.filter(F.col("o_orderkey") % 2 == 0), checks
    )
    ok2, _, _ = write_audit_publish(
        t,
        base.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ),
        checks,
    )
    assert ok1 and not ok2, (ok1, ok2)
    return t


_BUILDERS = {
    "orders_dup": _build_orders_dup,
    "orders_delete": _build_orders_delete,
    "doc_postings": _build_doc_postings,
    "orders_agg": _build_orders_agg,
    "lineitem_agg": _build_lineitem_agg,
    "orders_unique": _build_orders_unique,
    "orders_replace": _build_orders_replace,
    "orders_rollup": _build_orders_rollup,
    "customer_list": _build_customer_list,
    "lineitem_ship": _build_lineitem_ship,
    "lineitem_key": _build_lineitem_key,
    "orders_versions": _build_orders_versions,
    "orders_gc": _build_orders_gc,
    "orders_multi": _build_orders_multi,
    "orders_compact": _build_orders_compact,
    "orders_two": _build_orders_two,
    "lineitem_rt": _build_lineitem_rt,
    "orders_merge": _build_orders_merge,
    "orders_part_merge": _build_orders_part_merge,
    "documents_ver": _build_documents_ver,
    "doc_postings_fresh": _build_doc_postings_fresh,
    "embeddings_ver": _build_embeddings_ver,
    "emb_cells": _build_emb_cells,
    "emb_cells_pq": _build_emb_cells_pq,
    "events_sketch": _build_events_sketch,
    "events_qsketch": _build_events_qsketch,
    "docs_freqitems": _build_docs_freqitems,
    "orders_ranges": _build_orders_ranges,
    "orders_rollback": _build_orders_rollback,
    "orders_pcompact": _build_orders_pcompact,
    "orders_evolve": _build_orders_evolve,
    "orders_evolve_nonadd": _build_orders_evolve_nonadd,
    "orders_evolve_readd": _build_orders_evolve_readd,
    "orders_evolve_widen": _build_orders_evolve_widen,
    "orders_repart": _build_orders_repart,
    "orders_wap": _build_orders_wap,
    "lineorder_mv": _build_lineorder_mv,
    "lineorder_agg_mv": _build_lineorder_agg_mv,
}


# ------------------------------------------------ publish-time artifacts
# Non-OlapTable build outputs (index tables, models, interchange
# exports, managed bucketed tables), each declared once in ARTIFACTS
# and cached per (name, sf_dir) with the same one-builder-per-key
# locking as the fixture tables.

# one live entry per (kind, sf_dir); value = (source-table state,
# built value).  The state tuple — (ino, mtime_ns, size) per declared
# source parquet — VALIDATES the entry: a fixture table regenerated
# mid-process (parquet writes replace files, so the inode always
# moves) forces a rebuild instead of silently serving an index
# derived from the previous corpus (r13 review; the generalization of
# the streaming-decontamination hash-cache fix to every persisted
# artifact).  Builders that declare no sources keep the old
# build-once-per-process behavior (state=None).
_AUX: dict[tuple[str, str], tuple] = {}


def _src_state(sf_dir: str, names: tuple) -> tuple | None:
    if not names:
        return None
    out = []
    for nm in names:
        p = os.path.join(sf_dir, f"{nm}.parquet")
        try:
            st = os.stat(p)
        except OSError:
            # a declared source missing at call time (e.g. an aux
            # builder invoked before fixture generation) must fail
            # with a message naming the fixture, not an opaque
            # FileNotFoundError from a cache-key helper (r13 ADVICE)
            raise FileNotFoundError(
                f"aux builder source table '{nm}' is missing at {p} — "
                "run fixtures.build_all (or the table's builder) for "
                f"{sf_dir} before building this artifact"
            ) from None
        out.append((nm, st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(out)


def _aux_cached(kind: str, sf_dir: str, build, src_tables: tuple = ()):
    key = (kind, sf_dir)
    state = _src_state(sf_dir, src_tables)
    with _META_LOCK:
        hit = _AUX.get(key)
        if hit is not None and hit[0] == state:
            return hit[1]
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        hit = _AUX.get(key)
        if hit is None or hit[0] != state:
            _AUX[key] = (state, build())
        return _AUX[key][1]


@dataclass(eq=False)
class _Built:
    """The _AUX value of a registry artifact: what its build returned
    and, once read_artifact has resolved it, the Spark schema of its
    parquet files.  Both live in one value, so the rebuild a source
    change forces drops the schema together with the path."""

    value: object
    schema: StructType | None = None


@dataclass(frozen=True)
class Artifact:
    """One publish-time artifact.  ``sources`` are the fixture tables
    it derives from (the _src_state key that validates its cache
    entry); ``build(spark, sf_dir, directory)`` writes it under the
    warehouse directory it is given and returns what readers use: that
    directory, a file in it, or catalog table names.  ``directory`` is
    set only where two artifacts share one; ``lost(spark, value)`` says
    a cached value no longer resolves in this session."""

    sources: tuple[str, ...]
    build: Callable[[SparkSession, str, str], object]
    directory: str | None = None
    lost: Callable[[SparkSession, object], bool] | None = None


def _cached_artifact(spark: SparkSession, sf_dir: str, name: str) -> _Built:
    art = ARTIFACTS[name]
    path = os.path.join(warehouse_for(sf_dir), art.directory or name)

    def build():
        return _Built(art.build(spark, sf_dir, path))

    b = _aux_cached(name, sf_dir, build, art.sources)
    if art.lost is not None and art.lost(spark, b.value):
        with _META_LOCK:
            _AUX.pop((name, sf_dir), None)
        b = _aux_cached(name, sf_dir, build, art.sources)
    return b


def artifact_path(spark: SparkSession, sf_dir: str, name: str):
    """Build the artifact ``name`` once per (sf_dir, source state) and
    return what its build returned."""
    return _cached_artifact(spark, sf_dir, name).value


def read_artifact(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The parquet artifact ``name`` as a DataFrame, read with the
    schema resolved on its first read: no schema-inference job."""
    b = _cached_artifact(spark, sf_dir, name)
    if b.schema is None:
        b.schema = _parquet_schema(spark, b.value)
    return spark.read.schema(b.schema).parquet(b.value)


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, without its
    inference job: the data columns from the Spark row schema Spark
    wrote into one file's footer (read on the driver), the partition
    columns from Spark's own listing of the directory."""
    import json

    import pyarrow.parquet as pq

    first = min(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    meta = pq.read_schema(first).metadata[
        b"org.apache.spark.sql.parquet.row.metadata"
    ]
    data = StructType.fromJson(json.loads(meta))
    return spark.read.schema(data).parquet(path).schema


def artifact_rows(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...]
) -> list[tuple]:
    """The parquet artifact ``name``'s ``cols`` as driver-resident
    tuples, read by pyarrow straight from its files — the form a
    driver-sized artifact (a merge table, a centroid index, a probe
    set) is held in, resolved without a Spark job."""
    import glob

    import pyarrow.parquet as pq

    path = artifact_path(spark, sf_dir, name)
    tbl = pq.read_table(
        sorted(glob.glob(os.path.join(path, "*.parquet"))), columns=list(cols)
    )
    return list(zip(*(tbl[c].to_pylist() for c in cols)))


def bpe_merges_path(spark: SparkSession, sf_dir: str) -> str:
    """The built ``bpe_merges`` directory (kept under this name for
    callers that trace the artifact build)."""
    return artifact_path(spark, sf_dir, "bpe_merges")


def bpe_merges_rows(spark: SparkSession, sf_dir: str) -> list:
    """The merge table as rank-ordered driver-resident (lhs, rhs)
    pairs — the form an encoder holds it in (k tuples in memory)."""
    bpe_merges_path(spark, sf_dir)  # the build, under its traced name
    rows = artifact_rows(spark, sf_dir, "bpe_merges", ("rank", "lhs", "rhs"))
    return [(lhs, rhs) for _, lhs, rhs in sorted(rows)]


# the FIXED parameter set the persisted signature index is built with
# — consumers that probe its buckets (the streaming near-dup filter)
# validate against this instead of silently mismatching keys
_MINHASH_SIGS_NUM_HASHES = 8
_MINHASH_SIGS_N = 3


def minhash_sigs_build_params() -> tuple[int, int]:
    """(num_hashes, shingle width n) the persisted signature index is
    built with — the contract a probe-side consumer must match."""
    return (_MINHASH_SIGS_NUM_HASHES, _MINHASH_SIGS_N)


def _save(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


def _write_segtbl_dir(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Directory segment table (the distributed olapseg write layout):
    documents range-partitioned 8 ways on doc_id, so the manifest
    carries 8 contiguous per-file zone maps PLUS per-file doc_id bloom
    filters — the serving layout for point lookups (A17/A18 at the
    foreign-format boundary).  build_all writes it on the driver main
    thread (see there)."""
    from .sources.segment_format import register

    register(spark)
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "lang", "source")
        .repartitionByRange(8, "doc_id")
        .write.format("olapseg")
        .option("path", path)
        .mode("overwrite")
        .save()
    )
    return path


def _write_ivf_centroids(spark: SparkSession, sf_dir: str, path: str) -> str:
    """The IVF coarse-quantizer index (cent_id, cent_vec), trained once
    per corpus by the deterministic sampled k-means
    (operators/similarity.train_ivf_centroids) — the reference's A15
    materialized-index idea applied to ANN serving: queries read the
    index, training never runs inside a query plan.  Oracle-checkable
    because training is deterministic: DuckDB re-derives bit-identical
    centroids from the same corpus."""
    from .operators.similarity import train_ivf_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return _save(train_ivf_centroids(emb), path)


def _write_pq_codebooks(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Per-subspace deterministic k-means codebooks of the PQ index."""
    from .operators.similarity import train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    return _save(train_pq_codebooks(emb), path)


def _write_pq_codes(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Every corpus vector's m-byte PQ code row under the published
    codebooks — the compressed representation a 100 TB deployment
    scans INSTEAD of raw vectors."""
    from .operators.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = read_artifact(spark, sf_dir, "pq_codebooks")
    return _save(pq_encode(emb, codebooks), path)


def _write_int8_codes(spark: SparkSession, sf_dir: str, path: str) -> str:
    """int8 CODES table (vec_id, codes) — the publish-time half of the
    scalar-quantization storage cut: the corpus is encoded once per
    publish (operators/similarity.int8_quantize) and serving scans
    4x-smaller integer codes, never the float vectors."""
    from .operators.similarity import int8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return _save(int8_quantize(emb).select("vec_id", "codes"), path)


def _write_ann_probes(spark: SparkSession, sf_dir: str, path: str) -> str:
    """The STANDARD PROBE SET (vec_id, embedding; the n lowest vec_ids
    — similarity.standard_probes), eval-sized by contract, so the ANN
    query router holds it driver-resident (artifact_rows) without a
    distributed job."""
    from .operators.similarity import standard_probes

    emb = load_table(spark, sf_dir, "embeddings")
    return _save(standard_probes(emb).coalesce(1), path)


def _write_ann_truth_k10(spark: SparkSession, sf_dir: str, path: str) -> str:
    """EXACT brute-force cosine top-10 of the standard probe set
    against the corpus — the ground truth every ANN recall evaluation
    compares the served index against.  A constant of (corpus, probes,
    k), so the evaluator READS k rows per probe instead of paying the
    corpus scan and per-probe ranking on every run.  Oracle-checkable
    because brute_topk is deterministic (rank ties broken by vec_id;
    cosine rounded 6dp)."""
    from .operators.similarity import ANN_EVAL_K, brute_topk, standard_probes

    emb = load_table(spark, sf_dir, "embeddings")
    truth = brute_topk(emb, standard_probes(emb), k=ANN_EVAL_K)
    return _save(truth.coalesce(1), path)  # k*probes rows: one file


def _write_bpe_merges(spark: SparkSession, sf_dir: str, path: str) -> str:
    """The BPE merge table — the tokenizer artifact a training pipeline
    versions alongside its corpus: trained once per publish
    (operators/text.bpe_train, the deterministic 6-merge recipe);
    encode queries load it driver-side and never retrain."""
    from .operators.text import bpe_train

    return _save(bpe_train(load_table(spark, sf_dir, "documents"), k=6), path)


def _write_shingle_index(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Shingle index (doc_id, n, sz, sh, mh, ...) — the publish-time
    materialization of the dedup family's tokenize/shingle/hash pass,
    so serving-path dedup starts at the posting-list aggregate.

    Four shingle widths (``n`` = 1, 2, 3, 5) and two hash columns live
    in the one index: ``sh`` = xxhash64 drives n-gram Jaccard posting
    lists AND the DSIR unigram+bigram feature space (widths 1/2),
    ``mh`` = md5int % MINHASH_P is the minhash affine family's base
    hash.  LIST-partitioned by ``n`` (one directory per width), so
    every consumer's ``n == k`` filter is a partition PRUNE."""
    from .operators.indexes import shingle_rows_from

    docs = load_table(spark, sf_dir, "documents")
    # Size index files to a ROW TARGET (~100k docs ≈ 4M gram rows
    # ≈ tens of MB per file), not to the writer's input parallelism:
    # inheriting the scan's partitioning wrote 32 ~100 KiB files per
    # width at sf0.1, and every index consumer then scheduled 32
    # near-empty tasks per scan.  The (n, doc-bucket) repartition keeps
    # each width's files at the target size at ANY corpus scale.
    files_per_width = max(1, docs.count() // 100_000)
    shingle_rows_from(docs).repartition(
        files_per_width,
        F.col("n"),
        F.pmod(F.xxhash64("doc_id"), F.lit(files_per_width)),
    ).write.mode("overwrite").partitionBy("n").parquet(path)
    return path


def _write_minhash_sigs(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Minhash SIGNATURE table (doc_id, mh0..mh7) over the declared
    parameter set (8 hashes, n=3 shingles) — one groupBy over the
    shingle index at publish time, so the serving-path candidate query
    is bands -> bucket self-join -> distinct.  Signatures are per-doc,
    so a delta refresh signs only the delta rowsets and appends."""
    from .operators.dedup import minhash_signatures_from_index

    idx = (
        read_artifact(spark, sf_dir, "shingle_index")
        .filter(F.col("n") == _MINHASH_SIGS_N)
        .select("doc_id", "mh")
    )
    sigs = minhash_signatures_from_index(
        idx, num_hashes=_MINHASH_SIGS_NUM_HASHES
    )
    return _save(sigs, path)


def _write_truth_pairs_n3(spark: SparkSession, sf_dir: str, path: str) -> str:
    """EXACT-Jaccard truth pair set (n=3 shingles, jaccard >= 0.4,
    df <= 50): a constant of (corpus, n, threshold) — the ground truth
    every LSH-parameter evaluation compares against — so the evaluator
    READS the pair set instead of re-expanding the shingle
    co-occurrence pairs on every run.  Oracle-checkable: DuckDB
    re-derives the identical pair set from the same corpus."""
    from .operators.dedup import ngram_pairs_from_index

    idx3 = (
        read_artifact(spark, sf_dir, "shingle_index")
        .filter(F.col("n") == 3)
        .select("doc_id", "sz", "sh")
    )
    pairs = ngram_pairs_from_index(idx3, threshold=0.4, max_doc_freq=50)
    return _save(pairs.coalesce(1), path)  # sparse pairs: one file


def _write_neardup_clusters(
    spark: SparkSession, sf_dir: str, path: str
) -> str:
    """Near-dup CLUSTER TABLE (doc_id, cluster_id; cluster_id = lowest
    member id, the elected canonical) — the publish-time resolution of
    the banded-LSH candidate graph.  The cluster-serving queries READ
    it instead of re-running the iterative connected-components closure
    per query; new publishes delta-refresh it through
    dedup.cluster_delta_refresh (refresh ≡ rebuild pinned in tests)."""
    from .operators import dedup as dd

    sigs = read_artifact(spark, sf_dir, "minhash_sigs")
    # band over the signature table's OWN build params — a raised
    # _MINHASH_SIGS_NUM_HASHES must widen the banding here too, not
    # silently cluster on half the signature
    pairs = dd.minhash_candidates_from_sigs(
        sigs, num_hashes=_MINHASH_SIGS_NUM_HASHES, band_rows=dd.MH_BAND_ROWS
    )
    clusters = dd.connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return _save(clusters.coalesce(1), path)  # sparse clusters: one file


def _write_simhash_fps(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Simhash FINGERPRINT table (doc_id, simhash): per-doc, so a
    delta refresh fingerprints only the delta rowsets and appends."""
    from .operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return _save(simhash(docs, bits=32), path)


def _write_doc_stats(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Per-document CURATION-STATS table: every column is a pure
    per-document function of the text (quality features + language ID
    via operators/text.enrich — the SAME operator the inline pipeline
    runs — plus the ws/BPE-ish token counts and the exact-dedup
    sha256), with the text itself dropped: ~50 narrow bytes per doc.

    The optimization-guide §8 "decide with small rows" shape: the
    curation pipeline's decisions depend only on these scalars, so a
    pipeline serving from this table scans the heavy text once, at
    publish."""
    from .operators.text import enrich, token_counts

    docs = load_table(spark, sf_dir, "documents")
    stats = token_counts(enrich(docs)).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "n_tokens",
        "n_punct",
        "n_stopwords",
        "mean_token_len",
        "quality",
        "pred_lang",
        "ws_tokens",
        "bpe_tokens",
        F.sha2(F.col("text"), 256).alias("text_sha"),
    )
    return _save(stats, path)


def _write_nb_model(spark: SparkSession, sf_dir: str, path: str) -> str:
    """NB quality-model weights (bucket, weight; bucket=-1 is the
    prior), trained once per corpus on the learnable token-presence
    label by operators/text.naive_bayes_train_hashed — the
    model-registry artifact the serving query broadcasts.
    Oracle-checkable because training is closed-form and
    exact-decimal."""
    from .operators.text import naive_bayes_train_hashed

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "__lbl",
        F.when(
            F.array_contains(F.split("text", " "), "spark"), "pos"
        ).otherwise("neg"),
    )
    return _save(
        naive_bayes_train_hashed(docs, label_col="__lbl", positive="pos"), path
    )


def _write_lineitem_year(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Ship-year-partitioned lineitem export (directory per ``l_year``)
    — the fact-side layout for the dynamic-partition-pruning query: a
    join keyed on the partition column lets Spark inject the dim
    side's matching years as a runtime PartitionFilter."""
    li = load_table(spark, sf_dir, "lineitem")
    li.withColumn(
        "l_year", F.year(F.col("l_shipdate").cast("date")).cast("int")
    ).write.mode("overwrite").partitionBy("l_year").parquet(path)
    return path


def _write_lineitem_zorder(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Z-order-clustered lineitem copy (clustered on (l_partkey,
    l_suppkey)) — the write-path layout transform; readers rely on
    row-group stats for 2-D box pruning."""
    from .operators.clustering import zorder_write

    li = load_table(spark, sf_dir, "lineitem")
    zorder_write(li, path, ["l_partkey", "l_suppkey"])
    return path


# The ingest_* artifacts: one-time exports of a source table to an
# interchange format, so the ingest_* queries time the READ path, not
# a first-call export write.


def _write_ingest_jsonl(spark: SparkSession, sf_dir: str, path: str) -> str:
    load_table(spark, sf_dir, "documents").write.mode("overwrite").json(path)
    return path


def _write_ingest_csv(spark: SparkSession, sf_dir: str, path: str) -> str:
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
        "header", "true"
    ).option("escape", '"').csv(path)
    return path


def _write_ingest_orc(spark: SparkSession, sf_dir: str, path: str) -> str:
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    ).write.mode("overwrite").orc(path)
    return path


def _write_ingest_binary(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Loose-file corpus for the binaryFile source: the first 64
    documents' UTF-8 bytes, one file each, named by doc_id.  The
    driver-side loop is fixture-build only (64 tiny files); real
    corpora arrive as files already."""
    os.makedirs(path, exist_ok=True)
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        fp = os.path.join(path, f"doc_{r['doc_id']:05d}.bin")
        with open(fp, "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    return path


def _write_ingest_olapseg(spark: SparkSession, sf_dir: str, path: str) -> str:
    """One custom binary segment (sources/segment_format.py): the
    documents table in the bespoke block format the olapseg DataSource
    mounts with zone-map pushdown, encoded through the same
    Arrow/numpy batch path the distributed writer uses.  Returns the
    ``.oseg`` file."""
    import pyarrow as pa

    from .sources.segment_format import write_segment_batches

    os.makedirs(path, exist_ok=True)
    pdf = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "lang", "source")
        .toPandas()
    )
    seg = os.path.join(path, "documents.oseg")
    write_segment_batches(
        [pa.RecordBatch.from_pandas(pdf)], seg, block_rows=256
    )
    return seg


def _bucketed(n: int, *pairs: tuple[str, str]):
    """Build of a managed co-bucketed table pair: each (table, key)
    written ``bucketBy(n, key)`` + sorted through the session catalog,
    where the bucket spec IS visible to the planner, so an equi-join
    on the keys is storage-partitioned — NEITHER side shuffles (zero
    Exchange; pinned by tests/test_bucketed.py).  The engine's own __bk
    FNV bucketing is invisible to Catalyst through a plain parquet
    read.  Returns the qualified table names."""

    def build(spark: SparkSession, sf_dir: str, loc: str) -> tuple[str, ...]:
        base = os.path.basename(sf_dir.rstrip("/"))
        db = "bkt_" + re.sub(r"[^0-9A-Za-z]", "_", base)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
        names = []
        for table, key in pairs:
            name = f"{db}.{table}_by_{key.split('_', 1)[1]}"
            (
                # repartition on the bucket key first: ONE sorted file
                # per bucket, the invariant that lets the sorted-bucket-
                # scan conf (session.py) elide SMJ sorts soundly
                load_table(spark, sf_dir, table)
                .repartition(n, key)
                .write.bucketBy(n, key)
                .sortBy(key)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(name)
            )
            names.append(name)
        return tuple(names)

    return build


def _catalog_lost(spark: SparkSession, names: tuple[str, ...]) -> bool:
    # the bucket spec lives in the session catalog (files alone don't
    # carry it); a new session must re-register even when the cache
    # survived (tests share one process but may cycle sessions).  Check
    # every name: a partial drop or interrupted registration must not
    # be trusted.
    return not all(spark.catalog.tableExists(n) for n in names)


ARTIFACTS: dict[str, Artifact] = {
    # the olapseg directory table; build_all writes it first, on the
    # driver main thread
    "segtbl_dir": Artifact(("documents",), _write_segtbl_dir),
    "ivf_centroids": Artifact(("embeddings",), _write_ivf_centroids),
    "ingest_jsonl": Artifact(("documents",), _write_ingest_jsonl),
    "ingest_csv": Artifact(("orders",), _write_ingest_csv),
    "ingest_orc": Artifact(("lineitem",), _write_ingest_orc),
    "ingest_binary": Artifact(("documents",), _write_ingest_binary),
    "ingest_olapseg": Artifact(("documents",), _write_ingest_olapseg),
    # fact-dim: orders x customer on custkey
    "bucketed_pair": Artifact(
        ("orders", "customer"),
        _bucketed(8, ("orders", "o_custkey"), ("customer", "c_custkey")),
        directory="bucketed_db",
        lost=_catalog_lost,
    ),
    # fact-fact: orders x lineitem on orderkey — at 100 TB both sides
    # are huge and this is the workload's most expensive exchange
    "bucketed_fact_pair": Artifact(
        ("orders", "lineitem"),
        _bucketed(16, ("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
        directory="bucketed_db",
        lost=_catalog_lost,
    ),
    "lineitem_zorder": Artifact(("lineitem",), _write_lineitem_zorder),
    "lineitem_year": Artifact(("lineitem",), _write_lineitem_year),
    "int8_codes": Artifact(("embeddings",), _write_int8_codes),
    "shingle_index": Artifact(("documents",), _write_shingle_index),
    "minhash_sigs": Artifact(("documents",), _write_minhash_sigs),
    "pq_codebooks": Artifact(("embeddings",), _write_pq_codebooks),
    "pq_codes": Artifact(("embeddings",), _write_pq_codes),
    "simhash_fps": Artifact(("documents",), _write_simhash_fps),
    "doc_stats": Artifact(("documents",), _write_doc_stats),
    "nb_model": Artifact(("documents",), _write_nb_model),
    "truth_pairs_n3": Artifact(("documents",), _write_truth_pairs_n3),
    "ann_truth_k10": Artifact(("embeddings",), _write_ann_truth_k10),
    "ann_probes": Artifact(("embeddings",), _write_ann_probes),
    "neardup_clusters": Artifact(("documents",), _write_neardup_clusters),
    "bpe_merges": Artifact(("documents",), _write_bpe_merges),
}
