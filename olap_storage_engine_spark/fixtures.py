"""Fixture OlapTables built from the driver test data.

Each builder writes one engine table (spec + manifest + versioned
Parquet) into a per-process warehouse, once per (sf_dir, table); the
declared queries in __spark_entry__.py read through these so every
correctness row exercises the real write -> route -> publish -> cover ->
collapse path, not a bare ``spark.read``.

Version fixtures mirror the reference demo (examples/basic_usage.rs:
222-283): multiple single-version rowsets, a compacted interval, and a
hole case (tested in tests/, not in declared queries).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

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

import threading

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
    """Build every fixture table, ``parallelism`` at a time — Spark's
    scheduler runs jobs from separate driver threads concurrently, so
    wall time is bounded by the largest tables, not the sum.

    Also materializes the auxiliary index/interchange artifacts (IVF
    centroid table, ingest export files, managed bucketed tables) so
    queries — and the bench — time the serving path only; index
    training and export writes are one-time build costs by design."""
    from concurrent.futures import ThreadPoolExecutor

    # the olapseg fixture builds SERIALLY before the pool: Python
    # data-source resolution is main-thread-bound in this Spark (a
    # save() issued from a secondary py4j thread fails DATA_SOURCE_
    # NOT_FOUND even after re-registration) — every query-path olapseg
    # write runs on the driver main thread, so only build_all needs
    # this care
    segment_table_path(spark, sf_dir)
    # orders_rollup reads orders_agg: build dependencies first
    get_table(spark, sf_dir, "orders_agg")
    aux = [
        lambda: ivf_centroids(spark, sf_dir),
        lambda: ingest_export(spark, sf_dir, "jsonl"),
        lambda: ingest_export(spark, sf_dir, "csv"),
        lambda: ingest_export(spark, sf_dir, "orc"),
        lambda: ingest_export(spark, sf_dir, "binary"),
        lambda: ingest_export(spark, sf_dir, "olapseg"),
        lambda: bucketed_pair(spark, sf_dir),
        lambda: bucketed_fact_pair(spark, sf_dir),
        lambda: zorder_lineitem_path(spark, sf_dir),
        lambda: lineitem_year_path(spark, sf_dir),
        lambda: int8_codes_path(spark, sf_dir),
        lambda: shingle_index_path(spark, sf_dir),
        lambda: minhash_sigs_path(spark, sf_dir),
        lambda: pq_index_paths(spark, sf_dir),
        lambda: simhash_fps_path(spark, sf_dir),
        lambda: doc_stats_path(spark, sf_dir),
        lambda: nb_model_path(spark, sf_dir),
        lambda: truth_pairs_path(spark, sf_dir),
        lambda: ann_truth_path(spark, sf_dir),
        lambda: ann_probes_path(spark, sf_dir),
        lambda: neardup_clusters_path(spark, sf_dir),
        lambda: bpe_merges_path(spark, sf_dir),
    ]
    with ThreadPoolExecutor(max_workers=parallelism) as ex:
        tables = ex.map(lambda n: get_table(spark, sf_dir, n), _BUILDERS)
        auxs = ex.map(lambda f: f(), aux)
        list(tables), list(auxs)


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


# ------------------------------------------------------- aux artifacts
# Non-OlapTable build outputs (index tables, interchange exports,
# managed bucketed tables), cached per (kind, sf_dir) with the same
# one-builder-per-artifact locking as the fixture tables.

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


def ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF coarse-quantizer index: (cent_id, cent_vec),
    trained ONCE per corpus by the deterministic sampled k-means
    (operators/similarity.train_ivf_centroids) and stored as a tiny
    parquet table in the warehouse — the reference's A15 materialized-
    index idea applied to ANN serving.  Queries read the index; the
    training job never runs inside a query plan.  Kept oracle-checkable
    because training is deterministic: DuckDB re-derives bit-identical
    centroids from the same corpus (the per-iteration mean rounding
    absorbs float-summation order)."""

    return spark.read.parquet(_ivf_centroids_path(spark, sf_dir))


def _ivf_centroids_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the centroid index parquet (via _aux_cached,
    so callers never index _AUX directly)."""

    def build():
        from .operators.similarity import train_ivf_centroids

        path = os.path.join(warehouse_for(sf_dir), "ivf_centroids")
        emb = load_table(spark, sf_dir, "embeddings")
        train_ivf_centroids(emb).write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("ivf_centroids", sf_dir, build, ("embeddings",))


def bpe_merges_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the persisted BPE merge table — the
    tokenizer artifact every training pipeline versions alongside its
    corpus: trained ONCE per publish (operators/text.bpe_train, the
    deterministic 6-merge recipe), stored as a k-row parquet; encode
    queries load it driver-side and never retrain.  Oracle-checkable
    because training is deterministic — DuckDB re-derives the
    identical table from the same corpus."""

    def build():
        from .operators.text import bpe_train

        path = os.path.join(warehouse_for(sf_dir), "bpe_merges")
        docs = load_table(spark, sf_dir, "documents")
        bpe_train(docs, k=6).write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("bpe_merges", sf_dir, build, ("documents",))


def bpe_merges_rows(spark: SparkSession, sf_dir: str) -> list:
    """The merge table as rank-ordered driver-resident (lhs, rhs)
    pairs — the form an encoder holds it in (k tuples in memory).
    Read via pyarrow straight from the index parquet: resolving the
    merge list must not cost a distributed job."""
    import glob

    import pyarrow.parquet as pq

    path = bpe_merges_path(spark, sf_dir)
    tbl = pq.read_table(sorted(glob.glob(os.path.join(path, "*.parquet"))))
    rows = sorted(
        zip(
            tbl.column("rank").to_pylist(),
            tbl.column("lhs").to_pylist(),
            tbl.column("rhs").to_pylist(),
        )
    )
    return [(lhs, rhs) for _, lhs, rhs in rows]


def ivf_centroids_rows(spark: SparkSession, sf_dir: str) -> list:
    """The centroid index as driver-resident rows — the form an ANN
    query router actually holds it in (a handful of (cent_id,
    cent_vec) tuples in memory).  Read via pyarrow straight from the
    index parquet: resolving a probe's cells must not cost a
    distributed job."""
    import glob

    import pyarrow.parquet as pq

    path = _ivf_centroids_path(spark, sf_dir)
    tbl = pq.read_table(sorted(glob.glob(os.path.join(path, "*.parquet"))))
    return sorted(
        zip(tbl["cent_id"].to_pylist(), tbl["cent_vec"].to_pylist())
    )


def truth_pairs_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once EXACT-Jaccard truth pair set (n=3 shingles,
    jaccard >= 0.4, df <= 50): a constant of (corpus, n, threshold) —
    the ground truth every LSH-parameter evaluation compares against —
    persisted at publish time like every other index artifact, so the
    evaluator READS the pair set instead of re-expanding the shingle
    co-occurrence pairs (the eval's dominant cost) on every run.
    Oracle-checkable because the derivation is deterministic: DuckDB
    re-derives the identical pair set from the same corpus."""

    def build():
        from .operators import dedup as dd

        path = os.path.join(warehouse_for(sf_dir), "truth_pairs_n3")
        idx3 = (
            spark.read.parquet(shingle_index_path(spark, sf_dir))
            .filter(F.col("n") == 3)
            .select("doc_id", "sz", "sh")
        )
        (
            dd.ngram_pairs_from_index(idx3, threshold=0.4, max_doc_freq=50)
            .coalesce(1)  # truth pairs are sparse; one file, one task
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    return _aux_cached("truth_pairs_n3", sf_dir, build, ("documents",))


def neardup_clusters_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once near-dup CLUSTER TABLE (doc_id, cluster_id;
    cluster_id = lowest member id, the elected canonical) — the
    publish-time resolution of the banded-LSH candidate graph, stored
    next to the signature index it derives from.  The cluster-serving
    queries (dedup_clusters / dedup_keepset / dedup_cluster_stats)
    READ this table instead of re-running the iterative
    connected-components closure per query; on new publishes the
    table delta-refreshes through dedup.cluster_delta_refresh
    (contract the delta pairs through existing assignments — handles
    cluster MERGES; refresh ≡ rebuild pinned in tests).  At 100 TB
    cluster assignment is exactly as recomputable as the signature
    index itself: once per publish, amortized over every serve."""

    def build():
        from .operators import dedup as dd

        path = os.path.join(warehouse_for(sf_dir), "neardup_clusters")
        sigs = spark.read.parquet(minhash_sigs_path(spark, sf_dir))
        # band over the signature table's OWN build params — a raised
        # _MINHASH_SIGS_NUM_HASHES must widen the banding here too,
        # not silently cluster on half the signature (r14 review)
        num_hashes, _ = minhash_sigs_build_params()
        pairs = dd.minhash_candidates_from_sigs(
            sigs, num_hashes=num_hashes, band_rows=dd.MH_BAND_ROWS
        )
        (
            dd.connected_components(pairs)
            .select(
                F.col("id").alias("doc_id"),
                F.col("component").alias("cluster_id"),
            )
            .coalesce(1)  # clustered docs are sparse; one file
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    return _aux_cached("neardup_clusters", sf_dir, build, ("documents",))


def ann_probes_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted STANDARD PROBE SET (vec_id, embedding; the
    n lowest vec_ids — similarity.standard_probes): eval-sized by
    contract, stored next to ann_truth_k10 so the ANN query router
    can hold it driver-resident without a distributed job.  At 100 TB
    the probe set is still 5 rows — reading it via pyarrow is the
    same discipline as ivf_centroids_rows; deriving it per query with
    a corpus orderBy+limit COLLECT was one whole Spark job per IVF
    serve (r14)."""

    def build():
        from .operators.similarity import standard_probes

        path = os.path.join(warehouse_for(sf_dir), "ann_probes")
        emb = load_table(spark, sf_dir, "embeddings")
        (
            standard_probes(emb)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    return _aux_cached("ann_probes", sf_dir, build, ("embeddings",))


def standard_probe_rows(spark: SparkSession, sf_dir: str) -> list:
    """The standard probe set as driver-resident (vec_id, embedding)
    rows — the form ivf_probe_cells_local consumes.  Pyarrow read of
    the persisted probe artifact, zero Spark jobs; pinned equal to
    similarity.standard_probes by test (the two cannot share code —
    one is a DataFrame plan, one a local read — so the test IS the
    shared definition)."""
    import glob

    import pyarrow.parquet as pq

    path = ann_probes_path(spark, sf_dir)
    tbl = pq.read_table(sorted(glob.glob(os.path.join(path, "*.parquet"))))
    return sorted(
        zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist())
    )


def ann_truth_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once EXACT brute-force cosine top-10 of the standard
    probe set against the corpus — the ground truth every ANN
    recall evaluation compares the served index against.  A constant
    of (corpus, probes, k), so it persists at index-publish time like
    truth_pairs_n3: the evaluator READS k-rows-per-probe instead of
    paying the full corpus scan + per-probe ranking (the eval's
    dominant cost) on every run.  At 100 TB this is the only sane
    shape — the truth job is one offline pass per corpus publish,
    amortized over every recall check the index serves thereafter.
    Oracle-checkable because brute_topk is deterministic (rank ties
    broken by vec_id; cosine rounded 6dp)."""

    def build():
        from .operators.similarity import (
            ANN_EVAL_K,
            brute_topk,
            standard_probes,
        )

        path = os.path.join(warehouse_for(sf_dir), "ann_truth_k10")
        emb = load_table(spark, sf_dir, "embeddings")
        (
            brute_topk(emb, standard_probes(emb), k=ANN_EVAL_K)
            .coalesce(1)  # k*probes rows — one file, one task
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    return _aux_cached("ann_truth_k10", sf_dir, build, ("embeddings",))


def segment_table_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once directory segment table (the distributed olapseg
    write layout): documents range-partitioned 8 ways on doc_id, so
    the manifest carries 8 contiguous per-file zone maps PLUS per-file
    doc_id bloom filters — the serving layout for point lookups
    (A17/A18 at the foreign-format boundary).  Point-probe queries
    read this; the write job never runs inside a query plan."""

    def build():
        from .sources.segment_format import register

        register(spark)
        path = os.path.join(warehouse_for(sf_dir), "segtbl_dir")
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

    return _aux_cached("segment_table_dir", sf_dir, build, ("documents",))


def ingest_export(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """One-time per (sf_dir, fmt) export of a source table to a text/
    columnar interchange format (jsonl/csv/orc) — build-time setup for
    the ingest_* queries, so their timings measure the READ path, not a
    first-call export write."""

    def build():
        path = os.path.join(warehouse_for(sf_dir), f"ingest_{fmt}")
        if fmt == "jsonl":
            load_table(spark, sf_dir, "documents").write.mode(
                "overwrite"
            ).json(path)
        elif fmt == "csv":
            load_table(spark, sf_dir, "orders").write.mode(
                "overwrite"
            ).option("header", "true").option("escape", '"').csv(path)
        elif fmt == "orc":
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
            ).write.mode("overwrite").orc(path)
        elif fmt == "olapseg":
            # one custom binary segment (sources/segment_format.py):
            # the documents table in the bespoke block format the
            # olapseg DataSource mounts with zone-map pushdown —
            # encoded through the same Arrow/numpy batch path the
            # distributed writer uses (r12: was a collect loop)
            import pyarrow as pa

            from .sources.segment_format import write_segment_batches

            os.makedirs(path, exist_ok=True)
            pdf = (
                load_table(spark, sf_dir, "documents")
                .select("doc_id", "n_chars", "lang", "source")
                .toPandas()
            )
            path = os.path.join(path, "documents.oseg")
            write_segment_batches(
                [pa.RecordBatch.from_pandas(pdf)], path, block_rows=256
            )
        elif fmt == "binary":
            # loose-file corpus for the binaryFile source: the first 64
            # documents' UTF-8 bytes, one file each, named by doc_id.
            # Driver-side loop is fixture-build only (64 tiny files);
            # real corpora arrive as files already.
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
        else:
            raise ValueError(f"unknown ingest format: {fmt}")
        return path

    return _aux_cached(f"ingest_{fmt}", sf_dir, build, ("documents",))


def bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Managed Spark bucketed tables for the co-located join path:
    orders and customer both ``bucketBy(8, custkey)`` + sorted, so an
    equi-join on custkey is storage-partitioned — NEITHER side
    shuffles (zero Exchange in the plan; pinned by tests/test_bucketed
    .py).  This is the managed-table complement to the engine's own
    __bk FNV bucketing (which Catalyst can't see through plain
    ``spark.read.parquet``): join-heavy pairs get registered through
    the session catalog where the bucket spec IS visible to the
    planner.  At 100 TB this removes the single largest avoidable
    shuffle — both sides of every fact-dim co-bucketed join.

    Returns the two qualified table names.  Rebuilt per session when
    the in-memory catalog lost the bucket spec (files alone don't
    carry it)."""
    import re as _re

    tag = _re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    db = f"bkt_{tag}"
    names = (f"{db}.orders_by_custkey", f"{db}.customer_by_custkey")

    def build():
        loc = os.path.join(warehouse_for(sf_dir), "bucketed_db")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
        o = load_table(spark, sf_dir, "orders")
        (
            # repartition on the bucket key first: ONE sorted file per
            # bucket, the invariant that lets the sorted-bucket-scan
            # conf (session.py) elide SMJ sorts soundly
            o.repartition(8, "o_custkey").write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(names[0])
        )
        c = load_table(spark, sf_dir, "customer")
        (
            c.repartition(8, "c_custkey").write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(names[1])
        )
        return names

    # the bucket spec lives in the session catalog; a new session must
    # re-register even when the cache dict survived (tests share one
    # process but may cycle sessions).  Check BOTH names: a partial
    # drop/interrupted registration must not be trusted.
    if not all(spark.catalog.tableExists(n) for n in names):
        with _META_LOCK:
            _AUX.pop(("bucketed_pair", sf_dir), None)
    return _aux_cached("bucketed_pair", sf_dir, build, ("orders", "customer"))


def bucketed_fact_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Managed bucketed tables for the FACT-to-FACT co-located join:
    orders and lineitem both ``bucketBy(16, orderkey)`` + sorted.  The
    fact-dim case (bucketed_pair) could fall back to a broadcast at
    dim-sized inputs — this pair can't: at 100 TB BOTH sides are huge,
    the orderkey shuffle of lineitem is the single most expensive
    exchange in the whole TPC-H-shaped workload, and co-bucketing is
    the only way to remove it.  Returns the two qualified names."""
    import re as _re

    tag = _re.sub(r"[^0-9A-Za-z]", "_", os.path.basename(sf_dir.rstrip("/")))
    db = f"bkt_{tag}"
    names = (f"{db}.orders_by_orderkey", f"{db}.lineitem_by_orderkey")

    def build():
        loc = os.path.join(warehouse_for(sf_dir), "bucketed_db")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
        o = load_table(spark, sf_dir, "orders")
        (
            # one sorted file per bucket (see bucketed_pair note)
            o.repartition(16, "o_orderkey").write.bucketBy(16, "o_orderkey")
            .sortBy("o_orderkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(names[0])
        )
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.repartition(16, "l_orderkey").write.bucketBy(16, "l_orderkey")
            .sortBy("l_orderkey")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(names[1])
        )
        return names

    if not all(spark.catalog.tableExists(n) for n in names):
        with _META_LOCK:
            _AUX.pop(("bucketed_fact_pair", sf_dir), None)
    return _aux_cached("bucketed_fact_pair", sf_dir, build, ("orders", "lineitem"))


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
    cents = ivf_centroids(spark, sf_dir)
    cent_ids = sorted(r["cent_id"] for r in cents.select("cent_id").collect())
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
    cents = ivf_centroids(spark, sf_dir)
    cent_ids = sorted(r["cent_id"] for r in cents.select("cent_id").collect())
    _, codes_path = pq_index_paths(spark, sf_dir)
    codes = spark.read.parquet(codes_path)
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


def pq_index_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once (codebooks, codes) parquet paths for the PQ index:
    per-subspace deterministic k-means codebooks plus every corpus
    vector's m-byte code row — the compressed representation a 100 TB
    deployment scans INSTEAD of raw vectors.  Training and encoding
    run at fixture-build time; queries only read."""

    def build():
        from .operators.similarity import pq_encode, train_pq_codebooks

        emb = load_table(spark, sf_dir, "embeddings")
        cb_path = os.path.join(warehouse_for(sf_dir), "pq_codebooks")
        train_pq_codebooks(emb).write.mode("overwrite").parquet(cb_path)
        cb = spark.read.parquet(cb_path)
        codes_path = os.path.join(warehouse_for(sf_dir), "pq_codes")
        pq_encode(emb, cb).write.mode("overwrite").parquet(codes_path)
        return (cb_path, codes_path)

    return _aux_cached("pq_index", sf_dir, build, ("embeddings",))


def int8_codes_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted int8 CODES table (vec_id, codes) — the
    publish-time half of the scalar-quantization storage cut: the
    corpus is encoded once per publish (operators/similarity.
    int8_quantize) and serving scans 4x-smaller integer codes, never
    the float vectors.  Delta refresh = encode new rowsets with the
    frozen published scales (scale drift forces a rebuild)."""

    def build():
        from .operators.similarity import int8_quantize

        emb = load_table(spark, sf_dir, "embeddings")
        path = os.path.join(warehouse_for(sf_dir), "int8_codes")
        int8_quantize(emb).select("vec_id", "codes").write.mode(
            "overwrite"
        ).parquet(path)
        return path

    return _aux_cached("int8_codes", sf_dir, build, ("embeddings",))


def lineitem_year_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once ship-year-partitioned lineitem export (directory per
    ``l_year``) — the fact-side layout for the dynamic-partition-
    pruning query: a join keyed on the partition column lets Spark
    inject the dim side's matching years as a runtime PartitionFilter
    (``dynamicpruning`` subquery), so the fact scan lists only the
    surviving year directories — the TPC-DS date_dim pattern."""

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        path = os.path.join(warehouse_for(sf_dir), "lineitem_year")
        li.withColumn(
            "l_year", F.year(F.col("l_shipdate").cast("date")).cast("int")
        ).write.mode("overwrite").partitionBy("l_year").parquet(path)
        return path

    return _aux_cached("lineitem_year", sf_dir, build, ("lineitem",))


def shingle_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted shingle index (doc_id, n, sz, sh, mh) — the
    publish-time materialization of the dedup family's shared
    substrate (the tokenize/shingle/hash pass), so serving-path dedup
    starts at the posting-list aggregate.  Same maintenance story as
    doc_postings: refresh by shingling only delta rowsets.

    Four shingle widths (``n`` = 1, 2, 3, 5) and two hash columns live
    in the one index: ``sh`` = xxhash64 drives n-gram Jaccard posting
    lists AND the DSIR unigram+bigram feature space (widths 1/2),
    ``mh`` = md5int % MINHASH_P is the minhash affine family's base
    hash — so the near-dup variants and importance-resampling serve
    from the same publish-time pass with their declared semantics (and
    oracles) unchanged.

    LIST-partitioned by ``n`` (one directory per width), so every
    consumer's ``n == k`` filter is a partition PRUNE — a width-3
    reader never lists, let alone scans, the width-1/2/5 files — the
    same layout discipline as the IVF cell table."""

    def build():
        from .operators.indexes import shingle_rows_from

        docs = load_table(spark, sf_dir, "documents")
        path = os.path.join(warehouse_for(sf_dir), "shingle_index")
        # Size index files to a ROW TARGET (~100k docs ≈ 4M gram rows
        # ≈ tens of MB per file), not to the writer's input
        # parallelism: inheriting the scan's partitioning wrote 32
        # ~100 KiB files per width at sf0.1, and every index consumer
        # then scheduled 32 near-empty tasks per scan.  The (n,
        # doc-bucket) repartition keeps each width's files at the
        # target size at ANY corpus scale — more docs, more files,
        # same bytes per task.
        files_per_width = max(1, docs.count() // 100_000)
        shingle_rows_from(docs).repartition(
            files_per_width,
            F.col("n"),
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_width)),
        ).write.mode("overwrite").partitionBy("n").parquet(path)
        return path

    return _aux_cached("shingle_index", sf_dir, build, ("documents",))


# the FIXED parameter set the persisted signature index is built with
# — consumers that probe its buckets (the streaming near-dup filter)
# validate against this instead of silently mismatching keys
_MINHASH_SIGS_NUM_HASHES = 8
_MINHASH_SIGS_N = 3


def minhash_sigs_build_params() -> tuple[int, int]:
    """(num_hashes, shingle width n) the persisted signature index is
    built with — the contract a probe-side consumer must match."""
    return (_MINHASH_SIGS_NUM_HASHES, _MINHASH_SIGS_N)


def minhash_sigs_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted minhash SIGNATURE table (doc_id, mh0..mh7)
    over the declared parameter set (8 hashes, n=3 shingles) — one
    groupBy over the shingle index at publish time, so the serving-path
    candidate query is bands -> bucket self-join -> distinct with no
    per-run signature aggregate at all.  Signatures are per-doc and
    corpus-independent, so delta refresh = sign only the delta rowsets
    and append (same story as pq_codes / ivf cells)."""

    def build():
        from .operators.dedup import minhash_signatures_from_index

        idx = (
            spark.read.parquet(shingle_index_path(spark, sf_dir))
            .filter(F.col("n") == _MINHASH_SIGS_N)
            .select("doc_id", "mh")
        )
        path = os.path.join(warehouse_for(sf_dir), "minhash_sigs")
        minhash_signatures_from_index(
            idx, num_hashes=_MINHASH_SIGS_NUM_HASHES
        ).write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("minhash_sigs", sf_dir, build, ("documents",))


def simhash_fps_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted simhash FINGERPRINT table (doc_id, simhash)
    — the third member of the publish-time dedup-index family
    (shingle index, minhash signatures, simhash fingerprints).
    Fingerprints are per-doc and corpus-independent, so delta refresh
    = fingerprint only the delta rowsets and append."""

    def build():
        from .operators.dedup import simhash

        docs = load_table(spark, sf_dir, "documents")
        path = os.path.join(warehouse_for(sf_dir), "simhash_fps")
        simhash(docs, bits=32).write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("simhash_fps", sf_dir, build, ("documents",))


def doc_stats_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted per-document CURATION-STATS table — the
    fourth member of the publish-time dedup/curation-index family
    (shingle index, minhash signatures, simhash fingerprints, doc
    stats): every column is a pure per-document function of the text
    (quality features + language ID via operators/text.enrich — the
    SAME operator the inline pipeline runs, so values are identical by
    construction — plus the ws/BPE-ish token counts and the exact-dedup
    sha256), with the text itself dropped.  ~50 narrow bytes per doc.

    This is the optimization-guide §8 "decide with small rows" shape:
    the curation pipeline's decisions (quality filter, exact dedup,
    near-dup keepset, token budget roll-ups) depend only on these
    scalars, never on the text bytes, so a pipeline serving from this
    table scans the heavy text exactly once — at publish — and each
    run moves ~50 B/doc instead of the corpus.  Delta refresh = score
    only the delta rowsets and append (per-doc, corpus-independent,
    same story as simhash_fps / minhash_sigs)."""

    def build():
        from .operators.text import enrich, token_counts

        docs = load_table(spark, sf_dir, "documents")
        path = os.path.join(warehouse_for(sf_dir), "doc_stats")
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
        stats.write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("doc_stats", sf_dir, build, ("documents",))


def zorder_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the Z-order-clustered lineitem copy
    (clustered on (l_partkey, l_suppkey)) — the write-path layout
    transform; readers scan it like any parquet table and rely on
    row-group stats for 2-D box pruning."""

    def build():
        from .operators.clustering import zorder_write

        path = os.path.join(warehouse_for(sf_dir), "lineitem_zorder")
        zorder_write(
            load_table(spark, sf_dir, "lineitem"),
            path,
            ["l_partkey", "l_suppkey"],
        )
        return path

    return _aux_cached("zorder_lineitem", sf_dir, build, ("lineitem",))


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


def nb_model_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the persisted NB quality-model weights
    (bucket, weight; bucket=-1 is the prior) — trained ONCE per corpus
    on the learnable token-presence label by
    operators/text.naive_bayes_train_hashed and stored as a tiny
    parquet table, the model-registry artifact the serving query
    broadcasts.  Oracle-checkable because training is closed-form and
    exact-decimal: DuckDB re-derives identical weights from the same
    corpus."""

    def build():
        from pyspark.sql import functions as F

        from .operators.text import naive_bayes_train_hashed

        path = os.path.join(warehouse_for(sf_dir), "nb_model")
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "__lbl",
            F.when(
                F.array_contains(F.split("text", " "), "spark"), "pos"
            ).otherwise("neg"),
        )
        naive_bayes_train_hashed(
            docs, label_col="__lbl", positive="pos"
        ).write.mode("overwrite").parquet(path)
        return path

    return _aux_cached("nb_model", sf_dir, build, ("documents",))
