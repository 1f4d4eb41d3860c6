"""Cumulative/base compaction layers, collapsed-read fast path,
strict routing, stats API."""

import pytest
from pyspark.sql import functions as F

from olap_storage_engine_spark.operators.compaction import (
    compact,
    compact_base,
    compact_cumulative,
    merge_into,
)
from olap_storage_engine_spark.spec import (
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
from olap_storage_engine_spark.table import OlapTable


def _agg_spec(name="t"):
    return TableSpec(
        name=name,
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.FLOAT64, AggregateType.SUM),
        ],
        keys_type=KeysType.AGGREGATE,
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )


def _write_n(spark, t, n_versions, rows_per=20):
    df = spark.createDataFrame(
        [(i % 5, 1.0) for i in range(rows_per)], "k long, v double"
    )
    for _ in range(n_versions):
        t.write(df)


def test_cumulative_then_base(spark, warehouse):
    t = OlapTable.create(spark, _agg_spec(), warehouse)
    _write_n(spark, t, 3)  # versions 0..2
    before = sorted(map(tuple, t.read().collect()))

    compact_cumulative(t)  # merges [0,2], clp -> 3
    assert t.manifest.cumulative_layer_point == 3
    assert t.compaction_score() == 1
    assert sorted(map(tuple, t.read().collect())) == before

    _write_n(spark, t, 2)  # versions 3..4 above the layer point
    compact_cumulative(t)  # merges [3,4] only, base rowset untouched
    assert t.manifest.cumulative_layer_point == 5
    assert t.compaction_score() == 2  # base [0,2] + cumulative [3,4]

    expect = sorted((k, 5.0 * (20 // 5)) for k in range(5))
    got = sorted(map(tuple, t.read().collect()))
    assert got == expect

    compact_base(t)  # merges [0, 4]? no: [0, clp-1] = [0,4] -> one rowset
    assert t.compaction_score() == 1
    assert sorted(map(tuple, t.read().collect())) == expect


def test_collapsed_fast_path_skips_window(spark, warehouse):
    spec = TableSpec(
        name="u",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
    )
    t = OlapTable.create(spark, spec, warehouse)
    df = spark.createDataFrame([(i % 5, float(i)) for i in range(20)], "k long, v double")
    t.write(df)
    t.write(df)
    plan_before = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan_before  # merge-on-read
    before = sorted(map(tuple, t.read().collect()))
    compact(t)
    plan_after = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan_after  # collapsed fast path
    assert sorted(map(tuple, t.read().collect())) == before
    # a post-compaction write reactivates merge-on-read
    t.write(df)
    plan_mixed = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan_mixed


def test_strict_routing_rejects_unrouted(spark, warehouse):
    spec = TableSpec(
        name="strict",
        columns=[
            ColumnSpec.key("d", ColumnType.VARCHAR),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        partition=PartitionPolicy(
            PartitionType.RANGE, "d", bounds=[("p1", "2024-06-01")]
        ),
    )
    t = OlapTable.create(spark, spec, warehouse)
    good = spark.createDataFrame([("2024-01-01", 1.0)], "d string, v double")
    t.write(good)
    bad = spark.createDataFrame([("2030-01-01", 1.0)], "d string, v double")
    with pytest.raises(ValueError, match="outside every partition bound"):
        t.write(bad)
    # non-strict keeps the rows, readable via scan
    rs = t.write(bad, strict_routing=False)
    assert rs.num_rows == 1


def test_stats(spark, warehouse):
    t = OlapTable.create(spark, _agg_spec("st"), warehouse)
    _write_n(spark, t, 2, rows_per=10)
    s = t.stats()
    assert s["num_rows"] == 20
    assert s["num_rowsets"] == 2
    assert s["max_version"] == 1
    assert s["data_size"] > 0
    assert s["keys_type"] == "AGGREGATE"


def test_cumulative_after_unpartitioned_merge(spark, warehouse):
    """An UNPARTITIONED merge publishes [0, 2] over the granular
    rowsets; cumulative compaction stops above it and base compaction
    folds everything into one rowset."""
    t = OlapTable.create(spark, _agg_spec("um"), warehouse)
    _write_n(spark, t, 1)  # v0
    compact_cumulative(t)  # layer point -> 1
    _write_n(spark, t, 1)  # v1
    merge_into(
        t, spark.createDataFrame([(0, 100.0), (9, 9.0)], "k long, v double")
    )  # v2 = [0, 2]
    want = sorted(map(tuple, t.read().collect()))
    assert (0, 100.0) in want and (9, 9.0) in want
    compact_cumulative(t)
    assert t.manifest.cumulative_layer_point == 3
    assert sorted(map(tuple, t.read().collect())) == want
    compact_base(t)
    assert t.compaction_score() == 1
    assert sorted(map(tuple, t.read().collect())) == want
