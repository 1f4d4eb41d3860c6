"""Storage-partitioned (bucket-aware) join — the ``bucketed_pair``
artifact (fixtures.ARTIFACTS).

The 100 TB claim under test: two tables co-bucketed on the join key
join with ZERO exchanges (no shuffle on either side), and a downstream
aggregate keyed on the same column reuses the bucket partitioning.
"""

from pyspark.sql import functions as F

from olap_storage_engine_spark.fixtures import artifact_path
from olap_storage_engine_spark.plans.explain import formatted_plan

SF = "/root/testdata/sf0.001"


def _bucketed_join_df(spark):
    o_name, c_name = artifact_path(spark, SF, "bucketed_pair")
    o = spark.table(o_name)
    c = spark.table(c_name)
    return (
        o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def test_bucketed_join_has_zero_exchanges(spark):
    plan = formatted_plan(_bucketed_join_df(spark))
    assert "SortMergeJoin" in plan  # the merge hint held: not broadcast
    assert "Exchange" not in plan  # neither join side NOR the aggregate


def test_register_bucketed_engine_table_joins_shuffle_free(spark, warehouse):
    """Two OlapTables co-bucketed on the same key, registered as
    managed bucketed replicas -> their equi-join has zero exchanges."""
    from olap_storage_engine_spark.spec import (
        BucketSpec,
        BucketType,
        ColumnSpec,
        ColumnType,
        KeysType,
        TableSpec,
    )
    from olap_storage_engine_spark.table import OlapTable

    def mk(name, valcol):
        spec = TableSpec(
            name=name,
            columns=[
                ColumnSpec.key("k", ColumnType.INT64),
                ColumnSpec.value(valcol, ColumnType.FLOAT64),
            ],
            keys_type=KeysType.DUPLICATE,
            bucket=BucketSpec(BucketType.HASH, "k", 4),
        )
        t = OlapTable.create(spark, spec, warehouse, overwrite=True)
        t.write(
            spark.createDataFrame(
                [(i, float(i)) for i in range(200)], f"k long, {valcol} double"
            )
        )
        return t

    a = mk("bkt_a", "va")
    b = mk("bkt_b", "vb")
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_test")
    a.register_bucketed("bkt_test.a_by_k")
    b.register_bucketed("bkt_test.b_by_k")
    ta = spark.table("bkt_test.a_by_k")
    tb = spark.table("bkt_test.b_by_k")
    j = ta.join(tb.hint("merge"), "k")
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert j.count() == 200


def test_bucketed_join_matches_plain_join(spark):
    bucketed = {
        (r["c_custkey"], r["n_orders"])
        for r in _bucketed_join_df(spark).collect()
    }
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    plain = {
        (r["c_custkey"], r["n_orders"])
        for r in (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("c_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .collect()
        )
    }
    assert bucketed == plain


def test_replica_staleness_detected_and_refreshed(spark, warehouse):
    """Publish to the base after registering -> the replica is stale;
    read_bucketed refuses on 'raise', refreshes by default, and the
    refreshed co-bucketed join still has zero exchanges."""
    import pytest

    from olap_storage_engine_spark.spec import (
        BucketSpec,
        BucketType,
        ColumnSpec,
        ColumnType,
        KeysType,
        TableSpec,
    )
    from olap_storage_engine_spark.table import OlapTable, StaleReplicaError

    def mk(name, valcol):
        spec = TableSpec(
            name=name,
            columns=[
                ColumnSpec.key("k", ColumnType.INT64),
                ColumnSpec.value(valcol, ColumnType.FLOAT64),
            ],
            keys_type=KeysType.DUPLICATE,
            bucket=BucketSpec(BucketType.HASH, "k", 4),
        )
        t = OlapTable.create(spark, spec, warehouse, overwrite=True)
        t.write(
            spark.createDataFrame(
                [(i, float(i)) for i in range(100)], f"k long, {valcol} double"
            )
        )
        return t

    a = mk("bkt_sa", "va")
    b = mk("bkt_sb", "vb")
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt_stale")
    a.register_bucketed("bkt_stale.a_by_k")
    b.register_bucketed("bkt_stale.b_by_k")
    assert not a.bucketed_is_stale("bkt_stale.a_by_k")

    # base publishes a delta -> the replica no longer reflects it
    a.write(
        spark.createDataFrame([(1000, 1000.0)], "k long, va double")
    )
    assert a.bucketed_is_stale("bkt_stale.a_by_k")
    with pytest.raises(StaleReplicaError):
        a.read_bucketed("bkt_stale.a_by_k", on_stale="raise")
    # 'allow' serves the pinned older snapshot knowingly
    assert a.read_bucketed("bkt_stale.a_by_k", on_stale="allow").count() == 100

    # default refreshes: the join sees the delta, still zero exchanges
    ta = a.read_bucketed("bkt_stale.a_by_k")
    assert not a.bucketed_is_stale("bkt_stale.a_by_k")
    assert ta.count() == 101
    tb = b.read_bucketed("bkt_stale.b_by_k")
    j = ta.join(tb.hint("merge"), "k")
    plan = formatted_plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert j.count() == 100  # delta key 1000 has no match in b


def test_q21_bucketed_fact_legs_exchange_free(spark):
    """tpch_q21_bucketed: all three lineitem legs and orders key on
    l_orderkey through the co-bucketed replicas, so the only exchanges
    left are the final supplier aggregate + top-k (never a lineitem
    shuffle)."""
    from olap_storage_engine_spark.tpch import q_tpch_q21_bucketed

    plan = formatted_plan(q_tpch_q21_bucketed(spark, SF))
    # the fact joins are sort-merge over bucketed scans
    assert "SortMergeJoin" in plan
    # no exchange may carry the fact join key: the lineitem legs join
    # co-partitioned.  (The s_name aggregate and top-k still shuffle.)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, ln
    # and the overall exchange count stays small (agg + topk family)
    n_ex = plan.count("Exchange")
    assert n_ex <= 4, f"{n_ex} exchanges\n{plan}"
    # sorted-bucket-scan ordering (session.py conf + one-file-per-
    # bucket writes) must elide EVERY SMJ sort: the fact side reads
    # pre-sorted bucket files
    n_sort = plan.count("Sort ")
    assert n_sort == 0, f"{n_sort} sorts\n{plan}"


def test_q7_bucketed_fact_join_exchange_free(spark):
    """tpch_q7_bucketed: the lineitem x orders join reads both facts
    through the co-bucketed replicas — merge join over pre-sorted
    bucket files, zero Exchange on the orderkey and zero Sort; the
    only shuffle left is the 4-row nation/year aggregate."""
    from olap_storage_engine_spark.tpch import q_tpch_q7_bucketed

    plan = formatted_plan(q_tpch_q7_bucketed(spark, SF))
    assert "SortMergeJoin" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, ln
    # the SMJ itself is sort-free (pre-sorted bucket files); the only
    # Sort allowed is the query's own final ORDER BY over 4 rows
    for ln in plan.splitlines():
        if "Sort " in ln:
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, ln
    assert plan.count("Sort ") <= 1, plan
    # shuffle exchanges: ONE hash (the 4-row aggregate) + ONE range
    # (the final ORDER BY); broadcast exchanges (the dim chain) are
    # the design.  Formatted explain prints each node twice (tree +
    # detail), hence the x2.
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert plan.count("Exchange rangepartitioning") <= 2, plan


def test_q18_bucketed_zero_fact_exchanges(spark):
    """tpch_q18_bucketed: BOTH fact-side exchanges of the inline twin
    — the quantity rollup's groupBy(l_orderkey) and the big⋈orders
    join — are gone through the co-bucketed replicas; the only Sort
    is the agg side feeding the merge join (exchange-free), the
    orders side reads pre-sorted, and the final top-100 compiles to
    TakeOrderedAndProject (no range exchange)."""
    import __spark_entry__ as entry

    plan = formatted_plan(entry.queries()["tpch_q18_bucketed"](spark, SF))
    assert "SortMergeJoin" in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "l_orderkey" not in ln and "o_orderkey" not in ln, ln
    assert "Exchange rangepartitioning" not in plan
    assert "TakeOrderedAndProject" in plan
