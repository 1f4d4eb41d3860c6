"""Adapted TPC-H query suite (round 5): Q2, Q4, Q6-Q17, Q19-Q22
re-expressed over the driver's TPC-H-ish star schema — with Q1, Q3,
Q5 and Q18 in the entry module, all 22 TPC-H plan shapes are covered.

The fixture schema omits partsupp and several columns (l_shipmode,
l_commitdate, l_receiptdate, o_comment, c_phone), so each query keeps
the REFERENCE QUERY'S PLAN SHAPE — the thing that matters for engine
coverage — while substituting available columns for the missing ones
(noted per query).  Reference parity: these exercise the relational
surface SURVEY §2 Part B declares (correlated EXISTS / NOT EXISTS,
scalar subqueries, disjunctive multi-branch predicates, left-outer
distribution counts, windowed argmax) over the same storage operators
the reference scans with (src/lib.rs scan/filter/agg pipeline).

Scale notes (100 TB):
- Bounded dims (nation: 25 rows, region: 5 — constants of the schema
  at ANY scale factor) take a hard broadcast hint.  GROWING dims
  (customer, supplier — ~1/10 the fact size at a real 100 TB SF) go
  through `_broadcast_if_fits`: the hint is applied only when
  Catalyst's own sizeInBytes estimate fits the session's
  autoBroadcastJoinThreshold, else the join is left unhinted and the
  static planner + AQE choose from actual sizes (degrading to SMJ
  instead of OOMing the build side on a hard hint).  The only shuffle
  joins are fact-fact (lineitem x orders) on their natural keys — the
  same exchange the co-bucketed layout removes.
- Correlated EXISTS / NOT IN become semi / anti joins: one shuffle on
  the correlation key, no per-row subquery execution.
- Scalar subqueries (global avg, global max) aggregate down to one
  row and broadcast back — never a driver collect.
- Decimal(18,x) sums keep aggregation exact so results hash-match the
  DuckDB oracle bit-for-bit regardless of partitioning / add order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from olap_storage_engine_spark.sources.testdata import load_table


def _broadcast_if_fits(df: DataFrame) -> DataFrame:
    """Size-GATED broadcast hint for dims that grow with the scale
    factor (customer, supplier).  A hard `F.broadcast` is a promise
    the planner keeps even when it shouldn't: at a 100 TB SF these
    dims are ~1/10 the fact size and the hint would OOM the build
    side rather than degrade.  Gate on Catalyst's own sizeInBytes
    estimate (file-size-derived for parquet scans — the same stat the
    planner itself consults) vs the session's
    autoBroadcastJoinThreshold: under it, hint (fixture-scale plans
    stay byte-identical); over it — or with broadcasting disabled —
    return the frame UNHINTED and let the static planner + AQE decide
    from actual sizes.  Driver-side metadata only; never runs a job."""
    spark = df.sparkSession
    thr_str = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10MB"
    )
    try:
        thr = int(thr_str)
    except ValueError:
        thr = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(thr_str)
        )
    if thr <= 0:
        return df
    est = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    return F.broadcast(df) if est <= thr else df


def _dsum(col, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(f"decimal(18,{scale})")).cast("double"), scale)


def _disc_price():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier (adapted: the per-(part, supplier)
    minimum observed unit price from lineitem stands in for the
    missing partsupp supplycost): for mid-size parts, the supplier in
    one region offering each part at its regional minimum cost.  The
    correlated min subquery becomes a per-part aggregate joined back
    on (part, cost) — both sides derived from the same broadcast-
    filtered scan, never a per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # regional suppliers only (nation -> region chain, broadcast)
    s_reg = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    unit = F.round(
        (F.col("l_extendedprice") / F.col("l_quantity")).cast("decimal(18,4)")
        .cast("double"),
        4,
    )
    cost = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s_reg), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_type", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(unit).alias("cost"))
    )
    min_cost = cost.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        cost.join(
            F.broadcast(min_cost),
            (cost["p_partkey"] == F.col("mp_partkey"))
            & (cost["cost"] == F.col("min_cost")),
        )
        .select(
            F.round(F.col("s_acctbal").cast("decimal(18,2)").cast("double"), 2).alias(
                "s_acctbal"
            ),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock (adapted: shipped value stands in for the
    missing partsupp availability value): parts of one nation's
    suppliers whose total shipped value exceeds a fixed fraction of
    that nation's total — the scalar-subquery-threshold shape, with
    the threshold a one-row aggregate broadcast back."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey"
    )
    vals = (
        li.join(F.broadcast(sn), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(_dsum("l_extendedprice").alias("value"))
    )
    total = vals.agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") * 0.001)
        .alias("threshold")
    )
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking: orders in one quarter with at least
    one lineitem shipped after the order date (stand-in for the
    commitdate < receiptdate lateness predicate), counted by priority.

    Shape: correlated EXISTS -> LEFT SEMI join on the order key with a
    non-equi lateness conjunct, then a tiny 5-group aggregate.  The
    semi join shuffles both facts once on l_orderkey/o_orderkey; at
    100 TB the co-bucketed orders/lineitem layout makes it
    exchange-free."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting-revenue change: pure scan-filter-sum, zero joins.
    The whole query is one map-side-combined aggregate over a scan
    whose three predicates all push to Parquet row groups."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
                "revenue"
            )
        )
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations, by shipment year.
    supplier-nation and customer-nation each resolve through a
    broadcast dim chain; the one real exchange is lineitem x orders."""
    n1, n2 = "NATION_1", "NATION_2"
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(_broadcast_if_fits(c), o["o_custkey"] == c["c_custkey"])
        .join(_broadcast_if_fits(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("s_nkey"))
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(_disc_price(), 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q7_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 over the CO-BUCKETED fact pair: tpch_q7's one real exchange
    — lineitem x orders on the orderkey — disappears when both facts
    read through their bucketBy(16, orderkey) replicas (merge join
    over pre-sorted bucket files, zero fact-side Exchange/Sort; the
    only shuffle left is the 4-row year/nation aggregate).  Same
    result and oracle as tpch_q7 — the inline twin keeps the
    reference's plan shape, this one is the 100 TB serving layout
    (the r12 verdict's lever for the q7 driver flag);
    tests/test_bucketed.py pins the exchange count."""
    from .fixtures import artifact_path

    n1, n2 = "NATION_1", "NATION_2"
    o_name, li_name = artifact_path(spark, sf_dir, "bucketed_fact_pair")
    li = spark.table(li_name).filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = spark.table(o_name)
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .join(_broadcast_if_fits(c), o["o_custkey"] == c["c_custkey"])
        .join(_broadcast_if_fits(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("s_nkey"))
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(_disc_price(), 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: one nation's share of a region's
    order revenue by year — the conditional-sum-over-join-tree shape.
    Every dim broadcasts; share numerator and denominator come from
    the SAME aggregate (one pass, two conditional decimal sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    dp = _disc_price().cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(_broadcast_if_fits(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r["r_regionkey"])
        .join(_broadcast_if_fits(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", dp).otherwise(zero)
                ).cast("double")
                / F.sum(dp).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit (adapted: no partsupp, so profit =
    discounted revenue rather than revenue - supplycost*qty), by
    supplier nation and order year, for parts whose name contains a
    color token.  part and supplier/nation broadcast; lineitem x
    orders is the only exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(_broadcast_if_fits(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(_disc_price(), 6).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: top-20 customers by revenue lost to
    returns (l_returnflag = 'R') in one quarter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(_broadcast_if_fits(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal").cast("decimal(18,2)").cast("double"), 2).alias(
                "c_acctbal"
            ),
            "n_name",
        )
        .agg(_dsum(_disc_price(), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-priority classification (adapted: l_linestatus
    stands in for the missing l_shipmode): per status, how many 1996
    shipments belong to high- vs low-priority orders.  The CASE sums
    are map-side combined; orders x lineitem is the one exchange."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: LEFT OUTER join with a
    predicate inside the join condition (orders that aren't 5-LOW),
    per-customer count, then the distribution of those counts.  Two
    aggregates: the first shuffles on custkey, the second on the tiny
    count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: percentage of one month's revenue from
    PROMO-type parts.  part broadcasts; one conditional + one total
    decimal sum over the same scan, one output row."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part")
    dp = _disc_price().cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", dp).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(dp).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: per-supplier revenue for one quarter, then the
    supplier(s) achieving the global maximum.  The scalar-subquery max
    is a one-row aggregate broadcast back onto the per-supplier rows
    (no single-partition window, no driver collect); supplier
    broadcasts for the enrich."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(_dsum(_disc_price(), 6).alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_rev"))
    top = rev.join(F.broadcast(max_rev)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    return (
        top.join(_broadcast_if_fits(s), top["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship (adapted: distinct lineitem
    (partkey, suppkey) pairs stand in for partsupp; negative account
    balance stands in for the complaints predicate).  NOT IN becomes a
    broadcast anti join against the tiny excluded-supplier set.  No
    separate pairs-distinct pass: count(DISTINCT suppkey) dedups
    inside its own aggregate, so the plan is broadcast-filter ->
    broadcast-join -> one count-distinct aggregate — the part
    predicate prunes rows BEFORE the first exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            "p_brand",
            "p_type",
            "p_size",
        )
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: lineitems of one brand whose
    quantity is below 20%% of that part's average quantity.  The
    correlated scalar subquery becomes a per-part aggregate joined
    back to the scan (both sides pre-filtered to the brand's parts, so
    the agg and the join are broadcast-sized).  The per-part average
    is an exact decimal sum / count so the 0.2*avg threshold is
    bit-identical to the oracle's."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = li_b.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li_b.join(F.broadcast(avg_q), li_b["l_partkey"] == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under a three-branch disjunctive
    brand/size/quantity predicate.  part broadcasts; the OR-of-ANDs
    stays a single codegen'd filter over the joined rows (Catalyst
    also extracts the common l_quantity <= 30 bound for pushdown)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(_dsum(_disc_price(), 6).alias("revenue"))


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential promotion (adapted: shipped quantity stands in
    for the missing partsupp availability): suppliers who moved more
    than a threshold of any 'red' part during 1996.  The nested
    per-(supplier, part) quantity aggregate feeds a LEFT SEMI join —
    the IN-subquery shape — and supplier enriches by broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    )
    s = load_table(spark, sf_dir, "supplier")
    movers = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty")
        )
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(movers, s["s_suppkey"] == movers["l_suppkey"], "left_semi")
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal").cast("decimal(18,2)").cast("double"), 2).alias(
                "s_acctbal"
            ),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting (adapted lateness:
    l_shipdate > o_orderdate + 60 days stands in for the missing
    receipt/commit dates): for finished orders, count per supplier the
    late lines where at least one OTHER supplier participated in the
    order (EXISTS -> left-semi) but no OTHER supplier was also late
    (NOT EXISTS -> left-anti).  Both the semi and anti correlate on
    l_orderkey, so all three legs shuffle on the same key — one
    co-partitioned exchange family at 100 TB, no per-row subqueries."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    late_bound = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > late_bound)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    waited = (
        l1.join(
            l2,
            (l1["l_orderkey"] == F.col("k2")) & (l1["l_suppkey"] != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (l1["l_orderkey"] == F.col("k3"))
            & (l1["l_suppkey"] != F.col("s3"))
            & (
                F.col("ship3")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_anti",
        )
    )
    return (
        waited.join(_broadcast_if_fits(s), waited["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 over the CO-BUCKETED fact pair: all three lineitem legs and
    the orders join key on l_orderkey, so reading both tables through
    their bucketBy(16, orderkey) replicas makes the l1xorders join and
    both correlated legs exchange-free on the fact side — the r5
    verdict's one remaining Q21 lever (tpch_q21 inline made three
    shuffled passes over lineitem).  Same result and oracle as
    tpch_q21; tests/test_bucketed.py pins the fact-side exchange
    count."""
    from .fixtures import artifact_path
    from .sources.testdata import load_table

    o_name, li_name = artifact_path(spark, sf_dir, "bucketed_fact_pair")
    o = spark.table(o_name).filter(F.col("o_orderstatus") == "F")
    li = spark.table(li_name)
    s = load_table(spark, sf_dir, "supplier")
    late_bound = F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l1 = (
        li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > late_bound)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    waited = (
        l1.join(
            l2.hint("merge"),
            (l1["l_orderkey"] == F.col("k2")) & (l1["l_suppkey"] != F.col("s2")),
            "left_semi",
        )
        .join(
            l3.hint("merge"),
            (l1["l_orderkey"] == F.col("k3"))
            & (l1["l_suppkey"] != F.col("s3"))
            & (
                F.col("ship3")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_anti",
        )
    )
    return (
        waited.join(_broadcast_if_fits(s), waited["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity (adapted: nationkey % 10 stands in
    for the phone country code): customers in selected codes with an
    above-average positive balance and no RECENT orders (every fixture
    customer has some order, so lapsed-since-2000 replaces
    never-ordered).  The global average is a one-row aggregate
    broadcast back (scalar subquery); NOT EXISTS is a shuffle anti
    join on custkey against the pre-filtered recent-orders scan."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 10).cast("int")
    ).filter(F.col("cntrycode").isin(1, 2, 3, 4, 5, 6, 7))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# every q_<name> builder above, declared once by its name
TPCH_QUERIES = {
    n[2:]: fn for n, fn in list(globals().items()) if n.startswith("q_")
}


TPCH_ORACLES = {
    "tpch_q2": """
        WITH s_reg AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'),
        cost AS (
          SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name,
                 min(round(CAST(CAST(l_extendedprice / l_quantity
                       AS DECIMAL(18,4)) AS DOUBLE), 4)) AS cost
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN s_reg ON l_suppkey = s_suppkey
          WHERE p_size <= 5
          GROUP BY 1, 2, 3, 4, 5, 6),
        mc AS (
          SELECT p_partkey AS mp_partkey, min(cost) AS min_cost
          FROM cost GROUP BY 1)
        SELECT round(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2)
                 AS s_acctbal,
               s_name, n_name, p_partkey, p_type, cost
        FROM cost JOIN mc ON p_partkey = mp_partkey AND cost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 20
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "tpch_q6": """
        SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                   AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "tpch_q7": """
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
            OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    # same semantics as tpch_q7 — the bucketed twin only changes the
    # physical layout, never the answer
    "tpch_q7_bucketed": """
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
            OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_q8": """
        SELECT year(o_orderdate) AS o_year,
               round(
                 CAST(sum(CASE WHEN ns.n_name = 'NATION_5'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1 ORDER BY 1
    """,
    "tpch_q9": """
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY nation, o_year DESC
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name,
               round(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2)
                 AS c_acctbal,
               n_name,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "tpch_q11": """
        WITH vals AS (
          SELECT l_partkey,
                 round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                       AS DOUBLE), 2) AS value
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
          GROUP BY 1)
        SELECT l_partkey, value FROM vals
        WHERE value > (
          SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 0.001
          FROM vals)
        ORDER BY value DESC, l_partkey
    """,
    "tpch_q12": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q14": """
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE), 4) AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
    "tpch_q15": """
        WITH revenue AS (
          SELECT l_suppkey,
                 round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "tpch_q17": """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE) / 7.0, 4) AS avg_yearly
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < 0.2 * (
            SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
                   AS DOUBLE) / count(*)
            FROM lineitem l2
            JOIN part p2 ON l2.l_partkey = p2.p_partkey
            WHERE p2.p_brand = 'Brand#3'
              AND l2.l_partkey = lineitem.l_partkey)
    """,
    "tpch_q19": """
        SELECT round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q20": """
        SELECT s_suppkey, s_name,
               round(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2)
                 AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey, l_partkey
          HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50)
        ORDER BY s_suppkey
    """,
    "tpch_q21": """
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON l1.l_orderkey = o.o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "tpch_q21_bucketed": """
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON l1.l_orderkey = o.o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "tpch_q22": """
        SELECT cntrycode, count(*) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                     AS DOUBLE), 2) AS totacctbal
        FROM (
          SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
                 c_custkey, c_acctbal
          FROM customer
          WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7)) c
        WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*)
            FROM customer
            WHERE c_acctbal > 0.0
              AND c_nationkey % 10 IN (1, 2, 3, 4, 5, 6, 7))
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
}
