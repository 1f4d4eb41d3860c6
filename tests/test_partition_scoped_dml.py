"""Partition-scoped copy-on-write MERGE/DELETE.

The 100 TB contract: DML cost is O(affected partitions), not O(table).
A merge whose source routes to one partition must publish a rowset
containing ONLY that partition's directories and leave every other
partition's files byte-identical (the reference's per-tablet rowsets,
src/meta.rs:90-121 — a rewrite touches one tablet, never the table).
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from olap_storage_engine_spark.operators.compaction import (
    compact,
    compact_base,
    compact_cumulative,
    delete_where,
    garbage_collect,
    merge_into,
)
from olap_storage_engine_spark.plans.manifest import VersionGraphError
from olap_storage_engine_spark.spec import (
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


def _table(spark, warehouse, name="psd"):
    spec = TableSpec(
        name=name,
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("d", ColumnType.VARCHAR),
            ColumnSpec.value("amount", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        partition=PartitionPolicy(
            PartitionType.RANGE,
            "d",
            bounds=[
                ("p1", "2024-02-01"),
                ("p2", "2024-03-01"),
                ("p3", "2024-04-01"),
            ],
        ),
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    t = OlapTable.create(spark, spec, warehouse, overwrite=True)
    base = [
        (1, "2024-01-10", 10.0),
        (2, "2024-01-20", 20.0),
        (3, "2024-02-10", 30.0),
        (4, "2024-02-20", 40.0),
        (5, "2024-03-10", 50.0),
        (6, "2024-03-20", 60.0),
    ]
    t.write(
        spark.createDataFrame(base, "k long, d string, amount double")
    )  # v0: two keys per partition
    return t


def _inventory(root):
    """{relative parquet path: md5} over the whole table tree."""
    inv = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            if fn.endswith(".parquet"):
                fp = os.path.join(dp, fn)
                with open(fp, "rb") as f:
                    inv[os.path.relpath(fp, root)] = hashlib.md5(
                        f.read()
                    ).hexdigest()
    return inv


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_rewrites_only_affected_partition(spark, warehouse):
    t = _table(spark, warehouse)
    before = _inventory(t.root)
    src = spark.createDataFrame(
        [(3, "2024-02-10", 300.0), (99, "2024-02-25", 990.0)],
        "k long, d string, amount double",
    )  # both rows route to p2
    rs = merge_into(t, src)
    assert rs.partitions == ["p2"]

    # every pre-merge file is untouched, byte for byte
    after = _inventory(t.root)
    assert before == {p: h for p, h in after.items() if p in before}
    # the new rowset holds ONLY the affected partition's directories
    new_files = [p for p in after if p not in before]
    assert new_files and all("__pt=p2" in p for p in new_files)

    assert _rows(t.read()) == [
        (1, "2024-01-10", 10.0),
        (2, "2024-01-20", 20.0),
        (3, "2024-02-10", 300.0),
        (4, "2024-02-20", 40.0),
        (5, "2024-03-10", 50.0),
        (6, "2024-03-20", 60.0),
        (99, "2024-02-25", 990.0),
    ]
    # time travel: the pre-merge snapshot still resolves
    assert _rows(t.read(0, 0)) == [
        (1, "2024-01-10", 10.0),
        (2, "2024-01-20", 20.0),
        (3, "2024-02-10", 30.0),
        (4, "2024-02-20", 40.0),
        (5, "2024-03-10", 50.0),
        (6, "2024-03-20", 60.0),
    ]


def test_delete_rewrites_only_matching_partitions(spark, warehouse):
    t = _table(spark, warehouse, "psd_del")
    before = _inventory(t.root)
    n = delete_where(t, F.col("k") == 5)  # k=5 lives in p3
    assert n == 1
    after = _inventory(t.root)
    assert before == {p: h for p, h in after.items() if p in before}
    new_files = [p for p in after if p not in before]
    assert new_files and all("__pt=p3" in p for p in new_files)
    assert _rows(t.read().select("k")) == [(1,), (2,), (3,), (4,), (6,)]
    assert _rows(t.read(0, 0).select("k")) == [
        (1,), (2,), (3,), (4,), (5,), (6,),
    ]


def test_delete_no_match_rewrites_nothing(spark, warehouse):
    t = _table(spark, warehouse, "psd_nm")
    before = _inventory(t.root)
    assert delete_where(t, F.col("amount") > 1e9) == 0
    assert _inventory(t.root) == before
    assert t.manifest.max_version == 0


def test_successive_scoped_dml_and_later_ingest(spark, warehouse):
    """Two scoped DMLs on different partitions, then a normal global
    ingest on top — the per-partition chains and the global delta must
    compose."""
    t = _table(spark, warehouse, "psd_seq")
    merge_into(
        t,
        spark.createDataFrame(
            [(1, "2024-01-10", 111.0)], "k long, d string, amount double"
        ),
    )  # v1, scope p1
    delete_where(t, F.col("k") == 6)  # v2, scope p3
    t.write(
        spark.createDataFrame(
            [(3, "2024-02-10", 333.0), (7, "2024-03-25", 70.0)],
            "k long, d string, amount double",
        )
    )  # v3: plain global ingest (UNIQUE upsert at read time)
    assert _rows(t.read()) == [
        (1, "2024-01-10", 111.0),
        (2, "2024-01-20", 20.0),
        (3, "2024-02-10", 333.0),
        (4, "2024-02-20", 40.0),
        (5, "2024-03-10", 50.0),
        (7, "2024-03-25", 70.0),
    ]
    # intermediate snapshots resolve per-partition
    assert _rows(t.read(0, 1).select("k", "amount")) == [
        (1, 111.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0), (6, 60.0),
    ]
    assert _rows(t.read(0, 2).select("k", "amount")) == [
        (1, 111.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0),
    ]


def test_merge_same_partition_twice(spark, warehouse):
    """A second merge over an already-scoped partition reads the scoped
    state, not the base."""
    t = _table(spark, warehouse, "psd_twice")
    merge_into(
        t,
        spark.createDataFrame(
            [(3, "2024-02-10", 300.0)], "k long, d string, amount double"
        ),
    )
    merge_into(
        t,
        spark.createDataFrame(
            [(4, "2024-02-20", 400.0)], "k long, d string, amount double"
        ),
    )
    assert _rows(t.read().select("k", "amount")) == [
        (1, 10.0), (2, 20.0), (3, 300.0), (4, 400.0), (5, 50.0), (6, 60.0),
    ]
    assert _rows(t.read(0, 1).select("k", "amount")) == [
        (1, 10.0), (2, 20.0), (3, 300.0), (4, 40.0), (5, 50.0), (6, 60.0),
    ]


def test_compact_folds_scoped_chains(spark, warehouse):
    t = _table(spark, warehouse, "psd_cmp")
    merge_into(
        t,
        spark.createDataFrame(
            [(3, "2024-02-10", 300.0)], "k long, d string, amount double"
        ),
    )
    want = _rows(t.read())
    compact(t)
    assert t.compaction_score() == 1
    assert not any(rs.partitions for rs in t.manifest.visible_rowsets())
    assert _rows(t.read()) == want


def test_scoped_write_rejects_out_of_scope_rows(spark, warehouse):
    t = _table(spark, warehouse, "psd_oos")
    with pytest.raises(ValueError, match="outside the declared scope"):
        t.write(
            spark.createDataFrame(
                [(8, "2024-03-15", 1.0)], "k long, d string, amount double"
            ),
            start_version=0,
            end_version=1,
            collapsed=True,
            partitions=["p1"],
        )


def test_unpartitioned_merge_still_full_rewrite(spark, warehouse):
    spec = TableSpec(
        name="psd_unpart",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    t = OlapTable.create(spark, spec, warehouse, overwrite=True)
    t.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    rs = merge_into(
        t, spark.createDataFrame([(2, 22.0), (3, 3.0)], "k long, v double")
    )
    assert rs.partitions is None
    assert _rows(t.read()) == [(1, 1.0), (2, 22.0), (3, 3.0)]


def test_compact_partitions_preserves_results_and_other_files(spark, warehouse):
    """Per-partition compaction: results invariant, OTHER partitions'
    files byte-identical, the compacted label served by the new scoped
    collapsed rowset while global rowsets exclude it."""
    from olap_storage_engine_spark.operators.compaction import (
        compact_partitions,
    )

    t = _table(spark, warehouse, "cpt1")
    # two more versions touching every partition
    for v in (1, 2):
        t.write(
            spark.createDataFrame(
                [
                    (1, "2024-01-10", 10.0 + v),
                    (3, "2024-02-10", 30.0 + v),
                    (5, "2024-03-10", 50.0 + v),
                ],
                "k long, d string, amount double",
            )
        )
    before = _rows(t.read())

    def label_files(inv, label):
        return {k: v for k, v in inv.items() if f"__pt={label}" in k}

    inv0 = _inventory(t.root)
    compact_partitions(t, ["p1"])
    assert _rows(t.read()) == before
    inv1 = _inventory(t.root)
    for l in ("p2", "p3"):
        assert label_files(inv1, l) == label_files(inv0, l), l
    new = [
        rs
        for rs in t.manifest.visible_rowsets()
        if rs.collapsed and rs.partitions == ["p1"]
    ]
    assert len(new) == 1
    plan = t.manifest.capture_scoped_plan(0, None)
    assert any(rs.rowset_id == new[0].rowset_id for rs, _, _ in plan)
    for rs, mode, labels in plan:
        if rs.partitions is None:
            assert mode == "exclude" and "p1" in labels, (mode, labels)


def test_compact_partitions_twice_retires_prior_scoped(spark, warehouse):
    from olap_storage_engine_spark.operators.compaction import (
        compact_partitions,
    )

    t = _table(spark, warehouse, "cpt2")
    compact_partitions(t, ["p1"])
    t.write(
        spark.createDataFrame(
            [(1, "2024-01-10", 99.0)], "k long, d string, amount double"
        )
    )
    compact_partitions(t, ["p1"])
    scoped = [
        rs
        for rs in t.manifest.visible_rowsets()
        if rs.partitions == ["p1"]
    ]
    assert len(scoped) == 1 and scoped[0].collapsed
    got = {r["k"]: r["amount"] for r in t.read().collect()}
    assert got[1] == 99.0 and got[3] == 30.0 and got[5] == 50.0


def test_partition_compaction_scores_and_schedule(spark, warehouse):
    """Per-label chain length: fresh global writes score every label
    equally; a per-partition compaction drops ONLY that label to 1;
    the scheduler ranks the remaining long chains first."""
    from olap_storage_engine_spark.operators.compaction import (
        compact_partitions,
        partition_compaction_scores,
        schedule_partition_compactions,
    )

    t = _table(spark, warehouse, "pcs1")
    for v in (1, 2):
        t.write(
            spark.createDataFrame(
                [
                    (1, "2024-01-10", 10.0 + v),
                    (3, "2024-02-10", 30.0 + v),
                    (5, "2024-03-10", 50.0 + v),
                ],
                "k long, d string, amount double",
            )
        )
    s0 = partition_compaction_scores(t)
    assert s0["p1"] == s0["p2"] == s0["p3"] == 3
    compact_partitions(t, ["p1"])
    s1 = partition_compaction_scores(t)
    assert s1["p1"] == 1 and s1["p2"] == 3 and s1["p3"] == 3
    tasks = schedule_partition_compactions(t)
    assert [c.table_name for c in tasks] == ["p2", "p3"]
    assert all(c.score == 3 for c in tasks)


def test_delete_discovery_label_derivation(spark, warehouse):
    """_partition_labels_for_predicate: driver-side candidate labels
    from the Catalyst tree — equality, IN, string ranges, AND/OR —
    and a safe None for shapes it can't prove."""
    from olap_storage_engine_spark.operators.compaction import (
        _partition_labels_for_predicate,
    )

    t = _table(spark, warehouse, "disc1")
    pol = t.spec.partition

    def p(pred, pol, col_type=ColumnType.VARCHAR):
        return _partition_labels_for_predicate(pred, pol, col_type)

    def lab(*xs):
        # every derived candidate set carries the __unrouted__ sentinel
        # (strict_routing=False rows live there; ADVICE r6)
        return sorted(set(xs) | {"__unrouted__"})

    assert p(F.col("d") == "2024-02-10", pol) == lab("p2")
    assert p(F.lit("2024-02-10") == F.col("d"), pol) == lab("p2")
    assert p(F.col("d").isin("2024-01-10", "2024-03-10"), pol) == lab(
        "p1", "p3"
    )
    assert p(F.col("d") >= "2024-02-01", pol) == lab("p2", "p3")
    assert p(F.col("d") < "2024-02-01", pol) == lab("p1")
    assert p(F.col("d") <= "2024-02-01", pol) == lab("p1", "p2")
    assert p(
        (F.col("d") >= "2024-02-01") & (F.col("d") < "2024-03-01"), pol
    ) == lab("p2")
    assert p(
        (F.col("d") == "2024-01-10") | (F.col("d") == "2024-03-10"), pol
    ) == lab("p1", "p3")
    # AND with an unprunable side keeps the prunable side's set
    assert p(
        (F.col("d") == "2024-02-10") & (F.col("amount") > 0), pol
    ) == lab("p2")
    # equality routing past the last bound: only the sentinel remains
    assert p(F.col("d") == "2030-01-01", pol) == lab()
    # bool / float literals render differently under Python str() vs
    # Spark's string cast — must degrade to a full scan, never an
    # empty set (ADVICE r6)
    assert p(F.col("d") == 1e-07, pol) is None
    assert p(F.col("d") == True, pol) is None  # noqa: E712
    assert p(F.col("d").isin("2024-01-10", 1e-07), pol) is None
    # shapes it can't prove prune nothing
    assert p(F.col("amount") > 0, pol) is None
    assert p(
        (F.col("d") == "2024-02-10") | (F.col("amount") > 0), pol
    ) is None
    assert p(F.col("d") > F.col("amount"), pol) is None
    # int literal on a VARCHAR partition column: Spark evaluates
    # `col = 5` by casting the COLUMN numerically, so '05'/' 5'/'5.0'
    # satisfy it yet route elsewhere — must degrade (ADVICE r7)
    assert p(F.col("d") == 5, pol) is None
    assert p(F.col("d").isin("2024-01-10", 5), pol) is None
    # unknown column type: every literal arm degrades
    assert p(F.col("d") == "2024-02-10", pol, None) is None
    assert p(F.col("d") >= "2024-02-01", pol, None) is None


def test_delete_discovery_label_derivation_typed(spark, warehouse):
    """route_key soundness per declared column type: INT columns admit
    int / canonical-int-string equality but never ranges; DATE columns
    admit ISO-canonical strings for both; non-canonical forms degrade
    to the full scan."""
    from olap_storage_engine_spark.operators.compaction import (
        _partition_labels_for_predicate as p,
    )

    ipol = PartitionPolicy(
        PartitionType.RANGE,
        "n",
        # bounds are strings by design (string-ordered routing)
        bounds=[("p1", "200"), ("p2", "500")],
    )

    def lab(*xs):
        return sorted(set(xs) | {"__unrouted__"})

    # INT column: int literal routes via str(v); canonical int string
    # routes identically; non-canonical ('05') degrades
    assert p(F.col("n") == 100, ipol, ColumnType.INT64) == lab("p1")
    assert p(F.col("n") == "100", ipol, ColumnType.INT64) == lab("p1")
    assert p(F.col("n") == "05", ipol, ColumnType.INT64) is None
    assert p(F.col("n") == "1e2", ipol, ColumnType.INT64) is None
    assert p(
        F.col("n").isin(100, "300"), ipol, ColumnType.INT32
    ) == lab("p1", "p2")
    assert p(F.col("n").isin(100, "0x3"), ipol, ColumnType.INT32) is None
    # INT column ranges: numeric predicate order diverges from the
    # string-ordered RANGE bounds ('10' < '9') — always degrade
    assert p(F.col("n") >= 100, ipol, ColumnType.INT64) is None
    assert p(F.col("n") >= "100", ipol, ColumnType.INT64) is None

    dpol = PartitionPolicy(
        PartitionType.RANGE,
        "d",
        bounds=[("p1", "2024-02-01"), ("p2", "2024-03-01")],
    )
    # DATE column: ISO-canonical strings are sound for both equality
    # (date→string cast round-trips) and range (lexicographic ==
    # chronological); non-canonical forms degrade
    assert p(
        F.col("d") == "2024-01-10", dpol, ColumnType.DATE
    ) == lab("p1")
    assert p(
        F.col("d") >= "2024-02-01", dpol, ColumnType.DATE
    ) == lab("p2")
    assert p(F.col("d") == "2024-1-10", dpol, ColumnType.DATE) is None
    assert p(F.col("d") == 20240110, dpol, ColumnType.DATE) is None


def test_partition_key_delete_discovery_is_pruned(spark, warehouse):
    """A partition-key DELETE's discovery scan must read ONLY the
    candidate partition's files (PartitionFilters on __pt), and the
    delete itself stays correct."""
    from olap_storage_engine_spark.operators.compaction import (
        _in_labels,
        _partition_labels_for_predicate,
    )

    t = _table(spark, warehouse, "disc2")
    pred = F.col("d") == "2024-02-10"
    cand = _partition_labels_for_predicate(
        pred, t.spec.partition, ColumnType.VARCHAR
    )
    assert cand == ["__unrouted__", "p2"]
    from olap_storage_engine_spark.plans.explain import formatted_plan

    plan = formatted_plan(t._collapsed(where=_in_labels(cand)))
    # the __pt predicate lands in PartitionFilters (directory pruning,
    # not a post-scan row filter)
    pf = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf and all("__pt" in ln for ln in pf), plan
    n = delete_where(t, pred)
    assert n == 1
    got = {r["k"] for r in t.read().collect()}
    assert got == {1, 2, 4, 5, 6}


def test_delete_reaches_unrouted_partition(spark, warehouse):
    """DELETE with a partition-key predicate must also discover rows
    stored under the __unrouted__ sentinel (strict_routing=False
    writes) — the pruned candidate set silently missed them before
    the ADVICE-r6 fix."""
    t = _table(spark, warehouse, "unrouted1")
    # route-able rows went in via _table; add a matching row whose key
    # is past the last RANGE bound, kept via strict_routing=False
    t.write(
        spark.createDataFrame(
            [(99, "2030-06-15", 990.0)], "k long, d string, amount double"
        ),
        strict_routing=False,
    )
    assert 99 in {r["k"] for r in t.read().collect()}
    # equality on the partition column: candidate set is
    # {__unrouted__} only, and the row must actually be deleted
    n = delete_where(t, F.col("d") == "2030-06-15")
    assert n == 1
    got = {r["k"] for r in t.read().collect()}
    assert 99 not in got and got == {1, 2, 3, 4, 5, 6}
    # range shape too: a second unrouted row falls inside a string
    # range that also touches routed partitions
    t.write(
        spark.createDataFrame(
            [(98, "2030-01-01", 980.0)], "k long, d string, amount double"
        ),
        strict_routing=False,
    )
    n = delete_where(t, F.col("d") >= "2024-03-01")
    assert n == 3  # k=5 (p3 row), k=6 (p3 row), k=98 (unrouted)
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4}


def test_delete_preserves_surviving_unrouted_rows(spark, warehouse):
    """Partial-match DELETE over the __unrouted__ partition: matching
    unrouted rows go, NON-matching unrouted rows survive the rewrite
    (the strict-routing default made this raise after deleting the
    rowset files — r7 review finding)."""
    t = _table(spark, warehouse, "unrouted2")
    t.write(
        spark.createDataFrame(
            [(98, "2030-01-01", 980.0), (99, "2030-06-15", 990.0)],
            "k long, d string, amount double",
        ),
        strict_routing=False,
    )
    n = delete_where(t, F.col("d") == "2030-06-15")
    assert n == 1
    got = {r["k"] for r in t.read().collect()}
    assert got == {1, 2, 3, 4, 5, 6, 98}
    # and compaction keeps the surviving unrouted row too
    compact(t)
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4, 5, 6, 98}


def test_compact_and_merge_with_unrouted_rows(spark, warehouse):
    """Global compaction preserves unrouted rows (the non-scoped
    branch missed the r7 strict_routing fix), and MERGE INTO handles
    them symmetrically with ingest: strict merges of unroutable
    source rows fail EARLY, strict_routing=False merges upsert into
    the sentinel partition."""
    from olap_storage_engine_spark.operators.compaction import (
        merge_into,
    )

    t = _table(spark, warehouse, "unrouted3")
    t.write(
        spark.createDataFrame(
            [(97, "2031-01-01", 970.0)], "k long, d string, amount double"
        ),
        strict_routing=False,
    )
    # global (non-scoped) compaction must keep the unrouted row
    compact(t)
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4, 5, 6, 97}
    # strict merge of an unroutable source row fails before any rewrite
    bad_src = spark.createDataFrame(
        [(97, "2031-01-01", 971.0)], "k long, d string, amount double"
    )
    with pytest.raises(ValueError, match="route to no partition"):
        merge_into(t, bad_src)
    # opt-in merge updates the unrouted row in place
    merge_into(t, bad_src, strict_routing=False)
    got = {r["k"]: r["amount"] for r in t.read().collect()}
    assert got[97] == 971.0 and set(got) == {1, 2, 3, 4, 5, 6, 97}
    # strict merge of ROUTABLE rows on a table holding unrouted rows
    # stays safe (sentinel is outside the derived scope)
    merge_into(
        t,
        spark.createDataFrame(
            [(3, "2024-02-10", 333.0)], "k long, d string, amount double"
        ),
    )
    got = {r["k"]: r["amount"] for r in t.read().collect()}
    assert got[3] == 333.0 and got[97] == 971.0


def test_label_derivation_superset_property(spark):
    """Soundness property for the typed literal gate (ADVICE r7): for
    every (column type, predicate) case, the derived candidate set —
    when it prunes at all — contains the routed partition of EVERY
    value that satisfies the predicate under SPARK's evaluation
    semantics (evaluated for real on a value universe, including the
    '05'/' 5'/'5.0' numeric-cast traps)."""
    from olap_storage_engine_spark.operators.compaction import (
        _partition_labels_for_predicate,
    )
    from olap_storage_engine_spark.operators.routing import (
        partition_label_col,
    )

    spol = PartitionPolicy(
        PartitionType.RANGE, "c",
        bounds=[("p1", "1"), ("p2", "5"), ("p3", "60")],
    )
    ipol = PartitionPolicy(
        PartitionType.RANGE, "c",
        bounds=[("p1", "1"), ("p2", "5"), ("p3", "60")],
    )
    s_universe = ["0", "5", "05", " 5", "5.0", "50", "500", "6", "abc", ""]
    i_universe = [0, 5, 50, 500, 6, 1, 59]
    cases = [
        (ColumnType.VARCHAR, spol, s_universe, "string"),
        (ColumnType.INT64, ipol, i_universe, "long"),
    ]
    preds = [
        F.col("c") == 5,
        F.col("c") == "5",
        F.col("c") == "05",
        F.col("c").isin("5", 5),
        F.col("c").isin(5, 50),
        F.col("c") >= "5",
        F.col("c") < "5",
        (F.col("c") >= "1") & (F.col("c") < "60"),
        (F.col("c") == "5") | (F.col("c") == "50"),
    ]
    for col_type, pol, universe, sql_t in cases:
        df = spark.createDataFrame(
            [(v,) for v in universe], f"c {sql_t}"
        )
        routed = {
            r["c"]: r["__l"]
            for r in df.select(
                "c", partition_label_col(pol).alias("__l")
            ).collect()
        }
        for pred in preds:
            cand = _partition_labels_for_predicate(pred, pol, col_type)
            if cand is None:
                continue  # full scan is always sound
            true_vals = [r["c"] for r in df.filter(pred).collect()]
            for v in true_vals:
                lab = routed[v] if routed[v] is not None else "__unrouted__"
                assert lab in cand, (
                    col_type, str(pred), v, lab, cand
                )


def test_arrow_assignment_matches_jvm_window(spark):
    """The exact Arrow top-1 assignment kernel must agree with the
    JVM window formulation (same dot/|c| score, same (score desc,
    cent_id asc) tie-break) on random vectors INCLUDING exact-tie
    duplicate centroids."""
    import numpy as np

    from olap_storage_engine_spark.functions.vectors import dot, l2norm
    from olap_storage_engine_spark.operators.similarity import (
        _with_cent_norm,
        ivf_cell_assign,
    )
    from pyspark.sql import Window

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    cvecs = rng.randn(7, 8).astype("float64")
    cvecs[5] = cvecs[2]  # exact duplicate -> tie broken by cent_id
    cents = spark.createDataFrame(
        [(i, [float(x) for x in cvecs[i]]) for i in range(7)],
        "cent_id long, cent_vec array<double>",
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in ivf_cell_assign(emb, cents).collect()
    }
    cn = _with_cent_norm(cents)
    scored = emb.join(F.broadcast(cn)).select(
        "vec_id",
        "cent_id",
        (dot(F.col("embedding"), F.col("cent_vec")) / F.col("cent_norm"))
        .alias("s"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("s").desc(), F.col("cent_id").asc()
    )
    want = {
        r["vec_id"]: r["cent_id"]
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, d string, amount double")


def _merge_between_ingests(spark, t):
    """Layer point at 1, then ingest v1, a scoped merge v2 (a new key
    in p2, published as [0, 2]) and ingest v3."""
    compact_cumulative(t)  # a single rowset: nothing to fold
    t.write(_df(spark, [(7, "2024-01-15", 70.0)]))
    merge_into(t, _df(spark, [(99, "2024-02-25", 990.0)]))
    t.write(_df(spark, [(8, "2024-03-15", 80.0)]))
    assert t.manifest.cumulative_layer_point == 1
    assert t.manifest.max_version == 3


def test_cumulative_compaction_after_scoped_merge_keeps_rows(spark, warehouse):
    """The merge rewrite [0, 2] straddles the layer point, so cumulative
    compaction must stop above it instead of folding [1, 3] into a
    rowset that hides the merge from p2's chain."""
    t = _table(spark, warehouse, "psd_cum")
    _merge_between_ingests(spark, t)
    want = _rows(t.read())
    assert len(want) == 9
    compact_cumulative(t)
    assert t.manifest.cumulative_layer_point == 4
    assert _rows(t.read()) == want


def test_base_compaction_folds_a_stopped_cumulative(spark, warehouse):
    t = _table(spark, warehouse, "psd_base")
    _merge_between_ingests(spark, t)
    want = _rows(t.read())
    compact_cumulative(t)
    compact_base(t)
    assert t.compaction_score() == 1
    assert _rows(t.read()) == want


def test_historical_read_after_compaction_and_scoped_dml(spark, warehouse):
    """read(0, 1) after compact(0, 2) is served from the retired
    rowsets, and a later scoped DML must not turn it into an empty
    plan; once the history is reclaimed the read raises."""
    t = _table(spark, warehouse, "psd_hist")
    t.write(_df(spark, [(7, "2024-01-15", 70.0)]))  # v1
    t.write(_df(spark, [(8, "2024-03-15", 80.0)]))  # v2
    compact(t, 0, 2)
    want = _rows(t.read(0, 1))
    assert len(want) == 7
    merge_into(t, _df(spark, [(3, "2024-02-10", 300.0)]))  # v3, scope p2
    assert _rows(t.read(0, 1)) == want
    garbage_collect(t)
    with pytest.raises(VersionGraphError):
        t.read(0, 1)


def test_stats_follow_the_read_plan(spark, warehouse):
    """stats() and column_min count what a read serves: a rowset's
    partitions superseded by a scoped rewrite are not counted twice,
    and a deleted key is not the minimum."""
    t = _table(spark, warehouse, "psd_stats")
    merge_into(t, _df(spark, [(3, "2024-02-10", 300.0)]))  # rewrites p2
    s = t.stats()
    assert s["num_rows"] == t.read().count() == 6
    assert s["num_rowsets"] == 2
    delete_where(t, F.col("k") == 1)  # rewrites p1
    assert t.stats()["num_rows"] == 5
    assert t.column_min("k") == 2


def test_historical_read_across_partition_compaction(spark, warehouse):
    """compact_partitions retires p2's merge; p2's chain at version 1
    then needs that retired scoped rowset, so read(0, 1) raises instead
    of serving p2 from the base without the merge."""
    from olap_storage_engine_spark.operators.compaction import (
        compact_partitions,
    )

    t = _table(spark, warehouse, "psd_pc_hist")
    base = _rows(t.read())
    merge_into(t, _df(spark, [(3, "2024-02-10", 300.0)]))  # v1, scope p2
    t.write(_df(spark, [(7, "2024-01-15", 70.0)]))  # v2
    compact_partitions(t, ["p2"])
    assert _rows(t.read(0, 0)) == base
    with pytest.raises(VersionGraphError):
        t.read(0, 1)
    assert {r["k"]: r["amount"] for r in t.read().collect()}[3] == 300.0


def test_historical_read_after_a_stopped_cumulative(spark, warehouse):
    """The cumulative pass stops above the merge rewrite [0, 2] and
    folds only [3, 4].  read(0, 3) then needs the retired [3, 3] in
    every chain: p2 reads it after its merge rowset, p1 and p3 after
    the untouched v0/v1 rowsets — none may borrow p2's merge rowset as
    if it held the whole table."""
    t = _table(spark, warehouse, "psd_cum_hist")
    _merge_between_ingests(spark, t)
    t.write(_df(spark, [(9, "2024-01-25", 90.0)]))  # v4
    want = _rows(t.read(0, 3))
    assert len(want) == 9
    want_min = t.column_min("amount", 0, 3)
    compact_cumulative(t)
    assert t.compaction_score() == 4  # v0, v1, the merge, [3, 4]
    assert _rows(t.read(0, 3)) == want
    assert t.column_min("amount", 0, 3) == want_min
    assert len(t.read().collect()) == 10


def test_delta_read_across_scoped_merge_raises(spark, warehouse):
    """A delta read (lo > 0) whose window holds a scoped merge raises:
    the merge rewrite starts at version 0, so no delta of p2 exists for
    the window.  Windows on either side of the merge stay readable."""
    t = _table(spark, warehouse, "psd_delta")
    _merge_between_ingests(spark, t)  # v1 ingest, v2 merge, v3 ingest
    assert _rows(t.read(1, 1)) == [(7, "2024-01-15", 70.0)]
    assert _rows(t.read(3, 3)) == [(8, "2024-03-15", 80.0)]
    for lo, hi in [(1, 2), (1, 3), (2, 3)]:
        with pytest.raises(VersionGraphError):
            t.read(lo, hi)
