"""One schema-given Parquet scan per OlapTable read.

The read plan comes from metadata alone — the manifest's version cover
plus the table spec — so building a read opens no footer and launches
no Spark job.  Label masks of partition-scoped rowsets are one
``__rsv``/``__pt`` directory filter inside a single reader, and every
rowset of one schema generation shares that reader.
"""

import uuid

from pyspark.sql import functions as F

from olap_storage_engine_spark.operators.compaction import (
    delete_where,
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
from olap_storage_engine_spark.table import OlapTable, clone_table

_BOUNDS = [("p1", "2024-02-01"), ("p2", "2024-03-01"), ("p3", "2024-04-01")]


def _build_jobs(spark, build):
    """(result of ``build()``, Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"scan-plan-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group, False)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _file_scans(df) -> int:
    """Parquet FileSourceScanExec nodes in the executed plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString().count("FileScan parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_builds_launch_no_spark_job(spark, warehouse):
    """RANGE+HASH AGGREGATE table with a scoped merge and a scoped
    delete visible: building each read flavour runs 0 Spark jobs, and
    the plan scans Parquet exactly once."""
    spec = TableSpec(
        name="agg_scan",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.key("d", ColumnType.VARCHAR),
            ColumnSpec.value("amount", ColumnType.FLOAT64, AggregateType.SUM),
        ],
        keys_type=KeysType.AGGREGATE,
        partition=PartitionPolicy(PartitionType.RANGE, "d", bounds=_BOUNDS),
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    t = OlapTable.create(spark, spec, warehouse, overwrite=True)
    schema = "k long, d string, amount double"
    t.write(spark.createDataFrame(
        [(1, "2024-01-10", 1.0), (2, "2024-02-10", 2.0),
         (3, "2024-03-10", 3.0), (4, "2024-03-20", 4.0)], schema))
    t.write(spark.createDataFrame(
        [(1, "2024-01-10", 10.0), (5, "2024-02-20", 5.0)], schema))
    merge_into(t, spark.createDataFrame([(2, "2024-02-10", 20.0)], schema))
    assert delete_where(t, F.col("k") == 4) == 1
    modes = {mode for _, mode, _ in t.manifest.capture_scoped_plan()}
    assert modes == {"include", "exclude"}, modes

    want = [(1, "2024-01-10", 11.0), (2, "2024-02-10", 20.0),
            (3, "2024-03-10", 3.0), (5, "2024-02-20", 5.0)]
    builds = {
        "read": (lambda: t.read(), want),
        "point": (lambda: t.read_point(2), [want[1]]),
        "pruned": (lambda: t.read_pruned("2024-02-01", "2024-03-01"),
                   [want[1], want[3]]),
        "skipped": (lambda: t.read_skipped("k", 3, 5), [want[2], want[3]]),
    }
    for name, (build, rows) in builds.items():
        df, jobs = _build_jobs(spark, build)
        assert jobs == 0, (name, jobs)
        assert _rows(df) == rows, name
        assert _file_scans(df) == 1, name


def _evolving_table(spark, warehouse):
    spec = TableSpec(
        name="evo_scan",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("d", ColumnType.VARCHAR),
            ColumnSpec.value("a", ColumnType.INT32),
            ColumnSpec.value("b", ColumnType.VARCHAR),
            ColumnSpec.value("c", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        partition=PartitionPolicy(PartitionType.RANGE, "d", bounds=_BOUNDS),
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    return OlapTable.create(spark, spec, warehouse, overwrite=True)


def test_masks_and_schema_replay_share_one_reader(spark, warehouse):
    """Rename, widen and drop-then-re-add at a new type, then a scoped
    merge and scoped deletes (one leaving a zero-row rowset): head and
    every historical read match a dict model, and so does a clone's
    read over borrowed and native rowsets."""
    t = _evolving_table(spark, warehouse)
    cols = ["k", "d", "a", "b", "c"]
    model: dict[int, dict] = {}
    at: dict[int, dict] = {}  # version -> model rows as read today

    def view(m):
        return sorted(tuple(r.get(c) for c in cols) for r in m.values())

    def snap():
        at[t.manifest.max_version] = {k: dict(r) for k, r in model.items()}

    def ingest(rows, schema):
        t.write(spark.createDataFrame(rows, schema))
        names = [f.split()[0] for f in schema.split(", ")]
        for r in rows:
            model[r[0]] = {c: None for c in cols} | dict(zip(names, r))
        snap()

    ingest([(1, "2024-01-10", 1, "x1", 1.5), (2, "2024-01-20", 2, "x2", 2.5),
            (3, "2024-02-10", 3, "x3", 3.5), (4, "2024-02-20", 4, "x4", 4.5),
            (5, "2024-03-10", 5, "x5", 5.5), (6, "2024-03-20", 6, "x6", 6.5)],
           "k long, d string, a int, b string, c double")
    t.rename_column("b", "bb")
    cols[3] = "bb"
    for r in list(model.values()) + [r for m in at.values() for r in m.values()]:
        r["bb"] = r.pop("b")
    ingest([(7, "2024-01-25", 7, "y7", 7.5), (2, "2024-01-20", 22, "y2", 2.25)],
           "k long, d string, a int, bb string, c double")
    t.widen_column("a", ColumnType.INT64)
    big = 2**40
    ingest([(8, "2024-02-15", big, "z8", 8.5)],
           "k long, d string, a long, bb string, c double")
    t.drop_column("c")
    cols.remove("c")
    ingest([(3, "2024-02-10", 33, "w3")], "k long, d string, a long, bb string")
    t.add_column(ColumnSpec.value("c", ColumnType.VARCHAR))
    cols.append("c")
    for r in list(model.values()) + [r for m in at.values() for r in m.values()]:
        r["c"] = None  # the dropped double never resurfaces
    ingest([(9, "2024-03-25", 9, "v9", "s9")],
           "k long, d string, a long, bb string, c string")

    merge_into(t, spark.createDataFrame(
        [(4, "2024-02-20", 44, "m4", "s4"), (10, "2024-02-05", 10, "m10", None)],
        "k long, d string, a long, bb string, c string"))
    model[4] = dict(zip(cols, (4, "2024-02-20", 44, "m4", "s4")))
    model[10] = dict(zip(cols, (10, "2024-02-05", 10, "m10", None)))
    snap()
    assert delete_where(t, F.col("k") == 5) == 1
    del model[5]
    snap()
    assert delete_where(t, F.col("d") >= "2024-03-01") == 2  # p3 empties
    del model[6], model[9]
    snap()
    plan = t.manifest.capture_scoped_plan()
    assert any(rs.num_rows == 0 and mode == "include" for rs, mode, _ in plan)
    assert any(mode == "exclude" for _, mode, _ in plan)

    head = t.read()
    assert dict(head.dtypes) == {
        "k": "bigint", "d": "string", "a": "bigint", "bb": "string", "c": "string",
    }
    assert _rows(head) == view(model)
    for v, m in at.items():
        assert _rows(t.read(0, v)) == view(m), v
    # one reader per schema generation of the head plan's rowsets
    gens = {t._physical_names(rs.schema_version) for rs, _, _ in plan
            if rs.num_rows > 0}
    assert len(gens) > 1
    assert _file_scans(head) == len(gens)

    c = clone_table(t, "evo_clone", warehouse)
    assert _rows(c.read()) == view(model)
    c.write(spark.createDataFrame(
        [(11, "2024-01-05", 11, "n11", "s11")],
        "k long, d string, a long, bb string, c string"))
    cloned = dict(model)
    cloned[11] = dict(zip(cols, (11, "2024-01-05", 11, "n11", "s11")))
    assert _rows(c.read()) == view(cloned)
    assert _rows(t.read()) == view(model)
    for v, m in at.items():
        assert _rows(c.read(0, v)) == view(m), v


def test_write_refuses_types_the_read_cannot_convert(spark, warehouse):
    """Reads take their schema from the spec: a frame column the Parquet
    reader can promote (int into INT64) is written as-is, and one it
    cannot convert (bigint into INT32) is refused before any file or
    manifest entry is written."""
    spec = TableSpec(
        name="typed",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.INT32),
        ],
        keys_type=KeysType.UNIQUE,
    )
    t = OlapTable.create(spark, spec, warehouse, overwrite=True)
    t.write(spark.createDataFrame([(1, 10)], "k int, v int"))
    try:
        t.write(spark.createDataFrame([(2, 20)], "k long, v long"))
    except TypeError as e:
        assert "v: bigint is not int" in str(e)
    else:
        raise AssertionError("bigint into an INT32 column was written")
    assert len(t.manifest.rowsets()) == 1
    assert _rows(t.read()) == [(1, 10)]
    assert dict(t.read().dtypes) == {"k": "bigint", "v": "int"}
