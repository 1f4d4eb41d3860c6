"""Physical layout of rowset files: key order and bloom filters.

Every parquet file a rowset writes is sorted by the table's key columns
(tight row-group min/max stats are what make key-range reads skip), for
fresh ingest, compaction and partition-scoped merge rowsets alike, on
partitioned and UNPARTITIONED tables.  The leading key's bloom filter is
written and sized to the file rather than to its 64 KB cap.
"""

import glob
import os
import random

import pyarrow.parquet as pq
import pytest

from olap_storage_engine_spark.operators.compaction import compact, merge_into
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

SCHEMA = "k long, d string, v double"
KEYS = ["k", "d"]
BLOOM_CAP = 64 * 1024


def _spec(name, partitioned):
    part = (
        PartitionPolicy(
            PartitionType.RANGE, "d",
            bounds=[("p1", "2024-05-01"), ("p2", "2024-09-01"),
                    ("p3", "2025-01-01")],
        )
        if partitioned
        else PartitionPolicy(PartitionType.UNPARTITIONED)
    )
    return TableSpec(
        name=name,
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.key("d", ColumnType.VARCHAR),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.UNIQUE,
        partition=part,
        bucket=BucketSpec(BucketType.HASH, "k", 3),
    )


def _batch(spark, rng, keys, month_lo=1, month_hi=12):
    rows = [
        (k, f"2024-{rng.randint(month_lo, month_hi):02d}-01", float(k))
        for k in keys
    ]
    rng.shuffle(rows)  # input order is not key order
    return spark.createDataFrame(rows, SCHEMA).repartition(3)


def _files(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))


def _unsorted(files):
    bad = []
    for f in files:
        rows = pq.read_table(f, columns=KEYS).to_pylist()
        got = [tuple(r[c] for c in KEYS) for r in rows]
        if got != sorted(got):
            bad.append(f)
    return bad


@pytest.mark.parametrize("partitioned", [True, False],
                         ids=["range_hash", "unpartitioned"])
def test_rowset_files_are_sorted_by_key(spark, warehouse, partitioned):
    rng = random.Random(11)
    t = OlapTable.create(spark, _spec(f"lay_{partitioned}", partitioned),
                         warehouse)
    keys = list(range(0, 3000, 7))
    rng.shuffle(keys)
    t.write(_batch(spark, rng, keys[:200]))
    t.write(_batch(spark, rng, keys[200:]))
    ingest = _files(t.root)

    # updates of two existing keys plus new keys, all routed to p1
    src = _batch(spark, rng, [keys[0], keys[1]] + list(range(5001, 5100, 3)),
                 month_lo=1, month_hi=4)
    rs = merge_into(t, src)
    if partitioned:
        assert rs.partitions == ["p1"]
    merged = [f for f in _files(t.root) if f not in ingest]

    # one more ingest, so compaction has rowsets to fold on either layout
    t.write(_batch(spark, rng, list(range(6001, 6200, 3))))
    ingest = [f for f in _files(t.root) if f not in merged]
    compact(t)
    compacted = [f for f in _files(t.root) if f not in ingest + merged]

    for stage, files in (("ingest", ingest), ("merge", merged),
                         ("compaction", compacted)):
        assert files, stage
        assert _unsorted(files) == [], stage


def _bloom(spark, path, column):
    """The bloom filter parquet-mr reads for ``column`` in each row
    group of the file at ``path`` (None where none was written)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf))
    try:
        return [
            reader.readBloomFilter(cm)
            for rg in reader.getRowGroups()
            for cm in rg.getColumns()
            if cm.getPath().toDotString() == column
        ]
    finally:
        reader.close()


def test_leading_key_bloom_filter_sized_to_file(spark, warehouse):
    rng = random.Random(12)
    t = OlapTable.create(spark, _spec("bloom", True), warehouse)
    # above 2**31, so py4j passes them as Java longs and the filter's
    # hash(long) overload hashes them as the writer did
    keys = rng.sample(range(2**40, 2**40 + 10**6), 600)
    t.write(_batch(spark, rng, keys))
    files = _files(t.root)
    assert len(files) >= 6
    for f in files:
        present = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        blooms = _bloom(spark, f, "k")
        assert blooms and all(b is not None for b in blooms), f
        for b in blooms:
            assert b.getBitsetSize() < BLOOM_CAP, b.getBitsetSize()
            # no false negatives: every stored key hits the filter
            assert all(
                b.findHash(b.hash(k)) for k in present
            )
    full = {r["k"]: tuple(r) for r in t.read().collect()}
    for k in keys[:5] + [-1]:  # -1 is absent
        got = [tuple(r) for r in t.read_point(k).collect()]
        assert got == ([full[k]] if k in full else [])
