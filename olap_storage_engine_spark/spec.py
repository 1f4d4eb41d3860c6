"""Table specification layer — the reference's logical data model.

Mirrors the *semantics* of the reference catalog/meta layer
(reference: src/common.rs:37-57 KeysType/AggregateType,
src/meta.rs:13-78 ColumnSchema/TabletSchema,
src/partition.rs:10-16,123-127 BucketType/PartitionPolicy) re-expressed
as plain Python dataclasses persisted as a JSON sidecar next to the
table's Parquet data.  Spark's StructType carries the physical schema;
this spec carries what Spark can't: key columns, the keys model
(Duplicate/Unique/Aggregate), per-column aggregate types, and the
partition/bucket routing policy.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import types as T


class KeysType(str, Enum):
    """Table key model (reference: src/common.rs:37-44).

    - DUPLICATE: keep every row (append-only fact table).
    - UNIQUE: rows with an equal key tuple collapse to the latest
      version's row.
    - AGGREGATE: rows with an equal key tuple collapse by applying each
      value column's AggregateType.
    """

    DUPLICATE = "DUPLICATE"
    UNIQUE = "UNIQUE"
    AGGREGATE = "AGGREGATE"


class AggregateType(str, Enum):
    """Per-value-column storage aggregation (reference: src/common.rs:55-57).

    REPLACE = latest-version value wins (per column).  NONE on a value
    column of an AGGREGATE table degrades to REPLACE (latest wins) so
    that collapse is always total; on DUPLICATE/UNIQUE tables NONE is
    the only meaningful value.
    """

    NONE = "NONE"
    SUM = "SUM"
    MIN = "MIN"
    MAX = "MAX"
    REPLACE = "REPLACE"


class ColumnType(str, Enum):
    """Logical column types (reference: src/common.rs:47-52), plus the
    extension types the LLM-pipeline surface needs (STRING alias,
    TIMESTAMP, ARRAY_FLOAT for embeddings, BINARY for multimodal
    payloads) — the reference type system has no nested types at all.
    """

    INT8 = "INT8"
    INT16 = "INT16"
    INT32 = "INT32"
    INT64 = "INT64"
    FLOAT32 = "FLOAT32"
    FLOAT64 = "FLOAT64"
    VARCHAR = "VARCHAR"
    DATE = "DATE"
    # extension surface
    TIMESTAMP = "TIMESTAMP"
    ARRAY_FLOAT = "ARRAY_FLOAT"
    ARRAY_INT64 = "ARRAY_INT64"  # PQ code rows and similar id lists
    BINARY = "BINARY"


_SPARK_TYPES: dict[ColumnType, T.DataType] = {
    ColumnType.INT8: T.ByteType(),
    ColumnType.INT16: T.ShortType(),
    ColumnType.INT32: T.IntegerType(),
    ColumnType.INT64: T.LongType(),
    ColumnType.FLOAT32: T.FloatType(),
    ColumnType.FLOAT64: T.DoubleType(),
    ColumnType.VARCHAR: T.StringType(),
    ColumnType.DATE: T.DateType(),
    ColumnType.TIMESTAMP: T.TimestampType(),
    ColumnType.ARRAY_FLOAT: T.ArrayType(T.FloatType()),
    ColumnType.ARRAY_INT64: T.ArrayType(T.LongType()),
    ColumnType.BINARY: T.BinaryType(),
}


class EncodingHint(str, Enum):
    """Per-column physical encoding choice (reference: src/encoding/
    mod.rs codecs + src/field_type.rs:77-92 auto-selection).  Parquet
    implements the actual codecs (PLAIN / RLE / DELTA_BINARY_PACKED /
    RLE_DICTIONARY); the hint controls what we can control from the
    writer: dictionary on/off.  AUTO = the reference's heuristic
    (strings -> dictionary, everything else Parquet's default, which
    itself applies delta-binary to ints)."""

    AUTO = "AUTO"
    DICTIONARY = "DICTIONARY"
    PLAIN = "PLAIN"


@dataclass
class ColumnSpec:
    """One column (reference: src/meta.rs:13-49).

    Key columns are non-nullable and carry no aggregate type, matching
    the reference's ``ColumnSchema::key`` constructor.
    """

    name: str
    column_type: ColumnType
    is_key: bool = False
    nullable: bool = True
    aggregate_type: AggregateType = AggregateType.NONE
    length: int | None = None  # VARCHAR length hint; informational only
    encoding: EncodingHint = EncodingHint.AUTO

    def wants_dictionary(self) -> bool:
        """The reference's encoding auto-selection (src/field_type.rs:
        79-85): bytes/varchar -> dictionary; explicit hints override."""
        enc = EncodingHint(self.encoding)
        if enc == EncodingHint.DICTIONARY:
            return True
        if enc == EncodingHint.PLAIN:
            return False
        return ColumnType(self.column_type) == ColumnType.VARCHAR

    def __post_init__(self) -> None:
        self.encoding = EncodingHint(self.encoding)

    @classmethod
    def key(cls, name: str, column_type: ColumnType) -> "ColumnSpec":
        return cls(name, column_type, is_key=True, nullable=False)

    @classmethod
    def value(
        cls,
        name: str,
        column_type: ColumnType,
        aggregate_type: AggregateType = AggregateType.NONE,
        encoding: EncodingHint = EncodingHint.AUTO,
    ) -> "ColumnSpec":
        return cls(name, column_type, is_key=False, nullable=True,
                   aggregate_type=aggregate_type, encoding=encoding)

    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[ColumnType(self.column_type)]

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "column_type": ColumnType(self.column_type).value,
            "is_key": self.is_key,
            "nullable": self.nullable,
            "aggregate_type": AggregateType(self.aggregate_type).value,
            "length": self.length,
            "encoding": EncodingHint(self.encoding).value,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "ColumnSpec":
        return cls(
            name=d["name"],
            column_type=ColumnType(d["column_type"]),
            is_key=d.get("is_key", False),
            nullable=d.get("nullable", True),
            aggregate_type=AggregateType(d.get("aggregate_type", "NONE")),
            length=d.get("length"),
            encoding=EncodingHint(d.get("encoding", "AUTO")),
        )


class PartitionType(str, Enum):
    """reference: src/partition.rs:123-127."""

    RANGE = "RANGE"
    LIST = "LIST"
    UNPARTITIONED = "UNPARTITIONED"


@dataclass
class PartitionPolicy:
    """Partition routing policy.

    RANGE: ``bounds`` is an ascending list of ``(partition_name,
    upper_bound)``; a key routes to the first partition with
    ``key < upper_bound`` (reference: src/partition.rs:172-189 — the
    reference assumes pre-sorted items and does a linear scan; we sort
    defensively and binary-search, per SURVEY §4.4 defect 6).

    LIST: ``mapping`` is ``{key_value: partition_name}``; exact match
    (reference: src/partition.rs:176-178).
    """

    ptype: PartitionType = PartitionType.UNPARTITIONED
    column: str | None = None
    bounds: list[tuple[str, str]] = field(default_factory=list)
    mapping: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.ptype = PartitionType(self.ptype)
        if self.ptype == PartitionType.RANGE:
            self.bounds = sorted(
                [(str(n), str(u)) for n, u in self.bounds], key=lambda b: b[1]
            )

    def find_partition(self, key: str | None) -> str | None:
        """Route one key to a partition name; None when no partition
        accepts the key (reference errors; callers decide)."""
        if self.ptype == PartitionType.UNPARTITIONED:
            return "__all__"
        if key is None:
            return None
        key = str(key)
        if self.ptype == PartitionType.LIST:
            return self.mapping.get(key)
        lo, hi = 0, len(self.bounds)
        while lo < hi:  # first bound with key < upper
            mid = (lo + hi) // 2
            if key < self.bounds[mid][1]:
                hi = mid
            else:
                lo = mid + 1
        return self.bounds[lo][0] if lo < len(self.bounds) else None

    def partitions_for_range(
        self, lo: str | None, hi: str | None
    ) -> list[str] | None:
        """Partition names whose key interval intersects [lo, hi) —
        driver-side metadata pruning for RANGE tables; None means
        "cannot prune" (all partitions)."""
        if self.ptype != PartitionType.RANGE:
            return None
        out = []
        prev: str | None = None
        for name, upper in self.bounds:  # ascending
            # partition covers [prev, upper)
            if (hi is None or prev is None or prev < hi) and (
                lo is None or upper > lo
            ):
                out.append(name)
            prev = upper
        return out

    def partitions_for_values(self, values: list[str]) -> list[str] | None:
        """Partition names for an IN-list of keys — LIST tables."""
        if self.ptype != PartitionType.LIST:
            return None
        return sorted(
            {self.mapping[str(v)] for v in values if str(v) in self.mapping}
        )

    def to_dict(self) -> dict:
        return {
            "ptype": self.ptype.value,
            "column": self.column,
            "bounds": [list(b) for b in self.bounds],
            "mapping": dict(self.mapping),
        }

    @classmethod
    def from_dict(cls, d: dict) -> "PartitionPolicy":
        return cls(
            ptype=PartitionType(d.get("ptype", "UNPARTITIONED")),
            column=d.get("column"),
            bounds=[tuple(b) for b in d.get("bounds", [])],
            mapping=d.get("mapping", {}),
        )


class BucketType(str, Enum):
    """reference: src/partition.rs:10-16."""

    HASH = "HASH"
    RANDOM = "RANDOM"


@dataclass
class BucketSpec:
    """Bucketing within a partition (reference: src/partition.rs:28-45).

    HASH routes by FNV-1a 64 over the key's string bytes mod
    ``num_buckets`` (see operators/routing.py for the vectorized
    implementation).  RANDOM is round-robin and deliberately
    non-deterministic — excluded from oracle-checked queries.
    """

    btype: BucketType = BucketType.HASH
    column: str | None = None
    num_buckets: int = 1

    def __post_init__(self) -> None:
        self.btype = BucketType(self.btype)

    def to_dict(self) -> dict:
        return {
            "btype": self.btype.value,
            "column": self.column,
            "num_buckets": self.num_buckets,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "BucketSpec":
        return cls(
            btype=BucketType(d.get("btype", "HASH")),
            column=d.get("column"),
            num_buckets=d.get("num_buckets", 1),
        )


# Knuth multiplicative constant, as the reference's schema_hash uses
# (src/meta.rs:66) — a stable fingerprint of the column-id set.
_KNUTH = 2654435761


@dataclass
class TableSpec:
    """Logical table schema + key model (reference: src/meta.rs:55-78).

    ``schema_version`` supports additive evolution; ``schema_hash`` is
    the XOR-of-column-ids fingerprint used to sanity-check that a
    manifest and its data agree.
    """

    name: str
    columns: list[ColumnSpec]
    keys_type: KeysType = KeysType.DUPLICATE
    schema_version: int = 1
    partition: PartitionPolicy = field(default_factory=PartitionPolicy)
    bucket: BucketSpec = field(default_factory=BucketSpec)
    # block compression codec (reference: src/compression/mod.rs — LZ4
    # default there; zstd default here, both Parquet-supported)
    compression: str = "zstd"
    # Replica count, echoed for migration fidelity with the
    # reference's create_table_with_partitions(..., replication_num)
    # (src/storage.rs:40-60).  Durability itself is delegated to the
    # object store / DFS under Spark (SURVEY §1.5) — no read or write
    # path consumes this; it round-trips through the spec sidecar so
    # a migrated table keeps its declared replication intent.
    replication_num: int = 1
    # Append-only evolution log (reference declares schema_version at
    # src/meta.rs:57; the executable semantics live here).  Each entry
    # is {"v": <schema_version the op created>, "op": "add"|"drop"|
    # "rename"|"widen"|"repartition", ...op fields...}.  A rowset
    # written under version wv is read with the schema that walking
    # every entry with v > wv backwards from the current columns gives
    # (OlapTable._physical_names: rename -> the old name, add -> left
    # out, surfacing as typed nulls) — the Iceberg idea expressed over
    # names, sound because a dropped name may only be re-added AFTER
    # the drop is logged, so a pre-drop rowset never reads the stale
    # physical column under its successor's name.
    schema_log: list = field(default_factory=list)

    # names used internally by the write/read path (hidden metadata and
    # directory columns) — user columns must not collide
    RESERVED = frozenset({"__pt", "__bk", "__rsv", "__version", "__seq"})

    def __post_init__(self) -> None:
        self.keys_type = KeysType(self.keys_type)
        if self.keys_type != KeysType.DUPLICATE and not self.key_columns():
            raise ValueError(
                f"{self.keys_type.value} table {self.name!r} needs >=1 key column"
            )
        bad = [c.name for c in self.columns if c.name in self.RESERVED]
        if bad:
            raise ValueError(f"reserved column names: {bad}")
        names = [c.name for c in self.columns]
        if len(names) != len(set(names)):
            raise ValueError(f"duplicate column names in {self.name!r}")

    def key_columns(self) -> list[ColumnSpec]:
        return [c for c in self.columns if c.is_key]

    def value_columns(self) -> list[ColumnSpec]:
        return [c for c in self.columns if not c.is_key]

    def key_names(self) -> list[str]:
        return [c.name for c in self.key_columns()]

    def value_names(self) -> list[str]:
        return [c.name for c in self.value_columns()]

    def column_names(self) -> list[str]:
        return [c.name for c in self.columns]

    def schema_hash(self) -> int:
        """Stable fingerprint of the column layout (position, name,
        type, keyness, aggregate type).  The round-2 version hashed the
        bare enumerate index — column 0 contributed nothing and renames
        were invisible; now each column's identity is crc32-mixed before
        the Knuth multiply so any layout change moves the hash."""
        import zlib

        h = 0
        for i, c in enumerate(self.columns):
            ident = (
                f"{i}:{c.name}:{ColumnType(c.column_type).value}:"
                f"{int(c.is_key)}:{AggregateType(c.aggregate_type).value}"
            )
            h ^= ((zlib.crc32(ident.encode()) + 1) * _KNUTH) & 0xFFFFFFFF
        return h

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField(c.name, c.spark_type(), c.nullable and not c.is_key)
                for c in self.columns
            ]
        )

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "keys_type": self.keys_type.value,
            "schema_version": self.schema_version,
            "schema_hash": self.schema_hash(),
            "columns": [c.to_dict() for c in self.columns],
            "partition": self.partition.to_dict(),
            "bucket": self.bucket.to_dict(),
            "compression": self.compression,
            "replication_num": self.replication_num,
            "schema_log": self.schema_log,
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2)

    @classmethod
    def from_dict(cls, d: dict) -> "TableSpec":
        return cls(
            name=d["name"],
            columns=[ColumnSpec.from_dict(c) for c in d["columns"]],
            keys_type=KeysType(d.get("keys_type", "DUPLICATE")),
            schema_version=d.get("schema_version", 1),
            partition=PartitionPolicy.from_dict(d.get("partition", {})),
            bucket=BucketSpec.from_dict(d.get("bucket", {})),
            compression=d.get("compression", "zstd"),
            replication_num=d.get("replication_num", 1),
            schema_log=d.get("schema_log", []),
        )

    @classmethod
    def from_json(cls, s: str) -> "TableSpec":
        return cls.from_dict(json.loads(s))
