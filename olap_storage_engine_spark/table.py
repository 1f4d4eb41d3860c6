"""OlapTable — the write/read path over Parquet + version manifest.

Maps the reference's storage lifecycle onto Spark's columnar stack:

- DDL (reference: src/storage.rs:35-60, src/table.rs:11-26) ->
  ``OlapTable.create``: table root dir + spec JSON + empty manifest.
- Write (reference: src/segment.rs:132-234 row append/finalize +
  src/table.rs:32-41 routing + src/storage.rs:79-87 publish) ->
  ``OlapTable.write``: derive partition label + FNV bucket id, sort
  within partitions by the key columns (the short-key analogue — makes
  Parquet row-group min/max stats tight, reference: src/index/mod.rs:112-135),
  write one Parquet directory per version interval, publish the rowset
  in the manifest.
- Read (reference: src/tablet.rs:131-144 snapshot cover +
  src/segment.rs:273-310 column scan) -> ``OlapTable.read``: resolve the
  BFS version cover, scan it with one Parquet reader per (schema
  generation, base directory) whose schema comes from the spec (no
  schema-inference job: building a read launches no Spark job), apply
  the keys-model collapse view; filters/projections on the returned
  DataFrame push down to Parquet automatically (zone-map/bloom/
  dictionary live inside Parquet, reference: src/index/mod.rs +
  src/encoding/mod.rs -> all built-in).

Layout:  {warehouse}/{table}/__rsv={start}_{end}/{__pt=<label>/}{__bk=<id>/}part-*.parquet
(the __rsv/__pt/__bk names are reserved; user columns must not use them)

Scale posture: partition label and bucket id are physical directory
columns, so a 1000-executor read of one partition/bucket touches only
its files (partition pruning is a metadata operation).  The bucket
count is the parallelism unit within a partition; writes repartition by
(label, bucket) so each task writes exactly one directory — no
small-file explosion at high executor counts.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .operators.keys_model import SEQ_COL, VERSION_COL, collapse, with_write_metadata
from .operators.routing import bucket_id_col, partition_label_col
from .plans.manifest import (
    Manifest,
    ManifestConflictError,
    RowsetMeta,
    RowsetState,
)
from .spec import BucketType, ColumnType, KeysType, PartitionType, TableSpec

RSV_COL = "__rsv"  # rowset directory column
PT_COL = "__pt"  # partition label directory column
BK_COL = "__bk"  # bucket id directory column


def _json_stat(v):
    """Footer min/max -> JSON-safe manifest value.  Date/timestamp
    bounds become ISO strings (lexicographic order = temporal order,
    so range intersection still works on the strings); bytes decode
    best-effort (parquet string stats arrive as str from pyarrow)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    return v


_TS_SPACE_RE = None


def _stat_key(v, temporal: bool = False):
    """Normalize a predicate bound the same way write() normalized the
    stored stats, so comparisons are like-for-like.

    ``temporal=True`` (the column's declared type is DATE/TIMESTAMP):
    bounds passed as space-separated strings ('2024-01-05 23:59:00')
    are rewritten to the 'T'-separated ISO form the stats store —
    lexicographically ' ' < 'T', so without this a same-day bound
    would sort BEFORE the stored min and a matching rowset could be
    unsoundly skipped (ADVICE r5).  The rewrite is TYPE-GATED: on a
    string column whose stored values are space-separated
    datetime-like text, the stats keep the space form, and rewriting
    the bound would compare above the stored max and unsoundly skip a
    matching rowset (ADVICE r6)."""
    global _TS_SPACE_RE
    v = _json_stat(v)
    if temporal and isinstance(v, str):
        if _TS_SPACE_RE is None:
            import re

            _TS_SPACE_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}")
        if _TS_SPACE_RE.match(v):
            v = v.replace(" ", "T", 1)
    return v


SPEC_FILE = "_spec.json"


class SchemaHashMismatch(ValueError):
    """The spec's recomputed schema hash disagrees with the stored one
    (reference: src/storage.rs:79-87 — publish resolves the tablet by
    (tablet_id, schema_hash), so a drifted schema can't publish)."""


class StaleReplicaError(RuntimeError):
    """A bucketed read replica reflects an older base-table version
    than the current manifest — refresh it (``read_bucketed`` default)
    or re-register."""


# (frame type, spec type) pairs the Parquet reader promotes when a scan
# reads a written rowset back under the spec's schema
_READ_PROMOTIONS = {
    (T.IntegerType(), T.LongType()),
    (T.FloatType(), T.DoubleType()),
    (T.IntegerType(), T.DoubleType()),
    (T.TimestampNTZType(), T.TimestampType()),
}


def _readable_as(have: T.DataType, want: T.DataType) -> bool:
    if isinstance(have, T.ArrayType) and isinstance(want, T.ArrayType):
        return _readable_as(have.elementType, want.elementType)
    return have == want or (have, want) in _READ_PROMOTIONS


def _mask_filter(masks: dict):
    """The label masks of one reader's rowsets as one directory filter:
    an OR over mask groups of ``__rsv IN (dirs) AND __pt [NOT] IN
    (labels)``.  It names directory columns only, so Spark prunes it at
    file listing."""
    cond = None
    for (mode, labels), rsvs in masks.items():
        c = F.col(RSV_COL).isin(rsvs)
        if mode == "include":
            c = c & F.col(PT_COL).isin(list(labels))
        elif mode == "exclude":
            c = c & ~F.col(PT_COL).isin(list(labels))
        cond = c if cond is None else cond | c
    return cond


class OlapTable:
    """One table = spec + manifest + versioned Parquet directories."""

    def __init__(self, spark: SparkSession, spec: TableSpec, root: str):
        self.spark = spark
        self.spec = spec
        self.root = root
        self.manifest = Manifest.load(root)

    # -- DDL -----------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        spec: TableSpec,
        warehouse: str,
        overwrite: bool = False,
    ) -> "OlapTable":
        """reference: src/storage.rs:40-60 create_table_with_partitions."""
        root = os.path.join(warehouse, spec.name)
        if os.path.exists(root):
            if not overwrite:
                raise FileExistsError(f"table dir exists: {root}")
            shutil.rmtree(root)
        os.makedirs(root)
        with open(os.path.join(root, SPEC_FILE), "w") as f:
            f.write(spec.to_json())
        m = Manifest(root)
        # the manifest pins the schema hash it was created under; every
        # publish re-checks it (reference: src/storage.rs:79-87
        # get_tablet(tablet_id, schema_hash))
        m.doc["schema_hash"] = spec.schema_hash()
        m.save()
        return cls(spark, spec, root)

    @classmethod
    def load(cls, spark: SparkSession, warehouse: str, name: str) -> "OlapTable":
        import json as _json

        root = os.path.join(warehouse, name)
        with open(os.path.join(root, SPEC_FILE)) as f:
            doc = _json.load(f)
        spec = TableSpec.from_dict(doc)
        stored = doc.get("schema_hash")
        if stored is not None and stored != spec.schema_hash():
            raise SchemaHashMismatch(
                f"table {name!r}: spec file schema_hash {stored} != "
                f"recomputed {spec.schema_hash()} — spec edited out of band"
            )
        return cls(spark, spec, root)

    @classmethod
    def drop(cls, warehouse: str, name: str) -> None:
        """reference: src/storage.rs:64-74 drop_table."""
        root = os.path.join(warehouse, name)
        if os.path.exists(root):
            shutil.rmtree(root)

    # -- write path ------------------------------------------------------
    def _routed(self, df: DataFrame) -> DataFrame:
        pt = partition_label_col(self.spec.partition)
        bk = bucket_id_col(self.spec.bucket)
        return df.withColumn(PT_COL, pt).withColumn(BK_COL, bk)

    def write(
        self,
        df: DataFrame,
        start_version: int | None = None,
        end_version: int | None = None,
        publish: bool = True,
        collapsed: bool = False,
        strict_routing: bool = True,
        partitions: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> RowsetMeta:
        """Route, sort, write one rowset, publish it.

        Default version interval is the next single version
        [max_version+1, max_version+1] — the normal ingest path; an
        explicit wider interval is the compaction-rewrite path.
        ``publish=False`` runs phase 1 of the two-phase publish only:
        the rowset lands PREPARED (data durable, invisible to reads)
        until ``commit(rowset_id)``.

        ``partitions``: restrict the rowset's version interval to those
        partition labels (partition-scoped DML — the reference's
        per-tablet rowsets).  The write verifies every row actually
        routed inside the scope; reads resolve scoped rowsets through
        the per-partition version chains (Manifest.capture_scoped_plan).
        """
        expected = self.manifest.doc.get("schema_hash")
        if expected is not None and expected != self.spec.schema_hash():
            raise SchemaHashMismatch(
                f"table {self.spec.name!r}: spec hash "
                f"{self.spec.schema_hash()} != manifest hash {expected} — "
                "refusing to publish against a drifted schema"
            )
        # reads take their schema from the spec, so a column the
        # Parquet reader cannot convert to its spec type would publish
        # an unreadable rowset
        have = {f.name: f.dataType for f in df.schema.fields}
        bad = [
            f"{c.name}: {have[c.name].simpleString()} is not "
            f"{c.spark_type().simpleString()}"
            for c in self.spec.columns
            if c.name in have and not _readable_as(have[c.name], c.spark_type())
        ]
        if bad:
            raise TypeError(f"{self.spec.name}: frame column types {bad}")
        if start_version is None:
            start_version = self.manifest.max_version + 1
        if end_version is None:
            end_version = start_version
        # reserved __rsv prefix: Spark partition discovery parses any
        # k=v directory into a column; a plain "v=0_0" dir would
        # shadow a user column named "v" on read.
        rel = f"__rsv={start_version}_{end_version}"
        # two rowsets may share a version interval (a partition-scoped
        # rewrite and a later global compaction of the same [s, e]);
        # the directory just needs to be unique — identity lives in the
        # manifest, nothing parses the path
        n = 2
        while os.path.exists(os.path.join(self.root, rel)):
            rel = f"__rsv={start_version}_{end_version}_{n}"
            n += 1
        out_dir = os.path.join(self.root, rel)

        routed = self._routed(with_write_metadata(df, end_version))
        keys = self.spec.key_names() or self.spec.column_names()[:1]
        shuffle_parts = (
            self.spec.bucket.num_buckets
            if self.spec.bucket.btype == BucketType.HASH
            else None
        )
        unpartitioned = self.spec.partition.ptype == PartitionType.UNPARTITIONED
        if not unpartitioned or (shuffle_parts and shuffle_parts > 1):
            # one task per (partition, bucket) directory target
            routed = routed.repartition(F.col(PT_COL), F.col(BK_COL))
        # Spark's planned write puts its own Sort(__pt, __bk) above this
        # one unless this one already leads with those columns, and the
        # optimizer then drops this one: files would keep input order.
        # An UNPARTITIONED label is a literal that folds out of the sort
        # order before the write matches it, so it is attached after.
        if unpartitioned:
            sorted_df = (
                routed.drop(PT_COL)
                .sortWithinPartitions(BK_COL, *keys)
                .withColumn(PT_COL, partition_label_col(self.spec.partition))
            )
        else:
            sorted_df = routed.sortWithinPartitions(PT_COL, BK_COL, *keys)

        writer = (
            sorted_df.write.mode("errorifexists")
            .partitionBy(PT_COL, BK_COL)
            # parquet-side index features (reference: src/index/mod.rs):
            # min/max page stats are always on; add bloom filters for the
            # leading key column (point-lookup skip, reference A17).
            .option("parquet.block.size", 128 * 1024 * 1024)
            # block compression (reference: src/compression/mod.rs)
            .option("compression", self.spec.compression)
        )
        if keys:
            # adaptive: parquet-mr sizes each file's filter to the
            # distinct values it saw (capped at max.bytes) instead of
            # writing the full 64 KB into every small (__pt, __bk) file
            writer = (
                writer.option(f"parquet.bloom.filter.enabled#{keys[0]}", "true")
                .option("parquet.bloom.filter.adaptive.enabled", "true")
                .option("parquet.bloom.filter.max.bytes", 64 * 1024)
            )
        # per-column encoding hints (reference: src/field_type.rs:77-92
        # auto-selection; Parquet owns the actual codecs)
        for c in self.spec.columns:
            if not c.wants_dictionary():
                writer = writer.option(
                    f"parquet.enable.dictionary#{c.name}", "false"
                )
        writer.parquet(out_dir)

        if strict_routing and self.spec.partition.ptype != PartitionType.UNPARTITIONED:
            # the reference errors when no partition accepts a key
            # (src/partition.rs find_partition -> Err); detect rows that
            # landed in the sentinel directory
            bad_dir = os.path.join(out_dir, f"{PT_COL}=__unrouted__")
            if os.path.exists(bad_dir):
                shutil.rmtree(out_dir)  # abort: no orphan data files
                raise ValueError(
                    f"{self.spec.name}: rows outside every partition bound; "
                    "pass strict_routing=False to keep them in the "
                    "__unrouted__ partition"
                )
        if partitions is not None:
            # a scoped rowset must contain ONLY its declared partitions —
            # a stray row would be silently shadowed at read time
            written = {
                d.split("=", 1)[1]
                for d in os.listdir(out_dir)
                if d.startswith(f"{PT_COL}=")
            }
            stray = written - set(partitions)
            if stray:
                shutil.rmtree(out_dir)
                raise ValueError(
                    f"{self.spec.name}: rows routed to partitions "
                    f"{sorted(stray)} outside the declared scope "
                    f"{sorted(partitions)}"
                )

        # rowset stats from parquet FOOTERS only — a data re-scan to
        # count rows would re-read the entire rowset (ruinous at scale);
        # footer metadata carries exact row counts for free.  The SAME
        # walk harvests per-key-column min/max into the manifest
        # (col_stats), enabling driver-side rowset skipping on reads.
        import pyarrow.parquet as pq

        # harvest stats for every skippable column: keys always; value
        # columns too on DUPLICATE tables (no collapse -> value-column
        # rowset skipping is sound there, see read_skipped)
        stat_cols = set(self.spec.key_names())
        if self.spec.keys_type == KeysType.DUPLICATE:
            stat_cols = set(self.spec.column_names())
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        unknown: set[str] = set()
        n_rows = 0
        size = 0
        for dp, _, fns in os.walk(out_dir):
            for fn in fns:
                fp = os.path.join(dp, fn)
                size += os.path.getsize(fp)
                if fn.endswith(".parquet"):
                    md = pq.ParquetFile(fp).metadata
                    n_rows += md.num_rows
                    names = {
                        md.schema.column(i).name: i
                        for i in range(md.num_columns)
                    }
                    for c in stat_cols - unknown:
                        i = names.get(c)
                        if i is None:
                            unknown.add(c)
                            continue
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(i).statistics
                            if st is None or not st.has_min_max:
                                unknown.add(c)
                                break
                            if c not in mins or st.min < mins[c]:
                                mins[c] = st.min
                            if c not in maxs or st.max > maxs[c]:
                                maxs[c] = st.max
        col_stats = {
            c: [_json_stat(mins[c]), _json_stat(maxs[c])]
            for c in stat_cols - unknown
            if c in mins
        }
        rs = RowsetMeta(
            rowset_id=self.manifest.next_rowset_id(),
            start_version=start_version,
            end_version=end_version,
            path=rel,
            num_rows=n_rows,
            data_size=size,
            collapsed=collapsed,
            partitions=sorted(partitions) if partitions is not None else None,
            col_stats=col_stats or None,
            schema_version=self.spec.schema_version,
        )
        if publish:
            try:
                self.manifest.publish(rs, txn=txn)
            except ManifestConflictError:
                # the CAS lost to a concurrent writer.  The rowset's id
                # and version interval are baked into its data files
                # (VERSION_COL, directory name), so a replay is only
                # sound when the interval still EXTENDS the graph
                # (start > head: our write raced a metadata-only save
                # that advanced no versions) and the id is still free.
                # Anything else — including a rewrite whose interval now
                # sits at-or-below the head — re-raises with the files
                # written but unpublished: the winner may have made rows
                # visible (an append, or commit() of a PREPARED rowset,
                # which allocates NO new rowset id and so never trips
                # the duplicate-id guard) that this rowset's collapse
                # does not contain, and replaying would publish a second
                # VISIBLE cover over the same interval, silently
                # shadowing one write (r7, per ADVICE).  The caller
                # re-runs the write against fresh state.
                self.manifest.reload()
                id_taken = any(
                    d["rowset_id"] == rs.rowset_id
                    for d in self.manifest.doc["rowsets"]
                )
                head = self.manifest.max_version
                if id_taken or rs.start_version <= head:
                    raise
                self.manifest.publish(rs, txn=txn)
        else:
            self.manifest.prepare(rs)
        return rs

    def commit(self, rowset_id: int, txn=None) -> None:
        """Phase 2 of the two-phase publish: PREPARED -> VISIBLE.
        Conflict-safe: a lost CAS reloads and replays (the mutation is
        a pure function of the reloaded state).  ``txn=(source_id,
        epoch)`` records the streaming epoch in the same save (the
        audited exactly-once ingest path)."""
        self.manifest.with_retry(
            lambda m: m.commit_rowset(rowset_id, txn=txn)
        )

    def rollback(self, to_version: int) -> list[int]:
        """Roll the table back to the snapshot at ``to_version`` —
        newer rowsets flip STALE in one manifest save (files untouched
        until GC), max_version resets.  Pure metadata: O(#rowsets) on
        the driver regardless of data size.  Conflict-safe via
        lose-and-replay (Manifest.with_retry)."""
        return self.manifest.with_retry(lambda m: m.rollback(to_version))

    # -- schema evolution ------------------------------------------------
    def _persist_schema_change(self, log_entry: dict) -> None:
        """Shared tail of every evolution op: bump schema_version,
        append the replayable log entry, rewrite the spec file, and
        evolve the manifest's pinned hash in the same step so the next
        publish validates against the new layout.  Driver-side
        metadata only — no data file is touched at any table size."""
        self.spec.schema_version += 1
        log_entry["v"] = self.spec.schema_version
        self.spec.schema_log.append(log_entry)
        with open(os.path.join(self.root, SPEC_FILE), "w") as f:
            f.write(self.spec.to_json())
        self.manifest.doc["schema_hash"] = self.spec.schema_hash()
        self.manifest.save()

    def add_column(self, col) -> None:
        """Additive schema evolution (reference: schema_version /
        schema_hash fields, src/meta.rs:55-66 — declared there,
        executed here).  Only value columns can be added (key-set
        changes would re-shape the collapse); existing rowsets surface
        the column as typed nulls, new writes carry it physically."""
        from .spec import ColumnSpec

        assert isinstance(col, ColumnSpec)
        if col.is_key:
            raise ValueError("cannot add key columns after creation")
        if col.name in self.spec.column_names():
            raise ValueError(f"column exists: {col.name}")
        self.spec.columns.append(col)
        self._persist_schema_change({"op": "add", "name": col.name})

    def _guard_structural_column(self, name: str, verb: str) -> None:
        """Partition/bucket routing and the keys model are keyed by
        column NAME in persisted metadata (PartitionPolicy.column,
        BucketSpec.column, directory layouts) — dropping or renaming
        those out from under existing rowset directories would corrupt
        routing, so both are refused outright."""
        if self.spec.partition.column == name:
            raise ValueError(f"cannot {verb} partition column {name!r}")
        if self.spec.bucket.column == name:
            raise ValueError(f"cannot {verb} bucket column {name!r}")

    def drop_column(self, name: str) -> None:
        """Non-additive schema evolution: drop a VALUE column.

        Metadata-only (the Iceberg discipline): the spec loses the
        column and logs the drop; old rowsets keep the physical data
        until compaction naturally rewrites them, and the read schema
        of those rowsets leaves the column out (``_physical_names``).
        The name may be re-added later — even at a different type —
        because a rowset older than the re-add never reads that name:
        its successor surfaces there as typed nulls.

        Key columns cannot be dropped (the keys-model collapse is
        keyed on them); partition/bucket source columns cannot be
        dropped (routing metadata names them)."""
        spec_c = next(
            (c for c in self.spec.columns if c.name == name), None
        )
        if spec_c is None:
            raise ValueError(f"no such column: {name}")
        if spec_c.is_key:
            raise ValueError(f"cannot drop key column {name!r}")
        self._guard_structural_column(name, "drop")
        if len(self.spec.columns) == 1:
            raise ValueError("cannot drop the only column")
        self.spec.columns = [c for c in self.spec.columns if c.name != name]
        self._persist_schema_change({"op": "drop", "name": name})

    def rename_column(self, old: str, new: str) -> None:
        """Non-additive schema evolution: rename a column (key or
        value) across rowset generations.  Metadata-only: old rowsets'
        physical files keep the old name; the read schema of those
        rowsets names the old column and the scan aliases it
        (``_physical_names``), so every snapshot — including time travel
        into pre-rename versions — serves the CURRENT name.

        Partition/bucket source columns are refused (their names are
        baked into routing metadata and directory layouts)."""
        spec_c = next(
            (c for c in self.spec.columns if c.name == old), None
        )
        if spec_c is None:
            raise ValueError(f"no such column: {old}")
        self._guard_structural_column(old, "rename")
        if new in self.spec.column_names():
            raise ValueError(f"column exists: {new}")
        if new in self.spec.RESERVED:
            raise ValueError(f"reserved column name: {new}")
        spec_c.name = new
        self._persist_schema_change({"op": "rename", "old": old, "new": new})

    # widening-safe type promotions: exact value preservation only
    _WIDEN_OK = {
        ("INT32", "INT64"),
        ("FLOAT32", "FLOAT64"),
        ("INT32", "FLOAT64"),  # every int32 is exact in a double
    }

    def widen_column(self, name: str, to_type) -> None:
        """Non-additive schema evolution: widen a column's type along
        an exact-promotion edge (INT32->INT64, FLOAT32->FLOAT64,
        INT32->FLOAT64).  Metadata-only like drop/rename: old rowsets
        keep the narrow physical type, which the Parquet reader
        promotes to the wide read-schema type; new writes carry the
        wide type physically.

        Key and routing-source columns are allowed: routing hashes and
        partition bounds compare the STRINGIFIED key (routing.py), and
        str(int32 x) == str(int64 x) for every promotable value, so
        bucket/partition placement of existing directories is
        unchanged by construction."""
        from .spec import ColumnType

        spec_c = next(
            (c for c in self.spec.columns if c.name == name), None
        )
        if spec_c is None:
            raise ValueError(f"no such column: {name}")
        frm = ColumnType(spec_c.column_type).value
        to = ColumnType(to_type).value
        if (frm, to) not in self._WIDEN_OK:
            raise ValueError(
                f"not a widening promotion: {frm} -> {to} "
                f"(allowed: {sorted(self._WIDEN_OK)})"
            )
        spec_c.column_type = ColumnType(to_type)
        self._persist_schema_change({"op": "widen", "name": name, "to": to})

    # -- layout evolution (partition/bucket reorganization) --------------
    def last_layout_version(self) -> int:
        """Schema version of the most recent repartition op (0 if the
        layout never changed) — rowsets stamped BELOW this were routed
        under a previous partition/bucket policy."""
        return max(
            (
                e["v"]
                for e in self.spec.schema_log
                if e["op"] == "repartition"
            ),
            default=0,
        )

    def has_mixed_layout(self, lo: int = 0, hi: int | None = None) -> bool:
        """True when the visible cover of [lo, hi] contains a rowset
        written under a PREVIOUS partition/bucket policy.  Label-based
        partition pruning and partition-scoped DML are unsound on a
        mixed cover (old directories carry old labels), so both fall
        back to label-free plans until the reorganization's rewrite is
        visible — which normally happens in the same call
        (operators/compaction.repartition_table); a mixed cover is
        only observable after a mid-reorg crash or under time travel
        into pre-reorg versions."""
        return self.last_layout_version() > 0 and self._mixed_layout(
            self.manifest.capture_scoped_plan(lo, hi)
        )

    def _mixed_layout(self, plan) -> bool:
        last = self.last_layout_version()
        return any(rs.schema_version < last for rs, _, _ in plan)

    def _physical_names(self, written_v: int) -> tuple[tuple[str, str], ...]:
        """(current name, physical name) of every current column that a
        rowset written under schema version ``written_v`` holds —
        derived from the spec alone by walking the evolution log
        backwards over the entries newer than ``written_v``:

        - ``rename`` maps the current name back to the old one;
        - ``add`` means the rowset predates the column: it is left out
          and surfaces as typed nulls (this is also what hides the
          stale physical column of a name dropped and then re-added);
        - ``drop`` needs no step: a current column that carries the
          dropped name was added or renamed into it later, and that
          newer entry was already undone;
        - ``widen`` keeps the current type, which the Parquet reader
          promotes the narrow physical type to.

        Pure metadata: no footer is opened."""
        phys = {n: n for n in self.spec.column_names()}  # current -> physical
        for e in reversed(self.spec.schema_log):
            if e["v"] <= written_v:
                break
            if e["op"] == "rename":
                phys = {c: e["old"] if p == e["new"] else p for c, p in phys.items()}
            elif e["op"] == "add":
                phys = {c: p for c, p in phys.items() if p != e["name"]}
        return tuple(phys.items())

    # -- read path -------------------------------------------------------
    def scan(
        self, lo: int = 0, hi: int | None = None, with_hidden: bool = False
    ) -> DataFrame:
        """Raw snapshot scan: the rows of the version cover, before
        keys-model collapse.

        One schema-given Parquet reader per (schema generation, base
        directory): no footer is opened to learn a schema, so building
        the scan launches no Spark job, and each reader lists its files
        once.  Partition-scoped rowsets in the cover become one
        ``__rsv``/``__pt`` directory filter (metadata-only pruning): a
        scoped rowset serves only its labels, and global rowsets are
        masked out of the labels a scoped rowset supersedes."""
        return self._scan(self.manifest.capture_scoped_plan(lo, hi), with_hidden)

    def _scan(self, plan, with_hidden: bool) -> DataFrame:
        # zero-row rowsets (a partition-scoped rewrite that deleted
        # every surviving row publishes one: the version cover needs
        # the interval, but partitionBy on an empty frame lays down no
        # parquet files) contribute nothing — skip them driver-side
        plan = [e for e in plan if e[0].num_rows > 0]
        if not plan:
            df = self.spark.createDataFrame([], self.spec.spark_schema())
            if with_hidden:
                df = df.withColumn(PT_COL, F.lit(None).cast("string"))
                df = df.withColumn(BK_COL, F.lit(None).cast("int"))
            return df

        # readers keyed by (physical column names, base): every rowset
        # of one schema generation shares a reader.  A CLONED table's
        # borrowed rowsets carry absolute paths into the source root
        # (clone_table), and basePath must be an ancestor of every path
        # in a reader, so borrowed and native rowsets read separately.
        groups: dict[tuple, tuple[list[str], dict]] = {}
        for rs, mode, labels in plan:
            full = os.path.join(self.root, rs.path)
            base = os.path.dirname(full) if os.path.isabs(rs.path) else self.root
            paths, masks = groups.setdefault(
                (self._physical_names(rs.schema_version), base), ([], {})
            )
            paths.append(full)
            rsv = os.path.basename(full).split("=", 1)[1]
            masks.setdefault((mode, tuple(labels or ())), []).append(rsv)

        hidden = [
            T.StructField(VERSION_COL, T.LongType()),
            T.StructField(SEQ_COL, T.LongType()),
            T.StructField(RSV_COL, T.StringType()),
            T.StructField(PT_COL, T.StringType()),
            T.StructField(BK_COL, T.IntegerType()),
        ]
        out = [VERSION_COL, SEQ_COL, PT_COL, BK_COL] if with_hidden else []
        df = None
        for (names, base), (paths, masks) in groups.items():
            phys = dict(names)
            schema = T.StructType(
                [
                    T.StructField(phys[c.name], c.spark_type())
                    for c in self.spec.columns
                    if c.name in phys
                ]
                + hidden
            )
            part = (
                self.spark.read.schema(schema)
                .option("basePath", base)
                .parquet(*paths)
            )
            if any(mode is not None for mode, _ in masks):
                part = part.filter(_mask_filter(masks))
            part = part.select(
                *(
                    F.col(phys[c.name]).alias(c.name)
                    if c.name in phys
                    else F.lit(None).cast(c.spark_type()).alias(c.name)
                    for c in self.spec.columns
                ),
                *out,
            )
            df = part if df is None else df.unionByName(part)
        return df

    def read(self, lo: int = 0, hi: int | None = None) -> DataFrame:
        """Snapshot read through the keys-model collapse view."""
        return self._collapsed(lo, hi)

    def _collapsed(
        self,
        lo: int = 0,
        hi: int | None = None,
        where=None,
        prune=None,
        rowset_filter=None,
    ) -> DataFrame:
        """The collapsed snapshot [lo, hi] — the one read behind
        ``read``, ``read_skipped``, ``read_pruned``, ``read_point`` and
        every compaction and DML rewrite: resolve the plan once, scan
        it with its label masks, filter, collapse.

        ``where`` filters rows before the collapse; callers pass
        predicates on routing or key columns only.  ``prune`` is a
        ``__pt``/``__bk`` directory
        filter that is dropped when the plan mixes partition layouts
        (old directories carry old labels), so the caller's ``where``
        must carry correctness without it.  ``rowset_filter(rs) ->
        bool`` drops plan rowsets DRIVER-side (manifest-stats data
        skipping, see read_skipped) — the caller guarantees dropped
        rowsets cannot contribute to its result.

        Fast path: when the plan is a single compaction-written
        rowset, its files already hold the collapsed data — skip the
        merge-on-read window/aggregate entirely (steady state after
        compaction)."""
        plan = self.manifest.capture_scoped_plan(lo, hi)
        if rowset_filter is not None:
            plan = [e for e in plan if rowset_filter(e[0])]
        df = self._scan(plan, with_hidden=True)
        if prune is not None and not self._mixed_layout(plan):
            df = df.filter(prune)
        if where is not None:
            df = df.filter(where)
        if len(plan) == 1 and plan[0][0].collapsed:
            return df.select(*self.spec.column_names())
        return collapse(df.drop(PT_COL, BK_COL), self.spec)

    def skip_plan(self, col: str, lo_val, hi_val, vlo: int = 0, vhi: int | None = None):
        """(kept, total) rowsets after manifest-stats skipping for
        ``col BETWEEN lo_val AND hi_val`` — introspection for tests
        and planning; pure driver metadata."""
        plan = self.manifest.capture_scoped_plan(vlo, vhi)
        temporal = self._col_is_temporal(col)
        kept = [
            e
            for e in plan
            if self._stats_match(e[0], col, lo_val, hi_val, temporal)
        ]
        return len(kept), len(plan)

    def _col_is_temporal(self, col: str) -> bool:
        """Whether the column's DECLARED spec type is DATE/TIMESTAMP —
        gates the space->'T' bound rewrite in _stat_key, which is
        unsound on string columns storing datetime-like text (r7,
        per ADVICE)."""
        spec_c = next(
            (c for c in self.spec.columns if c.name == col), None
        )
        return spec_c is not None and ColumnType(
            spec_c.column_type
        ) in (ColumnType.DATE, ColumnType.TIMESTAMP)

    @staticmethod
    def _stats_match(
        rs: RowsetMeta, col: str, lo_val, hi_val, temporal: bool = False
    ) -> bool:
        st = (rs.col_stats or {}).get(col)
        if not st:
            return True  # unknown stats: never skip
        mn, mx = st
        return not (
            _stat_key(lo_val, temporal) > mx
            or _stat_key(hi_val, temporal) < mn
        )

    def read_skipped(
        self, col: str, lo_val, hi_val, vlo: int = 0, vhi: int | None = None
    ) -> DataFrame:
        """Snapshot read of ``col BETWEEN lo_val AND hi_val`` with
        MANIFEST-LEVEL rowset skipping: rowsets whose stored footer
        min/max for ``col`` cannot intersect the range are dropped on
        the driver — before file listing, before any footer open.
        At 10^5 rowset files this is the difference between a
        metadata-bounded plan and a full listing pass; the surviving
        scan still gets parquet row-group pruning on top.

        Column restrictions by keys model: KEY columns are always
        sound — every physical row of a logical key carries the same
        key values, so a rowset excluded by key-range stats holds no
        row of ANY matching key and the keys-model collapse over the
        surviving subset is exact.  VALUE columns are sound ONLY on
        DUPLICATE tables (no collapse: each physical row is a result
        row, so excluding a rowset whose stats cannot match drops no
        answer).  Under UNIQUE/AGGREGATE merge-on-read a value-column
        skip is unsound — an excluded rowset could hold the surviving
        version of a matching key — and is refused."""
        if (
            col not in self.spec.key_names()
            and self.spec.keys_type != KeysType.DUPLICATE
        ):
            raise ValueError(
                f"read_skipped: {col!r} is not a key column — value-"
                "column skipping is unsound under keys-model collapse"
            )
        temporal = self._col_is_temporal(col)
        return self._collapsed(
            vlo,
            vhi,
            rowset_filter=lambda rs: self._stats_match(
                rs, col, lo_val, hi_val, temporal
            ),
        ).filter(F.col(col).between(F.lit(lo_val), F.lit(hi_val)))

    def read_pruned(
        self,
        range_lo: str | None = None,
        range_hi: str | None = None,
        in_values: list | None = None,
        lo: int = 0,
        hi: int | None = None,
    ) -> DataFrame:
        """Snapshot read with driver-side partition pruning: restrict
        the scan to partition directories whose key interval intersects
        [range_lo, range_hi) (RANGE tables) or whose key is in
        ``in_values`` (LIST tables), *plus* the row-level predicate on
        the partition column — directory pruning is a metadata
        operation (PartitionFilters in the scan node), the residual
        predicate still pushes to Parquet stats.

        This is the reference's routing-read (find_partition,
        src/partition.rs:172-189) surfaced as a read-side optimization;
        at 100 TB the label filter keeps untouched partitions' files
        out of the file listing entirely.
        """
        policy = self.spec.partition
        pred = None
        labels = None
        if in_values is not None:
            labels = policy.partitions_for_values(in_values)
            pred = F.col(policy.column).isin(in_values)
        else:
            labels = policy.partitions_for_range(range_lo, range_hi)
            key = F.col(policy.column).cast("string")
            if range_lo is not None:
                pred = key >= F.lit(range_lo)
            if range_hi is not None:
                upper = key < F.lit(range_hi)
                pred = upper if pred is None else (pred & upper)
        # on a mixed-layout plan the label filter is dropped: a
        # pre-reorg rowset's directories carry labels from the OLD
        # policy.  Correctness never depended on it (the residual row
        # predicate enforces the range).
        return self._collapsed(
            lo,
            hi,
            where=pred,
            prune=None if labels is None else F.col(PT_COL).isin(labels),
        )

    def read_as_of(self, ts: float) -> DataFrame:
        """Time travel: snapshot as of a wall-clock time — reads the
        cover [0, v] where v is the highest version whose rowset was
        published at or before ``ts`` (publish times live in the
        manifest; resolution is metadata-only)."""
        versions = [
            rs.end_version
            for rs in self.manifest.rowsets()
            if rs.created_at <= ts
            and (
                rs.state == RowsetState.VISIBLE
                or (
                    rs.state == RowsetState.STALE
                    and rs.stale_reason == "retired"
                    and not rs.reclaimed
                )
            )
        ]
        if not versions:
            return self.spark.createDataFrame([], self.spec.spark_schema())
        return self.read(0, max(versions))

    def read_point(
        self, key_value, lo: int = 0, hi: int | None = None
    ) -> DataFrame:
        """Point lookup routed to one bucket (reference: src/table.rs:
        32-41 tablet_for_row, surfaced read-side).

        The FNV-1a bucket of the key is computed driver-side (scalar,
        metadata-only); the scan then carries BOTH a __bk partition
        filter (directory pruning — only 1/num_buckets of the files are
        listed) and the key equality predicate (Parquet stats + bloom
        filter page skipping inside the bucket).
        """
        from .operators.routing import fnv1a64

        bucket = self.spec.bucket
        if bucket.btype != BucketType.HASH or bucket.column is None:
            return self._collapsed(lo, hi)
        # pre-reorg rowsets' __bk directories were routed under the OLD
        # bucket count, so the bucket prune drops on a mixed-layout
        # plan; the key equality carries correctness either way
        b = fnv1a64(str(key_value)) % bucket.num_buckets
        return self._collapsed(
            lo,
            hi,
            where=F.col(bucket.column) == F.lit(key_value),
            prune=F.col(BK_COL) == b,
        )

    def register_bucketed(
        self, table_name: str, num_buckets: int | None = None
    ) -> str:
        """Materialize the current collapse view as a managed Spark
        bucketed table on this table's bucket column.

        The engine's own ``__bk`` directories are FNV-routed for
        point-lookup pruning, but Catalyst cannot see that layout
        through ``spark.read.parquet`` — so a join of two co-bucketed
        OlapTables still shuffles both sides.  Registering a bucketed
        read replica through the session catalog makes the bucket spec
        visible to the planner: equi-joins on the bucket column (and
        same-key aggregates) run with zero exchanges
        (tests/test_bucketed.py pins the plan).

        The replica is VERSION-PINNED: the base table's max_version at
        registration time is recorded as a table property, so staleness
        is detectable (``bucketed_is_stale``) and the guarded read path
        (``read_bucketed``) refreshes — or refuses — a replica that no
        longer reflects the base (tests/test_bucketed.py pins
        publish-then-join seeing the delta).

        At 100 TB this is the read-replica trade: one extra copy of the
        collapsed data in exchange for removing the shuffle from every
        join keyed on the bucket column."""
        bucket = self.spec.bucket
        if bucket.btype != BucketType.HASH or bucket.column is None:
            raise ValueError(
                f"{self.spec.name}: register_bucketed needs a HASH bucket spec"
            )
        n = num_buckets or bucket.num_buckets
        # A crashed run can leave the warehouse directory on disk with no
        # catalog entry (fresh Derby metastore); saveAsTable then refuses
        # the orphaned location, so clear both before writing.
        self.spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh_path = wh.removeprefix("file:")
        db, _, tbl = table_name.rpartition(".")
        loc = os.path.join(wh_path, f"{db}.db", tbl) if db else os.path.join(
            wh_path, tbl
        )
        shutil.rmtree(loc, ignore_errors=True)
        (
            self.read()
            # one sorted file per bucket: required for the session's
            # sorted-bucket-scan ordering claim (session.py) to be
            # sound, and fewer/larger files is the right replica shape
            # at scale anyway
            .repartition(n, F.col(bucket.column))
            .write.bucketBy(n, bucket.column)
            .sortBy(bucket.column)
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(table_name)
        )
        # pin the base version the replica reflects — staleness becomes
        # a metadata comparison, not a guess
        self.spark.sql(
            f"ALTER TABLE {table_name} SET TBLPROPERTIES "
            f"('{self.REPLICA_VERSION_PROP}'='{self.manifest.max_version}')"
        )
        return table_name

    REPLICA_VERSION_PROP = "olap.replica_of_version"

    def bucketed_replica_version(self, table_name: str) -> int | None:
        """The base max_version a replica was registered at, from its
        table property; None for a pre-pinning or foreign table."""
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {table_name}"
        ).collect()
        props = {r["key"]: r["value"] for r in rows}
        v = props.get(self.REPLICA_VERSION_PROP)
        return int(v) if v is not None else None

    def bucketed_is_stale(self, table_name: str) -> bool:
        """True when the base table has published past the version the
        replica was registered at (or the pin is missing)."""
        v = self.bucketed_replica_version(table_name)
        return v is None or v < self.manifest.max_version

    def read_bucketed(
        self, table_name: str, on_stale: str = "refresh"
    ) -> DataFrame:
        """Read the bucketed replica through the staleness guard.

        ``on_stale``: ``"refresh"`` re-registers from the current
        snapshot (the postings/cell-index refresh-on-read policy),
        ``"raise"`` refuses with StaleReplicaError, ``"allow"`` serves
        the pinned older snapshot knowingly (a legitimate choice for an
        immutable training run)."""
        if on_stale not in ("refresh", "raise", "allow"):
            raise ValueError(f"on_stale: {on_stale!r}")
        if on_stale != "allow" and self.bucketed_is_stale(table_name):
            if on_stale == "raise":
                raise StaleReplicaError(
                    f"{table_name}: replica pinned at version "
                    f"{self.bucketed_replica_version(table_name)}, base "
                    f"{self.spec.name} is at {self.manifest.max_version}"
                )
            self.register_bucketed(table_name)
        return self.spark.table(table_name)

    # -- ops ------------------------------------------------------------
    def compaction_score(self) -> int:
        return self.manifest.compaction_score()

    def _plan_files(self, plan):
        """(partition label, parquet path) of every file a read plan
        serves — a rowset's masked-out ``__pt`` directories are
        skipped.  The listing uses os.walk (local/posix warehouse); an
        object-store deployment would swap in the store's listing API
        here."""
        for rs, mode, labels in plan:
            root = os.path.join(self.root, rs.path)
            for dp, _, fns in os.walk(root):
                label = next(
                    (
                        p.split("=", 1)[1]
                        for p in os.path.relpath(dp, root).split(os.sep)
                        if p.startswith(f"{PT_COL}=")
                    ),
                    None,
                )
                if mode is not None and (mode == "include") != (label in labels):
                    continue
                for fn in fns:
                    if fn.endswith(".parquet"):
                        yield label, os.path.join(dp, fn)

    def stats(self) -> dict:
        """Table statistics of the head read plan (reference D6:
        num_rows / data sizes) — metadata-only, no scan: a whole
        rowset counts from the manifest, a label-masked one from the
        footers of the files it serves."""
        import pyarrow.parquet as pq

        plan = self.manifest.capture_scoped_plan()
        num_rows = data_size = num_files = 0
        for rs, mode, labels in plan:
            files = [fp for _, fp in self._plan_files([(rs, mode, labels)])]
            num_files += len(files)
            if mode is None:
                num_rows += rs.num_rows
                data_size += rs.data_size
            else:
                num_rows += sum(
                    pq.ParquetFile(fp).metadata.num_rows for fp in files
                )
                data_size += sum(os.path.getsize(fp) for fp in files)
        return {
            "table": self.spec.name,
            "keys_type": self.spec.keys_type.value,
            "num_rows": num_rows,
            "data_size": data_size,
            "num_rowsets": len(plan),
            "num_files": num_files,
            "max_version": self.manifest.max_version,
            "schema_version": self.spec.schema_version,
        }

    def partition_stats(self) -> DataFrame:
        """Per-partition-label statistics from parquet FOOTERS only
        (label, num_rows, num_files, data_size) — the partitions
        metadata table (reference D6 granularity applied per tablet).
        Driver-side directory walk over the head read plan; no data
        pages read, so cost is O(files) footer reads regardless of
        row count."""
        import pyarrow.parquet as pq

        agg: dict[str, list[int]] = {}
        for label, fp in self._plan_files(self.manifest.capture_scoped_plan()):
            if label is None:
                continue
            a = agg.setdefault(label, [0, 0, 0])
            a[0] += pq.ParquetFile(fp).metadata.num_rows
            a[1] += 1
            a[2] += os.path.getsize(fp)
        rows = [
            (label, a[0], a[1], a[2]) for label, a in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows, "label string, num_rows long, num_files int, data_size long"
        )

    def column_min(self, col: str, lo: int = 0, hi: int | None = None):
        """Exact global minimum of a column from Parquet FOOTER
        statistics only — a driver-side metadata read, no data scan.
        This is how probe keys should be picked at 100 TB: the round-2
        fixture queries ran ``df.agg(min(...)).collect()``, a full
        column scan to choose a constant.

        ``lo``/``hi`` restrict the walk to the read plan of [lo, hi]
        (default: the head) — e.g. the min key within just the most
        recently published delta.

        Footers are read CONCURRENTLY (thread pool — pyarrow releases
        the GIL during I/O), so wall time is bounded by storage
        latency, not footer count."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        files = [
            fp
            for _, fp in self._plan_files(
                self.manifest.capture_scoped_plan(lo, hi)
            )
        ]

        def file_min(fp: str):
            md = pq.ParquetFile(fp).metadata
            ci = None
            for i in range(md.num_columns):
                if md.schema.column(i).path == col:
                    ci = i
                    break
            if ci is None:
                return None
            vals = [
                st.min
                for rg in range(md.num_row_groups)
                if (st := md.row_group(rg).column(ci).statistics) is not None
                and st.has_min_max
            ]
            return min(vals) if vals else None

        if not files:
            return None
        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            mins = [m for m in ex.map(file_min, files) if m is not None]
        return min(mins) if mins else None

    def visible_file_count(self) -> int:
        """Parquet files the head read plan serves."""
        return sum(
            1 for _ in self._plan_files(self.manifest.capture_scoped_plan())
        )


def clone_table(
    src: OlapTable,
    new_name: str,
    warehouse: str,
    overwrite: bool = False,
) -> OlapTable:
    """ZERO-COPY snapshot clone at the source's current version — the
    Delta-style shallow CLONE: the new table gets its own spec and
    manifest (full MVCC lineage: versions, keys-model collapse, time
    travel over the cloned history), but its rowset entries point at
    the SOURCE's data files by absolute path, so no byte of data is
    copied at any table size.  Every reader already resolves files via
    ``os.path.join(root, rs.path)``, which passes absolute paths
    through untouched — clones need no special read path.

    Divergence is free in both directions: writes to the clone publish
    NEW relative rowsets under the clone's root; the source never sees
    them, and the clone never sees post-clone source publishes.

    Shallow-clone contract (same as Delta/Iceberg): the clone borrows
    the source's files, so a source-side physical GC or compaction
    that DELETES files (gc_retention, compact with physical cleanup)
    can invalidate clones taken earlier — snapshot the retention
    policy accordingly, or re-clone.  PREPARED and stale rowsets are
    not carried over (not readable, and their files are GC bait).
    """
    import copy as _copy
    import json as _json

    root = os.path.join(warehouse, new_name)
    if os.path.exists(root):
        if not overwrite:
            raise FileExistsError(f"table dir exists: {root}")
        shutil.rmtree(root)
    os.makedirs(root)
    spec_doc = _json.loads(src.spec.to_json())
    spec_doc["name"] = new_name
    spec2 = TableSpec.from_dict(spec_doc)
    with open(os.path.join(root, SPEC_FILE), "w") as f:
        f.write(spec2.to_json())
    m = Manifest(root)
    doc = _copy.deepcopy(src.manifest.doc)
    doc["rowsets"] = [
        {**d, "path": os.path.join(src.root, d["path"])}
        for d in doc["rowsets"]
        if RowsetMeta.from_dict(d).state == RowsetState.VISIBLE
    ]
    doc["generation"] = m.doc.get("generation", 0)
    m.doc = doc
    m.save()
    return OlapTable.load(src.spark, warehouse, new_name)
