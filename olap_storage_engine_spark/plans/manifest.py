"""MVCC version manifest — rowset publish, snapshot covers, staleness.

Re-implements the *semantics* of the reference's tablet/rowset version
layer (reference: src/meta.rs:80-141 RowsetMeta, src/tablet.rs:14-69
VersionGraph + BFS cover, src/tablet.rs:116-165 publish/stale) as a
small driver-side Python module over a JSON manifest file that lives
next to the table's Parquet data.

Scale posture: the manifest is metadata-only (one JSON doc per table,
O(#rowsets) in size) and is read/written on the driver; executors only
ever see the resolved list of Parquet paths.  This is the same division
of labor as Delta/Iceberg metadata vs data, at 1/1000 the complexity —
at 100 TB the manifest for a 10k-rowset table is still <10 MB of JSON.

Concurrency model: SINGLE WRITER per table, the same contract as the
reference's per-tablet meta (one owner mutates a tablet's version
graph) — and since round 5 the contract is ENFORCED, not just
documented: every manifest carries a generation counter and ``save()``
is a compare-and-swap (re-read the on-disk generation under a file
lock, verify it matches the generation this instance last observed,
bump, atomic rename).  A second writer that lost the race raises
``ManifestConflictError`` instead of silently clobbering the winner's
publish; it must reload and retry.  Concurrent readers are safe — the
JSON is rewritten atomically and snapshot reads resolve from an
in-memory copy.  On an object store, the flock+rename pair swaps for
the store's conditional-put, exactly as Delta's LogStore does.
"""

from __future__ import annotations

import json
import os
import time
from collections import deque
from dataclasses import dataclass, field
from enum import Enum


class RowsetState(str, Enum):
    """reference: src/meta.rs:85.  PREPARED rowsets have data on disk
    but are invisible to reads until committed (two-phase publish);
    VISIBLE rowsets form the version graph; STALE ones await GC.  (The
    reference also declares Committed but never reaches it — SURVEY
    §1.1; prepare->visible is the observable machine.)"""

    PREPARED = "PREPARED"
    VISIBLE = "VISIBLE"
    STALE = "STALE"


@dataclass
class RowsetMeta:
    """An immutable data bundle covering versions [start, end]
    (reference: src/meta.rs:90-121)."""

    rowset_id: int
    start_version: int
    end_version: int
    path: str  # directory of parquet files, relative to the table root
    num_rows: int = 0
    data_size: int = 0
    state: RowsetState = RowsetState.VISIBLE
    created_at: float = 0.0
    # True when this rowset's files physically hold the keys-model
    # collapsed data (written by compaction) — reads of a single
    # collapsed rowset skip the merge-on-read work entirely
    collapsed: bool = False
    # Partition scope: None = the rowset spans the whole table (every
    # legacy rowset); a list of partition labels = the rowset's version
    # interval applies ONLY to those partitions (the reference's
    # per-tablet rowsets, src/meta.rs:90-121 — a rowset belongs to one
    # tablet there, so DML rewrites touch one tablet, never the table).
    # Partition-scoped rowsets are what make MERGE/DELETE O(affected
    # partitions) instead of O(table) at 100 TB.
    partitions: list[str] | None = None
    # Per-column [min, max] harvested from the rowset's parquet FOOTERS
    # at write time (zero extra I/O — the same walk that counts rows).
    # Drives manifest-level data skipping: a predicate on a key column
    # can drop whole rowsets DRIVER-side, before any file listing or
    # footer open — the Iceberg-manifest idea, essential when a table
    # holds 10^5 rowset files at 100 TB.  None/absent column = unknown,
    # never skipped on.  Date/timestamp bounds stored as ISO strings.
    col_stats: dict | None = None
    # [source_id, epoch] when this rowset was published atomically with
    # a streaming txn epoch (publish(txn=...)) — lets rollback() unwind
    # the stream_txn watermark so a rolled-back batch CAN be
    # re-ingested under the same source_id.
    txn: list | None = None
    # Why a STALE rowset left the visible graph: "retired" (compaction
    # replaced it; still valid history, time-travel readable until
    # reclaimed) vs "discarded" (rolled back / aborted; never served
    # again).  None on pre-r8 manifests — treated as "discarded", the
    # conservative no-resurrection reading.
    stale_reason: str | None = None
    # True once GC physically deleted this rowset's data directory.
    reclaimed: bool = False
    # TableSpec.schema_version this rowset's files were written under
    # (stamped by OlapTable.write since r10) — the read path replays
    # spec.schema_log entries newer than this over the physical
    # columns, which is what makes column drop/rename sound across
    # rowset generations.  Pre-r10 manifests default to 1: those
    # tables only ever evolved additively (the log carries no
    # drop/rename), so the replay is a no-op for them.
    schema_version: int = 1

    def __post_init__(self) -> None:
        self.state = RowsetState(self.state)
        if self.start_version > self.end_version:
            raise ValueError(
                f"rowset {self.rowset_id}: start {self.start_version} > "
                f"end {self.end_version}"
            )

    @property
    def span(self) -> int:
        return self.end_version - self.start_version + 1

    def to_dict(self) -> dict:
        return {
            "rowset_id": self.rowset_id,
            "start_version": self.start_version,
            "end_version": self.end_version,
            "path": self.path,
            "num_rows": self.num_rows,
            "data_size": self.data_size,
            "state": self.state.value,
            "created_at": self.created_at,
            "collapsed": self.collapsed,
            "partitions": self.partitions,
            "col_stats": self.col_stats,
            "txn": self.txn,
            "stale_reason": self.stale_reason,
            "reclaimed": self.reclaimed,
            "schema_version": self.schema_version,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "RowsetMeta":
        return cls(**{**d, "state": RowsetState(d.get("state", "VISIBLE"))})


class VersionGraphError(Exception):
    """Raised on version holes or invalid publishes."""


class ManifestConflictError(Exception):
    """Another writer published to this table since this manifest was
    loaded — the compare-and-swap in ``save()`` found a newer
    generation on disk.  The losing writer's in-memory state is
    unsaved; reload the manifest and retry the operation."""


class ConditionalPut:
    """The storage seam behind ``Manifest.save()``: atomically publish
    a manifest document IF the currently-published generation equals
    the one the writer last observed, else raise
    ``ManifestConflictError``.

    This is the one primitive the MVCC layer needs from storage (the
    same split as Delta Lake's LogStore).  Implementations:

    * ``LocalFlockCas`` (default) — exclusive flock + atomic rename;
      correct for any number of writers on ONE host / shared POSIX fs.
    * A cluster deployment on object storage substitutes the store's
      native conditional write: S3 ``If-None-Match``/``If-Match``
      conditional PUT, GCS ``x-goog-if-generation-match``, or an
      external lock row (DynamoDB attribute-conditional update) where
      the store lacks one.  See SCALE.md "Multi-writer metadata".

    Contract for implementers: the generation check and the write MUST
    be one atomic unit against the authoritative store; on success the
    published doc carries ``generation = expected_gen + 1``.
    """

    def put_if_generation(
        self, path: str, doc: dict, expected_gen: int
    ) -> None:
        raise NotImplementedError


class LocalFlockCas(ConditionalPut):
    """Single-host conditional-put: re-read the on-disk generation
    under an exclusive file lock, verify it matches, bump, write to a
    temp file, atomic rename.  Readers never block (the rename is
    atomic on POSIX); a losing writer raises instead of clobbering."""

    def put_if_generation(
        self, path: str, doc: dict, expected_gen: int
    ) -> None:
        import fcntl

        with open(path + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            if os.path.exists(path):
                with open(path) as f:
                    disk_gen = json.load(f).get("generation", 0)
                if disk_gen != expected_gen:
                    raise ManifestConflictError(
                        f"{path}: on-disk generation {disk_gen} != "
                        f"loaded generation {expected_gen} — another "
                        "writer published; reload and retry"
                    )
            doc["generation"] = expected_gen + 1
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(doc, f, indent=1)
            os.replace(tmp, path)  # atomic on POSIX


class GenerationClaimCas(ConditionalPut):
    """Object-store-semantics conditional put, testable locally, with
    CRASH RECOVERY: the commit record for generation ``g+1`` is a
    generation-keyed LOG OBJECT ``<path>.g<g+1>.json`` holding the
    FULL manifest doc, created atomically-if-absent (``os.link`` of a
    written temp — EEXIST = lost the race; the filesystem analogue of
    S3 ``If-None-Match: *`` on a generation-keyed key, or the
    DynamoDB-arbitrated Delta-on-S3 LogStore recipe).  ``<path>``
    itself is only a convenience POINTER for readers, refreshed by
    ``os.replace`` after the log object lands.

    Because the log object carries the whole doc, a writer that
    crashes between landing the log object and moving the pointer has
    COMMITTED — its content is durable and complete — and the next
    writer's recovery step rolls the pointer forward before judging
    its own expected generation.  (A claim-marker design without
    content would WEDGE the table on that crash: the generation is
    claimed forever but never published.)  No lock is ever held; two
    writers racing from the same observed generation both try to
    create log object ``g+1`` and the store admits exactly one.

    This is the seam-honesty twin of ``LocalFlockCas``: same contract,
    entirely different primitive (atomic create + pointer roll-forward
    vs exclusive lock), so an interface assumption that only holds for
    one of them fails the shared test matrix.  Log objects are
    metadata-sized, one per generation, and are deliberately kept:
    they ARE the commit history (a manifest time-travel log); deleting
    one would let a maximally stale writer re-win a past generation.
    """

    @staticmethod
    def _gen_path(path: str, gen: int) -> str:
        return f"{path}.g{gen:012d}.json"

    def _recover(self, path: str) -> int:
        """Roll the reader pointer forward to the highest committed
        log object (a crashed winner's unpublished pointer move) and
        return the authoritative generation.  Also reclaims aged
        ``<path>.*.tmp`` left by writers that crashed between writing
        a temp and linking/replacing it — unique temp names close the
        torn-pointer race but would otherwise leak one file per crash
        forever (no other sweeper matches them)."""
        import glob as _glob
        import re as _re
        import time as _time

        cutoff = _time.time() - 86400.0
        for stale in _glob.glob(f"{path}.*.tmp"):
            try:
                if os.path.getmtime(stale) < cutoff:
                    os.remove(stale)
            except OSError:
                pass

        base = os.path.basename(path)
        gen_pat = _re.compile(_re.escape(base) + r"\.g(\d{12})\.json$")

        def _highest_committed():
            # STRICT match on the 12-digit gen suffix and max by the
            # PARSED integer: a stray file that happens to glob-match
            # (manifest.json.garbage.json) must be skipped, not crash
            # int(); and lexicographic sorted() would misorder any
            # non-zero-padded name.
            best_gen, best_file = 0, None
            for cand in _glob.glob(f"{path}.g*.json"):
                m = gen_pat.match(os.path.basename(cand))
                if not m:
                    continue
                g = int(m.group(1))
                if g > best_gen:
                    best_gen, best_file = g, cand
            return best_gen, best_file

        def _pointer_gen():
            if os.path.exists(path):
                with open(path) as f:
                    return json.load(f).get("generation", 0)
            return 0

        highest, committed = _highest_committed()
        pointer_gen = _pointer_gen()
        while highest > pointer_gen:
            # the log object IS the commit; republish the pointer.
            # Re-check after the replace: a racing recover can land
            # an OLDER committed doc after a newer commit's pointer
            # move — looping until pointer >= highest-committed
            # guarantees we never RETURN while the pointer regresses
            # past what we observed.
            tmp = self._copy_to_tmp(path, committed)
            with open(tmp) as f:
                placed = json.load(f).get("generation", 0)
            if placed != highest:
                # history corruption: the log object's NAME claims a
                # generation its DOC doesn't carry (e.g. something
                # wrote through the pointer's hard link to the latest
                # log object).  Rolling the pointer to it would wedge
                # recovery in a loop — fail loudly instead.
                os.remove(tmp)
                raise ValueError(
                    f"{path}: commit-history corruption — log object "
                    f"{os.path.basename(committed)} names generation "
                    f"{highest} but its doc says {placed}; refusing "
                    "to roll the reader pointer"
                )
            os.replace(tmp, path)
            # terminates: each placed doc is VALIDATED to carry the
            # gen its name claims, gens only grow, and racing
            # recoveries are finite — every pass either exits or
            # re-places a strictly newer committed doc.
            pointer_gen = _pointer_gen()
            highest, committed = _highest_committed()
        return pointer_gen

    @staticmethod
    def _copy_to_tmp(path: str, src: str) -> str:
        # UNIQUE temp per caller: two concurrent recoveries must not
        # share a temp name, or one writer's os.replace can consume
        # the other's half-written file (torn pointer for readers)
        # and strand the second replace on FileNotFoundError
        import uuid

        tmp = f"{path}.ptr.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        with open(src, "rb") as fsrc, open(tmp, "wb") as fdst:
            fdst.write(fsrc.read())
        return tmp

    def put_if_generation(
        self, path: str, doc: dict, expected_gen: int
    ) -> None:
        disk_gen = self._recover(path)
        if disk_gen != expected_gen:
            raise ManifestConflictError(
                f"{path}: authoritative generation {disk_gen} != "
                f"loaded generation {expected_gen} — another writer "
                "published; reload and retry"
            )
        new_gen = expected_gen + 1
        doc["generation"] = new_gen
        # unique temp: two writers racing the same generation would
        # otherwise share a generation-keyed temp name, and the loser's
        # rewrite could be what the winner links into the log object
        import uuid

        tmp = f"{path}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        try:
            # atomic create-WITH-CONTENT: link fails with EEXIST if
            # another writer landed this generation first
            os.link(tmp, self._gen_path(path, new_gen))
        except FileExistsError:
            os.remove(tmp)
            raise ManifestConflictError(
                f"{path}: generation {new_gen} already committed by "
                "another writer; reload and retry"
            ) from None
        os.replace(tmp, path)  # pointer move; log object is durable


class VersionGraph:
    """Version-interval cover resolution (reference: src/tablet.rs:14-69).

    Model: each VISIBLE rowset [s, e] is an edge s -> e+1 in a DAG over
    version boundaries (a partition-scoped one only in its labels'
    chains, see ``find_covering_path``).  A consistent snapshot of [lo, hi] is a path
    lo -> hi+1; the BFS prefers largest-span edges first so compacted
    rowsets win over the base rowsets they replace, yielding the
    minimal file set (reference: src/tablet.rs:38-65, largest-span
    ordering at :47-48).
    """

    def __init__(
        self, rowsets: list[RowsetMeta], include_retired: bool = False
    ):
        """``include_retired=True`` additionally admits STALE rowsets
        that were retired by compaction (``stale_reason == "retired"``)
        and not yet physically reclaimed — the time-travel graph.
        Discarded rowsets (rollback/abort, or pre-r8 manifests with no
        recorded reason) are NEVER edges: their content is logically
        deleted and must not be resurrected.

        Partition-SCOPED retired rowsets are never edges either: a
        scoped rowset's interval covers only its labels, and the
        global cover algebra has no label masking — treating a scoped
        DELETE delta as a global edge would union it with the base
        WITHOUT masking the label out of the base, silently
        resurrecting deleted rows.  Historical reads through scoped
        epochs therefore fail loudly as out of time-travel reach."""
        self.edges: dict[int, list[RowsetMeta]] = {}
        for rs in rowsets:
            ok = rs.state == RowsetState.VISIBLE or (
                include_retired
                and rs.state == RowsetState.STALE
                and rs.stale_reason == "retired"
                and not rs.reclaimed
                and not rs.partitions
            )
            if ok:
                self.edges.setdefault(rs.start_version, []).append(rs)
        for outs in self.edges.values():
            outs.sort(key=lambda r: -r.span)

    def find_covering_path(
        self,
        lo: int,
        hi: int,
        label: str | None = None,
        skip: set[int] = frozenset(),
    ) -> list[RowsetMeta] | None:
        """BFS for a path lo -> hi+1; None when a hole exists.

        The path runs along one version chain: the global rowsets plus,
        given ``label``, the partition-scoped rowsets naming it.
        ``skip`` holds versions other partitions' scoped rowsets
        published — no hole in this chain — so a boundary on a skipped
        version moves on to the chain's next version."""

        def node(boundary: int) -> int:
            while boundary in skip:
                boundary += 1
            return boundary

        start, target = node(lo), node(hi + 1)
        prev: dict[int, tuple[int, RowsetMeta] | None] = {start: None}
        q: deque[int] = deque([start])
        while q:
            at = q.popleft()
            if at == target:
                path = []
                while prev[at] is not None:
                    at, rs = prev[at]
                    path.append(rs)
                return path[::-1]
            for rs in self.edges.get(at, []):
                if rs.partitions and label not in rs.partitions:
                    continue
                nxt = node(rs.end_version + 1)
                if nxt <= target and nxt not in prev:
                    prev[nxt] = (at, rs)
                    q.append(nxt)
        return None

    def has_version_holes(self, lo: int, hi: int) -> bool:
        """reference: src/tablet.rs:67-69."""
        return self.find_covering_path(lo, hi) is None


class Manifest:
    """Per-table manifest: spec + rowsets + max_version, persisted as
    ``_manifest.json`` in the table root directory.

    Single-writer by design (the reference is likewise a single-process
    engine); multi-writer atomicity would be the one reason to swap
    this for Delta Lake (SURVEY §7.1 decision).
    """

    FILENAME = "_manifest.json"

    def __init__(self, table_root: str, doc: dict | None = None):
        self.table_root = table_root
        self.doc = doc or {
            "rowsets": [],
            "max_version": -1,
            "next_rowset_id": 1,
            # boundary between base data and the cumulative layer
            # (reference: src/meta.rs:139 cumulative_layer_point — a
            # write-only field there; advanced by compaction here)
            "cumulative_layer_point": 0,
        }

    # -- persistence ---------------------------------------------------
    @property
    def path(self) -> str:
        return os.path.join(self.table_root, self.FILENAME)

    @classmethod
    def load(cls, table_root: str) -> "Manifest":
        with open(os.path.join(table_root, cls.FILENAME)) as f:
            return cls(table_root, json.load(f))

    def reload(self) -> None:
        """Refresh this instance's state from disk — discards any
        unsaved in-memory mutation (a losing writer's partial state)."""
        self.doc = type(self).load(self.table_root).doc

    def with_retry(self, mutate, retries: int = 3):
        """Run a manifest mutation with lose-and-replay semantics:
        ``mutate(self)`` (any method chain ending in ``save()``) is
        attempted; on ``ManifestConflictError`` the manifest reloads
        from disk — discarding the loser's partial in-memory state —
        and the mutation replays against the winner's state, up to
        ``retries`` attempts.

        The mutation MUST derive everything it writes from the manifest
        it is handed (ids via ``next_rowset_id()``, versions via
        ``max_version``) so a replay against newer state stays correct;
        a closure that captured stale ids would re-CAS a conflict into
        silent corruption.  Callers whose mutation cannot be safely
        re-derived (a published rowset's version is baked into its
        data files) should catch the conflict themselves instead."""
        for attempt in range(retries):
            try:
                return mutate(self)
            except ManifestConflictError:
                if attempt == retries - 1:
                    raise
                self.reload()

    #: process-wide default store seam; a deployment swaps this (or an
    #: instance's ``cas`` attribute) for an object-store implementation
    default_cas: "ConditionalPut" = LocalFlockCas()

    def save(self) -> None:
        """Compare-and-swap persist through the ``ConditionalPut``
        seam: publish iff the authoritative generation is the one this
        instance last observed, bump it atomically.  Raises
        ``ManifestConflictError`` when another writer got there first —
        the single-writer-per-table contract, enforced.  The storage
        primitive (flock+rename locally, conditional PUT on an object
        store) lives behind ``self.cas``."""
        os.makedirs(self.table_root, exist_ok=True)
        cas = getattr(self, "cas", None) or type(self).default_cas
        cas.put_if_generation(
            self.path, self.doc, self.doc.get("generation", 0)
        )

    # -- rowset accounting ---------------------------------------------
    def rowsets(self) -> list[RowsetMeta]:
        return [RowsetMeta.from_dict(d) for d in self.doc["rowsets"]]

    def visible_rowsets(self) -> list[RowsetMeta]:
        return [r for r in self.rowsets() if r.state == RowsetState.VISIBLE]

    @property
    def max_version(self) -> int:
        return self.doc["max_version"]

    @property
    def cumulative_layer_point(self) -> int:
        return self.doc.get("cumulative_layer_point", 0)

    @cumulative_layer_point.setter
    def cumulative_layer_point(self, v: int) -> None:
        self.doc["cumulative_layer_point"] = v
        self.save()

    def next_rowset_id(self) -> int:
        rid = self.doc.get("next_rowset_id", 1)
        self.doc["next_rowset_id"] = rid + 1
        return rid

    def publish(self, rs: RowsetMeta, txn: tuple[str, int] | None = None) -> None:
        """Commit a rowset (reference: src/storage.rs:79-87 +
        src/tablet.rs:116-128): reject duplicate ids, mark VISIBLE,
        extend the graph, bump max_version.

        ``txn=(source_id, epoch)``: record the streaming sink's batch
        id IN THE SAME manifest save as the publish — the atomic pair
        that makes ``stream_ingest(exactly_once=True)`` idempotent
        under foreachBatch replay (a crash between "publish" and
        "remember the batch" cannot exist, because they are one
        write)."""
        if any(d["rowset_id"] == rs.rowset_id for d in self.doc["rowsets"]):
            raise VersionGraphError(f"duplicate rowset id {rs.rowset_id}")
        rs.state = RowsetState.VISIBLE
        rs.created_at = rs.created_at or time.time()
        if txn is not None:
            source_id, epoch = txn
            rs.txn = [source_id, int(epoch)]
            self.doc.setdefault("stream_txn", {})[source_id] = epoch
        self.doc["rowsets"].append(rs.to_dict())
        self.doc["max_version"] = max(self.max_version, rs.end_version)
        self.save()

    def committed_epoch(self, source_id: str) -> int | None:
        """Last batch epoch atomically committed for a streaming
        source, or None."""
        v = self.doc.get("stream_txn", {}).get(source_id)
        return int(v) if v is not None else None

    def set_property(self, key: str, value: str) -> None:
        """Arbitrary table property (e.g. an index's codebook
        generation pin) — persisted through the same CAS'd save as
        every manifest mutation."""
        self.doc.setdefault("properties", {})[key] = str(value)
        self.save()

    def get_property(self, key: str) -> str | None:
        return self.doc.get("properties", {}).get(key)

    def prepare(self, rs: RowsetMeta) -> None:
        """Two-phase publish, phase 1: record the rowset with data on
        disk but invisible to reads (excluded from the version graph)."""
        if any(d["rowset_id"] == rs.rowset_id for d in self.doc["rowsets"]):
            raise VersionGraphError(f"duplicate rowset id {rs.rowset_id}")
        rs.state = RowsetState.PREPARED
        rs.created_at = rs.created_at or time.time()
        self.doc["rowsets"].append(rs.to_dict())
        self.save()

    def commit_rowset(self, rowset_id: int, txn=None) -> None:
        """Two-phase publish, phase 2: PREPARED -> VISIBLE, extend the
        graph, bump max_version.  ``txn=(source_id, epoch)`` records
        the streaming epoch watermark IN THE SAME save — the audited
        exactly-once path (stage -> audit -> commit+epoch) needs the
        same atomicity publish(txn=...) gives the unaudited one: a
        crash between visibility and "remember the batch" cannot
        exist, because they are one write."""
        for d in self.doc["rowsets"]:
            if d["rowset_id"] == rowset_id:
                if d["state"] != RowsetState.PREPARED.value:
                    raise VersionGraphError(
                        f"rowset {rowset_id} is {d['state']}, not PREPARED"
                    )
                d["state"] = RowsetState.VISIBLE.value
                if txn is not None:
                    source_id, epoch = txn
                    d["txn"] = [source_id, int(epoch)]
                    self.doc.setdefault("stream_txn", {})[source_id] = int(
                        epoch
                    )
                self.doc["max_version"] = max(
                    self.max_version, d["end_version"]
                )
                self.save()
                return
        raise VersionGraphError(f"rowset {rowset_id} not found")

    def mark_stale(self, rowset_ids: list[int], reason: str = "retired") -> None:
        """reference: src/tablet.rs:155-165.  One manifest save for the
        batch, so a retired cover leaves the visible graph at once.

        ``reason`` records WHY the rowsets left the visible graph — the
        distinction retention-aware reads and GC need:

        * ``"retired"``  — replaced by compaction; its content is
          still valid HISTORY, readable by time-travel covers until
          physically reclaimed (the reference's deferred-delete
          intent: it only marks, never deletes).
        * ``"discarded"`` — rolled back / aborted; its content is
          logically deleted and must never be served again.
        """
        todo = set(rowset_ids)
        for d in self.doc["rowsets"]:
            if d["rowset_id"] in todo:
                d["state"] = RowsetState.STALE.value
                d["stale_reason"] = reason
                todo.discard(d["rowset_id"])
        if todo:
            raise VersionGraphError(f"rowsets {sorted(todo)} not found")
        if rowset_ids:
            self.save()

    def mark_reclaimed(self, rowset_ids: list[int]) -> None:
        """Record that these STALE rowsets' data directories were
        physically deleted (one manifest save for the batch) — the
        time-travel fallback skips reclaimed rowsets, so a read past
        the retention window fails with a clean VersionGraphError
        instead of a missing-file scan error."""
        todo = set(rowset_ids)
        for d in self.doc["rowsets"]:
            if d["rowset_id"] in todo:
                d["reclaimed"] = True
                todo.discard(d["rowset_id"])
        if todo:
            raise VersionGraphError(f"rowsets {sorted(todo)} not found")
        if rowset_ids:
            self.save()

    def rollback(self, to_version: int) -> list[int]:
        """MVCC rollback to a savepoint: every VISIBLE **or PREPARED**
        rowset whose interval lies entirely AFTER ``to_version`` flips
        to STALE (one manifest save — the data files are untouched and
        GC'd later), and max_version resets so subsequent publishes
        continue from the savepoint.  Returns the stale'd rowset ids.

        PREPARED rowsets beyond the savepoint are staled too: leaving
        one behind would let a later ``commit_rowset()`` resurrect a
        rolled-back version interval — possibly colliding with a
        re-published interval and making the cover ambiguous.

        Streaming txn epochs: any staled rowset that was published with
        ``txn=(source_id, epoch)`` has its source's ``stream_txn``
        watermark recomputed from the SURVIVING rowsets (dropped if
        none remain), so a rolled-back streamed batch can be
        re-ingested under the same source_id instead of being silently
        skipped forever.

        A rowset SPANNING the boundary (start <= to < end) cannot be
        half-kept — the cover algebra has no partial rowsets — so the
        rollback refuses; roll back to the rowset's start-1 or its end
        instead.  Like every manifest mutation this rides the
        generation-CAS in save(): a concurrent publish loses cleanly
        rather than resurrecting rolled-back versions."""
        live = (RowsetState.VISIBLE.value, RowsetState.PREPARED.value)
        any_beyond = any(
            d["state"] in live and d["start_version"] > to_version
            for d in self.doc["rowsets"]
        )
        if to_version >= self.max_version and not any_beyond:
            # nothing is newer than the savepoint — a no-op, and
            # max_version must NOT move forward (a later write would
            # otherwise leave a genuine version hole behind it).
            # (PREPARED rowsets don't bump max_version, so they are
            # checked independently of it.)
            return []
        spanning = [
            d["rowset_id"]
            for d in self.doc["rowsets"]
            if d["state"] in live
            and d["start_version"] <= to_version < d["end_version"]
        ]
        if spanning:
            raise VersionGraphError(
                f"rowsets {spanning} span version {to_version}; a rowset "
                "interval cannot be partially rolled back — pick a "
                "boundary version or compact first"
            )
        stale = []
        for d in self.doc["rowsets"]:
            if d["state"] in live and d["start_version"] > to_version:
                d["state"] = RowsetState.STALE.value
                d["stale_reason"] = "discarded"
                stale.append(d["rowset_id"])
            elif (
                d["state"] == RowsetState.STALE.value
                and d["start_version"] > to_version
            ):
                # compaction-retired history beyond the savepoint is
                # rolled back too: flip it to discarded so the
                # time-travel graph can never resurrect it (a later
                # re-publish of the same interval followed by another
                # compaction would otherwise leave TWO retired edges
                # claiming one interval — ambiguous cover)
                d["stale_reason"] = "discarded"
        stale_set = set(stale)
        txn_sources = {
            d["txn"][0]
            for d in self.doc["rowsets"]
            if d["rowset_id"] in stale_set and d.get("txn")
        }
        for src in txn_sources:
            surviving = [
                int(d["txn"][1])
                for d in self.doc["rowsets"]
                if d.get("txn")
                and d["txn"][0] == src
                and d["state"] == RowsetState.VISIBLE.value
            ]
            txn_map = self.doc.get("stream_txn", {})
            if surviving:
                txn_map[src] = max(surviving)
            else:
                txn_map.pop(src, None)
        # never move max_version FORWARD (rollback-beyond-max with a
        # stray PREPARED rowset must not create a version hole)
        self.doc["max_version"] = max(min(self.max_version, to_version), -1)
        self.save()
        return stale

    # -- snapshot reads -------------------------------------------------
    @staticmethod
    def _graphs(rowsets: list[RowsetMeta]) -> tuple[VersionGraph, VersionGraph]:
        """The (visible, time-travel) graphs over ``rowsets``."""
        return VersionGraph(rowsets), VersionGraph(rowsets, include_retired=True)

    def _chain_cover(
        self,
        graphs: tuple[VersionGraph, VersionGraph],
        lo: int,
        hi: int,
        label: str | None = None,
        skip: set[int] = frozenset(),
    ) -> list[RowsetMeta]:
        """Minimal cover of [lo, hi] along one version chain (see
        ``VersionGraph.find_covering_path``): the VISIBLE graph first;
        when it can't cover a STRICTLY historical interval
        (``hi < max_version``), the TIME-TRAVEL graph — VISIBLE plus
        compaction-retired STALE rowsets that GC hasn't reclaimed — so
        pre-compaction snapshots (``read(0, v)``, ``read_as_of``) stay
        readable until their files age out of the retention window
        (``garbage_collect(min_retained_version=...)``).  The head
        interval is never quietly served from staled rowsets: a bare
        mark_stale with no replacement is a version hole there.
        Raises ``VersionGraphError`` on a hole."""
        cover = graphs[0].find_covering_path(lo, hi, label, skip)
        if cover is None and hi < self.max_version:
            cover = graphs[1].find_covering_path(lo, hi, label, skip)
        if cover is None:
            raise VersionGraphError(
                f"version hole: no consistent cover for [{lo}, {hi}]"
            )
        return cover

    def capture_consistent_versions(
        self, lo: int = 0, hi: int | None = None
    ) -> list[RowsetMeta]:
        """Resolve the minimal cover of [lo, hi] over the GLOBAL
        rowsets (reference: src/tablet.rs:131-144); raises on holes.
        A partition-scoped rowset serves only its labels, so a version
        one consumed is a hole here — table reads resolve through
        ``capture_scoped_plan``, which equals this cover on a table
        without scoped rowsets."""
        if hi is None:
            hi = self.max_version
        if hi < lo:
            return []
        return self._chain_cover(self._graphs(self.rowsets()), lo, hi)

    def capture_scoped_plan(
        self, lo: int = 0, hi: int | None = None
    ) -> list[tuple[RowsetMeta, str | None, list[str] | None]]:
        """Resolve the read plan for [lo, hi] — the one snapshot
        resolver behind every read, rewrite and metadata walk of a
        table.  Returns (rowset, mode, labels) triples:

        * mode ``None``      — read every file of the rowset,
        * mode ``"include"`` — read only ``__pt`` in ``labels``,
        * mode ``"exclude"`` — read only ``__pt`` NOT in ``labels``.

        Semantics: each partition label a scoped rowset names has its
        OWN version chain (the reference's per-tablet version graph,
        src/tablet.rs:14-69): the global rowsets plus the scoped
        rowsets naming it.  Every other label
        reads the chain of the global rowsets alone, so a table without
        scoped rowsets is one chain and its plan is exactly
        ``capture_consistent_versions``.  Version numbers are GLOBAL,
        so another partition's scoped write consumes a version this
        chain never sees: each chain skips those versions, which also
        clamps it to its own highest version <= hi (absence of writes,
        not a hole).  A chain that no visible or retired path covers —
        a hole, a delta read (lo > 0) across a scoped rewrite (those
        start at version 0), or a historical read through a reclaimed
        or scoped epoch — raises ``VersionGraphError``; no chain ever
        borrows another chain's rowsets.

        Driver cost: the graphs are built once over the manifest; each
        chain's BFS then walks only the boundaries it reaches — O(
        #rowsets + #labels x (cover length + #scoped publishes))."""
        if hi is None:
            hi = self.max_version
        if hi < lo:
            return []
        if hi > self.max_version:
            raise VersionGraphError(
                f"version hole: no consistent cover for [{lo}, {hi}]"
            )
        rowsets = self.rowsets()
        graphs = self._graphs(rowsets)
        published = [
            r for r in rowsets
            if r.state == RowsetState.VISIBLE
            or (r.state == RowsetState.STALE and r.stale_reason == "retired")
        ]
        # the rowset that published each version is the first to end
        # there (rewrites end on versions already published); a scoped
        # publisher's version is foreign to every label it does not
        # name.  Reclaimed rowsets keep that record.
        first: dict[int, RowsetMeta] = {}
        for r in published:
            first.setdefault(r.end_version, r)
        scoped_at = {v: r.partitions for v, r in first.items() if r.partitions}
        rest = {
            r.rowset_id
            for r in self._chain_cover(graphs, lo, hi, None, set(scoped_at))
        }
        labels = sorted({l for r in published for l in r.partitions or ()})
        served: dict[int, set[str]] = {}
        for l in labels:
            skip = {v for v, ps in scoped_at.items() if l not in ps}
            for r in self._chain_cover(graphs, lo, hi, l, skip):
                served.setdefault(r.rowset_id, set()).add(l)
        plan: list[tuple[RowsetMeta, str | None, list[str] | None]] = []
        for rs in published:
            inc = served.get(rs.rowset_id, set())
            if rs.rowset_id in rest:
                excl = [l for l in labels if l not in inc]
                plan.append(
                    (rs, "exclude", excl) if excl else (rs, None, None)
                )
            elif inc:
                plan.append((rs, "include", sorted(inc)))
        return plan

    def compaction_score(self) -> int:
        """Count of VISIBLE rowsets (reference: src/tablet.rs:147-152)."""
        return len(self.visible_rowsets())
