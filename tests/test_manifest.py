import os

import pytest

from olap_storage_engine_spark.plans.manifest import (
    Manifest,
    ManifestConflictError,
    RowsetMeta,
    RowsetState,
    VersionGraph,
    VersionGraphError,
)


def rs(rid, lo, hi, state=RowsetState.VISIBLE):
    return RowsetMeta(rid, lo, hi, f"v={lo}_{hi}", state=state)


def test_cover_simple():
    g = VersionGraph([rs(1, 0, 1), rs(2, 2, 3)])
    cover = g.find_covering_path(0, 3)
    assert [r.rowset_id for r in cover] == [1, 2]


def test_cover_prefers_compacted_span():
    # compacted [0,3] should beat [0,1]+[2,3] (largest-span-first BFS,
    # reference: src/tablet.rs:47-48)
    g = VersionGraph([rs(1, 0, 1), rs(2, 2, 3), rs(3, 0, 3)])
    cover = g.find_covering_path(0, 3)
    assert [r.rowset_id for r in cover] == [3]


def test_hole_detection():
    # mirror examples/basic_usage.rs:280-283 — versions [0,3] then
    # [6,15]: querying past the hole fails
    rowsets = [rs(1, 0, 1), rs(2, 2, 3)] + [
        rs(10 + i, 6 + 2 * i, 7 + 2 * i) for i in range(5)
    ]
    g = VersionGraph(rowsets)
    assert g.find_covering_path(0, 3) is not None
    assert g.has_version_holes(0, 100)
    assert g.has_version_holes(0, 5)
    assert not g.has_version_holes(6, 15)


def test_stale_excluded_from_graph():
    g = VersionGraph([rs(1, 0, 1, RowsetState.STALE), rs(2, 2, 3)])
    assert g.has_version_holes(0, 3)
    assert not g.has_version_holes(2, 3)


def test_manifest_publish_and_cover(tmp_path):
    m = Manifest(str(tmp_path))
    m.publish(rs(1, 0, 0))
    m.publish(rs(2, 1, 1))
    assert m.max_version == 1
    cover = m.capture_consistent_versions()
    assert [r.rowset_id for r in cover] == [1, 2]
    # reload from disk
    m2 = Manifest.load(str(tmp_path))
    assert m2.max_version == 1
    assert len(m2.visible_rowsets()) == 2


def test_manifest_duplicate_id_rejected(tmp_path):
    m = Manifest(str(tmp_path))
    m.publish(rs(1, 0, 0))
    with pytest.raises(VersionGraphError):
        m.publish(rs(1, 1, 1))


def test_manifest_hole_raises(tmp_path):
    m = Manifest(str(tmp_path))
    m.publish(rs(1, 0, 0))
    m.publish(rs(2, 2, 2))  # hole at version 1
    with pytest.raises(VersionGraphError):
        m.capture_consistent_versions(0, 2)


def test_mark_stale_and_score(tmp_path):
    m = Manifest(str(tmp_path))
    for i in range(5):
        m.publish(rs(i + 1, i, i))
    assert m.compaction_score() == 5
    m.mark_stale([1])
    assert m.compaction_score() == 4
    with pytest.raises(VersionGraphError):
        m.capture_consistent_versions(0, 4)  # v0 now uncovered


def test_invalid_interval():
    with pytest.raises(ValueError):
        RowsetMeta(1, 5, 3, "x")


def test_random_graphs_cover_matches_bruteforce():
    """Property check: BFS cover agrees with exhaustive search on
    reachability over random interval sets."""
    import itertools
    import random

    rng = random.Random(42)
    for _ in range(50):
        n = rng.randint(1, 7)
        rowsets = []
        for i in range(n):
            lo = rng.randint(0, 5)
            hi = lo + rng.randint(0, 3)
            rowsets.append(rs(i + 1, lo, hi))
        g = VersionGraph(rowsets)
        lo, hi = 0, rng.randint(0, 8)
        cover = g.find_covering_path(lo, hi)
        # brute force: does any subset chain lo..hi+1?
        def chains(subset):
            pos = lo
            for r in sorted(subset, key=lambda r: r.start_version):
                if r.start_version != pos:
                    return False
                pos = r.end_version + 1
            return pos == hi + 1

        any_chain = any(
            chains(sub)
            for k in range(1, n + 1)
            for sub in itertools.combinations(rowsets, k)
        ) or lo > hi
        assert (cover is not None) == any_chain
        if cover is not None and lo <= hi:
            assert chains(cover)


def test_concurrent_publish_one_wins_one_raises(tmp_path):
    """The single-writer contract is ENFORCED: two manifest instances
    loaded at the same generation race a publish — the first save wins,
    the second raises ManifestConflictError and the winner's rowset is
    intact on disk (no silent lost update)."""
    root = str(tmp_path / "t")
    m = Manifest(root)
    m.save()

    a = Manifest.load(root)
    b = Manifest.load(root)
    a.publish(rs(a.next_rowset_id(), 0, 0))
    with pytest.raises(ManifestConflictError):
        b.publish(rs(b.next_rowset_id(), 0, 0))

    on_disk = Manifest.load(root)
    assert [r.rowset_id for r in on_disk.visible_rowsets()] == [1]
    assert on_disk.max_version == 0
    # the loser recovers by reloading and retrying
    b2 = Manifest.load(root)
    b2.publish(rs(b2.next_rowset_id(), 1, 1))
    assert Manifest.load(root).max_version == 1


def test_generation_monotone_across_saves(tmp_path):
    root = str(tmp_path / "t2")
    m = Manifest(root)
    m.save()
    g1 = m.doc["generation"]
    m.publish(rs(1, 0, 0))
    m.mark_stale([1])
    m2 = Manifest.load(root)
    assert m2.doc["generation"] == g1 + 2
    # same instance keeps saving fine (its generation tracks disk)
    m.publish(rs(2, 1, 1))
    assert Manifest.load(root).doc["generation"] == g1 + 3


def test_with_retry_two_writers_both_succeed(tmp_path):
    """The lose-and-replay helper: two writers race; the loser's
    with_retry reloads the winner's state and replays its mutation
    derived from fresh state — both publishes land, no lost update."""
    root = str(tmp_path / "t3")
    Manifest(root).save()

    a = Manifest.load(root)
    b = Manifest.load(root)

    def publish_next(m):
        v = m.max_version + 1
        m.publish(rs(m.next_rowset_id(), v, v))
        return v

    va = a.with_retry(publish_next)
    vb = b.with_retry(publish_next)  # loses the CAS, reloads, replays
    assert (va, vb) == (0, 1)
    on_disk = Manifest.load(root)
    assert on_disk.max_version == 1
    assert sorted(r.rowset_id for r in on_disk.visible_rowsets()) == [1, 2]


def test_with_retry_exhausts_and_reraises(tmp_path):
    """A mutation that keeps losing (another writer between every
    attempt) surfaces the conflict after the retry budget."""
    root = str(tmp_path / "t4")
    Manifest(root).save()
    loser = Manifest.load(root)

    def always_behind(m):
        # an interfering writer sneaks a save in before every attempt
        w = Manifest.load(root)
        v = w.max_version + 1
        w.publish(rs(w.next_rowset_id(), v, v))
        vv = m.max_version + 1
        m.publish(rs(m.next_rowset_id(), vv, vv))

    with pytest.raises(ManifestConflictError):
        loser.with_retry(always_behind, retries=3)


def test_write_publish_replays_after_metadata_only_conflict(spark, tmp_path):
    """An ingest write whose CAS loses to a METADATA-ONLY save (e.g. a
    property pin) re-publishes transparently: the rowset's id and
    interval are still consistent with the winner's state."""
    from olap_storage_engine_spark.spec import (
        BucketSpec,
        BucketType,
        ColumnSpec,
        ColumnType,
        KeysType,
        TableSpec,
    )
    from olap_storage_engine_spark.table import OlapTable

    spec = TableSpec(
        name="mc1",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    t = OlapTable.create(spark, spec, str(tmp_path / "wh"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))

    # interfere: a second manifest instance bumps the generation with a
    # metadata-only save between t's load and its publish
    orig_publish = type(t.manifest).publish
    interfered = {"done": False}

    def interfering_publish(m, rs_, txn=None):
        if not interfered["done"]:
            interfered["done"] = True
            other = type(m).load(m.table_root)
            other.set_property("x", "y")
        return orig_publish(m, rs_, txn)

    type(t.manifest).publish = interfering_publish
    try:
        t.write(spark.createDataFrame([(2, 2.0)], "k long, v double"))
    finally:
        type(t.manifest).publish = orig_publish
    assert t.read().count() == 2
    assert t.manifest.get_property("x") == "y"


def test_append_racing_commit_of_prepared_rowset_raises(spark, tmp_path):
    """CAS-replay soundness (ADVICE r6): an append whose CAS loses to
    commit() of a PREPARED rowset covering the SAME version interval
    must re-raise ManifestConflictError — commit_rowset allocates no
    new rowset id, so the duplicate-id guard never fires, and the old
    ``end <= head`` replay arm would have published a second VISIBLE
    cover over one interval, silently shadowing a write."""
    from olap_storage_engine_spark.spec import (
        BucketSpec,
        BucketType,
        ColumnSpec,
        ColumnType,
        KeysType,
        TableSpec,
    )
    from olap_storage_engine_spark.table import OlapTable

    spec = TableSpec(
        name="mc2",
        columns=[
            ColumnSpec.key("k", ColumnType.INT64),
            ColumnSpec.value("v", ColumnType.FLOAT64),
        ],
        keys_type=KeysType.DUPLICATE,
        bucket=BucketSpec(BucketType.HASH, "k", 2),
    )
    t = OlapTable.create(spark, spec, str(tmp_path / "wh"))
    t.write(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    # phase-1 only: rowset PREPARED at interval [head+1, head+1]
    rs_p = t.write(
        spark.createDataFrame([(2, 2.0)], "k long, v double"),
        publish=False,
    )

    # interfere: between the racing append's manifest load and its
    # publish, another manifest instance COMMITS the prepared rowset,
    # advancing the head over the append's identical interval
    orig_publish = type(t.manifest).publish
    interfered = {"done": False}

    def interfering_publish(m, rs_, txn=None):
        if not interfered["done"]:
            interfered["done"] = True
            other = type(m).load(m.table_root)
            other.commit_rowset(rs_p.rowset_id)
        return orig_publish(m, rs_, txn)

    type(t.manifest).publish = interfering_publish
    try:
        with pytest.raises(ManifestConflictError):
            t.write(spark.createDataFrame([(3, 3.0)], "k long, v double"))
    finally:
        type(t.manifest).publish = orig_publish

    # the committed rowset's rows are visible exactly once; the loser
    # published nothing
    t.manifest.reload()
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, 1.0),
        (2, 2.0),
    ]
    # a fresh retry of the lost append targets the NEW head and lands
    t.write(spark.createDataFrame([(3, 3.0)], "k long, v double"))
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, 1.0),
        (2, 2.0),
        (3, 3.0),
    ]


def test_conditional_put_seam_is_swappable(tmp_path):
    """Every manifest save funnels through the ConditionalPut seam
    (the object-store portability contract, SCALE.md "Multi-writer
    metadata"): a custom implementation observes every publish with
    the expected generation, and its conflict raise surfaces exactly
    like the local CAS's."""
    from olap_storage_engine_spark.plans.manifest import (
        ConditionalPut,
        LocalFlockCas,
    )

    calls = []

    class RecordingCas(ConditionalPut):
        def __init__(self):
            self.inner = LocalFlockCas()
            self.fail_next = False

        def put_if_generation(self, path, doc, expected_gen):
            calls.append(expected_gen)
            if self.fail_next:
                raise ManifestConflictError("injected store conflict")
            self.inner.put_if_generation(path, doc, expected_gen)

    root = str(tmp_path / "t")
    m = Manifest(root)
    m.cas = RecordingCas()
    m.save()
    m.publish(rs(m.next_rowset_id(), 0, 0))
    assert calls == [0, 1]  # create, then CAS on the observed gen

    m.cas.fail_next = True
    with pytest.raises(ManifestConflictError):
        m.publish(rs(m.next_rowset_id(), 1, 1))
    # store-level conflict left the on-disk manifest at the winner
    assert Manifest.load(root).max_version == 0


# ------------------------------------------------------------------
# r12: the ConditionalPut contract matrix — LocalFlockCas (exclusive
# lock primitive) and GenerationClaimCas (atomic-create primitive,
# object-store semantics) must carry the identical contract, so an
# interface assumption that only holds for one fails here.
# ------------------------------------------------------------------


@pytest.mark.parametrize(
    "cas_name", ["LocalFlockCas", "GenerationClaimCas"]
)
def test_conditional_put_contract_matrix(tmp_path, cas_name):
    """Shared contract: publish succeeds iff expected_gen matches the
    authoritative generation; the published doc carries gen+1; a stale
    writer raises and the winner's doc is untouched."""
    import json

    from olap_storage_engine_spark.plans import manifest as M

    cas = getattr(M, cas_name)()
    path = str(tmp_path / "doc.json")
    cas.put_if_generation(path, {"v": "a"}, 0)
    d = json.load(open(path))
    assert d["v"] == "a" and d["generation"] == 1
    with pytest.raises(ManifestConflictError):
        cas.put_if_generation(path, {"v": "stale"}, 0)
    assert json.load(open(path))["v"] == "a"  # winner intact
    cas.put_if_generation(path, {"v": "b"}, 1)
    d = json.load(open(path))
    assert d["v"] == "b" and d["generation"] == 2
    # far-stale writer also loses
    with pytest.raises(ManifestConflictError):
        cas.put_if_generation(path, {"v": "older"}, 0)


@pytest.mark.parametrize(
    "cas_name", ["LocalFlockCas", "GenerationClaimCas"]
)
def test_concurrent_publish_matrix(tmp_path, cas_name):
    """The manifest-level lost-update race, run against BOTH store
    seams: two instances loaded at the same generation race a publish;
    one wins, one raises, nothing is silently dropped."""
    from olap_storage_engine_spark.plans import manifest as M

    cas = getattr(M, cas_name)()
    root = str(tmp_path / "t")
    m = Manifest(root)
    m.cas = cas
    m.save()
    a = Manifest.load(root)
    a.cas = cas
    b = Manifest.load(root)
    b.cas = cas
    a.publish(rs(a.next_rowset_id(), 0, 0))
    with pytest.raises(ManifestConflictError):
        b.publish(rs(b.next_rowset_id(), 0, 0))
    on_disk = Manifest.load(root)
    assert [r.rowset_id for r in on_disk.visible_rowsets()] == [1]
    # loser recovers by reload + retry
    b2 = Manifest.load(root)
    b2.cas = cas
    b2.publish(rs(b2.next_rowset_id(), 1, 1))
    assert Manifest.load(root).max_version == 1


def test_generation_claim_log_object_is_the_atomic_arbiter(tmp_path):
    """The generation log object is the commit: when another writer
    landed g2's log object but its pointer move has not happened yet,
    a writer at expected_gen=1 must lose (its generation was taken) —
    and recovery rolls the pointer forward to the committed state."""
    import json
    import os

    from olap_storage_engine_spark.plans.manifest import (
        GenerationClaimCas,
    )

    cas = GenerationClaimCas()
    path = str(tmp_path / "doc.json")
    cas.put_if_generation(path, {"v": "a"}, 0)
    # simulate a CRASHED winner: g2's log object landed (full doc)
    # but the pointer still shows generation 1
    with open(cas._gen_path(path, 2), "w") as f:
        json.dump({"v": "crashed-winner", "generation": 2}, f)
    with pytest.raises(ManifestConflictError):
        cas.put_if_generation(path, {"v": "b"}, 1)
    # recovery republished the crashed winner's commit to the pointer
    d = json.load(open(path))
    assert d == {"v": "crashed-winner", "generation": 2}
    # a writer that reloads (observing gen 2) now publishes g3 fine
    cas.put_if_generation(path, {"v": "c"}, 2)
    d = json.load(open(path))
    assert d["v"] == "c" and d["generation"] == 3
    # the full commit history is retained as log objects
    assert all(
        os.path.exists(cas._gen_path(path, g)) for g in (2, 3)
    )


def test_generation_claim_cas_ignores_stray_log_names(tmp_path):
    """_recover must parse ONLY strict 12-digit '.g<gen>.json' log
    objects: a stray file that happens to glob-match (e.g.
    'doc.json.garbage.json' matches 'doc.json.g*.json') used to crash
    int() during recovery; a non-zero-padded name would lexicographic-
    misorder.  Both are skipped now."""
    import json
    import os

    from olap_storage_engine_spark.plans.manifest import (
        GenerationClaimCas,
    )

    cas = GenerationClaimCas()
    path = str(tmp_path / "doc.json")
    cas.put_if_generation(path, {"v": "a"}, 0)
    # stray glob-matching junk next to the log objects
    open(f"{path}.garbage.json", "w").write("not json")
    open(f"{path}.g5.json", "w").write("{}")  # non-padded: skipped
    cas.put_if_generation(path, {"v": "b"}, 1)  # must not crash
    assert json.load(open(path))["v"] == "b"
    assert json.load(open(path))["generation"] == 2
    # the strays are untouched, never deleted or trusted
    assert os.path.exists(f"{path}.garbage.json")
    assert os.path.exists(f"{path}.g5.json")


def test_generation_claim_cas_recover_rolls_to_max_gen(tmp_path):
    """A crashed winner (log object landed, pointer move never ran)
    leaves the pointer stale: the next put's recovery republishes the
    max-by-integer committed generation, the stale writer conflicts,
    and a correctly-reloaded put proceeds."""
    import json
    import os

    from olap_storage_engine_spark.plans.manifest import (
        GenerationClaimCas,
        ManifestConflictError,
    )
    import pytest as _pytest

    cas = GenerationClaimCas()
    path = str(tmp_path / "doc.json")
    for g in range(3):
        cas.put_if_generation(path, {"v": f"v{g + 1}"}, g)
    # simulate the crash exactly as it happens: generation-4 log
    # object created (the commit IS durable), process died before
    # os.replace moved the pointer
    tmp = path + ".crashed-writer.tmp"
    with open(tmp, "w") as f:
        json.dump({"v": "v4", "generation": 4}, f)
    os.link(tmp, cas._gen_path(path, 4))
    os.remove(tmp)
    assert json.load(open(path))["generation"] == 3  # pointer stale
    # a writer that loaded the stale pointer must conflict AND the
    # recovery inside the failed put rolls the pointer forward
    with _pytest.raises(ManifestConflictError):
        cas.put_if_generation(path, {"v": "stale"}, 3)
    assert json.load(open(path))["generation"] == 4
    assert json.load(open(path))["v"] == "v4"
    # and the next correctly-loaded put proceeds
    cas.put_if_generation(path, {"v": "v5"}, 4)
    assert json.load(open(path))["generation"] == 5


def test_generation_claim_cas_detects_history_corruption(tmp_path):
    """The pointer is a HARD LINK of the latest log object (link +
    replace), so writing through the pointer in place corrupts the
    commit history: the log object's name claims a generation its doc
    no longer carries.  Recovery must detect that and fail loudly —
    pre-r13 it either looped forever or silently trusted the name."""
    import json

    from olap_storage_engine_spark.plans.manifest import (
        GenerationClaimCas,
    )
    import pytest as _pytest

    cas = GenerationClaimCas()
    path = str(tmp_path / "doc.json")
    for g in range(3):
        cas.put_if_generation(path, {"v": f"v{g + 1}"}, g)
    # corrupt: write THROUGH the pointer (shared inode with the g3
    # log object), then regress the pointer itself via rename
    with open(path, "w") as f:  # rewrites g3's content too
        json.dump({"v": "v1", "generation": 1}, f)
    with _pytest.raises(ValueError, match="commit-history corruption"):
        cas.put_if_generation(path, {"v": "x"}, 1)


def test_generation_claim_cas_recover_rereads_after_replace(tmp_path):
    """The ADVICE r12 race, encoded: recover A snapshots the highest
    committed gen, a faster writer B commits a NEWER generation and
    moves the pointer, then A's os.replace lands the OLDER doc over
    B's pointer.  The r13 recovery loop must detect the regression it
    just caused (re-read after replace) and roll the pointer forward
    again before returning."""
    import json
    import os

    from olap_storage_engine_spark.plans.manifest import (
        GenerationClaimCas,
    )

    cas = GenerationClaimCas()
    path = str(tmp_path / "doc.json")
    for g in range(3):
        cas.put_if_generation(path, {"v": f"v{g + 1}"}, g)
    # crashed winner: g3 committed, pointer stuck at g2
    tmp = path + ".crash.tmp"
    with open(tmp, "w") as f:
        json.dump({"v": "v4", "generation": 4}, f)
    os.link(tmp, cas._gen_path(path, 4))
    os.remove(tmp)
    # pointer regressed to the g2 doc (rename, like a real racer)
    t2 = path + ".regress.tmp"
    with open(cas._gen_path(path, 2)) as f:
        doc2 = f.read()
    with open(t2, "w") as f:
        f.write(doc2)
    os.replace(t2, path)
    assert json.load(open(path))["generation"] == 2

    orig_copy = GenerationClaimCas._copy_to_tmp
    injected = {"done": False}

    def racing_copy(p, src):
        # between A's copy and A's replace, writer B commits g5 AND
        # moves the pointer to it — A's replace will then regress it
        out = orig_copy(p, src)
        if not injected["done"]:
            injected["done"] = True
            t5 = p + ".b.tmp"
            with open(t5, "w") as f:
                json.dump({"v": "v5", "generation": 5}, f)
            os.link(t5, cas._gen_path(p, 5))
            os.replace(t5, p)  # B's pointer move
        return out

    GenerationClaimCas._copy_to_tmp = staticmethod(racing_copy)
    try:
        got = cas._recover(path)
    finally:
        GenerationClaimCas._copy_to_tmp = staticmethod(orig_copy)
    # the loop must have re-read after its own replace and re-rolled
    assert got == 5
    assert json.load(open(path))["generation"] == 5
    assert json.load(open(path))["v"] == "v5"


def test_scoped_plan_is_the_global_cover_without_scoped_rowsets(tmp_path):
    """With no partition-scoped rowset the one snapshot plan is exactly
    capture_consistent_versions' cover — historical fallback and
    errors included — on random interval sets, some retired or
    discarded."""
    import random

    rng = random.Random(7)
    fates = [
        (RowsetState.VISIBLE, None),
        (RowsetState.STALE, "retired"),
        (RowsetState.STALE, "discarded"),
    ]

    def outcome(fn):
        try:
            return sorted(r.rowset_id for r in fn())
        except VersionGraphError:
            return "raise"

    for _ in range(150):
        m = Manifest(str(tmp_path))
        rowsets = []
        for i in range(rng.randint(1, 8)):
            lo = rng.randint(0, 5)
            r = rs(i + 1, lo, lo + rng.randint(0, 3))
            r.state, r.stale_reason = rng.choice(fates)
            rowsets.append(r)
        m.doc["rowsets"] = [r.to_dict() for r in rowsets]
        m.doc["max_version"] = max(r.end_version for r in rowsets)
        for lo in range(m.max_version + 1):
            for hi in range(lo, m.max_version + 2):
                plan = outcome(
                    lambda: [e[0] for e in m.capture_scoped_plan(lo, hi)]
                )
                assert plan == outcome(
                    lambda: m.capture_consistent_versions(lo, hi)
                ), (m.doc["rowsets"], lo, hi)


def test_scoped_plan_serves_each_label_its_writes_once(tmp_path):
    """Random ingest / scoped DML / compaction / partition compaction /
    reclaim sequences, at the manifest level: every plan that resolves
    serves each label every version that wrote it inside [lo, hi]
    exactly once and none outside, from rowsets holding that label,
    never from discarded or reclaimed rowsets and at the head never
    from retired ones; the head read always resolves."""
    import random

    labels = ["p1", "p2", "p3"]

    def served(mode, ls):
        if mode is None:
            return set(labels)
        return set(ls) if mode == "include" else set(labels) - set(ls)

    for seed in range(80):
        rng = random.Random(seed)
        m = Manifest(str(tmp_path / str(seed)))
        os.makedirs(m.table_root)
        writes: dict[int, set[str]] = {}  # version -> labels it wrote

        def publish(lo, hi, partitions=None):
            m.publish(RowsetMeta(m.next_rowset_id(), lo, hi, "r",
                                 partitions=partitions))

        def retire(lo, hi, scope=None):
            covered = [
                r.rowset_id for r in m.visible_rowsets()
                if lo <= r.start_version and r.end_version <= hi
                and (scope is None
                     or (r.partitions and set(r.partitions) <= set(scope)))
            ]
            m.mark_stale(covered)

        for _ in range(12):
            op = rng.choice(["ingest", "ingest", "dml", "dml", "compact",
                             "pcompact", "reclaim"])
            top = m.max_version
            if op == "ingest" or top < 0:
                publish(top + 1, top + 1)
                writes[top + 1] = set(labels)
            elif op == "dml":
                scope = sorted(rng.sample(labels, rng.randint(1, 2)))
                publish(0, top + 1, scope)
                writes[top + 1] = set(scope)
            elif op == "compact":  # compaction.compact's shrink rule
                lo, hi = rng.randint(0, top), top
                vis = m.visible_rowsets()
                moved = True
                while moved and lo <= hi:
                    moved = False
                    for r in vis:
                        if r.start_version < lo <= r.end_version:
                            lo, moved = r.end_version + 1, True
                        if r.start_version <= hi < r.end_version:
                            hi, moved = r.start_version - 1, True
                inside = [r for r in vis
                          if lo <= r.start_version and r.end_version <= hi]
                if len(inside) > 1:
                    retire(lo, hi)
                    publish(lo, hi)
            elif op == "pcompact":
                scope = [rng.choice(labels)]
                retire(0, top, scope)
                publish(0, top, scope)
            else:
                old = [r.rowset_id for r in m.rowsets()
                       if r.state == RowsetState.STALE]
                m.mark_reclaimed(rng.sample(old, len(old) // 2))
            top = m.max_version
            for hi in range(top + 1):
                for lo in range(hi + 1):
                    try:
                        plan = m.capture_scoped_plan(lo, hi)
                    except VersionGraphError:
                        assert (lo, hi) != (0, top), (seed, m.doc)
                        continue
                    for r, mode, ls in plan:
                        assert not r.reclaimed and (
                            r.state == RowsetState.VISIBLE
                            or (hi < top and r.stale_reason == "retired")
                        ), (seed, lo, hi, r)
                    for l in labels:
                        ivals = [
                            (r.start_version, r.end_version)
                            for r, mode, ls in plan if l in served(mode, ls)
                        ]
                        for v, wrote in writes.items():
                            if l in wrote:
                                n = sum(s <= v <= e for s, e in ivals)
                                want = 1 if lo <= v <= hi else 0
                                assert n == want, (seed, lo, hi, l, v, plan)
                    for r, mode, ls in plan:
                        assert not r.partitions or served(mode, ls) <= set(
                            r.partitions
                        ), (seed, lo, hi, r)
