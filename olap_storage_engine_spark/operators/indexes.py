"""Secondary-index maintenance — incremental refresh on publish.

The reference's materialized-index metadata (A15, src/partition.rs:75
``MaterializedIndex`` inside each partition) declares that a table can
carry derived index structures; nothing there maintains them.  Here the
maintenance is real and INCREMENTAL: a secondary index (the inverted
text index ``doc_postings``; the IVF centroid table) is itself an
engine table, so refreshing it on a base-table publish is just deriving
rows from the newly-published delta rowsets and writing them — the same
pattern as ``rollup_delta_refresh`` (rollup.py:78-110).

Why this scales: the refresh reads ONLY the base rowsets covering the
delta version interval (a metadata-resolved file subset), never the
full corpus.  Because the postings table is a DUPLICATE-model table
HASH-bucketed by term, appending the delta postings needs no
read-modify-write, no locking, and the index stays queryable
throughout — exactly the property that makes publish-time maintenance
affordable at 100 TB (re-shingling the full corpus per publish would
be a full-table job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..table import OlapTable


def postings_from(docs: DataFrame, n: int = 1) -> DataFrame:
    """Derive (term, doc_id) postings rows from a documents frame —
    the one shingle pass shared by full builds and delta refreshes."""
    from .dedup import shingles

    return shingles(docs, n=n).select(
        F.col("shingle").alias("term"), "doc_id"
    )


def ivf_cells_delta_refresh(
    emb_table: OlapTable,
    cells: OlapTable,
    centroids: DataFrame,
    lo: int,
    hi: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ANN-index maintenance: assign ONLY the embedding
    rowsets covering versions [lo, hi] to their coarse-quantizer cells
    and append them to the persisted cell table.

    The centroid index is fixed between (re)trainings, so a delta
    assignment is embarrassingly parallel: one broadcast of the
    centroids + one map-side argmax over the delta rows, routed into
    the cell table's cent_id LIST partitions on write.  Same invariant
    as the postings refresh (pinned by tests/test_indexes.py): after
    refreshing for every published delta, the index equals a
    from-scratch rebuild.
    """
    from .similarity import ivf_cell_assign

    delta = emb_table.read(lo, hi)
    cells.write(ivf_cell_assign(delta, centroids, id_col, vec_col))


def postings_delta_refresh(
    docs_table: OlapTable,
    postings: OlapTable,
    lo: int,
    hi: int,
    n: int = 1,
) -> None:
    """Incremental inverted-index maintenance: shingle ONLY the base
    rowsets covering versions [lo, hi] and append the resulting
    postings as a new rowset of the index table.

    Invariant (pinned by tests/test_indexes.py): after refreshing for
    every published delta, the index contents equal a from-scratch
    rebuild over the full corpus.
    """
    delta = docs_table.read(lo, hi)
    postings.write(postings_from(delta, n=n))


PQ_CODEBOOK_PROP = "olap.pq_codebook_gen"


def pq_codebook_generation(codebooks: DataFrame) -> str:
    """Deterministic content fingerprint of a PQ codebook table
    (sub_id, code_id, code_vec) — the generation identity that pins a
    codes table to the codebooks that encoded it.  Codebooks are tiny
    (m*n_codes rows) so a driver-side collect is metadata-scale."""
    import hashlib

    rows = sorted(
        (
            int(r["sub_id"]),
            int(r["code_id"]),
            tuple(round(float(x), 9) for x in r["code_vec"]),
        )
        for r in codebooks.collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()


class StaleCodebookError(RuntimeError):
    """The codes table was encoded under a DIFFERENT codebook
    generation than the one offered for the refresh — appending would
    silently mix incomparable code spaces.  Re-encode from scratch (or
    pass the original codebooks)."""


def pq_codes_delta_refresh(
    emb_table: OlapTable,
    codes_table: OlapTable,
    codebooks: DataFrame,
    lo: int,
    hi: int,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental PQ-code maintenance, the compressed-ANN sibling of
    ``ivf_cells_delta_refresh``: encode ONLY the embedding rowsets
    covering versions [lo, hi] against the FIXED codebooks and append
    the codes as a new rowset of the codes table.

    The codes table is pinned to its codebook generation
    (``PQ_CODEBOOK_PROP`` in the manifest, set on first write through
    this path): refreshing with codebooks whose content fingerprint
    differs raises ``StaleCodebookError`` instead of silently mixing
    code spaces — the same staleness discipline as the bucketed
    replica version pin (table.py REPLICA_VERSION_PROP).

    Invariant (pinned by tests/test_indexes.py): after refreshing for
    every published delta, the codes equal a from-scratch encode of
    the full corpus.
    """
    from .similarity import pq_encode

    gen = pq_codebook_generation(codebooks)
    pinned = codes_table.manifest.get_property(PQ_CODEBOOK_PROP)
    if pinned is not None and pinned != gen:
        raise StaleCodebookError(
            f"{codes_table.spec.name}: codes encoded under codebook "
            f"generation {pinned}, refresh offered {gen}"
        )
    delta = emb_table.read(lo, hi)
    codes_table.write(
        pq_encode(delta, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    )
    if pinned is None:
        codes_table.manifest.set_property(PQ_CODEBOOK_PROP, gen)


def shingle_rows_from(
    docs: DataFrame,
    widths: tuple[int, ...] = (1, 2, 3, 5),
    mh_widths: tuple[int, ...] = (3, 5),
    tf_widths: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Derive shingle-index rows (doc_id, n, sz, sh, mh, m, sh1) from
    a documents frame — the one tokenize/shingle/hash pass shared by
    full builds (the ``shingle_index`` artifact) and delta refreshes.
    The default widths MUST match the fixture build's (a delta
    refresh with narrower widths silently starves every consumer of
    the missing widths — e.g. DSIR reads n<=2).

    ``mh_widths``: widths that carry the minhash base hash; the
    DSIR widths (1, 2) have no minhash consumer, so their mh is NULL
    — skipping the md5 per distinct uni/bigram, the most numerous
    rows in the index.

    ``tf_widths``: widths that carry posting attributes (r14) — ``m``,
    the in-document TERM FREQUENCY (same row grain, one extra
    combine-enabled aggregate at build time), and for width 2 also
    ``sh1``, the first word's hash, linking each bigram to its
    unigram row.  Together they let count-weighted consumers (the
    bigram LM scorer, text.bigram_lm_scores_from_index) serve
    entirely from the index; other widths carry NULLs (RLE'd away in
    parquet).  tf is doc-local, so delta refreshes stay exact under
    append-only publishes."""
    from .dedup import MINHASH_P, md5int, shingle_tf, shingles

    def _mh(nn):
        return (
            (md5int(F.col("shingle")) % F.lit(MINHASH_P))
            if nn in mh_widths
            else F.lit(None).cast("long")
        )

    _null = F.lit(None).cast("long")
    cols = ["doc_id", "n", "sz", "sh", "mh", "m", "sh1"]
    parts = []
    for nn in widths:
        if nn in tf_widths:
            part = (
                shingle_tf(docs, n=nn)
                .withColumn("n", F.lit(nn))
                .withColumn("sh", F.xxhash64("shingle"))
                .withColumn("mh", _mh(nn))
                .withColumn(
                    "sh1",
                    F.xxhash64(F.substring_index("shingle", " ", 1))
                    if nn == 2
                    else _null,
                )
                .select(*cols)
            )
        else:
            part = (
                shingles(docs, n=nn, with_size=True)
                .withColumn("n", F.lit(nn))
                .withColumn("sh", F.xxhash64("shingle"))
                .withColumn("mh", _mh(nn))
                .withColumn("m", _null)
                .withColumn("sh1", _null)
                .select(*cols)
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shingle_index_delta_refresh(
    docs_table: OlapTable,
    index_table: OlapTable,
    lo: int,
    hi: int,
    widths: tuple[int, ...] = (1, 2, 3, 5),
) -> None:
    """Incremental shingle-index maintenance: shingle ONLY the base
    rowsets covering versions [lo, hi] and append their index rows —
    the same publish-time pattern as postings/IVF-cells/PQ-codes.
    The width default matches the full build's (r10: 1, 2, 3, 5) — a
    narrower refresh would silently starve the DSIR widths for every
    delta document.

    APPEND-ONLY corpora only (like postings_delta_refresh): an updated
    document's STALE shingles are not retracted by an append — a
    mutable corpus rewrites the affected partition or rebuilds.  The
    per-doc signature index (minhash_sigs_delta_refresh) has no such
    caveat: it is keyed by doc_id under UNIQUE collapse."""
    delta = docs_table.read(lo, hi)
    index_table.write(shingle_rows_from(delta, widths))


def minhash_sigs_delta_refresh(
    docs_table: OlapTable,
    sigs_table: OlapTable,
    lo: int,
    hi: int,
    num_hashes: int = 8,
    n: int = 3,
) -> None:
    """Incremental minhash-SIGNATURE maintenance: sign ONLY the
    document rowsets covering versions [lo, hi] and publish the
    signatures into a UNIQUE-keyed sigs table — the keys-model
    collapse keeps each doc's LATEST signature, so unlike the
    shingle-row index this refresh is correct under document UPDATES
    too (a re-published doc's new signature supersedes the old at
    read time, no retraction pass needed).

    Invariant (pinned by tests/test_indexes.py): after refreshing for
    every published delta, the collapsed sigs equal a from-scratch
    signing of the current corpus."""
    from .dedup import minhash_signatures

    delta = docs_table.read(lo, hi)
    sigs_table.write(minhash_signatures(delta, num_hashes=num_hashes, n=n))


def simhash_fps_delta_refresh(
    docs_table: OlapTable,
    fps_table: OlapTable,
    lo: int,
    hi: int,
    bits: int = 32,
) -> None:
    """Incremental simhash-FINGERPRINT maintenance — the same
    delta-sign-and-publish recipe as minhash_sigs_delta_refresh:
    fingerprint ONLY the document rowsets covering versions [lo, hi]
    and publish into a UNIQUE-keyed fps table, whose collapse keeps
    each doc's LATEST fingerprint (UPDATE-correct, no retraction
    pass).  Fingerprints are per-doc and corpus-independent, so the
    refreshed index is exactly what a from-scratch fingerprinting of
    the current corpus produces (pinned by tests/test_indexes.py)."""
    from .dedup import simhash

    delta = docs_table.read(lo, hi)
    fps_table.write(simhash(delta, bits=bits))
