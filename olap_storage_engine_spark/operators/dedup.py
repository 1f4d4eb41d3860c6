"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (the reference is a storage engine); these are
the LLM-pipeline extension surface (SURVEY §2 Part C).  Every operator
is expressed as shuffles over deterministic hash keys — no all-pairs
comparison ever materializes:

- exact:      one hash-aggregate on sha2(text).                O(N)
- minhash:    shingle -> K seeded min-hashes -> band buckets -> pairs
              emerge only inside buckets.                      O(N·K)
- simhash:    token-hash sign-sums -> 32-bit fingerprint ->
              band-exact buckets for candidates.               O(N·B)
- ngram jaccard: inverted shingle index self-join with a document-
              frequency cap (stop-shingles dropped), so the join fans
              out per-shingle, never per-document-pair.        ~O(N·S̄)
- embedding near-dup: random-hyperplane LSH bucket join + exact cosine
              rescoring inside buckets.                        O(N·P)

100 TB posture: each stage is a hash shuffle on a derived key with
map-side combine; the frequency caps bound the worst bucket, and AQE
skew-join splitting handles residual hot keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.hashes import md5int
from ..functions.textfns import tokens
from ..functions.vectors import cosine
from .spread import spread


def sha_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: group rows by sha2(text); keep the lowest id as the
    canonical document.  Returns (text_sha, keep_id, dup_cnt)."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_sha"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The filtered corpus: one row per distinct text (lowest id wins)."""
    keep = sha_dedup(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, on=id_col, how="semi")


def gram_array_raw(toks, n: int) -> F.Column:
    """ALL word n-grams of a MATERIALIZED token-array column, in
    document order with repeats — the multiplicity-preserving base of
    :func:`gram_array`; consumed directly by the term-frequency
    shingle path (:func:`shingle_tf`), where occurrence counts are
    the point.  Guard: ``sequence(1, k)`` with k < 1 generates a
    DESCENDING sequence in Spark, so short documents get an explicit
    empty gram set."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_array(toks, n: int) -> F.Column:
    """Distinct word n-grams of a MATERIALIZED token-array column, as
    an in-row string array — the one gram construction shared by
    batch shingling and the streaming decontamination kernel, so the
    two can never diverge on separator/guard/distinct placement.

    ``toks`` must be a projected attribute, not the ``tokens()``
    expression itself: inlined, the regex split re-runs once per
    shingle (~100x per row)."""
    return F.array_distinct(gram_array_raw(toks, n))


def shingles(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_size: bool = False,
) -> DataFrame:
    """Word n-gram shingles, one row per (doc, distinct shingle).

    Per-doc dedup happens BEFORE the explode via ``array_distinct`` —
    entirely inside the row, no shuffle; the round-2 version exploded
    then ran a row-level ``.distinct()``, a full exchange that every
    downstream consumer (minhash, jaccard, vocab) paid for.

    ``with_size=True`` adds the per-doc distinct-shingle count as a
    ``sz`` column — computed in the same projection, so consumers that
    need set sizes (jaccard) don't re-aggregate the index for them.
    """
    # tokenize ONCE into a materialized column: referencing tokens()
    # directly inside the transform lambda would re-run the regex split
    # per shingle (~100x per row) — the projection boundary below keeps
    # it a single split per document.
    toked = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    grams = gram_array(F.col("__toks"), n)
    # NOTE: exploding a projected attribute is only safe because
    # session.py / sources.testdata exclude InferFiltersFromGenerate —
    # its inferred size(attr)>0 filter otherwise gets substituted
    # through this projection and pushed below the spread repartition,
    # re-running tokenize+transform+array_distinct on the single scan
    # partition (measured 6s vs 0.4s per pass at sf0.1).
    g = toked.select(F.col(id_col), grams.alias("__grams"))
    if with_size:
        return g.select(
            F.col(id_col),
            F.size("__grams").alias("sz"),
            F.explode("__grams").alias("shingle"),
        )
    return g.select(F.col(id_col), F.explode("__grams").alias("shingle"))


def shingle_tf(
    docs: DataFrame,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word n-gram TERM FREQUENCIES: one row per (doc, distinct
    shingle) — the same row grain as :func:`shingles` — plus ``m``,
    the in-document occurrence count, and ``sz``, the distinct-gram
    count.  This is the posting attribute (tf) a real inverted index
    carries; the shingle index stores it for widths 1/2 so
    count-weighted consumers (the bigram LM scorer) serve from the
    index instead of re-tokenizing the corpus (r14 / VERDICT r13
    task 4).

    Shape: tokenize once (projection boundary — see :func:`shingles`),
    materialize the RAW gram array, one combine-enabled groupBy for
    the counts.  The groupBy is the only shuffle and runs at
    PUBLISH time, inside the index build, never per query."""
    toked = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    g = toked.select(
        F.col(id_col), gram_array_raw(F.col("__toks"), n).alias("__raw")
    )
    base = g.select(
        F.col(id_col),
        F.size(F.array_distinct("__raw")).alias("sz"),
        F.explode("__raw").alias("shingle"),
    )
    return base.groupBy(id_col, "sz", "shingle").agg(
        F.count(F.lit(1)).alias("m")
    )


# Affine min-hash family over one base hash: h_i(s) = (a_i*h + b_i) mod P
# with h = md5int(s) mod P.  One md5 per shingle instead of K — the
# standard universal-hash construction; P = 2^31-1 keeps every product
# below 2^62 so the arithmetic is overflow-free in both Spark (wrapping
# longs never wrap) and DuckDB (which errors on BIGINT overflow).
MINHASH_P = 2147483647

# The banding width the batch mh_pairs contract (and every declared
# query) uses; the streaming near-dup probe fail-louds on any other
# width because its "dropped set == mh_pairs doc_b set" equivalence
# is defined against THIS banding (r13 ADVICE).
MH_BAND_ROWS = 2


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs derived from the md5 of the index
    — shared verbatim by the DuckDB oracle."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"mh{i}".encode()).hexdigest()
        a = int(d[:8], 16) % (MINHASH_P - 1) + 1  # a != 0
        b = int(d[8:16], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """K min-hash values per document via the affine family over one
    md5 per shingle.  One shuffle (groupBy doc) with map-side partial
    min."""
    sh = shingles(docs, n, text_col, id_col).withColumn(
        "h", md5int(F.col("shingle")) % F.lit(MINHASH_P)
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_index(
    idx: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """K min-hash values per document from the PERSISTED shingle index
    (``shingle_index`` artifact rows for one shingle width): the
    index's ``mh`` column IS the affine family's base hash
    (md5int % MINHASH_P), so serving skips the tokenize/shingle/md5
    pass entirely and starts at the one groupBy(doc) with map-side
    partial min.  Values are identical to ``minhash_signatures`` over
    the same corpus and width by construction."""
    aggs = [
        F.min((F.lit(a) * F.col("mh") + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return idx.groupBy(id_col).agg(*aggs)


def minhash_candidates_from_index(
    idx: DataFrame,
    num_hashes: int = 8,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-LSH candidate pairs served from the persisted shingle
    index — the 100 TB shape: a stable corpus pays the full-text
    tokenize/hash scan once per publish (delta-refreshed), and every
    dedup run starts from 2 narrow index columns."""
    sigs = minhash_signatures_from_index(idx, num_hashes, id_col)
    return _banded_pairs(sigs, num_hashes, band_rows, id_col)


def minhash_candidates_from_sigs(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-LSH candidate pairs from an ALREADY MATERIALIZED
    signature table (doc_id, mh0..mhK) — the serving path when
    signatures persist at publish time (the ``minhash_sigs`` artifact):
    the query is bands -> bucket self-join -> distinct, nothing else."""
    return _banded_pairs(sigs, num_hashes, band_rows, id_col)


def minhash_candidates(
    docs: DataFrame,
    num_hashes: int = 8,
    band_rows: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH: split the K-row signature into bands of
    ``band_rows``; docs agreeing on any full band are candidate pairs.
    Returns distinct (doc_a < doc_b) pairs — never an all-pairs join:
    the self-join key is (band_idx, band_signature)."""
    sigs = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    return _banded_pairs(sigs, num_hashes, band_rows, id_col)


def band_signature(prefix: str, b: int, band_rows: int) -> F.Column:
    """The band-b signature key over mh columns named
    ``{prefix}{i}`` — ONE definition shared by the batch bucket
    self-join and the streaming near-dup probe
    (streaming/corpus.py), so the two can never diverge on
    separator/cast/ordering (the gram_array discipline applied to
    band keys)."""
    return F.concat_ws(
        ",",
        *[
            F.col(f"{prefix}{b * band_rows + r}").cast("string")
            for r in range(band_rows)
        ],
    )


def banded_rows(
    sigs: DataFrame,
    num_hashes: int,
    band_rows: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, sig) rows — the ONE banding topology (band numbering,
    explode shape, key construction) shared by the batch bucket
    self-join and the streaming near-dup bucket builder
    (streaming/corpus.py), so the stream/batch equality contract has a
    single definition end-to-end, not just at the key expression."""
    num_bands = num_hashes // band_rows
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_signature("mh", b, band_rows).alias("sig"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "bs.band", "bs.sig")


def _banded_pairs(
    sigs: DataFrame, num_hashes: int, band_rows: int, id_col: str
) -> DataFrame:
    bands = banded_rows(sigs, num_hashes, band_rows, id_col)
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.sig") == F.col("r.sig"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    return pairs


def simhash(
    docs: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: per token take a 60-bit md5int; each of the
    low ``bits`` bit positions votes +1/-1; the fingerprint sets bit j
    when the vote sum is positive.

    Plan shape: fully ROW-LOCAL — tokens dedup via array_distinct, the
    per-bit vote sums accumulate through one higher-order aggregate
    over the token-hash array (zip_with adds each hash's 32-bit ±1 vote
    vector onto a running array), and the fingerprint folds out of the
    sum array.  ZERO shuffles and zero row explosion; the round-3
    version exploded every token and shuffled ~200x the corpus row
    count into a groupBy(doc) — measured 2x slower at sf0.1 and
    needlessly exchange-bound at scale.  A narrow map-only pass is the
    ideal 100 TB shape: it parallelizes by input split and nothing
    else.

    Vote kernel history (all variants produce BIT-IDENTICAL
    fingerprints; measured warm at sf0.1, 8-run steady state):
    (a) r3: explode + groupBy(doc) — 2x slower, exchange-bound;
    (b) r4/r5: pure-codegen higher-order fold (zip_with over a 32-wide
        CaseWhen vote array) — 1.0 s steady state.  The r5 docstring
        claimed 0.33 s; r6 re-measurement over 8 consecutive runs
        shows the fold converging to ~1.0 s, never 0.33 — the earlier
        number does not reproduce and the "cold-JIT sample" theory is
        retracted;
    (c) r6 (current): JVM-side tokenize + md5 feeding an ARROW-BATCHED
        numpy vote kernel (one reduceat over the per-batch flattened
        bit matrix) — 0.6 s steady state, vs the 0.28 s
        tokenize+distinct floor.  Per-bit filter-count and
        arithmetic-vote codegen variants measured 1.0 s / 2.6 s.
    This is the documented Pandas-UDF escape hatch: the built-in fold
    expresses the semantics but measurably underperforms the
    vectorized kernel, and the hash inputs stay JVM-side so the Arrow
    transfer is one long-array column, not text."""
    toked = spread(docs).select(
        F.col(id_col),
        F.array_distinct(tokens(F.col(text_col))).alias("__toks"),
    )
    hashed = toked.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: md5int(t)).alias("__h"),
    )
    return hashed.select(
        F.col(id_col), _simhash_votes_udf(bits)(F.col("__h")).alias("simhash")
    )


def _simhash_votes_udf(bits: int):
    """Arrow-batched simhash vote kernel: for a batch of token-hash
    arrays, flatten to one (total_tokens, bits) ±1 bit matrix and
    segment-sum it with np.add.reduceat — one vectorized pass per
    Arrow batch, no per-token Python."""

    @F.pandas_udf("long")
    def votes(hs: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.int64)
        n = len(hs)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        # NULL token arrays (null-text docs) must propagate NULL — the
        # pure-codegen fold this kernel replaced did, and mapping them
        # to fingerprint 0 would silently land null docs in the
        # simhash=0 collision group (r7, per ADVICE).  Empty arrays
        # (tokenless text) keep fingerprint 0, matching the fold's
        # zero-initialized vote sum.
        isnull = np.fromiter((a is None for a in hs), bool, count=n)
        arrs = [
            np.asarray(a, dtype=np.int64)
            if a is not None
            else np.empty(0, dtype=np.int64)
            for a in hs
        ]
        lens = np.fromiter((len(a) for a in arrs), np.int64, count=n)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a in arrs if len(a)])
            pm = (((flat[:, None] >> shifts) & 1) * 2 - 1).astype(np.int64)
            offs = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offs[1:])
            v = np.add.reduceat(pm, offs, axis=0)
            out[nz] = ((v > 0).astype(np.int64) << shifts).sum(axis=1)
        res = pd.array(out, dtype="Int64")
        res[isnull] = pd.NA
        return pd.Series(res)

    return votes


def simhash_candidates(
    docs: DataFrame,
    bits: int = 32,
    band_bits: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hamming-distance LSH over simhash: split the fingerprint into
    bands of ``band_bits``; pairs agreeing on any band are candidates
    (guarantees recall for hamming distance < bits/band_bits)."""
    fp = simhash(docs, bits, text_col, id_col)
    return simhash_candidates_from_fps(fp, bits, band_bits, id_col)


def simhash_candidates_from_fps(
    fp: DataFrame,
    bits: int = 32,
    band_bits: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded Hamming-LSH candidate pairs from a PRECOMPUTED
    fingerprint frame (doc_id, simhash) — the serving path over the
    publish-time fingerprint table (fingerprints are per-doc and
    corpus-independent, so delta refresh = fingerprint only the delta
    rowsets and append, the minhash-signature story).  Returns
    (doc_a, doc_b, hamming): pairs agreeing on at least one band with
    their exact Hamming distance — candidate generation AND the cheap
    verification in one pass, since the full fingerprints ride along
    the band join anyway."""
    num_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "simhash", "bs.band", "bs.key")
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from an inverted
    shingle index.

    Shingles appearing in more than ``max_doc_freq`` documents are
    dropped (stop-shingle cap) — this bounds the per-key fan-out,
    which is what makes the plan survive 100 TB; a shingle shared by D
    docs would otherwise emit D² pair rows.  Returns (doc_a, doc_b,
    jaccard) with jaccard >= threshold.

    Plan shape (round 2: 22 exchanges; round 3: 3; round 4: 2 plus a
    persist + window + self-join; now 2 exchanges and NOTHING else):

    * shingles are hashed to 64-bit ``xxhash64`` keys before the
      shuffle (same Jaccard counts absent a 2^-64 collision; the
      exchange moves 8-byte longs instead of ~30-byte strings),
    * ONE hash aggregate groups the posting list per shingle —
      ``collect_list`` of (doc, sz) structs, capped by the
      doc-frequency filter on ``size()``,
    * candidate pairs are emitted ROW-LOCALLY from each posting list
      (an O(k²) in-row expansion with k <= max_doc_freq, so <= k²/2
      structs per shingle — no self-join, no persist, no window),
    * the final (doc_a, doc_b) aggregate counts common shingles.

    Replacing the round-4 persist+window+self-join with the in-row
    pair expansion measured 1.58 s -> ~0.9 s first-run at sf0.1 (warm
    0.82 -> 0.73); the df cap is what keeps the in-row expansion
    bounded, exactly as it kept the join fan-out bounded before.
    """
    sh = shingles(docs, n, text_col, id_col, with_size=True).withColumn(
        "sh", F.xxhash64("shingle")
    )
    return ngram_pairs_from_index(
        sh, threshold=threshold, max_doc_freq=max_doc_freq, id_col=id_col
    )


def ngram_pairs_from_index(
    sh: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """The pairing tail of ``ngram_jaccard_pairs`` over an ALREADY
    MATERIALIZED shingle index (doc_id, sz, sh) — the serving path
    when the index persists at publish time like doc_postings does
    (the ``shingle_index`` artifact): queries skip the tokenize/shingle/
    hash pass entirely and start at the posting-list aggregate, so
    repeated dedup runs over a stable corpus pay the expression cost
    once at index build, not per query."""
    idx = (
        sh.groupBy("sh")
        .agg(F.collect_list(F.struct(id_col, "sz")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_doc_freq))
        .select(F.sort_array("ds").alias("ds"))
    )
    # emit only the i<j upper triangle directly (indexed transform +
    # slice over the doc-sorted list) instead of building all k² pair
    # structs and filtering half away — the expansion is the plan's
    # widest point, so halving it halves the shuffle feeding the pair
    # aggregate
    pair = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    pairs = idx.select(F.explode(pair).alias("p")).select(
        F.col(f"p.a.{id_col}").alias("doc_a"),
        F.col(f"p.b.{id_col}").alias("doc_b"),
        F.col("p.a.sz").alias("sz_a"),
        F.col("p.b.sz").alias("sz_b"),
    )
    # group on the pair key alone; sz is functionally dependent on the
    # doc id (max() just carries it through the combine)
    common = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("common"),
        F.max("sz_a").alias("sz_a"),
        F.max("sz_b").alias("sz_b"),
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 12,
    driver_edge_threshold: int = 200_000,
) -> DataFrame:
    """Connected components over a candidate-pair graph.

    Adaptive execution: when the pair set is metadata-scale (at most
    ``driver_edge_threshold`` edges — the same judgment call as a
    broadcast-join threshold, sized to a few MB of driver memory), the
    graph is resolved exactly with a driver-side union-find: one count,
    one bounded collect, zero iterative Spark rounds.  Dedup candidate
    graphs are almost always this small relative to the corpus (bucket
    collisions, not all-pairs), so the common case skips 2-4 rounds of
    join+aggregate+checkpoint jobs — measured 3.3 s -> 0.4 s at sf0.1.
    Above the threshold the distributed path below takes over
    unchanged; the pair frame is persisted so the size probe doesn't
    recompute the candidate generation.

    Distributed path: iterative DataFrame min-label propagation with
    pointer jumping —
    each round every vertex takes the min label over itself and its
    neighbors (ONE key-shuffle join + ONE combine-enabled groupBy),
    then shortcuts through its label's label (ONE more self-join:
    label(v) <- label(label(v))).  The neighbor step moves a min one
    hop per round; the jump step doubles the chain already crossed, so
    convergence is O(log diameter) — pure min-propagation alone is
    O(diameter), which a long path graph would push past ``max_iter``
    and silently mislabel.  Dedup pair graphs are near-cliques from
    shared LSH buckets, so 2-3 rounds in practice.

    Terminates early via a monotone convergence check: labels only
    ever decrease, so an unchanged sum(label) over an unchanged vertex
    count means a fixpoint — ONE scalar aggregate per round, no join
    against the previous labels.

    Returns (id, component) for every vertex that appears in ``pairs``;
    component = min vertex id of the component.

    100 TB posture: above the threshold there is no driver-side graph
    state — the per-round driver action is a single scalar row; each
    round's shuffle is keyed by vertex id, and hot vertices (giant
    near-cliques) are exactly the keys AQE skew-split handles.  The
    driver fast path is bounded by the threshold, never by data size.
    """
    from pyspark import StorageLevel

    spark = pairs.sparkSession
    pairs = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = pairs.count()
    if n_edges <= driver_edge_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        collected = pairs.collect()
        pairs.unpersist()
        for r in collected:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict[int, int] = {}
        for v in parent:
            root = find(v)
            if root not in comp_min or v < comp_min[root]:
                comp_min[root] = v
        rows = [(v, comp_min[find(v)]) for v in sorted(parent)]
        return spark.createDataFrame(rows, "id long, component long")

    edges = (
        pairs.union(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prev_sum = None
    for _ in range(max_iter):
        msgs = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), F.col("label")
        )
        stepped = (
            msgs.union(labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: labels always point at graph vertices, so the
        # self-join is total and keeps one row per vertex
        ptr = stepped.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        # localCheckpoint, not persist: the self-join references
        # `stepped` twice, so the logical plan doubles every round —
        # persist caches data but the analyzer still walks the full
        # tree (2^rounds nodes, driver OOM by round ~8).  Eager
        # checkpoint truncates lineage to the materialized frame; on a
        # cluster swap for checkpoint() on reliable storage if executor
        # loss during the (short) CC job matters.
        new_labels = (
            stepped.join(ptr, stepped["label"] == ptr["pid"])
            .select(stepped["id"], F.col("plabel").alias("label"))
            .localCheckpoint(eager=True)
        )
        row = new_labels.agg(
            F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        labels.unpersist()
        labels = new_labels
        if prev_sum == (row["s"], row["n"]):
            break
        prev_sum = (row["s"], row["n"])
    edges.unpersist()
    pairs.unpersist()
    return labels.select(F.col("id"), F.col("label").alias("component"))


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 12,
) -> DataFrame:
    """Cluster resolution over near-dup candidate pairs: (doc_id,
    cluster_id) for every document in a cluster; cluster_id is the
    lowest member id (the elected canonical document)."""
    cc = connected_components(pairs, max_iter=max_iter)
    return cc.select(
        F.col("id").alias(id_col), F.col("component").alias("cluster_id")
    )


def cluster_delta_refresh(
    assign: DataFrame,
    delta_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 12,
) -> DataFrame:
    """Incremental maintenance of the persisted (doc_id, cluster_id)
    near-dup cluster table under a new corpus publish (r14 / VERDICT
    r13 task 3 — cluster assignment is a publish-time artifact, like
    signatures/fingerprints/cells, never a per-query recomputation).

    ``assign`` is the current cluster table (cluster_id = lowest
    member id, the elected canonical); ``delta_pairs`` are the NEW
    candidate pairs this publish introduced — for an append-only
    corpus a signature-index delta refresh emits exactly the pairs
    with at least one newly published side (old-old pairs are
    unchanged by construction).

    The interesting case is a MERGE: one new document bridging two
    existing clusters must union them.  Handled by CONTRACTION — each
    delta endpoint maps to its current cluster_id (itself when
    unassigned), so the delta becomes a graph over cluster
    REPRESENTATIVES with O(|delta|) edges, never O(corpus); one
    connected-components pass over that contracted graph resolves
    every transitive merge chain.  Because each existing cluster_id
    IS the minimum member of its cluster and unassigned docs contract
    to themselves, the component minimum over representatives equals
    the global minimum member id — the canonical-election invariant
    survives refresh, which is why refresh ≡ rebuild (pinned by
    tests/test_llm_ops.py).

    Relabel is two joins: existing rows take their representative's
    new component (untouched clusters pass through the left join
    unchanged); docs first seen in this delta append as new rows.
    At 100 TB the refresh cost is the delta's pair volume plus one
    hash join against the cluster table — the full pair graph is
    never rebuilt and never shuffled."""
    reps = assign.select(
        F.col(id_col).alias("__v"), F.col("cluster_id").alias("__rep")
    )
    contracted = (
        delta_pairs.select(
            F.col(a_col).alias("__va"), F.col(b_col).alias("__vb")
        )
        .join(
            reps.select(
                F.col("__v").alias("__va"), F.col("__rep").alias("__ra")
            ),
            "__va",
            "left",
        )
        .join(
            reps.select(
                F.col("__v").alias("__vb"), F.col("__rep").alias("__rb")
            ),
            "__vb",
            "left",
        )
        .select(
            F.coalesce("__ra", F.col("__va")).alias("doc_a"),
            F.coalesce("__rb", F.col("__vb")).alias("doc_b"),
        )
    )
    cc = connected_components(contracted, max_iter=max_iter)
    relabel = cc.select(
        F.col("id").alias("cluster_id"), F.col("component")
    )
    updated = assign.join(relabel, "cluster_id", "left").select(
        id_col,
        F.coalesce("component", F.col("cluster_id")).alias("cluster_id"),
    )
    new_rows = (
        cc.join(
            assign.select(F.col(id_col).alias("id")), "id", "anti"
        ).select(
            F.col("id").alias(id_col),
            F.col("component").alias("cluster_id"),
        )
    )
    return updated.unionByName(new_rows)


def neardup_filter(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 12,
) -> DataFrame:
    """The dedup last mile: drop every non-canonical cluster member
    from the corpus (keep the lowest-id doc per cluster plus all
    unclustered docs) — an anti-join against the small drop-set, so the
    corpus itself is filtered in one pass without shuffling its rows."""
    cc = connected_components(pairs, max_iter=max_iter)
    drop = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, on=id_col, how="anti")


def hyperplane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-0.5, 0.5):
    w[p][d] = (md5int('plane{p}d{d}') % 1000)/1000 - 0.5.  Computed
    driver-side once; shipped as array literals so the LSH projection is
    a single zip_with/aggregate per plane (no codegen explosion), and
    the DuckDB oracle can embed the identical literals."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"plane{p}d{d}".encode()).hexdigest()[:15], 16) % 1000)
            / 1000.0
            - 0.5
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucket_col(
    vec_col: str, num_planes: int = 8, dim: int = 64
) -> F.Column:
    """Sign-LSH bucket key: one character per hyperplane ('1' when the
    projection is positive).

    Built as ONE F.expr string (single driver->JVM call, parsed
    JVM-side) instead of composing zip_with/aggregate Column objects
    per plane: each PySpark lambda costs several py4j round-trips, and
    at 32 planes the Column-API construction measured 3-5 s of
    DataFrame BUILD time per query on a high-latency py4j link —
    5x the query's own execution.  The parsed expression tree is the
    same fold (CAST(x AS DOUBLE) * w per dim, sequential + fold, > 0
    sign), so results and the DuckDB oracle are unchanged."""
    weights = hyperplane_weights(num_planes, dim)
    parts = []
    for p in range(num_planes):
        warr = "array(" + ",".join(f"{w!r}D" for w in weights[p]) + ")"
        proj = (
            f"aggregate(zip_with(`{vec_col}`, {warr}, "
            "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, (acc, x) -> acc + x)"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(parts) + ")")


def embedding_neardup_pairs(
    embeddings: DataFrame,
    num_planes: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate embedding pairs via random-hyperplane LSH.

    The sign pattern of ``num_planes`` deterministic hyperplane
    projections is the bucket key; exact cosine is computed only inside
    buckets.  Sign-LSH collides a pair at angle theta with probability
    (1 - theta/pi)^P — near-dups (theta≈0) almost surely collide, and
    the join never considers cross-bucket pairs."""
    from ..functions.vectors import dot, l2norm

    # norms hoisted to one interpreted fold per ROW (the pair join
    # evaluates its expressions O(bucket^2) times — same economics as
    # semantic_dedup_pairs); dot stays the sequential fold so the
    # unrounded threshold cut is bit-identical to the oracle's.
    bucketed = spread(embeddings).select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_col(vec_col, num_planes, dim).alias("bucket"),
        l2norm(F.col(vec_col)).alias("__nrm"),
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    cos = dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")) / (
        F.col("l.__nrm") * F.col("r.__nrm")
    )
    return (
        l.join(
            r,
            on=[
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("vec_a"),
            F.col(f"r.{id_col}").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


def minhash_verified_pairs(
    sigs: DataFrame,
    shingle_idx: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = 8,
    band_rows: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """The standard two-stage near-dup pipeline tail: banded-LSH
    CANDIDATES (probabilistic, from the persisted signature table) ->
    EXACT Jaccard VERIFICATION (from the persisted shingle index) ->
    pairs at or above ``threshold``.  LSH alone admits false positives
    (two docs can agree on one band by chance); verification computes
    the true Jaccard for the candidate set only — never all pairs.

    Plan shape for 100 TB: the candidate set is tiny relative to the
    corpus (that is the point of LSH), so the verification cost is two
    semi-join-sized probes into the shingle index keyed on doc id plus
    one count aggregate over the intersected posting rows.  Both
    inputs are publish-time indexes; the query itself never tokenizes.

    ``shingle_idx``: rows (doc_id, sz, sh) for ONE shingle width —
    the same width the signatures were built from.
    Returns (doc_a, doc_b, jaccard).
    """
    cand = minhash_candidates_from_sigs(sigs, num_hashes, band_rows, id_col)
    a = shingle_idx.select(
        F.col(id_col).alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.col("sh").alias("__sh"),
    )
    b = shingle_idx.select(
        F.col(id_col).alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.col("sh").alias("__sh"),
    )
    common = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "__sh"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicated_span_stats(
    shingle_idx: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact substring dedup at n-gram-span granularity (the
    fixed-width approximation of Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — suffix-array
    substring dedup with the match length fixed at the index's shingle
    width): per document, how many of its distinct n-gram spans also
    occur in at least one OTHER document, and what fraction of its
    span set that is.  Pipelines drop or trim documents whose text is
    mostly spans copied from elsewhere in the corpus.

    Serves entirely from the persisted shingle index (doc_id, sz, sh)
    — the query never touches document text.  Plan shape: one
    hash-aggregate over the index keyed on the span hash (map-side
    combined document-frequency count), one shuffle join back to the
    posting rows on the same key, one per-doc aggregate.  At 100 TB
    the index is the publish-time artifact and both shuffles key on
    high-cardinality hashes — no skew, no all-pairs anything.

    Returns (doc_id, n_spans, dup_spans, dup_frac) for every document
    with at least one span; dup_frac rounded to 4dp.
    """
    idx = shingle_idx.select(
        F.col(id_col), F.col("sz"), F.col("sh")
    )
    span_df = idx.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    joined = idx.join(span_df, "sh")
    return (
        joined.groupBy(id_col)
        .agg(
            F.min("sz").cast("int").alias("n_spans"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("int")
            .alias("dup_spans"),
        )
        .select(
            F.col(id_col),
            F.col("n_spans"),
            F.col("dup_spans"),
            F.round(F.col("dup_spans") / F.col("n_spans"), 4).alias(
                "dup_frac"
            ),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    width: int = 4,
    min_occurrences: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style duplicated-span REMOVAL: rewrite each document with
    every boilerplate span deleted (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning" §2.2 — C4 drops any three-sentence
    span occurring more than once in the corpus; here the unit is a
    fixed ``width``-word segment, the whitespace analogue).

    Where :func:`duplicated_span_stats` only *reports* per-document
    duplication, this operator performs the curation step itself:
    segments whose exact text occurs >= ``min_occurrences`` times in
    the corpus — TOTAL occurrences, counting repeats inside a single
    document, exactly the C4 rule ("any span occurring more than once
    in the dataset") — are cut, and the survivors are reassembled in
    original order into ``cleaned_text``.  (Until r10 this counted
    distinct documents, which let a span repeated only within one
    document survive — ADVICE r9.)

    Plan shape (the canonical C4 topology): segment in-row (zero
    exchanges — one ``transform`` over the split array), corpus
    occurrence counts via a ``count().over(partitionBy(seg))`` WINDOW
    — one shuffle keyed on the span text, replacing the r9 aggregate +
    join-back pair (two shuffles of the same rows) — then one
    per-document aggregate that rebuilds the text via
    ``array_sort(collect_list(struct))``.  At 100 TB both shuffles key
    on bounded payloads: a span is ~``width`` words (key the window on
    ``xxhash64(seg)`` when spans are long — kept as raw text here for
    oracle parity), and the per-document ``collect_list`` holds one
    document's own segments only — row-local state, never
    corpus-proportional.  The window partition is one span's
    occurrence list (skew-bounded: boilerplate spans cap at corpus
    document count, same bound the join build side had).

    Returns (id_col, n_spans, kept_spans, cleaned_text); a document
    whose every span is boilerplate survives with cleaned_text = ''.
    """
    arr = F.split(F.col(text_col), " ")
    nseg = F.ceil(F.size(arr) / F.lit(float(width))).cast("int")
    segs_col = F.when(
        F.size(arr) > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(F.slice(arr, i * width + 1, width), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from pyspark.sql import Window

    segs = docs.select(
        F.col(id_col), F.posexplode(segs_col).alias("seg_idx", "seg")
    )
    counted = segs.withColumn(
        "__nd", F.count(F.lit(1)).over(Window.partitionBy("seg"))
    )
    keep = F.col("__nd") < min_occurrences
    return (
        counted.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.sum(F.when(keep, 1).otherwise(0))
            .cast("int")
            .alias("kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                keep,
                                F.struct(F.col("seg_idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 10_000,
    sub_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-shaped (Abbas et al.
    2023): cluster the embedding space with the coarse k-means
    quantizer, then look for high-cosine pairs ONLY within a cluster
    — semantically-redundant documents land in the same cell, so the
    pair search never crosses cells.

    This is the third candidate-generation strategy in the embedding
    dedup family (sign-LSH buckets in embedding_neardup_pairs, exact
    within-bucket there too): cells come from the PERSISTED IVF
    centroid index — the same publish-time artifact the ANN serving
    path broadcasts — so dedup and search share one clustering.

    Plan shape for 100 TB: assignment is a broadcast map-side argmax
    (the corpus never shuffles for it), the self-join keys on cent_id
    so each cell joins only against itself, and exact cosine runs on
    in-cell pairs only.  Cell sizes are bounded twice: the quantizer
    scales with the corpus (train_ivf_centroids derives
    n_centroids = max(16, floor(sqrt(N))) at index-build time, so
    expected pair work is O(N^1.5)), and ``max_cell_size`` is the hard
    backstop for DATA skew the quantizer can't fix — a cell larger
    than the cap is sub-bucketed by the deterministic sign-LSH key
    (``lsh_bucket_col``, the same hyperplanes embedding_neardup_pairs
    uses), so its pair join runs per (cell, sign-bucket) and can never
    go quadratic in the hot cell.  Sub-bucketing an oversized cell is
    a RECALL trade (near-dup pairs split across sign buckets are
    missed) — the documented SemDeDup behavior for pathological cells,
    not silent truncation; set ``max_cell_size=None`` to force exact
    in-cell search.  At fixture scale no cell approaches the default
    cap, so the declared ``dedup_semantic`` query (and its oracle) is
    byte-identical with or without the guard.

    Returns (cent_id, vec_a, vec_b, cosine) for in-cell pairs with
    cosine >= threshold, cosine rounded to 6dp.
    """
    from .similarity import ivf_cell_assign

    # Pair-stage economics (measured at sf0.1): the higher-order
    # aggregate expressions are interpreted (not codegen), so anything
    # evaluated per PAIR costs O(cell^2) interpreted folds.  Four
    # successive versions: cosine-per-pair (3 folds/pair, 4.5 s) ->
    # norms hoisted to one fold per ROW + one dot fold per pair
    # (1.6 s) -> Arrow-batched einsum dot per pair (1.3 s; a 64-term
    # unrolled codegen chain measured WORSE, 6.2 s — it blows the
    # generated-method size) -> per-cell gemm in applyInPandas
    # (survivors-only output, no per-pair row materialization; see
    # semantic_dedup_pairs_from_cells).  The threshold cut happens on
    # the ROUNDED cosine so numpy's summation-order ulps can't flip a
    # borderline pair vs the oracle's sequential fold (the PQ ADC-cut
    # discipline); the oracle cuts on the same rounded expression.
    cells = ivf_cell_assign(embeddings, centroids, id_col, vec_col)
    return semantic_dedup_pairs_from_cells(
        cells, threshold, id_col, vec_col, max_cell_size, sub_planes, dim
    )


def semantic_dedup_pairs_from_cells(
    cells: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 10_000,
    sub_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """The pair tail of ``semantic_dedup_pairs`` over an ALREADY
    ASSIGNED (cent_id, id, vec) frame — the serving path when the cell
    table persists at publish time (fixtures emb_cells, maintained by
    ivf_cells_delta_refresh): the query never evaluates the broadcast
    argmax, it reads stored cell ids.  The inline variant re-derives
    assignment and pays that argmax on every pass over the corpus
    (sizes + both join sides) — measured 4.2 s vs 1.5 s at sf0.1 with
    the 44-centroid quantizer.

    Pair stage (r8): one ``applyInPandas`` gemm per (cell, sub-bucket)
    group — blocked ``V @ V.T`` in float64, survivors-only output.
    The previous self-join materialized every in-cell pair as a ROW
    carrying BOTH embedding arrays (~512 B/pair) through the join
    output into a per-pair Arrow dot; the kernel shuffles only the
    O(N) cell rows and never materializes a non-surviving pair.  The
    kernel pre-cuts at ``threshold - 1e-6`` on the raw cosine and the
    FINAL cut stays Spark-side on ``F.round(cosine, 6)`` — identical
    rounding semantics to the join path and the oracle, so results
    are hash-stable (BLAS-vs-sequential summation ulps are absorbed
    by the rounded cut, the documented pandas_dot discipline).
    Blocked at 512 rows so a ``max_cell_size``-capped cell peaks at
    ~40 MB transient per group."""
    cells = cells.select("cent_id", id_col, vec_col)
    if max_cell_size is not None:
        # skew backstop: per-cell counts are a tiny combine-enabled
        # aggregate (<= n_centroids rows, broadcast back); only rows
        # in oversized cells pay the sign-LSH projection
        sizes = cells.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("__csz")
        )
        cells = cells.join(F.broadcast(sizes), on="cent_id").withColumn(
            "__sub",
            F.when(
                F.col("__csz") > max_cell_size,
                lsh_bucket_col(vec_col, sub_planes, dim),
            ).otherwise(F.lit("")),
        )
    else:
        cells = cells.withColumn("__sub", F.lit(""))

    cent_t = cells.schema["cent_id"].dataType.simpleString()
    id_t = cells.schema[id_col].dataType.simpleString()
    out_schema = f"cent_id {cent_t}, vec_a {id_t}, vec_b {id_t}, cosine double"
    # margin covers HALF_UP at 6dp: round(x, 6) >= t needs
    # x >= t - 5e-7, so nothing below t - 1e-6 can survive the final
    # Spark-side rounded cut
    pre_cut = threshold - 1e-6

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "cent_id": pd.Series(dtype=pdf["cent_id"].dtype),
                "vec_a": pd.Series(dtype=pdf[id_col].dtype),
                "vec_b": pd.Series(dtype=pdf[id_col].dtype),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        cent = pdf["cent_id"].iloc[0]
        rows_a, rows_b, rows_c = [], [], []
        col_idx = np.arange(n)
        for s in range(0, n, 512):
            e = min(s + 512, n)
            C = (V[s:e] @ V.T) / (nrm[s:e, None] * nrm[None, :])
            # upper triangle only: sorted by id, so position order IS
            # id order; strict inequality drops (impossible-duplicate)
            # equal-id pairs like the join's < did
            mask = (col_idx[None, :] > (col_idx[s:e])[:, None]) & (
                ids[None, :] > (ids[s:e])[:, None]
            ) & (C >= pre_cut)
            ii, jj = np.nonzero(mask)
            if len(ii):
                rows_a.append(ids[ii + s])
                rows_b.append(ids[jj])
                rows_c.append(C[ii, jj])
        if not rows_a:
            return empty
        return pd.DataFrame(
            {
                "cent_id": np.full(
                    sum(map(len, rows_a)), cent
                ),
                "vec_a": np.concatenate(rows_a),
                "vec_b": np.concatenate(rows_b),
                "cosine": np.concatenate(rows_c),
            }
        )

    return (
        cells.groupBy("cent_id", "__sub")
        .applyInPandas(_cell_pairs, out_schema)
        .select(
            "cent_id",
            "vec_a",
            "vec_b",
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def benchmark_shingle_hashes(
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct xxhash64 shingle hashes of a benchmark/eval set — the
    broadcast side of decontamination.  Eval sets are tiny relative to
    a training corpus (thousands of docs vs billions), so the whole
    hash set broadcasts; the hash matches the persisted shingle
    index's ``sh`` column bit for bit, letting the corpus side serve
    from the index."""
    return (
        shingles(benchmark, n=n, text_col=text_col, id_col=id_col)
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the Brown et al. 2020 / Gao et al.
    2021 discipline): drop every training document sharing ANY word
    n-gram with the benchmark set, so eval answers can't leak into
    training data.  Docs too short to have an n-gram survive.

    Plan shape for 100 TB: the benchmark's distinct shingle hashes
    broadcast (eval sets are tiny); the corpus pays one tokenize/
    shingle pass, a broadcast LEFT SEMI against the bench hashes
    picks contaminated ids, and a broadcast-able anti join removes
    them — the corpus itself never shuffles.  On a stable corpus use
    ``decontaminate_from_index``: the persisted shingle index already
    holds every (doc_id, sh) row, so the query skips the tokenize
    entirely."""
    bench = benchmark_shingle_hashes(benchmark, n, text_col, id_col)
    doc_sh = shingles(docs, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col), F.xxhash64("shingle").alias("sh")
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench), on="sh", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, on=id_col, how="left_anti")


def decontaminate_from_index(
    docs: DataFrame,
    shingle_index: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Serving-path decontamination: the corpus side reads the
    PERSISTED shingle index (doc_id, n, sh — the ``shingle_index``
    artifact, maintained by shingle_index_delta_refresh at publish
    time) instead of re-tokenizing the corpus per query; only
    the tiny benchmark set is shingled inline.  Same keep-set as
    ``decontaminate`` by construction (identical n, identical
    xxhash64)."""
    bench = benchmark_shingle_hashes(benchmark, n, text_col, id_col)
    contaminated = (
        shingle_index.filter(F.col("n") == n)
        .select(id_col, "sh")
        .join(F.broadcast(bench), on="sh", how="left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, on=id_col, how="left_anti")


def decontamination_report(
    doc_grams: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-benchmark-document leak BREADTH — the audit twin of
    ``decontaminate``: for each eval document, how many training
    documents share at least one word n-gram with it, and how many of
    its distinct grams leak at all.  This is the report a curation
    team reads to decide whether a benchmark is salvageable (a handful
    of boilerplate grams) or burned (broad verbatim overlap) —
    the Brown et al. 2020 appendix-C contamination audit as a query.

    ``doc_grams`` is the TRAINING side as (id_col, sh) gram rows —
    at scale the persisted shingle index (never re-tokenize the corpus
    for an audit); benchmark docs are shingled inline (tiny).

    Plan shape for 100 TB: the eval grams broadcast; the corpus-side
    gram rows take one broadcast hash join (no corpus shuffle) and
    only the HITS — bounded by |bench grams| x containing docs —
    reach the per-bench-doc aggregate.

    Returns (bench_id, n_contaminated_docs, n_shared_grams).
    """
    bench_sh = shingles(
        benchmark, n=n, text_col=text_col, id_col=id_col
    ).select(
        F.col(id_col).alias("bench_id"), F.xxhash64("shingle").alias("sh")
    )
    hits = doc_grams.select(id_col, "sh").join(F.broadcast(bench_sh), "sh")
    return hits.groupBy("bench_id").agg(
        F.countDistinct(id_col).cast("int").alias("n_contaminated_docs"),
        F.countDistinct("sh").cast("int").alias("n_shared_grams"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """EMBEDDING-space decontamination — the retrieval-based
    contamination check that n-gram matching misses: a training
    example that *paraphrases* an eval item shares no verbatim 5-gram
    but sits next to it in embedding space (the LLM-curation
    complement to ``decontaminate``'s verbatim rule; cf. the
    similarity-based splits in Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" §6).

    For every corpus vector, find its single nearest eval vector by
    cosine and flag it when that max similarity clears ``threshold``.
    The cut and the tie-break both happen on the 6dp-ROUNDED cosine
    (the rounded-cut discipline), so float summation order cannot
    flip a row between engines.

    Plan shape for 100 TB: the eval set is benchmark-sized at any
    corpus scale BY CONTRACT (callers bound it; it is collected to
    the driver like a probe set) and rides into an Arrow kernel as a
    gemm operand — ONE ``mapInPandas`` pass over the corpus computes
    each batch's full cosine block ``V @ E.T`` and emits ONLY each
    row's TOP CANDIDATE SET: pairs at/above ``threshold - 1e-6`` AND
    within 1e-6 of the row's raw maximum.  (Rounding to 6dp is
    monotone with error <= 0.5e-6 per value, so a pair more than one
    grid step below the row max can never win the rounded argmax —
    dropping it in-kernel is exact.  Without the per-row cut, a
    clustered corpus against a low threshold emitted rows approaching
    the full cross product into the argmax shuffle.)  The final
    round + per-vector argmax (``max(struct(cos, -eval_id))``,
    combine-enabled) stay Spark-side, so rounding semantics and ties
    are engine-identical — BLAS-vs-sequential summation ulps are
    absorbed by the rounded cut (the pandas_dot discipline).  The
    corpus never shuffles; the per-pair cross-join this replaces ran
    a ~dim-step interpreted cosine fold per (row, eval) pair —
    measured 27.6 s -> 0.84 s on the 10x scale-up corpus (1.14x
    growth on 10x data: scan-bound).

    Returns flagged rows only: (id_col, label, eval_id, cosine),
    eval_id = the argmax eval vector (smallest id on cosine ties).
    """
    ev_rows = sorted(
        (r[0], np.asarray(r[1], dtype=np.float64))
        for r in evalset.select(id_col, vec_col).collect()
    )
    eids = np.asarray([e for e, _ in ev_rows], dtype=np.int64)
    E = np.stack([v for _, v in ev_rows])
    en = np.sqrt(np.einsum("ij,ij->i", E, E))
    pre_cut = threshold - 1e-6
    id_t = corpus.schema[id_col].dataType.simpleString()
    lbl_t = corpus.schema[label_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_t}, {label_col} {lbl_t}, __eid long, __raw double"
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            nv = np.sqrt(np.einsum("ij,ij->i", V, V))
            C = (V @ E.T) / (nv[:, None] * en[None, :])
            # per-row top-candidate cut: only pairs that could still
            # win the Spark-side rounded argmax leave the kernel
            rowmax = C.max(axis=1)
            ii, jj = np.nonzero(
                (C >= pre_cut) & (C >= rowmax[:, None] - 1e-6)
            )
            if not len(ii):
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[ii],
                    label_col: pdf[label_col].to_numpy()[ii],
                    "__eid": eids[jj],
                    "__raw": C[ii, jj],
                }
            )

    hits = corpus.select(id_col, label_col, vec_col).mapInPandas(
        gen, out_schema
    )
    scored = hits.select(
        id_col,
        label_col,
        "__eid",
        F.round(F.col("__raw"), 6).alias("__cos"),
    )
    best = scored.groupBy(id_col, label_col).agg(
        F.max(F.struct(F.col("__cos"), (-F.col("__eid")).alias("__neg")))
        .alias("__best")
    )
    return (
        best.filter(F.col("__best.__cos") >= threshold)
        .select(
            id_col,
            label_col,
            (-F.col("__best.__neg")).cast("long").alias("eval_id"),
            F.col("__best.__cos").alias("cosine"),
        )
    )


def gram_novelty(
    doc_grams: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
) -> DataFrame:
    """Per-document n-gram NOVELTY — the fraction of a document's
    distinct grams whose FIRST corpus occurrence (minimum doc id) is
    this document.  The curation "novelty curve": ingestion-ordered
    corpora show declining novelty as sources repeat themselves, and
    low-novelty documents are the first candidates for down-sampling
    (complements pairwise dedup, which only sees near-total overlap).

    Input is (id_col, sh) distinct gram rows — the persisted shingle
    index at scale, so the audit never tokenizes the corpus.

    Plan shape for 100 TB: NO gram-sized join anywhere — n_novel comes
    from re-aggregating the (gram → first doc) table by its first-doc
    id, n_grams from a per-doc count, both combine-enabled; the only
    join is doc-level (N_docs rows a side), never N_grams.  (The
    join-back formulation re-shuffles every gram row; this one's
    widest intermediate is the per-gram min.)

    Returns (doc_id, n_grams, n_novel, novelty) with novelty rounded
    to 6dp (an exact ratio of integers — engine-stable).
    """
    g = doc_grams.select(F.col(id_col), F.col(sh_col).alias("sh"))
    first = g.groupBy("sh").agg(F.min(id_col).alias("__first"))
    novel = first.groupBy(F.col("__first").alias(id_col)).agg(
        F.count(F.lit(1)).cast("int").alias("n_novel")
    )
    totals = g.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_grams")
    )
    return (
        totals.join(novel, id_col, "left")
        .withColumn(
            "n_novel", F.coalesce(F.col("n_novel"), F.lit(0)).cast("int")
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_grams"), 6),
        )
    )


def lsh_pr_eval(candidates: DataFrame, truth: DataFrame) -> DataFrame:
    """LSH-parameter EVALUATION: precision/recall of a banded-MinHash
    candidate set against the exact-Jaccard pair set — the measurement
    behind every (num_hashes, band_rows) tuning decision (the S-curve
    in Leskovec/Rajaraman/Ullman ch.3 tells you the *expected*
    collision probability; this query tells you what the corpus
    actually got).

    ``candidates`` and ``truth`` are (doc_a, doc_b) pair frames (e.g.
    :func:`minhash_candidates_from_sigs` vs
    :func:`ngram_pairs_from_index` at the same shingle width).  One
    pair-keyed join + three scalar aggregates broadcast into a single
    row — at scale both inputs are pair sets (already sub-corpus
    sized) and nothing here is corpus-proportional.

    Returns one row (n_candidates, n_truth, n_hits, precision,
    recall); the ratios are exact int/int doubles, no rounding step.
    Note precision is measured against the df-capped truth set — a
    candidate pair whose overlap lives only in stop-shingles counts
    as a false positive, which is the conservative reading.

    All three counts come from ONE full-outer join + one scalar
    aggregate, so each input pipeline is evaluated exactly once — the
    earlier three-aggregate formulation re-ran the (expensive) truth
    derivation for its count and again for the hits join, doubling
    the query's dominant cost.  Inputs are pair SETS (distinct
    (doc_a, doc_b)) per their producers' contracts — but the
    single-join form is count-exact ONLY under that distinctness, so
    each projection is dropDuplicates()'d defensively: the inputs are
    already shuffled on the join key, so the dedup rides the same
    exchange (AQE folds it into the join's shuffle) and a producer
    that ever emits a duplicate pair skews nothing.
    """
    t = (
        truth.select("doc_a", "doc_b")
        .dropDuplicates()
        .withColumn("__t", F.lit(1))
    )
    c = (
        candidates.select("doc_a", "doc_b")
        .dropDuplicates()
        .withColumn("__c", F.lit(1))
    )
    both = t.join(c, ["doc_a", "doc_b"], "full_outer").agg(
        F.coalesce(F.sum("__c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum("__t"), F.lit(0)).alias("n_truth"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1
                )
            ),
            F.lit(0),
        ).alias("n_hits"),
    )
    return (
        both
        .select(
            F.col("n_candidates").cast("int").alias("n_candidates"),
            F.col("n_truth").cast("int").alias("n_truth"),
            F.col("n_hits").cast("int").alias("n_hits"),
            # a clean corpus legitimately has an empty candidate or
            # truth set — the metric is undefined (NULL), not a crash
            # (ANSI division by zero; hit at the 10x scale-up where
            # the synthesized texts carry no >=0.4 pairs)
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_hits").cast("double") / F.col("n_candidates"),
            ).alias("precision"),
            F.when(
                F.col("n_truth") > 0,
                F.col("n_hits").cast("double") / F.col("n_truth"),
            ).alias("recall"),
        )
    )
