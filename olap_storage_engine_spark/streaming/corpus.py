"""Streaming corpus ingestion: the text-pipeline POLICY operators
applied inside a Structured Streaming query — documents arrive as
files, every micro-batch gets the same row-local quality verdicts the
batch path computes, and the running verdict histogram is the stream's
state.

The filter stage (operators/text.quality_filter) is deliberately
row-local (zero shuffles), which is exactly what makes it
streaming-compatible: stateless per-row logic needs no watermark and
adds no state store — the only stateful operator is the tiny verdict
aggregate.  At 100 TB/day the same topology holds: file (or Kafka)
source -> map-only verdict pass -> keyed aggregate whose cardinality
is the number of verdict classes, not the corpus.
"""

from __future__ import annotations

import os
import tempfile
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

# per-process cache of benchmark shingle-hash sets: one live entry
# per (sf_dir, n, mod), value = (source-file state, hash list).  The
# state tuple ((ino, mtime_ns, size) of documents.parquet) VALIDATES
# the entry instead of keying it — superseded corpus states are
# REPLACED, not accumulated, so a long session that rebuilds fixtures
# N times holds one bench set, not N (r13 review).
_BENCH_HASHES: dict[tuple, tuple] = {}


def _stream_docs_source(spark: SparkSession, sf_dir: str, prefix: str):
    """The documents file-stream source every fixture stream runner
    shares: a tempdir with one symlink to the corpus parquet, read as
    a schema-applied file stream.  ONE definition for the five
    runners (r13 review — the preamble was copy-pasted five times).
    Returns (path, stream)."""
    path = os.path.join(sf_dir, "documents.parquet")
    src_dir = tempfile.mkdtemp(prefix=prefix)
    os.symlink(path, os.path.join(src_dir, "documents.parquet"))
    schema = spark.read.parquet(path).schema
    return path, spark.readStream.schema(schema).parquet(src_dir)


def run_fixture_stream_corpus_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Run the C4/Gopher quality-filter policy as an actual streaming
    query over the documents fixture (file source, availableNow
    trigger, complete mode into a memory sink) and return the final
    per-(lang, reason) verdict counts — deterministic under
    availableNow, so the batch SQL oracle checks it exactly."""
    from ..operators.text import quality_filter
    from .events import (
        _await_or_raise,
        _ephemeral_checkpoint,
        _shuffle_partitions,
    )

    _, stream = _stream_docs_source(spark, sf_dir, "docs_stream_")
    verdicts = quality_filter(stream)
    name = f"cf_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            verdicts.groupBy("lang", "reason")
            .agg(F.count(F.lit(1)).cast("int").alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def run_fixture_stream_decontaminate(
    spark: SparkSession, sf_dir: str, n: int = 5, mod: int = 97
) -> DataFrame:
    """Streaming benchmark decontamination: documents arrive as a file
    stream; each row drops iff it shares any word n-gram with the
    static benchmark set — the same keep-set as the batch
    ``dedup.decontaminate``, so the batch SQL oracle checks the stream
    exactly.

    Topology: FULLY STATELESS append-mode filter.  The doc's distinct
    shingle hashes stay an in-row ARRAY (no explode), and the verdict
    is one row-local Arrow-batched membership kernel against the
    benchmark's sorted hash set (closure-captured, shipped to
    executors once) — no watermark, no state store, no shuffle; the
    stream filter parallelizes by source file at any rate, and the
    kernel stays O(log |bench|) per gram however large the eval suite
    grows."""
    from ..functions.textfns import tokens
    from .events import (
        _await_or_raise,
        _ephemeral_checkpoint,
        _excluded_rules,
        _shuffle_partitions,
    )

    path, stream = _stream_docs_source(
        spark, sf_dir, "docs_decon_stream_"
    )
    docs = spark.read.parquet(path)

    from ..operators.dedup import gram_array

    def gram_hashes(toks):
        # the SAME gram builder batch shingling uses (dedup.gram_array)
        # — the stream's contract is exact keep-set equality with the
        # batch operator, so the gram shape must come from one place
        return F.transform(gram_array(toks, n), lambda s: F.xxhash64(s))

    from ..operators.dedup import benchmark_shingle_hashes

    # cache key includes the parquet's (mtime, size): if the corpus
    # file is regenerated in-process (fixture rebuild mid-session) the
    # stream must re-derive the bench hash set instead of silently
    # filtering against the old corpus's grams (ADVICE r7)
    st = os.stat(path)
    # st_ino included (r13): a same-size regeneration landing within
    # one mtime tick on a coarse-timestamp filesystem still lands on
    # a NEW inode (parquet writes replace the file).  The file state
    # VALIDATES the entry rather than keying it, so a rebuilt corpus
    # REPLACES the old bench set instead of accumulating dead ones.
    key = (sf_dir, n, mod)
    state = (st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _BENCH_HASHES.get(key)
    if hit is None or hit[0] != state:
        # one batch job per (corpus file state, width, bench) per
        # process: the bench set is static for a given corpus file
        _BENCH_HASHES[key] = (
            state,
            [
                r["sh"]
                for r in benchmark_shingle_hashes(
                    docs.filter(F.col("doc_id") % mod == 0), n=n
                ).collect()
            ],
        )
    bench_vals = _BENCH_HASHES[key][1]
    # membership verdict as an Arrow-batched kernel over the broadcast
    # SORTED bench set: per batch, flatten every doc's hash array and
    # run ONE vectorized sorted np.isin + segment-any — the in-plan
    # alternative (arrays_overlap against a literal array) is an
    # O(|doc grams| x |bench|) interpreted scan per row, measured 5x
    # slower at fixture scale and linearly worse as the eval suite
    # grows; the numpy set costs O(log |bench|) per gram and ships to
    # executors once.
    bench_np = np.sort(np.asarray(bench_vals, dtype=np.int64))

    @F.pandas_udf("boolean")
    def contaminated(hs: pd.Series) -> pd.Series:
        m = len(hs)
        out = np.zeros(m, dtype=bool)
        if m == 0 or bench_np.size == 0:
            return pd.Series(out)
        arrs = [
            np.asarray(a, dtype=np.int64)
            if a is not None
            else np.empty(0, dtype=np.int64)
            for a in hs
        ]
        lens = np.fromiter((len(a) for a in arrs), np.int64, count=m)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([a for a in arrs if len(a)])
            hit = np.isin(flat, bench_np)
            offs = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offs[1:])
            out[nz] = np.add.reduceat(hit, offs) > 0
        return pd.Series(out)

    toked = stream.select(
        "doc_id", "lang", "source", tokens(F.col("text")).alias("__toks")
    )
    kept = toked.filter(
        ~contaminated(gram_hashes(F.col("__toks")))
    ).select("doc_id", "lang", "source")
    name = f"dc_{uuid.uuid4().hex[:8]}"
    # PushDownPredicates is excluded for THIS stream's planning:
    # the rule substitutes the ``__toks`` alias into the filter
    # condition verbatim, and gram_array references its tokens
    # argument inside the per-gram slice lambda — the inlined
    # tokens() then re-splits the text PER GRAM, O(tokens²) per
    # document (measured 25.6 s vs 3.4 s on the 10x corpus).  No
    # expression-level workaround survives: the substitution ignores
    # the UDF's nondeterministic flag, and the lambda-variable
    # binding trick (transform(array(tokens(..)), ..)) is a shape
    # the streaming planner cannot extract a Python UDF from.  The
    # topology is scan→filter→project, so the rule has nothing
    # legitimate to do here; exclusion is scoped and restored.
    with _shuffle_partitions(spark, 4), _excluded_rules(
        spark,
        "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates",
    ):
        q = (
            kept.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def run_fixture_stream_classifier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hashed-bag-of-words quality classifier
    (operators/text.hashed_classifier_scores) run as a REAL Structured
    Streaming query: file source -> row-local classifier inference ->
    stateless append-mode keep filter -> memory sink.

    This is the deployment shape of model-based filtering at ingest
    time: because the classifier is pure in-row column expressions
    (hash fold + dyadic weight sum, zero shuffles, zero Python), the
    SAME operator lifts into the stream unchanged — no watermark, no
    state store; the filter parallelizes by source file at any ingest
    rate.  Deterministic under availableNow, so the batch classifier
    SQL (filtered to keep) checks the stream's output exactly.

    Returns the kept documents' (doc_id, n_tokens, quality_prob).
    """
    from ..operators.text import hashed_classifier_scores
    from .events import (
        _await_or_raise,
        _ephemeral_checkpoint,
        _shuffle_partitions,
    )

    _, stream = _stream_docs_source(spark, sf_dir, "docs_cls_stream_")
    kept = (
        hashed_classifier_scores(stream)
        .filter(F.col("keep"))
        .select("doc_id", "n_tokens", "quality_prob")
    )
    name = f"cls_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            kept.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def run_fixture_stream_tokenize(
    spark: SparkSession, sf_dir: str, merges: list
) -> DataFrame:
    """BPE tokenization AT INGEST: the trained merge list (driver-sized
    by construction — k rows) replayed over a documents file stream as
    a stateless append-mode map (operators/text.bpe_encode_corpus is a
    single replace-chain projection, so it lifts into the stream
    unchanged — no watermark, no state store, parallel by source file
    at any ingest rate).  This is the production tokenize-on-ingest
    shape: train once per corpus publish, encode every arriving batch.

    Deterministic under availableNow, so the batch encode SQL checks
    the stream's output exactly.  Returns (doc_id, n_tokens,
    token_str).
    """
    from ..operators.text import bpe_encode_corpus
    from .events import (
        _await_or_raise,
        _ephemeral_checkpoint,
        _shuffle_partitions,
    )

    _, stream = _stream_docs_source(spark, sf_dir, "docs_tok_stream_")
    toks = bpe_encode_corpus(stream, merges)
    name = f"tok_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            toks.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def run_fixture_stream_neardup_filter(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 8,
    band_rows: int = 2,
    n: int = 3,
) -> DataFrame:
    """Streaming NEAR-DUP filter: documents arrive as a file stream;
    each row's banded-MinHash signature is computed IN THE ROW (no
    shuffle, no state) and probed against per-band bucket MINIMA
    derived from the PERSISTED signature index
    (the ``minhash_sigs`` artifact) — a doc is reported as a near-dup iff
    some band's bucket holds a LOWER doc_id, which is exactly "appears
    as doc_b in the batch banded-LSH candidate pairs", so the batch
    mh_pairs oracle checks the stream's dropped set EXACTLY.

    Topology (stateless, append-mode): scan → three projection
    boundaries (tokens → distinct grams → base hashes, each
    materialized ONCE per row — referencing the producer 8x keeps
    CollapseProject from inlining the md5 chain) → the K affine mins
    as array_min over the hash array → one LEFT stream-static equi
    join PER BAND against the cached bucket-min table (each key hits
    at most one bucket row, so no row multiplication and no
    post-join distinct/state) → row-local verdict filter.  At 100 TB
    the same shape holds: the bucket table is index-derived and
    partitionable, each micro-batch pays num_bands hash joins, and
    there is no watermark, no state store, and no driver-resident
    corpus structure.  Docs with no shingles get EMPTY-STRING band
    keys (array_min of an empty array is NULL and concat_ws SKIPS
    nulls); "" can never equal a bucket key because bucket keys are
    built from non-null bigints — so such docs match no bucket and
    are never reported, matching the batch semantics where a
    signature-less doc has no index row at all."""
    from ..fixtures import minhash_sigs_build_params, read_artifact
    from ..functions.hashes import md5int
    from ..functions.textfns import tokens
    from ..operators.dedup import (
        MINHASH_P,
        band_signature,
        banded_rows,
        gram_array,
        minhash_params,
    )
    from .events import (
        _await_or_raise,
        _ephemeral_checkpoint,
        _shuffle_partitions,
    )

    # the persisted signature index is built with FIXED parameters; a
    # caller probing its buckets with different widths/hash counts
    # would get a silently wrong answer — refuse instead (r13 review)
    built = minhash_sigs_build_params()
    if (num_hashes, n) != built:
        raise ValueError(
            "stream_neardup_filter: the persisted signature index is "
            f"built with (num_hashes, n)={built}; probing it with "
            f"({num_hashes}, {n}) would silently mismatch every "
            "bucket key — rebuild the index or use the built params"
        )
    # band_rows is part of the contract too: the documented "dropped
    # set == mh_pairs doc_b set" equivalence holds only for the batch
    # banding width, and a non-divisor width silently drops the tail
    # hashes from every signature (r13 ADVICE)
    if num_hashes % band_rows != 0:
        raise ValueError(
            "stream_neardup_filter: band_rows must divide num_hashes "
            f"exactly (got num_hashes={num_hashes}, "
            f"band_rows={band_rows}) — a ragged final band would be "
            "silently discarded"
        )
    from ..operators.dedup import MH_BAND_ROWS

    if band_rows != MH_BAND_ROWS:
        raise ValueError(
            "stream_neardup_filter: the batch mh_pairs contract bands "
            f"with band_rows={MH_BAND_ROWS}; probing with "
            f"band_rows={band_rows} produces a dropped set that no "
            "longer equals the documented doc_b set — pass the batch "
            "width or compare against a matching batch run"
        )

    num_bands = num_hashes // band_rows
    params = minhash_params(num_hashes)

    def band_key(prefix: str, b: int) -> F.Column:
        # the ONE band-signature definition (dedup.band_signature) —
        # the stream's probe keys must stay byte-identical to the
        # batch bucket keys
        return band_signature(prefix, b, band_rows)

    # static side: per-(band, key) minimum doc_id from the persisted
    # signature index, through the SAME banding topology the batch
    # self-join uses (dedup.banded_rows); cached so the stream's
    # micro-batches don't re-aggregate it
    sigs = read_artifact(spark, sf_dir, "minhash_sigs")
    buckets = (
        banded_rows(sigs, num_hashes, band_rows)
        .groupBy("band", "sig")
        .agg(F.min("doc_id").alias("bmin"))
        .cache()
    )
    buckets.count()  # materialize before the stream starts
    # everything past the cache materialization sits inside the
    # try: a failure anywhere (schema drift, source setup, plan
    # analysis, the stream itself) must not leak the cached
    # bucket aggregate for the session lifetime (r13 review)
    try:

        _, stream = _stream_docs_source(
            spark, sf_dir, "docs_neardup_stream_"
        )
        toked = stream.select(
            "doc_id", tokens(F.col("text")).alias("__toks")
        )
        grammed = toked.select(
            "doc_id", gram_array(F.col("__toks"), n).alias("__grams")
        )
        hashed = grammed.select(
            "doc_id",
            F.transform(
                F.col("__grams"), lambda s: md5int(s) % F.lit(MINHASH_P)
            ).alias("__h"),
        )
        signed = hashed.select(
            "doc_id",
            *[
                F.array_min(
                    F.transform(
                        F.col("__h"),
                        lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P),
                    )
                ).alias(f"__mh{i}")
                for i, (a, b) in enumerate(params)
            ],
        )
        keyed = signed.select(
            "doc_id",
            *[band_key("__mh", b).alias(f"__k{b}") for b in range(num_bands)],
        )
        joined = keyed
        for b in range(num_bands):
            side = buckets.filter(F.col("band") == b).select(
                F.col("sig").alias(f"__bk{b}"),
                F.col("bmin").alias(f"__bmin{b}"),
            )
            joined = joined.join(
                side, joined[f"__k{b}"] == side[f"__bk{b}"], "left"
            )
        verdict = None
        for b in range(num_bands):
            hit = F.col(f"__bmin{b}") < F.col("doc_id")
            verdict = hit if verdict is None else (verdict | hit)
        dropped = joined.filter(verdict).select("doc_id")

        name = f"nd_{uuid.uuid4().hex[:8]}"
        with _shuffle_partitions(spark, 4):
            q = (
                dropped.writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", _ephemeral_checkpoint())
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _await_or_raise(q)
    finally:
        # a failed/timed-out stream must not pin the cached bucket
        # aggregate in executor storage for the session's lifetime
        buckets.unpersist()
    return spark.table(name)
