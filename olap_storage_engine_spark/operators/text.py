"""Text-analysis and curation-model operators for training-data
pipelines (SURVEY §2 Part C, X4): per-language stats, heuristic
language ID, rule-based quality scoring, token counting, document
fingerprinting, BM25 retrieval, chunking/packing/splitting, sampling
(stratified / weighted / uniform- and temperature-mixture / DSIR),
PII scrubbing, bigram-LM scoring, hashed-classifier inference AND
in-engine Naive Bayes training, tokenizer OOV coverage, and corpus
drift (KL) monitoring.

Row-local operators are pure built-in column expressions (whole-stage
codegen end to end); corpus-level ones follow the exact fixed-point
discipline (9dp-rounded terms summed as DECIMAL) so results are
partition-order independent.  Each has an exact DuckDB-oracle
formulation in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashes import rolling_fingerprint
from ..functions.textfns import regex_token_count, simple_token_count, tokens
from .spread import spread

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small and public-knowledge (top function
# words); the operator contract is determinism, not linguistic quality.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-language corpus stats: doc count, char sum, mean length,
    token counts."""
    toked = docs.withColumn("n_tokens", simple_token_count(F.col("text")))
    return (
        toked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of stopword hits; 'und'
    (undetermined) when no stopword matches.  Ties break by language
    code order for determinism.

    Plan shape: tokenization and the per-language scores are staged as
    materialized projections so each is computed once per row — the
    greatest/when decision tree then only references cheap attribute
    columns (inlining the score expressions would re-scan the token
    array ~7x per language)."""
    langs = sorted(STOPWORDS)
    toked = spread(docs).select("*", tokens(F.col(text_col)).alias("__toks"))

    def _hits(lg):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        return F.size(
            F.filter(F.col("__toks"), lambda t: F.array_contains(arr, t))
        )

    scored = toked.select(
        "*", *[_hits(lg).alias(f"__s_{lg}") for lg in langs]
    )
    best_score = F.greatest(*[F.col(f"__s_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier alphabetical wins ties
        pred = F.when(F.col(f"__s_{lg}") == best_score, F.lit(lg)).otherwise(pred)
    pred = F.when(best_score > 0, pred).otherwise(F.lit("und"))
    cols = [scored[c] for c in docs.columns]
    return scored.select(*cols, pred.alias("pred_lang"))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features and a
    composite [0,1] score — the standard cheap pre-filters a training
    pipeline applies before expensive model-based scoring."""
    t = F.col(text_col)
    all_stop = F.array(
        *[F.lit(w) for ws in STOPWORDS.values() for w in ws]
    )
    # stage the expensive per-row features once, then derive the score
    # from attribute references (one regex pass, one token-array scan)
    feats = spread(docs).select(
        "*",
        F.length(t).alias("__n_chars"),
        simple_token_count(t).alias("n_tokens"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).alias(
            "n_punct"
        ),
        F.size(
            F.filter(tokens(t), lambda x: F.array_contains(all_stop, x))
        ).alias("n_stopwords"),
    )
    n_chars = F.col("__n_chars")
    n_toks = F.col("n_tokens")
    punct = F.col("n_punct")
    stop_hits = F.col("n_stopwords")
    mean_tok_len = (n_chars - (n_toks - 1)) / n_toks.cast("double")
    score = (
        F.when((n_toks >= 5) & (n_toks <= 100000), 0.4).otherwise(0.0)
        + F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct / n_chars.cast("double") <= 0.2, 0.2).otherwise(0.0)
        + F.when(stop_hits > 0, 0.1).otherwise(0.0)
    )
    cols = [feats[c] for c in docs.columns]
    return feats.select(
        *cols,
        n_toks.alias("n_tokens"),
        punct.alias("n_punct"),
        stop_hits.alias("n_stopwords"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(score, 2).alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish regex token counts side by side."""
    cols = [docs[c] for c in docs.columns]
    return docs.select(
        *cols,
        simple_token_count(F.col(text_col)).alias("ws_tokens"),
        regex_token_count(F.col(text_col)).alias("bpe_tokens"),
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition ratios per document (Rae et al. 2021,
    "Scaling Language Models", Table A1 — the repetition family of
    quality filters): distinct-token ratio, most-frequent-token
    fraction, and duplicate-2-gram fraction.  Documents dominated by a
    few repeated tokens or repeated bigrams are boilerplate/spam
    candidates that a training-data pipeline drops before tokenizing.

    Plan shape: fully ROW-LOCAL — one tokenize per document, the
    most-frequent-token count comes from a run-length fold over the
    SORTED token array (array_sort + one higher-order aggregate with a
    (prev, run, best) struct accumulator) instead of an
    explode→groupBy(doc, token)→max re-aggregate, and the 2-gram
    stats reuse the same in-row gram builder as shingling.  ZERO
    shuffles, zero row explosion: the ideal 100 TB shape — a narrow
    map-only pass that parallelizes by input split, emitting four
    small numbers per document.

    Returns (doc_id, n_tokens, distinct_ratio, top_token_frac,
    dup_2gram_frac), ratios rounded to 4dp.
    """
    # per-row interpreted array folds are CPU-bound at ~MB/s per core:
    # a small fixture file arriving as 1-2 scan splits would serialize
    # the whole corpus on 2 of 32 cores (spread is a no-op at real
    # scale, where inputs already have many splits)
    toked = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    # run-length fold over the sorted array: the longest run of equal
    # adjacent tokens IS the max per-token count.
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(F.array_sort(toks), acc0, _step, lambda a: a["best"])
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n2 = F.size(grams)
    d2 = F.size(F.array_distinct(grams))
    return toked.select(
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        F.round(nd / n, 4).alias("distinct_ratio"),
        F.round(top / n, 4).alias("top_token_frac"),
        F.when(n2 > 0, F.round(F.lit(1) - d2 / n2, 4))
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
    )


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 20,
    max_top_token_frac: float = 0.12,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """The composite keep/drop POLICY a C4/Gopher-style pipeline runs
    before tokenizing: every document gets a verdict and the FIRST
    failing rule as its reason (priority order — short-circuit like
    the real filter chains):

      1. ``too_short``     n_tokens < min_tokens         (C4 length rule)
      2. ``repetitive``    top-token fraction too high   (Gopher rep rule)
      3. ``lang_mismatch`` heuristic language ID disagrees with the
                           declared language column       (QA cross-check)
      4. ``kept``

    Fused single pass: one tokenize per document staged as a
    projection; the per-language stopword hits, the top-token
    run-length fold, and the counts all reference that one array.
    ZERO shuffles — the decision is row-local, so at 100 TB this is a
    map-only pass emitting one verdict row per document (the shape a
    filter stage must have: it runs over everything).

    Returns (doc_id, lang, n_tokens, keep, reason).
    """
    langs = sorted(STOPWORDS)
    toked = spread(docs).select(
        F.col(id_col),
        F.col(lang_col),
        tokens(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")

    def _hits(lg):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def _step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    staged = toked.select(
        F.col(id_col),
        F.col(lang_col),
        F.size(toks).alias("__n"),
        F.aggregate(F.array_sort(toks), acc0, _step, lambda a: a["best"])
        .alias("__top"),
        *[_hits(lg).alias(f"__s_{lg}") for lg in langs],
    )
    best = F.greatest(*[F.col(f"__s_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):
        pred = F.when(F.col(f"__s_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    n = F.col("__n")
    reason = (
        F.when(n < min_tokens, F.lit("too_short"))
        .when(
            F.col("__top") / n > max_top_token_frac, F.lit("repetitive")
        )
        .when(pred != F.col(lang_col), F.lit("lang_mismatch"))
        .otherwise(F.lit("kept"))
    )
    return staged.select(
        F.col(id_col),
        F.col(lang_col),
        n.cast("int").alias("n_tokens"),
        (reason == "kept").alias("keep"),
        reason.alias("reason"),
    )


# at most one cached scored frame per process (see token_budget_select)
_TBS_CACHED: list = []
_TBS_LOCK = __import__("threading").Lock()


def token_budget_select(
    docs: DataFrame, budget_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Quality-ordered corpus selection under a global TOKEN BUDGET —
    the "give me the best N-billion tokens" step of training-set
    assembly.  A document is kept iff the total tokens of all
    strictly-better documents (order: quality DESC, doc_id ASC) is
    below the budget — the greedy pack, allowing the crossing doc.

    Scale shape: the naive formulation is one GLOBAL window cumsum —
    a full sort of the corpus.  This implementation is the
    histogram-guided two-pass selection instead: (1) one aggregate of
    token totals per quality bucket (quality is round(·,2) ∈ [0,1], so
    the histogram is ≤101 rows — collected to the driver, a bounded
    materialization); (2) the budget cutoff splits buckets into
    fully-kept / boundary / dropped on the driver, and ONLY the single
    boundary bucket pays a window cumsum (partitioned small).  At
    100 TB: one map-side-combined aggregate, one broadcast-sized
    decision, one filter — no global sort anywhere.

    Returns (doc_id, quality, n_tokens) of the kept documents —
    exactly the rows the global-window formulation selects (the
    oracle IS that formulation).
    """
    scored = quality_score(docs, text_col).select(
        "doc_id", "n_tokens", "quality"
    )
    # the histogram pass AND the keep/boundary filters read the scored
    # frame — persist it so the tokenize/score expressions run once,
    # not once per pass (the histogram collect materializes it).  The
    # returned frame still depends on the cache, so it can't be freed
    # here; instead each call evicts the PREVIOUS call's cache, so a
    # long-lived session holds at most one scored frame (r7 review:
    # the unbounded version leaked one cached corpus per invocation).
    # TRADE-OFF (ADVICE r7): the previous call's RETURNED frame is
    # still lazily valid after its cache is evicted — later actions on
    # it silently recompute the tokenize/score pass.  That's the
    # deliberate deal: correctness always, the persist only
    # accelerates the MOST RECENT selection (the live one in any
    # pipeline); pinning every returned frame would re-open the leak.
    # Eviction is lock-guarded so concurrent sessions cannot
    # double-pop or interleave evict/persist.
    with _TBS_LOCK:
        while _TBS_CACHED:
            try:
                _TBS_CACHED.pop().unpersist(blocking=False)
            except Exception:
                pass
        scored = scored.persist()
        _TBS_CACHED.append(scored)
    hist = (
        scored.groupBy("quality")
        .agg(F.sum("n_tokens").alias("btoks"))
        .collect()
    )
    base = 0
    full, boundary_q, boundary_base = [], None, 0
    for row in sorted(hist, key=lambda r: -r["quality"]):
        if base + row["btoks"] <= budget_tokens:
            full.append(row["quality"])
        elif base < budget_tokens:
            boundary_q, boundary_base = row["quality"], base
        base += row["btoks"]
    kept = scored.filter(F.col("quality").isin(full) if full else F.lit(False))
    if boundary_q is not None:
        from pyspark.sql import Window

        w = (
            Window.partitionBy("quality")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        edge = (
            scored.filter(F.col("quality") == boundary_q)
            .withColumn(
                "__before",
                F.lit(boundary_base)
                + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
            )
            .filter(F.col("__before") < budget_tokens)
            .drop("__before")
        )
        kept = kept.unionByName(edge)
    return kept.select("doc_id", "quality", F.col("n_tokens").cast("int").alias("n_tokens"))


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document."""
    docs = spread(docs)
    cols = [docs[c] for c in docs.columns]
    return docs.select(
        *cols,
        rolling_fingerprint(tokens(F.col(text_col))).alias("fingerprint"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: overlapping token windows per document
    — the split step that feeds fixed-context training.  One row per
    (doc, chunk) with the chunk's text, token count and 0-based id.

    All JVM-side: tokenize once, generate the stride-spaced start
    offsets with ``sequence``, build every chunk inside one
    ``transform`` (slice + join), explode.  No UDF, no shuffle — the
    fan-out is per-row and bounded by ceil(n_tokens / stride)."""
    toked = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(F.lit(1), n, F.lit(stride)),
        lambda s: F.struct(
            ((s - F.lit(1)) / F.lit(stride)).cast("int").alias("chunk_id"),
            F.array_join(F.slice(toks, s, chunk_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), n - s + 1)
            .cast("int")
            .alias("n_tokens"),
        ),
    )
    g = toked.select(F.col(id_col), F.explode(chunks).alias("c"))
    return g.select(
        id_col, "c.chunk_id", "c.chunk_text", "c.n_tokens"
    )


def pack_token_bins(
    docs_with_tokens: DataFrame,
    budget: int = 2048,
    token_col: str = "ws_tokens",
    order_col: str = "doc_id",
    part_col: str = "lang",
) -> DataFrame:
    """Sample packing: assign documents to fixed token-budget bins by
    running total (deterministic order within each partition column) —
    the sequential greedy packer expressed as ONE cumulative window, so
    it scales as a single shuffle on the partition column."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return docs_with_tokens.withColumn(
        "bin", F.floor(cum_before / F.lit(budget)).cast("long")
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-RES, r9): each row gets priority
    ln(u)/w where u is a fixed md5-derived uniform in (0,1) per id and
    w its positive weight — the global top-n by priority is a weighted
    sample without replacement, with heavier rows proportionally more
    likely.  The source-weighting sampler a training-data mixture
    needs, with NO RNG state: membership is reproducible on any engine
    and any cluster size (same discipline as hash_split).

    Scale: the ln/divide is row-local codegen and the top-n compiles
    to TakeOrderedAndProject (per-partition heaps + driver merge of n
    rows) — no global sort, no shuffle of the corpus."""
    from ..functions.hashes import md5int

    # md5int is 15 hex digits -> [0, 2^60); +0.5 keeps u strictly
    # inside (0,1) so ln(u) is finite
    u = (md5int(F.col(id_col).cast("string")).cast("double") + 0.5) / float(
        1 << 60
    )
    key = F.log(u) / F.col(weight_col)
    return (
        docs.withColumn("__priority", key)
        .orderBy(F.col("__priority").desc())
        .limit(n)
        .drop("__priority")
    )


def hash_split(
    docs: DataFrame,
    train_pct: int = 95,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/validation split by id hash — stable across
    runs and engines (md5-based, no RNG state), uniform regardless of
    id distribution."""
    from ..functions.hashes import md5int

    return docs.withColumn(
        "split",
        F.when(
            md5int(F.col(id_col).cast("string")) % 100 < train_pct,
            F.lit("train"),
        ).otherwise(F.lit("val")),
    )


def enrich(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality features + language ID in ONE tokenize pass — the fused
    projection ``corpus_prep`` uses.  ``quality_score`` and
    ``language_id`` each stage their own token array; run back to back
    they tokenize the corpus twice.  At 100 TB that second pass is a
    full-corpus regex scan for nothing: this operator stages one token
    array and derives both the quality features and the per-language
    stopword scores from it.  Output = input columns + the
    ``quality_score`` feature columns + ``pred_lang``; the math is
    identical (same oracle formulations)."""
    t = F.col(text_col)
    langs = sorted(STOPWORDS)
    all_stop = F.array(*[F.lit(w) for ws in STOPWORDS.values() for w in ws])
    toked = spread(docs).select("*", tokens(t).alias("__toks"))

    def _hits(lg):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lg]])
        return F.size(
            F.filter(F.col("__toks"), lambda x: F.array_contains(arr, x))
        )

    feats = toked.select(
        "*",
        F.length(t).alias("__n_chars"),
        simple_token_count(t).alias("__n_tokens"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).alias(
            "__n_punct"
        ),
        F.size(
            F.filter(F.col("__toks"), lambda x: F.array_contains(all_stop, x))
        ).alias("__n_stop"),
        *[_hits(lg).alias(f"__s_{lg}") for lg in langs],
    )
    n_chars, n_toks = F.col("__n_chars"), F.col("__n_tokens")
    punct, stop_hits = F.col("__n_punct"), F.col("__n_stop")
    mean_tok_len = (n_chars - (n_toks - 1)) / n_toks.cast("double")
    score = (
        F.when((n_toks >= 5) & (n_toks <= 100000), 0.4).otherwise(0.0)
        + F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct / n_chars.cast("double") <= 0.2, 0.2).otherwise(0.0)
        + F.when(stop_hits > 0, 0.1).otherwise(0.0)
    )
    best = F.greatest(*[F.col(f"__s_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):
        pred = F.when(F.col(f"__s_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    cols = [feats[c] for c in docs.columns]
    return feats.select(
        *cols,
        n_toks.alias("n_tokens"),
        punct.alias("n_punct"),
        stop_hits.alias("n_stopwords"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(score, 2).alias("quality"),
        pred.alias("pred_lang"),
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval (Lucene idf variant) over the corpus.

    Plan shape, chosen for 100 TB:
    - one tokenize pass computes per-doc term frequency AND doc length
      together (length rides through the explode, F.first() in the
      same aggregate — no second scan, no join back for lengths);
    - the explode is filtered to the query terms BEFORE the tf
      aggregate, so the shuffle carries only |Q| terms' worth of rows,
      not the whole token stream;
    - corpus stats (N, avgdl) and per-term document frequencies are
      one-row / |Q|-row aggregates broadcast back — never collected;
    - idf uses ln((N - df + 0.5) / (df + 0.5) + 1), non-negative for
      any df, the same formula the oracle computes in SQL.

    At index-serving scale this pairs with the doc_postings inverted
    index (term-bucketed point reads); here the scan-side expression
    path is what's exercised, end-to-end oracle-checkable.

    Multiset queries: standard BM25 sums PER QUERY-TERM OCCURRENCE, so
    a term repeated in the query contributes once per repetition — the
    isin filter + groupBy(term) below naturally dedupes, so each
    term's weight is multiplied by its query multiplicity (a tiny
    broadcast literal map), matching textbook/Lucene scoring."""
    from collections import Counter

    qc = Counter(query_terms)
    q = list(qc)
    toked = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).select(id_col, "__toks", F.size("__toks").alias("dl"))

    stats = toked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    tf = (
        toked.select(id_col, "dl", F.explode("__toks").alias("term"))
        .filter(F.col("term").isin(q))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    if any(c > 1 for c in qc.values()):
        qmult = F.create_map(
            *[F.lit(x) for t, c in qc.items() for x in (t, float(c))]
        )
        scored = scored.withColumn("w", F.col("w") * qmult[F.col("term")])
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("w"), 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_k)
    )


def bm25_rank_from_index(
    idx: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bm25_rank` served from the PERSISTED shingle index (r14
    — the tf columns added for the LM scorer serve retrieval too):
    the width-1 partition's (doc_id, sh, m) rows ARE the per-doc term
    frequencies and Σm per doc IS the document length, so ranked
    retrieval never tokenizes the corpus.

    Plan shape: query terms hash driver-side with the index's own
    xxhash64 (one tiny local job — the IVF-router discipline), then
    ONE combine-enabled groupBy over the LIST-pruned width-1
    partition produces dl and per-query-term tf together (|Q| pivoted
    conditional sums — no join for lengths, no second scan); corpus
    stats AND per-term document frequencies reduce to a single
    broadcast row; scoring is row-local arithmetic.

    When it wins, honestly: the index pass reads ~16 narrow bytes per
    DISTINCT token against the inline path's text bytes + regex split
    + explode, so the trade favors the index as documents get longer
    and more repetitive (tf folds repeats into one row) — the
    long-document corpora where BM25 retrieval actually runs.  On the
    fixture's short synthetic docs the index has roughly as many rows
    as the corpus has tokens and the inline path is competitive
    (BENCHNOTES_r14 §7); the structural win that holds at every shape
    is that the CORPUS TEXT never moves and re-ranking N queries
    amortizes one publish-time pass.

    Scores are the same doubles the inline path computes (same tf,
    df, dl, avgdl, same Lucene idf), rounded 4dp — identical results,
    same oracle (pinned in tests/test_llm_ops.py)."""
    from collections import Counter

    qc = Counter(query_terms)
    terms = list(qc)
    spark = idx.sparkSession
    hashes = [
        r["sh"]
        for r in spark.createDataFrame(
            [(t,) for t in terms], "qterm string"
        )
        .select(F.xxhash64("qterm").alias("sh"))
        .collect()
    ]
    w1 = idx.filter(F.col("n") == 1).select(id_col, "sh", "m")
    # dl and the |Q| term frequencies in ONE pass: a conditional sum
    # per query term pivots the posting rows row-locally before the
    # combine — a term absent from a doc aggregates to NULL.
    # (No spread here: the map side is already a combine-enabled
    # aggregate of narrow rows — a round-robin repartition would
    # shuffle the whole partition to parallelize work cheaper than
    # the shuffle itself; measured slower at fixture scale.)
    per = w1.groupBy(id_col).agg(
        F.sum("m").alias("dl"),
        *[
            F.sum(F.when(F.col("sh") == F.lit(h), F.col("m"))).alias(
                f"__tf{i}"
            )
            for i, h in enumerate(hashes)
        ],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.count(F.col(f"__tf{i}")).alias(f"__df{i}")
            for i in range(len(hashes))
        ],
    )
    joined = per.crossJoin(F.broadcast(stats))

    def _w(i: int) -> F.Column:
        tf = F.col(f"__tf{i}").cast("double")
        df_ = F.col(f"__df{i}")
        idf = F.log(
            (F.col("n_docs") - df_ + 0.5) / (df_ + 0.5) + 1.0
        )
        w = (
            idf
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
        if qc[terms[i]] > 1:
            w = w * float(qc[terms[i]])
        return F.when(F.col(f"__tf{i}").isNotNull(), w).otherwise(
            F.lit(0.0)
        )

    score = _w(0)
    for i in range(1, len(hashes)):
        score = score + _w(i)
    return (
        joined.filter(
            F.coalesce(
                *[F.col(f"__tf{i}") for i in range(len(hashes))]
            ).isNotNull()
        )
        .select(id_col, F.round(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(top_k)
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_pct: int = 10,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified downsampling: each stratum keeps
    ``rates[stratum]`` percent of its rows (``default_pct`` for
    unlisted strata), membership decided by id hash — the data-mixing
    primitive for training pipelines (e.g. downweight a dominant
    language without an RNG whose state would make reruns drift).

    md5-based like hash_split, so membership is reproducible across
    runs, engines, partitionings, and cluster sizes — and therefore
    oracle-checkable.  One codegen'd filter, no sampling pass, no
    per-stratum job."""
    from ..functions.hashes import md5int

    pct = F.lit(default_pct)
    for s, r in sorted(rates.items()):
        pct = F.when(F.col(stratum_col) == s, F.lit(r)).otherwise(pct)
    return docs.filter(md5int(F.col(id_col).cast("string")) % 100 < pct)


def string_similarity_join(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_df: int = 200,
) -> DataFrame:
    """Gram-blocked string-similarity SELF-join: candidate pairs from
    a shared character q-gram (inverted posting join with a
    document-frequency cap on stop-grams), a length filter
    (|len(a)-len(b)| <= max_dist is necessary for edit distance
    <= max_dist), then exact Levenshtein verification — the classic
    blocking+verify similarity-join shape (e.g. q-gram filtering in
    Gravano et al., VLDB 2001).

    Blocking semantics are part of the operator contract (the oracle
    applies the SAME blocking): a pair is emitted iff it shares at
    least one sub-cap q-gram AND passes the distance bound.  Gram
    survival guarantees recall when len >= (max_dist+1)*q; the df cap
    bounds the worst gram's O(df^2) fan-out — the same stop-shingle
    device as the n-gram dedup family, which is what keeps the join
    O(N·grams) instead of O(N^2) at corpus scale.

    Returns (id_a, id_b, name_a, name_b, dist).
    """
    s = F.col(col)
    grams = F.array_distinct(
        F.when(
            F.length(s) >= q,
            F.transform(
                F.sequence(F.lit(1), F.length(s) - F.lit(q - 1)),
                lambda i: s.substr(i, F.lit(q)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    posting = df.select(
        F.col(id_col), s.alias("__name"), F.explode(grams).alias("__g")
    )
    gdf = posting.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    posting = posting.join(
        gdf.filter(F.col("__df") <= max_df).select("__g"), "__g"
    )
    a = posting.select(
        F.col(id_col).alias("id_a"), F.col("__name").alias("name_a"), "__g"
    )
    b = posting.select(
        F.col(id_col).alias("id_b"), F.col("__name").alias("name_b"), "__g"
    )
    cand = (
        a.join(b, ["__g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
    )
    return (
        cand.filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.col("dist").cast("int").alias("dist"),
        )
    )


# PII scrub patterns: deliberately simple, deterministic, and written
# in the regex subset Java (Spark) and RE2 (DuckDB) evaluate
# identically — no backrefs, no lookaround, no \b-dependent dialect
# differences at pattern edges.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("longnum", r"[0-9]{9,}", "<NUM>"),
]


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based PII redaction: replace every email / IPv4 / long
    digit-run match with a typed placeholder and count redactions per
    category.  Patterns apply in declaration order (email before
    longnum, so a digit-heavy local-part is consumed as <EMAIL>, not
    split).  Returns the input columns with ``text`` scrubbed plus
    ``n_<category>`` counts and ``n_redactions``.

    100 TB posture: strictly ROW-LOCAL regexp_replace /
    regexp_extract_all column expressions — zero shuffles, zero UDFs,
    parallelizes by input split."""
    out = docs
    counts = []
    scrubbed = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0))),
        )
        counts.append(F.col(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return out.withColumn(text_col, scrubbed).withColumn(
        "n_redactions", total
    )


def mixture_sample(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic mixture re-balancing: down-sample each source
    toward the UNIFORM target share so no source dominates the
    training mix.  A document survives iff

        md5int(id) % scale  <  (scale * total) // (n_sources * n_s)

    i.e. a deterministic per-doc uniform draw against the per-source
    keep rate min(1, total / (n_sources * n_s)), with the threshold
    computed in EXACT INTEGER arithmetic — no float rounding can flip
    a boundary doc between engines (the oracle evaluates the identical
    floor-division inequality in BIGINT).  Per-source thresholds are
    derived DRIVER-side from the per-source count aggregate (one tiny
    combine-enabled job; arbitrary-precision Python ints, so no
    overflow at any corpus size) and broadcast back; the filter itself
    is row-local — the corpus never shuffles.

    NULL-group semantics (matches the SQL oracle exactly): documents
    whose group value is NULL are EXCLUDED — from the group count, the
    totals, and the output (SQL's count(DISTINCT) and equi-join
    semantics both ignore NULL, so including them anywhere would shift
    every threshold relative to the oracle).

    Returns the surviving documents.
    """
    from ..functions.hashes import md5int

    _, thr_df = _mixture_thresholds(docs, source_col, scale)
    u = md5int(F.col(id_col).cast("string")) % F.lit(scale)
    return (
        docs.join(F.broadcast(thr_df), on=source_col)
        .filter(u < F.col("__thr"))
        .drop("__thr")
    )


def _mixture_thresholds(
    docs: DataFrame, source_col: str, scale: int
) -> tuple[dict, DataFrame]:
    """Driver-side per-group counts + the broadcastable threshold
    frame — one tiny aggregate job shared by mixture_sample and
    mixture_summary.  NULL groups are dropped (see mixture_sample);
    the threshold frame's key column keeps the input's type (a
    hardcoded string schema broke non-string group columns)."""
    counts = {
        r[source_col]: r["__ns"]
        for r in docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__ns"))
        .collect()
        if r[source_col] is not None
    }
    n_sources = len(counts)
    total = sum(counts.values())
    thr = [
        (s, (scale * total) // (n_sources * ns))
        for s, ns in counts.items()
    ]
    from pyspark.sql import types as T

    src_type = docs.schema[source_col].dataType
    thr_df = docs.sparkSession.createDataFrame(
        thr,
        T.StructType(
            [
                T.StructField(source_col, src_type),
                T.StructField("__thr", T.LongType()),
            ]
        ),
    )
    return counts, thr_df


def mixture_summary(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-source audit of ``mixture_sample``: original count, kept
    count, and the effective keep rate (rounded) — the small frame a
    pipeline logs to show the achieved mix.  The original counts come
    from the SAME driver-side aggregate the thresholds derive from (no
    second full-corpus pass); NULL groups are excluded like
    mixture_sample excludes them."""
    from ..functions.hashes import md5int

    counts, thr_df = _mixture_thresholds(docs, source_col, scale)
    u = md5int(F.col(id_col).cast("string")) % F.lit(scale)
    kept = (
        docs.join(F.broadcast(thr_df), on=source_col)
        .filter(u < F.col("__thr"))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    from pyspark.sql import types as T

    orig = docs.sparkSession.createDataFrame(
        [(s, n) for s, n in counts.items()],
        T.StructType(
            [
                T.StructField(
                    source_col, thr_df.schema[source_col].dataType
                ),
                T.StructField("n_docs", T.LongType()),
            ]
        ),
    )
    return (
        orig.join(F.broadcast(kept), on=source_col, how="left")
        .select(
            source_col,
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(
                F.coalesce("n_kept", F.lit(0)) / F.col("n_docs"), 6
            ).alias("kept_frac"),
        )
    )


def dsir_gram_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """DSIR's feature space: distinct word unigrams ∪ bigrams per
    document, one (id, gram) row each — the hashed-ngram bag of Xie
    et al. 2023 with the hash left off (grams join by value, so the
    DuckDB oracle needs no hash replication; at 100 TB swap the join
    key for xxhash64(gram) — same plan shape, smaller shuffle)."""
    from .dedup import gram_array

    toked = spread(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    grams = F.array_union(
        F.array_distinct(F.col("__toks")),
        gram_array(F.col("__toks"), 2),
    )
    g = toked.select(F.col(id_col), grams.alias("__g"))
    return g.select(F.col(id_col), F.explode("__g").alias("gram"))


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), deterministic top-k variant: score every raw document by
    the log likelihood ratio of a TARGET n-gram model over the RAW
    model and keep the k highest-scoring docs — "give me the k raw
    documents that look most like the target distribution", the
    standard pretraining-data selection step when a quality corpus
    (or an eval-adjacent domain) defines what "good" looks like.

    Model: distinct unigram+bigram features; add-1-smoothed gram
    probabilities over the union vocabulary V;
    λ(g) = ln((t_g+1)/(T+|V|)) − ln((r_g+1)/(R+|V|));
    score(doc) = Σ_{g ∈ doc} λ(g).  The published method then samples
    with Gumbel noise ∝ score; the deterministic top-k (ties by
    doc_id) is the oracle-checkable variant — add
    ``F.rand(seed)``-free Gumbel keys at the call site if sampled
    selection is wanted.

    Plan shape for 100 TB: two tokenize passes over the raw corpus
    (one for counts, one for scoring — persist the gram frame at the
    call site to trade memory for the second pass) and one over the
    tiny target; gram counts are combine-enabled aggregates; λ joins
    doc grams on the gram key (co-partitioned — both sides shuffle
    once on the same key); the per-doc score is one more combine
    aggregate and the global top-k is a real TakeOrderedAndProject
    (orderBy + limit), never an all-rows single-partition window —
    rank attaches afterwards over the ≤k surviving rows.  The scalar
    totals (T, R, |V|) ride in as one tiny cross-joined literal row.

    Returns (id, n_grams, score, rank), score rounded to 6dp (the
    rounded-cut discipline: the k-boundary is decided on the rounded
    value so float summation order can't flip membership vs the
    oracle).
    """
    raw_g = dsir_gram_features(docs, text_col, id_col)
    tgt_g = dsir_gram_features(target, text_col, id_col)
    return dsir_select_from_grams(raw_g, tgt_g, k=k, id_col=id_col)


def dsir_select_from_grams(
    raw_g: DataFrame,
    tgt_g: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    gram_cols: tuple[str, ...] = ("gram",),
) -> DataFrame:
    """DSIR scoring over pre-materialized gram frames — the serving
    path when the (id, gram) rows come from the publish-time shingle
    index (``shingle_index`` artifact widths 1/2) instead of an
    inline tokenize: the corpus is never re-tokenized at query time,
    only the index's posting rows are aggregated and joined.

    ``gram_cols`` is the gram identity — ``("n", "sh")`` for the
    hashed index (keeping ``n`` in the key makes cross-width hash
    collisions impossible), ``("gram",)`` for inline string grams.
    Counts, λ, and scores are then identical to string grams UP TO
    within-width xxhash64 collisions: two distinct same-width grams
    colliding under the 64-bit hash would merge their counts (and
    silently diverge from a string-gram oracle).  At ~2^-64 per pair
    this is birthday-bounded at ~1e-8 even for a 10^9-gram vocabulary
    — accepted, same as every hashed-shingle consumer of the index."""
    from pyspark.sql import Window

    gcols = list(gram_cols)
    r_cnt = raw_g.groupBy(*gcols).agg(F.count(F.lit(1)).alias("r"))
    t_cnt = tgt_g.groupBy(*gcols).agg(F.count(F.lit(1)).alias("t"))
    vocab = r_cnt.join(t_cnt, gcols, "full_outer").select(
        *gcols,
        F.coalesce("r", F.lit(0)).alias("r"),
        F.coalesce("t", F.lit(0)).alias("t"),
    )
    totals = vocab.agg(
        F.sum("r").alias("__rt"),
        F.sum("t").alias("__tt"),
        F.count(F.lit(1)).alias("__v"),
    )
    lam = vocab.crossJoin(F.broadcast(totals)).select(
        *gcols,
        (
            F.log((F.col("t") + 1) / (F.col("__tt") + F.col("__v")))
            - F.log((F.col("r") + 1) / (F.col("__rt") + F.col("__v")))
        ).alias("lam"),
    )
    scored = (
        raw_g.join(lam, gcols)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_grams"),
            F.round(F.sum("lam"), 6).alias("score"),
        )
    )
    # global top-k as TakeOrderedAndProject; the rank window then
    # runs over only the k survivors (single tiny partition)
    top = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def bigram_lm_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style language-model quality signal (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets" — documents
    are ranked by LM perplexity and the worst tail dropped): score
    every document under a corpus-trained bigram LM with add-one
    smoothing,  lp(w1,w2) = ln((c(w1,w2)+1) / (c(w1)+V)).

    Training and inference in one LINEAR pipeline: one per-(doc,
    bigram) combine aggregate carries multiplicity ``m``, the corpus
    count c12 is a window sum over (w1, w2) on that frame, and the
    document score is Σ m·lp(bg) — the bigram explode runs exactly
    once (the r9 shape aggregated raw bigram rows on one branch and
    joined raw rows back on the other, re-exploding the corpus).
    The unigram/vocab tables are vocabulary-sized -> broadcast; the
    window shuffles on the high-cardinality (w1,w2) key, and the
    combine caps any one bigram's window partition at the document
    count (stop-bigram skew shrinks by the in-doc multiplicity — at
    100 TB salt the window key for stop-bigrams and merge the salted
    partials, same two-level discipline).  No Python UDFs anywhere.

    Determinism across engines: each bigram's log-prob is rounded to
    6dp and cast to DECIMAL(18,6), so the per-document sum is EXACT
    fixed-point (order-independent); the per-token average is emitted
    as integer micro-nats (round of an exact-integer/int division) —
    no float-average rounding boundary can flip a row vs the oracle.

    Returns (id_col, n_bigrams, sum_logprob, avg_lp_micro); documents
    with fewer than two tokens carry no bigram and drop out, matching
    the oracle's ``len(arr) >= 2`` filter.

    Tokenization is :func:`functions.textfns.tokens` (trim + ``\\s+``
    split) — the SAME definition the shingle index builds from, so
    :func:`bigram_lm_scores_from_index` is row-identical on ANY
    corpus, including multi-space/trailing-whitespace text (r14
    review: the previous raw split-on-space here made the index/
    inline twins agree only on perfectly single-spaced corpora; the
    oracle tokenizes with ``string_split_regex(trim(text), '\\s+')``
    to match).
    """
    arr = tokens(F.col(text_col))
    w = docs.select(F.col(id_col), arr.alias("__w"))
    uni = (
        w.select(F.explode("__w").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bg_col = F.when(
        F.size("__w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__w") - 2),
            lambda i: F.struct(
                F.element_at("__w", i + 1).alias("w1"),
                F.element_at("__w", i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = w.select(id_col, F.explode(bg_col).alias("bg")).select(
        id_col, "bg.w1", "bg.w2"
    )
    from pyspark.sql import Window

    # the shared combine: one row per (doc, bigram) with multiplicity;
    # the corpus count c12 is a WINDOW sum over it, so training and
    # inference are one linear pipeline — the bigram explode runs
    # exactly once (the r9 shape aggregated raw bigram rows on one
    # branch and joined raw rows on the other, re-exploding the corpus)
    dbg = bi.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("m")
    )
    counted = dbg.withColumn(
        "c12", F.sum("m").over(Window.partitionBy("w1", "w2"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("__V"))
    scored = (
        counted.join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.col("m"),
            F.round(
                F.log(
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("__V")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return _lm_score_tail(scored, id_col)


def _lm_score_tail(scored: DataFrame, id_col: str) -> DataFrame:
    """Shared fixed-point aggregation tail of the two LM scorers:
    (id, m, lp DECIMAL(18,6)) -> (id, n_bigrams, sum_logprob,
    avg_lp_micro) — exact integer micro-nats, order-independent."""
    agg = scored.groupBy(id_col).agg(
        F.sum("m").cast("int").alias("n_bigrams"),
        (F.sum(F.col("m") * F.col("lp")) * 1000000)
        .cast("long")
        .alias("__micro"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        (F.col("__micro").cast("double") / 1000000.0).alias("sum_logprob"),
        F.round(F.col("__micro").cast("double") / F.col("n_bigrams"), 0)
        .cast("long")
        .alias("avg_lp_micro"),
    )


def bigram_lm_scores_from_index(
    idx: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`bigram_lm_scores` served from the PERSISTED shingle
    index (r14 / VERDICT r13 task 4): the index's width-1/2 rows
    carry term frequency ``m`` and (width 2) the first word's hash
    ``sh1`` (indexes.shingle_rows_from tf_widths), which is exactly
    the per-(doc, bigram) combine frame the inline path builds from
    raw text — so the corpus is never tokenized at query time and
    the two width partitions are all the plan reads (LIST-partition
    pruned).

    Identity map: c(w1) = Σm over the width-1 rows of sh(w1); V =
    count of distinct width-1 hashes; c(w1,w2) = window Σm over the
    width-2 rows of sh(bigram); document score = Σ m·lp.  Counts are
    gram-for-gram those of the inline path (the xxhash64 gram
    identity is count-equivalent to string grams — the DSIR
    argument; a 64-bit collision merging two distinct grams would
    perturb a smoothed count, acceptable for a quality SIGNAL and
    astronomically unlikely below billions of distinct grams).  Same
    6dp/DECIMAL(18,6)/micro-nat tail, so the result is row-identical
    to the inline path and shares its oracle (pinned in
    tests/test_llm_ops.py).

    Scale shape: one broadcast of the vocab-sized unigram counts, one
    window over the bigram-hash key (per-doc combine already done at
    build time caps stop-bigram skew), zero tokenize — the dsir_sample
    class."""
    from pyspark.sql import Window

    uni = (
        idx.filter(F.col("n") == 1)
        .groupBy("sh")
        .agg(F.sum("m").alias("c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("__V"))
    bi = idx.filter(F.col("n") == 2).select(id_col, "sh", "sh1", "m")
    counted = bi.withColumn(
        "c12", F.sum("m").over(Window.partitionBy("sh"))
    )
    scored = (
        counted.join(
            F.broadcast(
                uni.select(F.col("sh").alias("sh1"), "c1")
            ),
            "sh1",
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.col("m"),
            F.round(
                F.log(
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("__V")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    return _lm_score_tail(scored, id_col)


# fastText-style classifier geometry: 2^12 hashed feature buckets keeps
# the bucket id inside exact 64-bit arithmetic everywhere, and the
# Knuth multiplicative constant derives a fixed pseudo-random weight
# per bucket.  Weights are dyadic rationals (k/2^16 - 1/2), so any
# per-document sum of a few thousand of them is EXACT in a double —
# summation order cannot perturb the score.
_CLS_HASH_MOD = 1000003
_CLS_BUCKETS = 4096
_CLS_KNUTH = 2654435761


def _cls_token_hash(tok: F.Column) -> F.Column:
    """Polynomial rolling hash (h*31 + ord) mod 1000003 — chosen over
    FNV-1a because it stays inside non-overflowing BIGINT range in
    both Spark's ANSI mode and the DuckDB oracle (products are
    < 2^45), no unsigned wrap emulation needed.

    The empty-string filter pins the EMPTY-TOKEN case to the oracle:
    ``F.split('', '')`` yields ``['']`` whose ``ascii('') = 0`` would
    fold once (hash 217), while DuckDB's ``range(1, length+1)`` over
    an empty token folds zero times (hash 7 — the seed).  Documents
    with doubled/leading/trailing spaces produce empty tokens, so
    without the filter their buckets diverge cross-engine (r9 review
    finding; regression-tested on a double-spaced doc)."""
    return F.aggregate(
        F.filter(F.split(tok, ""), lambda c: c != ""),
        F.lit(7).cast("long"),
        lambda h, c: (h * 31 + F.ascii(c)) % _CLS_HASH_MOD,
    )


def hashed_classifier_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Model-based quality filtering: linear classifier inference over
    hashed bag-of-words features (the fastText architecture of Joulin
    et al. 2016, "Bag of Tricks for Efficient Text Classification" —
    the quality-filter stage of GPT-3/PaLM-class data pipelines runs
    exactly this shape: hash tokens into buckets, average bucket
    weights, squash).

    The model here is a fixed deterministic weight table derived from
    the bucket id (so the operator is oracle-checkable end to end);
    swapping in trained weights is a broadcast-join or a literal-map
    substitution — the plan does not change.  Everything is in-row
    built-in expressions (split -> transform -> aggregate fold):
    ZERO shuffles, zero Python, whole-stage codegen end to end —
    at 100 TB this is a pure map stage pipelined into whatever
    follows.

    Returns (id_col, n_tokens, raw_score, quality_prob, keep);
    ``keep`` compares the EXACT dyadic sum against 0 (sign of the
    logit), so the cut cannot flip on float rounding.
    """
    toks = F.split(F.col(text_col), " ")

    def weight(tok: F.Column) -> F.Column:
        bucket = _cls_token_hash(tok) % _CLS_BUCKETS
        return ((bucket * _CLS_KNUTH) % 65536).cast("double") / 65536.0 - 0.5

    raw = F.aggregate(
        F.transform(toks, weight), F.lit(0.0), lambda acc, x: acc + x
    )
    n = F.size(toks)
    score = raw / n
    return docs.select(
        id_col,
        n.cast("int").alias("n_tokens"),
        F.round(score, 6).alias("raw_score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-score)), 6).alias(
            "quality_prob"
        ),
        (raw >= 0).alias("keep"),
    )


def vocab_oov_rates(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-coverage signal: per-document out-of-vocabulary rate
    against the corpus's own top-``k`` unigram vocabulary — the cheap
    proxy for "how much of this document will a fixed tokenizer
    shatter into rare pieces" that pipelines use to flag encoding
    junk, wrong-language residue, and OCR noise before paying for
    model-based scoring.

    Vocabulary = top-k unigrams by (count DESC, word ASC) — the tie
    order makes the cut deterministic.  Plan: one token-keyed count
    aggregate, a driver-light ``TakeOrderedAndProject`` for the top-k,
    then a BROADCAST left join (the vocab is k rows at any corpus
    size) and one per-document aggregate.  The oov_rate division is
    exact-int/exact-int in a double — no rounding step, so no
    cross-engine rounding boundary exists.

    Returns (id_col, n_tokens, oov_tokens, oov_rate).
    """
    toks_e = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    counts = toks_e.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    top = (
        counts.orderBy(F.col("c").desc(), F.col("w"))
        .limit(k)
        .select("w", F.lit(1).alias("__v"))
    )
    return (
        toks_e.join(F.broadcast(top), "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .cast("int")
            .alias("oov_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "oov_tokens",
            (F.col("oov_tokens").cast("double") / F.col("n_tokens")).alias(
                "oov_rate"
            ),
        )
    )


def temperature_mixture_summary(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture sampling at T = 0.5: target shares
    proportional to n_s^0.5 instead of uniform — the standard
    multilingual/multi-source rebalancing (smaller sources keep a
    LARGER fraction, hot sources are damped, but the mix never goes
    fully uniform).  Target kept total = half the corpus.

    T = 0.5 specifically because it is the one temperature whose
    weights stay EXACTLY reproducible across engines without float
    policy: w_s = floor(sqrt(n_s * weight_scale)) — both Python's
    C sqrt and the oracle's sqrt are correctly rounded on these
    magnitudes, so the floor is identical — and every threshold is
    then pure integer arithmetic,

        thr_s = min(scale, (scale * (total//2) * w_s) // (W * n_s)),

    evaluated with arbitrary-precision Python ints driver-side (no
    overflow at any corpus size; the SQL oracle needs HUGEINT).  A
    document survives iff md5int(id) % scale < thr_s — the same
    deterministic uniform draw as :func:`mixture_sample`.

    Plan: one per-source count aggregate (tiny, combine-enabled),
    thresholds broadcast back, row-local filter, one summary
    aggregate.  The corpus never shuffles.

    Returns (source_col, n_docs, n_kept, kept_frac) per source.
    """
    import math

    from pyspark.sql import types as T

    from ..functions.hashes import md5int

    counts = {
        r[source_col]: r["__ns"]
        for r in docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__ns"))
        .collect()
        if r[source_col] is not None
    }
    total = sum(counts.values())
    ws = {
        s: int(math.floor(math.sqrt(ns * float(weight_scale))))
        for s, ns in counts.items()
    }
    wtot = sum(ws.values())
    target = total // 2
    src_type = docs.schema[source_col].dataType
    thr_df = docs.sparkSession.createDataFrame(
        [
            (s, min(scale, (scale * target * ws[s]) // (wtot * ns)))
            for s, ns in counts.items()
        ],
        T.StructType(
            [
                T.StructField(source_col, src_type),
                T.StructField("__thr", T.LongType()),
            ]
        ),
    )
    u = md5int(F.col(id_col).cast("string")) % F.lit(scale)
    kept = (
        docs.join(F.broadcast(thr_df), on=source_col)
        .filter(u < F.col("__thr"))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    orig = docs.sparkSession.createDataFrame(
        [(s, n) for s, n in counts.items()],
        T.StructType(
            [
                T.StructField(source_col, src_type),
                T.StructField("n_docs", T.LongType()),
            ]
        ),
    )
    return orig.join(F.broadcast(kept), on=source_col, how="left").select(
        source_col,
        "n_docs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(
            F.coalesce("n_kept", F.lit(0)) / F.col("n_docs").cast("double"),
            6,
        ).alias("kept_frac"),
    )


_DEC6 = "decimal(18,6)"


def naive_bayes_train_hashed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    positive: str = "en",
) -> DataFrame:
    """TRAIN the quality classifier in-engine: multinomial Naive
    Bayes over hashed bag-of-words features — the standard baseline
    text quality/domain classifier, and the one whose training is
    CLOSED FORM, which is what makes in-engine training both fast and
    oracle-checkable (no iterations, no learning rate, no convergence
    question; a full-batch GD logreg was prototyped first and
    rejected — on this near-single-vocabulary corpus its gradient
    dynamics degenerate to the majority class at some scale factors).

    Weights are add-one-smoothed log count ratios,

        w_b = round(ln( ((c_{b,+}+1)/(T_+ +V)) /
                        ((c_{b,-}+1)/(T_- +V)) ), 6)

    with the class prior ln(N_+/N_-) emitted as the intercept row
    ``bucket = -1``.  Training is two hash aggregates (per-(bucket,
    class) token counts with map-side combine + one scalar totals
    row broadcast back) over one corpus pass — at 100 TB this is a
    token-keyed count job, nothing more.  Inference
    (:func:`nb_confusion`, or serving via a broadcast join) sums
    integer counts times 6dp-decimal weights — EXACT arithmetic, so
    the predicted class cannot flip on float rounding.

    Returns (bucket, weight) incl. the bucket=-1 intercept.
    """
    tb = docs.select(
        F.col(id_col),
        F.when(F.col(label_col) == positive, 1).otherwise(0).alias("y"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        id_col,
        "y",
        (_cls_token_hash(F.col("tok")) % _CLS_BUCKETS).alias("bucket"),
    )
    bc = tb.groupBy("bucket").agg(
        F.sum("y").alias("cp"),
        F.sum(F.lit(1) - F.col("y")).alias("cn"),
    )
    # r14 optimization: derive the token totals FROM the per-bucket
    # counts instead of a second aggregate over the exploded token
    # frame — Σ cp ≡ Σ y, Σ cn ≡ Σ (1-y), count(bc) ≡ the distinct
    # bucket count, all exact bigint identities, and the bc exchange
    # is shared (ReuseExchange), so the corpus is tokenized ONCE per
    # training run instead of twice.  The doc-level class counts need
    # no tokens at all — one count over the raw rows (filtered to
    # non-null text to match the exploded frame's row set exactly:
    # explode(split(NULL)) drops the row, explode(split('')) keeps
    # one empty token).
    tok_totals = bc.groupBy().agg(
        F.sum("cp").alias("__tp"),
        F.sum("cn").alias("__tn"),
        F.count(F.lit(1)).alias("__v"),
    )
    doc_totals = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.when(F.col(label_col) == positive, 1).otherwise(0).alias("y"),
            F.col(id_col),
        )
        .groupBy()
        .agg(
            F.countDistinct(F.when(F.col("y") == 1, F.col(id_col))).alias(
                "__np"
            ),
            F.countDistinct(F.when(F.col("y") == 0, F.col(id_col))).alias(
                "__nn"
            ),
        )
    )
    totals = tok_totals.crossJoin(F.broadcast(doc_totals))
    w = (
        bc.crossJoin(F.broadcast(totals))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.round(
                F.log(
                    (
                        (F.col("cp") + 1).cast("double")
                        / (F.col("__tp") + F.col("__v"))
                    )
                    / (
                        (F.col("cn") + 1).cast("double")
                        / (F.col("__tn") + F.col("__v"))
                    )
                ),
                6,
            ).alias("weight"),
        )
    )
    prior = totals.select(
        F.lit(-1).cast("int").alias("bucket"),
        F.round(
            F.log(F.col("__np").cast("double") / F.col("__nn")), 6
        ).alias("weight"),
    )
    return w.unionByName(prior)


def nb_confusion(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    positive: str = "en",
) -> DataFrame:
    """Training-set confusion matrix of a trained NB model: per-doc
    margin = prior + sum(count_b * w_b) in EXACT decimal arithmetic
    (integer counts x 6dp weights), pred = margin > 0.  Returns
    (y, pred, n) — at most 4 rows at any corpus size."""
    cnt = (
        docs.select(
            F.col(id_col),
            F.when(F.col(label_col) == positive, 1).otherwise(0).alias(
                "y"
            ),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select(
            id_col,
            "y",
            (_cls_token_hash(F.col("tok")) % _CLS_BUCKETS).alias("bucket"),
        )
        .groupBy(id_col, "y", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdec = weights.filter(F.col("bucket") >= 0).select(
        "bucket", F.col("weight").cast(_DEC6).alias("w")
    )
    prior = weights.filter(F.col("bucket") == -1).select(
        F.col("weight").cast(_DEC6).alias("__prior")
    )
    # LEFT join + coalesce: a document whose tokens all hash to
    # buckets absent from the model (possible when evaluating held-out
    # data under foreign weights) classifies from the PRIOR alone
    # instead of silently vanishing from the matrix (r9 review
    # finding; the per-class counts must always sum to the evaluated
    # document count).  On the training corpus every bucket is in the
    # weights, so the declared query's result is unchanged.
    zero = F.lit(0).cast(_DEC6)
    m = (
        cnt.join(F.broadcast(wdec), "bucket", "left")
        .groupBy(id_col, "y")
        .agg(
            F.sum(F.col("c") * F.coalesce(F.col("w"), zero)).alias("__wsum")
        )
        .crossJoin(F.broadcast(prior))
        .select(
            "y",
            ((F.col("__wsum") + F.col("__prior")) > 0).alias("pred"),
        )
    )
    return m.groupBy("y", "pred").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )


def corpus_drift_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dataset-shift monitoring: total-variation distance between the
    unigram distributions of two deterministic halves of the corpus
    (md5 doc-id split — in production the two sides are adjacent
    publishes or train-vs-incoming batches; the statistic is the
    standard drift alarm a training pipeline fires before a bad batch
    reaches the trainer).

    Distributions are add-one smoothed over the union vocabulary,
    p_s(w) = (c_{s,w}+1)/(T_s+V) with D_s = T_s+V.  Then
    TVD = Σ_w |p_a(w) − p_b(w)| / 2
        = Σ_w |(c_a+1)·D_b − (c_b+1)·D_a| / (2·D_a·D_b),
    whose numerator is a pure-INTEGER sum — computed here in
    DECIMAL(38,0) (no float, no libm anywhere), then rounded
    half-up to the 1e-6 grid by integer arithmetic:
    tvd_micros = (num·10^6 + D_a·D_b) div (2·D_a·D_b).  Earlier
    rounds shipped symmetric-KL here and were hash-red twice: the
    per-word log() terms differ by ulps across libm builds, and a
    vocabulary-sized sum of ulp wobbles can cross any rounding grid.
    TVD carries the same drift signal (Pinsker: TVD ≤ sqrt(KL/2))
    and is exactly rational, so every engine agrees bit-for-bit.

    Plan: one token-count aggregate keyed (word, side) with map-side
    combine, a scalar totals row broadcast back, vocabulary-sized
    integer arithmetic, one output row.  At 100 TB this is a
    word-keyed count job.  tvd_micros ∈ [0, 10^6] so BIGINT output
    never overflows at any corpus size; intermediates stay within
    DECIMAL(38,0) up to ~10^15 tokens per side.

    Returns one row (n_words, tokens_a, tokens_b, tvd_micros, tvd);
    tvd = tvd_micros/1e6 (one exact IEEE division of small exact
    operands — bit-identical on every engine).
    """
    from ..functions.hashes import md5int

    side = F.when(
        md5int(F.col(id_col).cast("string")) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(0))
    toks = docs.select(
        side.alias("__a"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    wc = toks.groupBy("w").agg(
        F.sum("__a").alias("ca"),
        F.sum(F.lit(1) - F.col("__a")).alias("cb"),
    )
    totals = wc.groupBy().agg(
        F.sum("ca").alias("__ta"),
        F.sum("cb").alias("__tb"),
        F.count(F.lit(1)).alias("__v"),
    )
    _d20 = "decimal(20,0)"
    da = (F.col("__ta") + F.col("__v")).cast(_d20)
    db = (F.col("__tb") + F.col("__v")).cast(_d20)
    terms = wc.crossJoin(F.broadcast(totals)).select(
        F.col("__ta"),
        F.col("__tb"),
        da.alias("__da"),
        db.alias("__db"),
        F.abs(
            (F.col("ca") + 1).cast(_d20) * db
            - (F.col("cb") + 1).cast(_d20) * da
        ).alias("t"),
    )
    agg = terms.groupBy().agg(
        F.count(F.lit(1)).cast("int").alias("n_words"),
        F.max("__ta").alias("tokens_a"),
        F.max("__tb").alias("tokens_b"),
        F.max("__da").alias("__da"),
        F.max("__db").alias("__db"),
        F.sum("t").alias("__num"),
    )
    return agg.select(
        "n_words",
        "tokens_a",
        "tokens_b",
        F.expr(
            "CAST((__num * 1000000 + __da * __db)"
            " div (2 * __da * __db) AS BIGINT)"
        ).alias("tvd_micros"),
    ).withColumn(
        "tvd", F.col("tvd_micros").cast("double") / F.lit(1000000.0)
    )


def pareto_quality_filter(
    docs: DataFrame,
    alpha: float = 9.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """GPT-3-style stochastic quality filtering (Brown et al. 2020,
    Appendix A: "documents were kept if
    np.random.pareto(alpha) > 1 - document_score"): low-scoring
    documents mostly drop but keep a heavy-tailed chance of survival,
    preserving distributional coverage that a hard threshold destroys.

    The Pareto draw is DERANDOMIZED the way every sampler in this
    engine is: u = md5('pareto#' || id) / scale, then the inverse-CDF
    transform (1-u)^(-1/alpha) - 1 — identical membership on any
    engine, any cluster size, any run.  The score is the hashed
    classifier's quality_prob (row-local, rounded 6dp), so the whole
    filter is one zero-shuffle map pass over the corpus.

    Returns surviving (id_col, n_tokens, quality_prob).
    """
    from ..functions.hashes import md5int

    scored = hashed_classifier_scores(
        docs, id_col=id_col, text_col=text_col
    )
    u = (
        md5int(F.concat(F.lit("pareto#"), F.col(id_col).cast("string")))
        % scale
    ).cast("double") / scale
    pareto = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return scored.filter(
        pareto > (F.lit(1.0) - F.col("quality_prob"))
    ).select(id_col, "n_tokens", "quality_prob")


def nb_predict(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SERVE a trained NB model: per-document prediction under a
    (possibly persisted) weight table — the inference half of the
    train-once / serve-many model-registry pattern.  Same exact-
    decimal margin discipline as :func:`nb_confusion` (integer counts
    x 6dp weights + prior; LEFT join so all-novel-bucket documents
    classify from the prior); one broadcast join + one per-doc
    aggregate, no corpus shuffle beyond the (doc, bucket) counts.

    Returns (id_col, n_tokens, pred).
    """
    cnt = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select(
            id_col,
            (_cls_token_hash(F.col("tok")) % _CLS_BUCKETS).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdec = weights.filter(F.col("bucket") >= 0).select(
        "bucket", F.col("weight").cast(_DEC6).alias("w")
    )
    prior = weights.filter(F.col("bucket") == -1).select(
        F.col("weight").cast(_DEC6).alias("__prior")
    )
    zero = F.lit(0).cast(_DEC6)
    return (
        cnt.join(F.broadcast(wdec), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c") * F.coalesce(F.col("w"), zero)).alias(
                "__wsum"
            ),
            F.sum("c").cast("int").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            "n_tokens",
            ((F.col("__wsum") + F.col("__prior")) > 0).alias("pred"),
        )
    )


# ------------------------------------------------------------ BPE training

# Symbol-boundary sentinels for the merge rewrite: each symbol is
# framed as \x01<sym>\x02, so the pattern \x01a\x02\x01b\x02 can only
# match a REAL adjacent (a, b) symbol pair — never a substring inside
# a longer symbol, and back-to-back occurrences share no characters,
# so one non-overlapping left-to-right replace() (identical semantics
# in Spark and DuckDB) applies the merge with classic greedy-BPE
# behavior ("aaa" + merge(a,a) -> ["aa","a"]).
_BPE_L = "\x01"
_BPE_R = "\x02"


def _bpe_frame(syms: F.Column) -> F.Column:
    """array<string> of symbols -> framed string \x01s1\x02\x01s2\x02..."""
    return F.concat(
        F.lit(_BPE_L), F.array_join(syms, _BPE_R + _BPE_L), F.lit(_BPE_R)
    )


def _bpe_unframe(framed: F.Column) -> F.Column:
    """framed string -> array<string> of symbols."""
    return F.split(
        F.substring(framed, 2, F.length(framed) - 2), _BPE_R + _BPE_L
    )


def bpe_word_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The one corpus-sized pass of BPE training: whitespace words with
    occurrence counts.  Everything after this runs on VOCABULARY-sized
    data — at 100 TB the corpus is touched exactly once, and the k
    merge iterations cost O(vocab * avg_word_len) each."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_pairs(words: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the current symbol arrays.
    The sequence is guarded for 1-symbol words (F.sequence(0, -1) is
    DESCENDING, not empty — the repo's documented ANSI trap)."""
    idx = F.when(
        F.size("syms") >= 2, F.sequence(F.lit(0), F.size("syms") - 2)
    ).otherwise(F.array().cast("array<int>"))
    pairs = words.select(
        "cnt",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("syms", i + 1).alias("a"),
                    F.element_at("syms", i + 2).alias("b"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").alias("c")
    )


def bpe_train(
    docs: DataFrame,
    k: int = 6,
    text_col: str = "text",
    driver_vocab_threshold: int = 500_000,
) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016) —
    the one text-pipeline surface the engine could evaluate (OOV
    rates, vocab_oov_rates) but not produce until r10.

    Exactly ``k`` merges, fully deterministic: each iteration counts
    weighted adjacent symbol pairs over the word vocabulary and picks
    the winner by (count DESC, left ASC, right ASC) — binary string
    order, identical in Spark and DuckDB, so the whole merge table is
    oracle-checkable by unrolling the k iterations in SQL.  No early
    stop: a count-1 merge is still applied (a stop threshold would
    make the oracle's later iterations diverge; callers wanting one
    truncate the returned table on pair_cnt).

    Scale shape: one corpus pass (bpe_word_counts), after which ALL
    work is vocabulary-sized.  Adaptive execution (r14 optimization,
    the connected_components driver-path discipline): when the word
    vocabulary is at most ``driver_vocab_threshold`` rows — the
    standard case; production tokenizer trainers (sentencepiece, HF)
    run the merge loop single-node over aggregated word counts for
    the same reason — the counts are collected once and the k
    iterations run as a pure-Python loop: one count + one collect
    instead of k argmax jobs over a k-times-replanned replace chain
    (measured 1.9 s -> 0.7 s at sf0.1).  Above the threshold the
    distributed path below runs unchanged: the per-iteration winner
    is ONE collected row (the distributed pair-count argmax — the
    same combine-aggregate discipline as dsir_gram_features),
    broadcast back into a framed-string replace that stays in
    whole-stage codegen.

    The two paths are bit-identical by construction: the driver loop
    walks the SAME framed strings (str.replace and F.replace share
    left-to-right non-overlapping replace-all semantics), counts the
    same overlapping adjacent pairs, and breaks ties by UTF-8 byte
    order (how Spark compares strings).  Pinned by
    tests/test_text_ops.py equality of the two paths.

    Returns (rank, lhs, rhs, merged, pair_cnt) — rank 1-based merge
    order.
    """
    spark = docs.sparkSession
    counts = bpe_word_counts(docs, text_col).persist()
    n_vocab = counts.count()
    if n_vocab <= driver_vocab_threshold:
        rows = counts.collect()
        counts.unpersist()
        sep = _BPE_R + _BPE_L
        vocab = [
            (_BPE_L + sep.join(r["w"]) + _BPE_R, r["cnt"]) for r in rows
        ]
        merges = []
        for rank in range(1, k + 1):
            pair_cnt: dict = {}
            for framed, cnt in vocab:
                syms = framed[1:-1].split(sep)
                for i in range(len(syms) - 1):
                    key = (syms[i], syms[i + 1])
                    pair_cnt[key] = pair_cnt.get(key, 0) + cnt
            if not pair_cnt:  # corpus exhausted to single-symbol words
                break
            (a, b), c = min(
                pair_cnt.items(),
                key=lambda kv: (
                    -kv[1],
                    kv[0][0].encode("utf-8"),
                    kv[0][1].encode("utf-8"),
                ),
            )
            merges.append((rank, a, b, a + b, c))
            pat = _BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R
            rep = _BPE_L + a + b + _BPE_R
            vocab = [(framed.replace(pat, rep), cnt) for framed, cnt in vocab]
        return spark.createDataFrame(
            merges,
            "rank int, lhs string, rhs string, merged string, pair_cnt bigint",
        )
    words = counts.select(F.split("w", "").alias("syms"), "cnt")
    merges = []
    for rank in range(1, k + 1):
        best = (
            _bpe_pairs(words)
            .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:  # corpus exhausted to single-symbol words
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((rank, a, b, a + b, c))
        pat = _BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R
        rep = _BPE_L + a + b + _BPE_R
        words = words.select(
            _bpe_unframe(
                F.replace(_bpe_frame(F.col("syms")), F.lit(pat), F.lit(rep))
            ).alias("syms"),
            "cnt",
        )
    return spark.createDataFrame(
        merges,
        "rank int, lhs string, rhs string, merged string, pair_cnt bigint",
    )


def bpe_encode(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained merge list (rank-ordered (lhs, rhs) pairs, e.g.
    ``[(r["lhs"], r["rhs"]) for r in bpe_train(...).collect()]`` —
    driver-sized by construction) to a corpus: every word re-tokenized
    by replaying the merges in training order.  One row-local pass —
    the k replaces nest into a single codegen'd expression, zero
    shuffles, so encoding throughput is scan-bound at any corpus size.

    Returns (id_col, tokens array<string>), tokens in document order
    (concatenating them restores the original text minus spaces — the
    BPE lossless-round-trip property, pinned in tests).
    """
    framed = _bpe_frame(F.split(F.col("w"), ""))
    for a, b in merges:
        framed = F.replace(
            framed,
            F.lit(_BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R),
            F.lit(_BPE_L + a + b + _BPE_R),
        )
    per_word = (
        spread(docs).select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
        )
        .filter(F.length("w") > 0)
        .select(id_col, "pos", _bpe_unframe(framed).alias("toks"))
    )
    return (
        per_word.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
    )


def bpe_encode_corpus(
    docs: DataFrame,
    merges: list,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus encoding with a trained merge list, DOC-LEVEL framing:
    the whole text is char-framed (spaces become ordinary framed
    symbols) and the merges replay over the single framed string.
    Equivalent to the per-word :func:`bpe_encode` — training never
    learns a merge containing a space, and a framed space breaks any
    cross-word pattern match by construction — but expressible as pure
    string ops, which is what makes the DuckDB oracle a straight
    replace-chain (no per-word lateral).  Space symbols are dropped
    from the output tokens.

    One row-local codegen pass: zero shuffles, scan-bound at any
    corpus size.  Returns (id_col, n_tokens, token_str) with tokens
    joined by the unit separator \\x1f (a raw array column would make
    the cross-engine hash depend on list formatting).
    """
    toks = _bpe_token_array(F.col(text_col), merges)
    return spread(docs).filter(F.length(text_col) > 0).select(
        F.col(id_col),
        F.size(toks).cast("int").alias("n_tokens"),
        F.array_join(toks, "\x1f").alias("token_str"),
    )


def _bpe_token_array(text: F.Column, merges: list) -> F.Column:
    """The doc-level framed replace chain as a column expression:
    char-frame, replay the k trained merges, unframe, drop the space
    symbols — shared by corpus encoding and the compression audit."""
    framed = _bpe_frame(F.split(text, ""))
    for a, b in merges:
        framed = F.replace(
            framed,
            F.lit(_BPE_L + a + _BPE_R + _BPE_L + b + _BPE_R),
            F.lit(_BPE_L + a + b + _BPE_R),
        )
    return F.filter(_bpe_unframe(framed), lambda t: t != F.lit(" "))


def bpe_compression_stats(
    docs: DataFrame,
    merges: list,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer COMPRESSION audit — the standard "is this vocabulary
    any good for this corpus slice" metric (bytes and chars per token,
    cf. the per-language compression tables in tokenizer papers, e.g.
    Rust et al. 2021): encode every document with the trained merge
    list and aggregate per ``group_col``.  A slice whose
    bytes-per-token sits near 1 is paying one token per byte — the
    signal that the vocabulary under-serves that source/language and
    the mixture or the tokenizer training set needs rebalancing.

    Plan shape: the encode is the same zero-shuffle row-local replace
    chain as :func:`bpe_encode_corpus` (token COUNTS only — the token
    string is never materialized into the aggregate), followed by one
    group-count-sized combine aggregate.  Scan-bound at any corpus
    size.

    Returns (group_col, n_docs, total_bytes, total_chars,
    total_tokens, bytes_per_token, chars_per_token), ratios rounded
    to 6dp (exact-integer ratios — engine-stable).
    """
    toks = _bpe_token_array(F.col(text_col), merges)
    per_doc = spread(docs).filter(F.length(text_col) > 0).select(
        F.col(group_col),
        F.octet_length(text_col).alias("__b"),
        F.length(text_col).alias("__c"),
        F.size(toks).alias("__t"),
    )
    return per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("__b").cast("long").alias("total_bytes"),
        F.sum("__c").cast("long").alias("total_chars"),
        F.sum("__t").cast("long").alias("total_tokens"),
        F.round(F.sum("__b") / F.sum("__t"), 6).alias("bytes_per_token"),
        F.round(F.sum("__c") / F.sum("__t"), 6).alias("chars_per_token"),
    )
