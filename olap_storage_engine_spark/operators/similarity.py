"""Similarity search over embedding columns (SURVEY §2 Part C, X3).

Two tiers:

- ``brute_topk`` — exact cosine top-k: broadcast the (small) probe set
  against the corpus, score with JVM-side zip_with/aggregate math, keep
  top-k per probe with one window.  The corpus side never shuffles its
  vectors; the only wide exchange is the final per-probe top-k, which
  is tiny.  This is the correct *exact* plan at any scale when the
  probe set is broadcastable (the common case).

- ``lsh_topk`` — approximate: restrict scoring to corpus rows whose
  sign-LSH bucket matches a probe's bucket under any of ``num_tables``
  independent hyperplane sets (multi-probe across tables raises
  recall).  At 100 TB the bucket join prunes the scored fraction to
  ~num_tables / 2^num_planes of the corpus.

Also ``pandas_topk`` — the Arrow-batched rescoring variant: numpy
matrix multiply per partition for when k·dim is large enough that BLAS
beats codegen; same results, used by the bench to compare.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..functions.vectors import cosine, dot, l2norm
from .dedup import lsh_bucket_col
from .spread import spread


# The k the recall evaluation is DEFINED at: the persisted exact
# truth set (the ``ann_truth_k10`` artifact), the brute baseline query,
# and the served IVF ranking all use this one constant, so a k change
# reaches every side of recall@k or none — recall normalizes by the
# truth-side count, and a truth table built at a different k than the
# serve silently skews the metric (r14 review; the MH_BAND_ROWS
# discipline applied to eval depth).
ANN_EVAL_K = 10


def standard_probes(emb: DataFrame, n: int = 5) -> DataFrame:
    """The fixture evaluation probe set: the n lowest vec_ids — ONE
    definition shared by the declared similarity queries and the
    publish-time exact-truth builder (the ``ann_truth_k10`` artifact), so
    the persisted truth set can never drift from the probes the
    queries serve (the band-key discipline applied to eval probes).
    Deliberately FIXED-SIZE: an eval set derived as a corpus fraction
    grows with the corpus and stops being a benchmark."""
    return emb.orderBy("vec_id").limit(n)


def brute_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each probe against the corpus.

    Returns (probe_id, vec_id, cosine, rank), rank 1..k, ties broken by
    vec_id so results are deterministic for the oracle."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    joined = spread(corpus).join(
        F.broadcast(p), F.col(id_col) != F.col("probe_id")
    )
    scored = joined.select(
        "probe_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("probe_vec")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            F.round("cos", 6).alias("cosine"),
            "rank",
        )
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing an LSH bucket
    with the probe in at least one of ``num_tables`` hyperplane sets.

    Bucket keys for table t reuse hyperplanes [t*P, (t+1)*P) of one
    deterministic family, so corpus signatures for all tables are
    computed in a single pass."""
    total_planes = num_planes * num_tables

    def table_keys(df: DataFrame, keep: list[str], vcol: str) -> DataFrame:
        sigd = df.withColumn("__sig", lsh_bucket_col(vcol, total_planes, dim))
        return sigd.select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"t{t}:"),
                            F.substring(
                                F.col("__sig"), t * num_planes + 1, num_planes
                            ),
                        )
                        for t in range(num_tables)
                    ]
                )
            ).alias("bucket"),
        )

    c = table_keys(spread(corpus), [id_col, vec_col], vec_col)
    p = table_keys(
        probes.select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
        ),
        ["probe_id", "probe_vec"],
        "probe_vec",
    )
    cand = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", id_col, vec_col, "probe_vec")
        .distinct()
    )
    scored = cand.select(
        "probe_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("probe_vec")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, F.round("cos", 6).alias("cosine"), "rank")
    )


def derived_n_centroids(n_rows: int) -> int:
    """Corpus-scaled centroid count: ``max(16, floor(sqrt(N)))``.

    SemDeDup's in-cell pair search is O(cell^2); with k = sqrt(N)
    cells the expected cell is sqrt(N) rows and total pair work stays
    O(N^1.5) instead of O(N^2/k) exploding as the corpus grows past a
    FIXED k (VERDICT r6 #5).  isqrt keeps the derivation exact and
    identical to the oracle's ``floor(sqrt(count(*)))``."""
    import math

    return max(16, math.isqrt(max(n_rows, 0)))


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int | None = None,
    sample_mod: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic sampled k-means coarse quantizer.

    ``n_centroids=None`` (the index-build default) derives the count
    from the corpus itself via ``derived_n_centroids`` — one count()
    job at train time, so the quantizer scales with the corpus instead
    of freezing at a fixture constant; pass an explicit int for
    fixed-size codebooks (PQ trains 2^bits codes per subspace).

    Sample = rows with ``id % sample_mod == 0`` (deterministic, scale-
    independent); init = the ``n_centroids`` lowest-id sample vectors;
    then ``iters`` Lloyd iterations: assign each sample vector to its
    max-cosine centroid (ties by cent_id), recompute each centroid as
    the per-dimension mean of its members.  Means are ROUNDED to
    ``round_dp`` decimals every iteration — that makes the trained
    centroids reproducible bit-for-bit across engines (Spark's partial
    aggregation and DuckDB's parallel avg sum doubles in different
    orders; the ~1e-15 jitter is absorbed by the rounding), which is
    what keeps the IVF operator oracle-checkable end to end.

    Centroids that lose all members drop out (inner-join semantics,
    identical in the SQL oracle).  Returns (cent_id, cent_vec).

    100 TB posture: the sample is a pushed-down filter scan; each
    iteration is one broadcast of ≤n_centroids vectors + one
    (vec, pos)-keyed aggregate over the sample only — the corpus is
    never shuffled; training cost is bounded by sample size.
    """
    if n_centroids is None:
        n_centroids = derived_n_centroids(corpus.count())
    sample = corpus.filter(
        F.pmod(F.col(id_col), F.lit(sample_mod)) == 0
    ).select(id_col, vec_col)
    cents = (
        sample.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    for _ in range(iters):
        scored = sample.join(F.broadcast(cents)).select(
            id_col,
            vec_col,
            "cent_id",
            cosine(F.col(vec_col), F.col("cent_vec")).alias("cos"),
        )
        # argmax as ONE hash aggregate (max_by over the (cos, -cent_id)
        # tie-break struct) instead of a sort window — same assignment,
        # one combine-enabled shuffle, no per-key sort
        best = (
            scored.groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(F.col("cent_id"), F.col(vec_col)),
                    F.struct(F.col("cos"), -F.col("cent_id")),
                ).alias("__b")
            )
            .select(
                F.col("__b.cent_id").alias("cent_id"),
                F.col(f"__b.{vec_col}").alias(vec_col),
            )
        )
        dims = best.select(
            "cent_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        means = dims.groupBy("cent_id", "pos").agg(
            F.round(F.avg("val"), round_dp).alias("m")
        )
        cents = (
            means.groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cent_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("cent_vec"),
            )
        )
    return cents


def _with_cent_norm(centroids: DataFrame) -> DataFrame:
    return centroids.select("cent_id", "cent_vec").withColumn(
        "cent_norm", l2norm(F.col("cent_vec"))
    )


# Arrow top-1 assignment ships the collected centroid matrix in the
# kernel closure; beyond this many centroids (~4M doubles at dim 64)
# the JVM broadcast-fanout path in _cell_assign takes over instead.
_ARROW_ASSIGN_MAX_CELLS = 60_000


def _cell_assign_top1_arrow(
    cents: DataFrame, df: DataFrame, keep: list[str], vcol: str
) -> DataFrame:
    """Top-1 nearest-centroid assignment as ONE row-local Arrow pass —
    the corpus-scale replacement for the broadcast-fanout + max_by
    shape (which evaluated K interpreted cosine folds PER ROW and then
    shuffled the fan-out back through an argmax aggregate: ~1e9
    interpreted ops at sf0.1's 60k x 244 x 64).

    BIT-EXACT with the JVM expression by construction, which is what
    keeps the IVF family (and the persisted cell/SemDeDup tables built
    from it) oracle-checkable on RAW unrounded scores:

    * products: ``cast(x as double) * y`` == float64(x) * y — same
      IEEE multiply;
    * the fold ``acc + x`` starting at 0.0 is a SEQUENTIAL left sum —
      ``np.cumsum`` produces exactly those prefix sums (numpy's
      pairwise-summation shortcut applies to ``sum``, not ``cumsum``),
      and the last prefix is the fold result;
    * score = that double / the Spark-computed ``cent_norm`` collected
      verbatim from the centroid frame;
    * argmax ties: centroids sorted by cent_id ascending, np.argmax
      takes the FIRST max — identical to max_by's (score, -cent_id)
      struct ordering, NaN included (NaN compares greatest in Spark
      orderings; np.argmax also returns the first NaN).

    Rows with a NULL vector drop, matching max_by's all-NULL-ordering
    result being filtered on cent_id downstream.  The centroid collect
    is bounded (≤ sqrt(N) rows — the documented index contract)."""
    rows = sorted(
        cents.select("cent_id", "cent_vec", "cent_norm").collect(),
        key=lambda r: r["cent_id"],
    )
    base = df.select(*keep)
    # keep the centroid frame's native cent_id type — the JVM
    # big-quantizer fallback preserves it, so the two dispatch paths
    # must return the same schema (ADVICE r8)
    cid_type = cents.schema["cent_id"].dataType
    out_schema = T.StructType(
        list(base.schema.fields) + [T.StructField("cent_id", cid_type, True)]
    )
    if not rows:
        return base.limit(0).withColumn(
            "cent_id", F.lit(None).cast(cid_type)
        )
    C = np.array([r["cent_vec"] for r in rows], dtype=np.float64)
    nrm = np.array([r["cent_norm"] for r in rows], dtype=np.float64)
    # the emitted pandas column must carry the SAME width as the
    # declared cent_id type — an int64 ndarray under an int32 schema
    # rides on Arrow's silent downcast, which the JVM fallback path
    # never performs (ADVICE r9: dtype divergence between paths)
    cid_np = np.int32 if isinstance(cid_type, T.IntegerType) else np.int64
    cids = np.array([r["cent_id"] for r in rows], dtype=cid_np)
    k, dim = C.shape
    # bound the (block, K, dim) product temp to ~256 MB
    blk = max(1, 4_000_000 // max(k * dim // 8, 1))

    def gen(batches):
        for pdf in batches:
            pdf = pdf[pdf[vcol].notna()]
            n = len(pdf)
            if n == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vcol]]
            )
            best = np.empty(n, dtype=np.int64)
            for s in range(0, n, blk):
                e = min(s + blk, n)
                prods = V[s:e, None, :] * C[None, :, :]
                scores = np.cumsum(prods, axis=2)[:, :, -1] / nrm[None, :]
                best[s:e] = np.argmax(scores, axis=1)
            yield pdf.assign(cent_id=cids[best])

    return base.mapInPandas(gen, out_schema)


def _cell_assign(
    cents: DataFrame, df: DataFrame, keep: list[str], vcol: str, top: int
) -> DataFrame:
    """Nearest-centroid assignment against a (cent_id, cent_vec,
    cent_norm) broadcast.  Ranks by ``dot(v, c) / |c|`` — the query
    vector's own norm is constant across centroids so it cancels out of
    the argmax; ties break toward the lower cent_id.

    top=1 dispatches to the exact Arrow kernel (see
    _cell_assign_top1_arrow); the window path below serves the small
    multi-cell probe resolutions.  (History: a literal-array zip_with
    argmax measured 3x slower than the broadcast-join + max_by shape,
    which in turn lost to the Arrow kernel by ~3x at sf0.1 — the
    fan-out's K interpreted folds per row dominate either JVM shape.)
    """
    if top == 1:
        # top-1 assignment runs the exact Arrow kernel: row-local
        # argmax, no fan-out, no aggregate — see
        # _cell_assign_top1_arrow for the bit-exactness argument.
        # The kernel closure-ships the collected centroid matrix; for
        # a VERY large quantizer (K·dim beyond ~4M doubles — e.g. the
        # sqrt(N) rule past ~60k centroids at dim 64) that shipment
        # stops being free, so the JVM broadcast-fanout + max_by path
        # below takes over (same scores, same tie-break, slower per
        # row but no driver collect).
        k = cents.limit(_ARROW_ASSIGN_MAX_CELLS + 1).count()
        if k <= _ARROW_ASSIGN_MAX_CELLS:
            return _cell_assign_top1_arrow(cents, df, keep, vcol)
    scored = df.join(F.broadcast(cents)).select(
        *keep,
        "cent_id",
        (dot(F.col(vcol), F.col("cent_vec")) / F.col("cent_norm")).alias(
            "cent_cos"
        ),
    )
    if top == 1:
        # JVM twin of the Arrow kernel (big-quantizer fallback):
        # argmax as ONE max_by hash aggregate over the broadcast
        # fan-out, ties by (cent_cos desc, cent_id asc)
        key, rest = keep[0], keep[1:]
        picked = scored.groupBy(key).agg(
            F.max_by(
                F.struct(F.col("cent_id"), *[F.col(c) for c in rest]),
                F.struct(F.col("cent_cos"), -F.col("cent_id")),
            ).alias("__b")
        )
        return picked.filter(F.col("__b.cent_id").isNotNull()).select(
            key,
            *[F.col(f"__b.{c}").alias(c) for c in rest],
            F.col("__b.cent_id").alias("cent_id"),
        )
    w = Window.partitionBy(*keep[:1]).orderBy(
        F.col("cent_cos").desc(), F.col("cent_id").asc()
    )
    return (
        scored.withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") <= top)
        .drop("cr", "cent_cos")
    )


def ivf_cell_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its coarse-quantizer cell: the one
    shared derivation for full index builds AND publish-time delta
    refreshes (indexes.ivf_cells_delta_refresh).  Returns
    (cent_id, id_col, vec_col) — the row shape of the persisted cell
    table.  One broadcast of the centroid index + one map-side dot per
    (vector, centroid); the corpus never shuffles its vectors."""
    cents = _with_cent_norm(centroids)
    assigned = _cell_assign(
        cents, vectors.select(id_col, vec_col), [id_col, vec_col], vec_col, 1
    )
    return assigned.select("cent_id", id_col, vec_col)


def ivf_probe_cells(
    probes: DataFrame,
    centroids: DataFrame,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The query-router resolve step: each probe's ``n_probe`` nearest
    cells.  Returns (probe_id, probe_vec, cent_id), one row per
    (probe, cell) — tiny by contract (probe sets are small), so the
    caller may collect it to drive partition pruning of the cell
    table."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    return _cell_assign(
        _with_cent_norm(centroids), p, ["probe_id", "probe_vec"], "probe_vec", n_probe
    )


def ivf_probe_cells_local(
    probe_rows: list,
    cent_rows: list,
    n_probe: int = 4,
) -> list:
    """Driver-side query-router resolve: the ``ivf_probe_cells``
    assignment computed in plain Python over collected rows — the
    shape a production ANN router actually has (the centroid index is
    a handful of rows held in router memory; resolving a probe's cells
    must not cost a distributed job).

    Bit-identical to the distributed/SQL versions: the dot is the same
    SEQUENTIAL left fold over doubles (functions/vectors.dot is
    ``aggregate(zip_with(...), 0.0, acc + x)``; DuckDB's ``list_sum``
    likewise), ranking by dot/|c| with ties toward the lower cent_id —
    IEEE double ops are deterministic given the order, so near-tie
    behavior matches engine to engine.

    ``probe_rows``: (probe_id, probe_vec) pairs; ``cent_rows``:
    (cent_id, cent_vec) pairs.  Returns (probe_id, probe_vec, cent_id)
    tuples, one per (probe, cell).
    """

    def sdot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    import math

    cents = [
        (cid, cvec, math.sqrt(sdot(cvec, cvec))) for cid, cvec in cent_rows
    ]
    out = []
    for pid, pvec in probe_rows:
        scored = sorted(
            ((sdot(pvec, cvec) / cnorm, -cid) for cid, cvec, cnorm in cents),
            reverse=True,
        )
        for score, neg_cid in scored[:n_probe]:
            out.append((pid, pvec, -neg_cid))
    return out


def rank_cell_candidates(
    cells: DataFrame,
    probe_cells: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score and rank pre-assigned cell rows against resolved probe
    cells — the serving tail shared by ``ivf_topk`` (cells computed
    inline) and the persisted-cell-table query (cells read partition-
    pruned from disk).  Exact cosine on candidates only; one per-probe
    top-k window.  No dedup needed: each corpus vector lives in
    exactly ONE cell and a probe's n_probe cells are distinct, so the
    join emits each (probe, vec) at most once — a distinct here would
    shuffle two 64-float arrays per row for nothing."""
    cand = (
        cells.join(F.broadcast(probe_cells), "cent_id")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", id_col, vec_col, "probe_vec")
    )
    scored = cand.select(
        "probe_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("probe_vec")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, F.round("cos", 6).alias("cosine"), "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = True,
    sample_mod: int = 4,
    train_iters: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the AD-HOC path.

    This API assigns the corpus to cells INSIDE the query plan (one
    broadcast Arrow pass over every vector), which is correct but a
    full corpus scan per query — use it only for one-shot corpora
    with no published index.  The production serving path (and the
    declared ``similarity_ann_ivf`` query since r10) reads the
    PERSISTED LIST-partitioned cell table instead, touching only the
    probed cells' partitions (see ``__spark_entry__.
    q_similarity_ann_ivf_cells`` and fixtures._build_emb_cells).

    Coarse quantizer, in preference order:

    - ``centroids`` — a persisted (cent_id, cent_vec) index table
      trained offline (``train_ivf_centroids`` at index-build time,
      e.g. the ``ivf_centroids`` artifact).  This is the production
      serving path: the query plan only broadcasts the tiny index table —
      training cost is paid once per corpus publish, never per query.
    - ``trained=True`` without ``centroids`` — train inline (the
      deterministic sampled k-means).  Correct but entangles the
      training job with serving; use for ad-hoc one-shot queries only.
    - ``trained=False`` — the n lowest-id corpus vectors (the round-2
      plumbing-only quantizer).

    Every corpus vector is assigned to its nearest centroid (one
    broadcast pass); a probe scores only the cells of its ``n_probe``
    nearest centroids.

    Assignment ranks by ``dot(v, c) / |c|`` — the query vector's own
    norm is constant across centroids, so it cancels out of the argmax
    and the per-pair vector math drops from three array passes
    (dot + both norms) to one dot against a precomputed ``|c|``.  The
    SQL oracle ranks by the identical expression, so near-tie float
    behavior matches engine to engine; the returned ``cosine`` is
    still the full exact formula, computed only for candidates.

    Scale shape: assignment is a broadcast map-side pass followed by
    one argmax aggregate (no corpus join shuffle); the cell join fans
    each probe out to n_probe cells ≈ n_probe/n_centroids of the
    corpus scored, and the final top-k window is per-probe tiny.
    """
    if centroids is not None:
        cents = centroids.select("cent_id", "cent_vec")
    elif trained:
        spark = corpus.sparkSession
        rows = train_ivf_centroids(
            corpus, n_centroids, sample_mod, train_iters, id_col, vec_col
        ).collect()
        cents = spark.createDataFrame(
            [(r["cent_id"], r["cent_vec"]) for r in rows],
            "cent_id long, cent_vec array<double>",
        )
    else:
        if n_centroids is None:
            # honor the derived-k contract on the untrained plumbing
            # path too — a silent fixed 16 would scan n_probe/16 of a
            # billion-vector corpus instead of n_probe/sqrt(N)
            n_centroids = derived_n_centroids(corpus.count())
        cents = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
            )
        )
    cents = _with_cent_norm(cents)
    cells = _cell_assign(
        cents, corpus.select(id_col, vec_col), [id_col, vec_col], vec_col, 1
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    probe_cells = _cell_assign(cents, p, ["probe_id", "probe_vec"], "probe_vec", n_probe)
    return rank_cell_candidates(cells, probe_cells, k, id_col, vec_col)


def pandas_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched exact top-k: per corpus partition, one numpy
    matmul against the collected probe matrix, emitting each
    partition's local top-k; a final window reduces to the global
    top-k.  The driver collects only the probe set (small by contract).
    """
    import numpy as np
    import pandas as pd

    probe_rows = probes.select(id_col, vec_col).collect()
    probe_ids = [r[id_col] for r in probe_rows]
    pm = np.array([r[vec_col] for r in probe_rows], dtype=np.float64)
    pm_norm = pm / np.linalg.norm(pm, axis=1, keepdims=True)

    out_schema = "probe_id long, vec_id long, cos double"

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (mat / norms) @ pm_norm.T  # (batch, n_probes)
            for j, pid in enumerate(probe_ids):
                col = sims[:, j]
                keep = np.argsort(-col)[:k]
                yield pd.DataFrame(
                    {
                        "probe_id": pid,
                        "vec_id": ids[keep],
                        "cos": col[keep],
                    }
                )

    local = corpus.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        local.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rank")
    )


# ------------------------------------------------------------------ PQ


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    sample_mod: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: the vector space splits into
    ``m`` contiguous subspaces and each gets its own deterministic
    sampled k-means codebook (EXACTLY train_ivf_centroids run on the
    sliced sub-vectors — same sample, same init, same per-iteration
    mean rounding, so the codebooks are oracle-reproducible).

    Returns (sub_id, code_id, code_vec).  m * n_codes rows total —
    broadcast-sized forever.  PQ is the memory-compression ANN story:
    a 64-float vector serves from m=4 one-byte codes, so the scan side
    of a 100 TB corpus shrinks ~64x; codebook training cost is bounded
    by the sample, never the corpus."""
    sub_dim = dim // m
    books = []
    for s in range(m):
        sub = corpus.select(
            id_col, F.slice(vec_col, s * sub_dim + 1, sub_dim).alias(vec_col)
        )
        cb = train_ivf_centroids(
            sub,
            n_centroids=n_codes,
            sample_mod=sample_mod,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
        )
        books.append(
            cb.select(
                F.lit(s).alias("sub_id"),
                F.col("cent_id").alias("code_id"),
                F.col("cent_vec").alias("code_vec"),
            )
        )
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector its per-subspace nearest codeword
    (max sub-vector cosine, ties by code_id — the training metric).
    One broadcast join against the m*n_codes codebook + one max_by
    aggregate; the corpus is never shuffled on vector bytes.  Returns
    (vec_id, codes array<bigint> ordered by sub_id) — the compressed
    representation a 100 TB deployment persists INSTEAD of the
    vectors."""
    sub_dim = dim // m
    subs = corpus.select(
        id_col,
        F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub_id"),
        F.col(vec_col),
    ).select(
        id_col,
        "sub_id",
        F.expr(f"slice({vec_col}, sub_id * {sub_dim} + 1, {sub_dim})").alias(
            "sub_vec"
        ),
    )
    scored = subs.join(F.broadcast(codebooks), "sub_id").select(
        id_col,
        "sub_id",
        "code_id",
        cosine(F.col("sub_vec"), F.col("code_vec")).alias("cos"),
    )
    assigned = scored.groupBy(id_col, "sub_id").agg(
        F.max_by(
            "code_id", F.struct(F.col("cos"), -F.col("code_id"))
        ).alias("code_id")
    )
    return (
        assigned.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub_id", "code_id"))
            ).alias("__sc")
        )
        .select(
            id_col,
            F.transform(F.col("__sc"), lambda s: s["code_id"]).alias("codes"),
        )
    )


def _pq_lut(probes: DataFrame, codebooks: DataFrame, sub_dim: int) -> DataFrame:
    """Probe x codeword partial-dot lookup table — #probes * m *
    n_codes rows, broadcast-sized by construction."""
    return probes.crossJoin(F.broadcast(codebooks)).select(
        "probe_id",
        "sub_id",
        "code_id",
        dot(
            F.expr(f"slice(probe_vec, sub_id * {sub_dim} + 1, {sub_dim})"),
            F.col("code_vec"),
        ).alias("pdot"),
    )


def _adc_rescore(
    entries: DataFrame,
    lut: DataFrame,
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    n_candidates: int,
    id_col: str,
    vec_col: str,
    join_keys: list[str],
) -> DataFrame:
    """Shared ADC tail: fold partial dots in sub_id order (order-
    deterministic sum — candidate selection can't flip on float
    summation order), cut candidates on the ROUNDED score, exact-
    rescore only those against the true vectors."""
    adc = (
        entries.join(F.broadcast(lut), join_keys)
        .groupBy("probe_id", id_col)
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub_id", "pdot"))),
                    lambda s: s["pdot"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.round(F.col("adc"), 6).desc(), F.col(id_col)
    )
    cand = adc.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= n_candidates
    )
    exact = (
        cand.join(corpus, id_col)
        .join(F.broadcast(probes), "probe_id")
        .select(
            "probe_id",
            id_col,
            cosine(F.col(vec_col), F.col("probe_vec")).alias("cos"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col(id_col)
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", id_col, F.round("cos", 6).alias("cosine"), "rank"
        )
    )


def pq_topk(
    probes: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search with exact rescore.

    1. LUT: probe sub-vector x codeword dot products — one broadcast
       cross of #probes x (m*n_codes) rows, computed once per query.
    2. ADC: each corpus row explodes to its m (sub, code) entries,
       joins the broadcast LUT, and folds the m partial dots in
       sub_id order (a sequential fold, not F.sum — bit-identical to
       the oracle's ordered list_sum, so candidate selection can't
       flip on float summation order).  The scan reads CODES ONLY —
       at 100 TB this is the 64x-smaller table.
    3. Exact rescore: the top ``n_candidates`` per probe by rounded
       ADC score fetch their true vectors (a candidate-sized join,
       not a corpus scan) and re-rank by exact cosine.
    """
    sub_dim = dim // m
    lut = _pq_lut(probes.select("probe_id", "probe_vec"), codebooks, sub_dim)
    # every probe scores every code row: cross the probe ids in, then
    # drop self-matches before the aggregate
    entries = (
        codes.select(id_col, F.posexplode("codes").alias("sub_id", "code_id"))
        .crossJoin(F.broadcast(probes.select("probe_id")))
        .filter(F.col(id_col) != F.col("probe_id"))
    )
    return _adc_rescore(
        entries,
        lut,
        probes.select("probe_id", "probe_vec"),
        corpus,
        k,
        n_candidates,
        id_col,
        vec_col,
        ["probe_id", "sub_id", "code_id"],
    )


def ivfpq_topk(
    cell_codes: DataFrame,
    probe_cells: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ serving — the two compressions composed, the layout a
    100 TB vector corpus actually deploys (coarse cells prune WHICH
    rows are read; PQ codes shrink WHAT is read):

    1. ``cell_codes`` (cent_id, vec_id, codes) comes from a
       LIST-partitioned read of ONLY the probed cells (the caller's
       partition-pruned scan — n_probe/n_centroids of the corpus),
       carrying m-byte codes instead of the vectors (64x less I/O);
    2. the probe LUT broadcasts, ADC scores fold in sub_id order
       (deterministic — see pq_topk), candidates cut on the rounded
       score;
    3. ONLY the candidates fetch their true vectors for the exact
       rescore — a k-sized lookup join, never a corpus scan.
    """
    sub_dim = dim // m
    probes = probe_cells.select("probe_id", "probe_vec").distinct()
    lut = _pq_lut(probes, codebooks, sub_dim)
    routed = cell_codes.join(
        F.broadcast(probe_cells.select("probe_id", "cent_id")), "cent_id"
    ).filter(F.col(id_col) != F.col("probe_id"))
    entries = routed.select(
        "probe_id", id_col, F.posexplode("codes").alias("sub_id", "code_id")
    )
    return _adc_rescore(
        entries,
        lut,
        probes,
        corpus,
        k,
        n_candidates,
        id_col,
        vec_col,
        ["probe_id", "sub_id", "code_id"],
    )


def embedding_diversity(
    corpus: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding DIVERSITY: the mean pairwise cosine of all
    vector pairs inside a group, computed WITHOUT materializing a
    single pair — the curation signal behind "this source is 5000
    near-identical boilerplate pages" that pairwise dedup only
    discovers by actually emitting the pairs.

    The algebraic identity does the work: with unit-normalized rows
    u_i, ``sum_{i != j} cos(i, j) = ||sum_i u_i||^2 - n``, so the mean
    pairwise cosine is one vector SUM per group plus scalar math —
    O(N·dim) with one combine-enabled shuffle, versus the O(N^2)
    pair fan-out the naive formulation pays.  At 100 TB this runs at
    scan speed; the per-dimension partial sums combine map-side.

    Float discipline: normalization is row-local double math; the
    cross-row per-dimension sums are order-dependent, absorbed by
    rounding the final scalar to 6dp (the k-means mean-rounding
    discipline; the oracle computes the identical identity).

    Returns (group_col, n, mean_pair_cos) for groups with n >= 2,
    mean_pair_cos in [-1/(n-1), 1].
    """
    # The norm is computed ONCE per row in the pre-explode projection
    # and replicated by Generate; the division happens per exploded
    # element.  Do NOT move the division into a transform() lambda
    # that captures the norm expression: higher-order lambdas are
    # interpreted with no common-subexpression elimination, so the
    # O(dim) norm fold would re-run per ELEMENT — O(dim^2) per row
    # (measured 7.6 s -> sub-second at sf1 for dim=64).  spread
    # restores parallelism when a small fixture file arrives as one
    # scan split (no-op at real scale).
    dims = spread(corpus).select(
        F.col(group_col),
        l2norm(F.col(vec_col)).alias("__nrm"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    comps = dims.groupBy(group_col, "pos").agg(
        F.sum(F.col("val").cast("double") / F.col("__nrm")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    per_group = comps.groupBy(group_col).agg(
        F.sum(F.col("s") * F.col("s")).alias("ss"),
        F.max("n").alias("n"),  # every pos has the group's row count
    )
    return (
        per_group.filter(F.col("n") >= 2)
        .select(
            group_col,
            F.col("n").cast("int").alias("n"),
            F.round(
                (F.col("ss") - F.col("n"))
                / (F.col("n") * (F.col("n") - F.lit(1.0))),
                6,
            ).alias("mean_pair_cos"),
        )
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_cols=("probe_id", "vec_id"),
) -> DataFrame:
    """Index-quality EVALUATION: recall@k of an approximate top-k
    result against the exact brute-force top-k — the metric every ANN
    deployment ships next to the index (FAISS/ScaNN benchmark
    convention: |approx ∩ exact| / k per probe).

    Both inputs are (probe_id, vec_id, ...) rankings of the SAME
    probes at the same k (e.g. :func:`ivf_topk` vs
    :func:`brute_topk`).  One left join on (probe_id, vec_id) + one
    per-probe aggregate; at scale both sides are k-rows-per-probe —
    tiny relative to the corpus — so the whole evaluation costs two
    index reads regardless of corpus size.  Probes with zero overlap
    still emit a row (left join from the exact side).

    Returns (probe_id, hits, k, recall); recall exact at 4dp since
    hits/k is a small-integer ratio.  The approx side is deduplicated
    on (probe_id, vec_id) before the join — a candidate list that
    repeats a pair (legal for some LSH band unions) must count one
    hit, not several, or recall could exceed 1.0.
    """
    pid, vid = id_cols
    a = (
        approx.select(pid, vid)
        .dropDuplicates([pid, vid])
        .select(pid, vid, F.lit(1).alias("__hit"))
    )
    return (
        exact.select(pid, vid)
        .join(a, [pid, vid], "left")
        .groupBy(pid)
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("int")
            .alias("hits"),
            F.count(F.lit(1)).cast("int").alias("k"),
        )
        .select(
            pid,
            "hits",
            "k",
            F.round(F.col("hits") / F.col("k"), 4).alias("recall"),
        )
    )


def int8_quantize(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization — the 4x
    storage cut every large embedding store takes before ANN serving
    (float32 -> int8; PQ above goes further but loses per-dim
    addressability).  Two passes, both cheap:

    1. per-dim scale s_d = max |x_d| — ONE partial-aggregable groupBy
       over posexplode (exact: max has no float-summation order);
    2. codes = floor(x/s * 127 + 0.5), computed ROW-LOCALLY by zipping
       each vector against the broadcast 64-entry scale array — the
       scalar-subquery pattern, no second shuffle.

    Rounding is spelled floor(+0.5) rather than an engine round() so
    the SQL oracle reproduces codes bit-exactly (round() half-even vs
    half-away differs between engines).  Scales are floored at 1e-30
    so an all-zero dimension quantizes to 0 instead of NaN.

    Returns (vec_id, codes array<int>, scales array<double>) — callers
    persist codes+scales; dequantization is codes[d]*s_d/127.
    """
    dims = emb.select(F.posexplode(F.col(vec_col)).alias("d", "x"))
    # cast BEFORE greatest: mixed float/double greatest coerces to
    # float and mangles the 1e-30 floor into a float32 rounding of it
    scales = dims.groupBy("d").agg(
        F.greatest(
            F.max(F.abs("x")).cast("double"), F.lit(1e-30)
        ).alias("s")
    )
    # one tiny sorted row: scales as a position-indexed array
    sarr = scales.agg(
        F.array_sort(F.collect_list(F.struct("d", "s"))).alias("ds")
    ).select(F.expr("transform(ds, e -> e.s)").alias("scales"))
    code_expr = (
        f"transform(arrays_zip({vec_col}, scales), p -> "
        f"CAST(floor(p.{vec_col} / p.scales * 127.0 + 0.5) AS INT))"
    )
    return emb.crossJoin(F.broadcast(sarr)).select(
        "vec_id",
        F.expr(code_expr).alias("codes"),
        "scales",
    )


def int8_quantize_stats(quantized: DataFrame) -> DataFrame:
    """Per-vector exact-integer summary of an int8 quantization —
    the oracle-checkable projection of `int8_quantize` (sums/extrema
    of integer codes carry no float-order ambiguity)."""
    return quantized.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.expr(
            "aggregate(codes, 0L, (a, c) -> a + c)"
        ).alias("sum_code"),
        F.expr(
            "aggregate(codes, 0L, (a, c) -> a + abs(c))"
        ).alias("sum_abs_code"),
        F.expr("array_max(transform(codes, c -> abs(c)))").alias(
            "max_abs_code"
        ),
    )


def int8_topk(
    corpus: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k served FROM the int8 codes: quantize once, score with
    EXACT integer dot products (codes <= 127, so a 64-dim dot fits in
    int32 with room; accumulated in long) — the int8-serving half of
    the storage-cut story.  Scores are integers, so unlike a float ANN
    the oracle reproduces the ranking bit-for-bit, and the quantized
    ranking's agreement with the float ranking is a measured quantity
    (tested), not an assumption.

    Probes are corpus members given by id (their codes come from the
    same quantization pass — one scan, no separate probe encode); the
    probe side is a broadcast of len(probe_ids) rows.  One window per
    probe for rank.  This is the ad-hoc one-shot path; serving reads
    the PERSISTED codes table via :func:`int8_topk_from_codes`."""
    q = int8_quantize(corpus, vec_col).select(id_col, "codes")
    return int8_topk_from_codes(q, probe_ids, k=k, id_col=id_col)


def int8_topk_from_codes(
    codes: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Int8 top-k over the PERSISTED codes table — the serving path:
    quantization happened at publish time (the ``int8_codes`` artifact),
    so a query scans int8 codes (4x less I/O than the float vectors)
    and never touches the embedding column at all.  Delta refresh =
    encode only new rowsets with the FROZEN published scale vector
    (re-scale drift forces a rebuild — the standard contract for
    symmetric scalar quantization); same maintenance story as
    pq_codes/IVF cells.

    Identical results to :func:`int8_topk` by construction (same
    codes, same exact-integer scoring)."""
    q = codes.select(id_col, "codes")
    p = q.filter(F.col(id_col).isin([int(i) for i in probe_ids])).select(
        F.col(id_col).alias("probe_id"), F.col("codes").alias("pcodes")
    )
    scored = (
        q.join(F.broadcast(p), F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            F.expr(
                "aggregate(zip_with(codes, pcodes, (a, b) -> a * b), "
                "0L, (s, x) -> s + x)"
            ).alias("score"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "score", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative MINING for embedding-model training: per probe,
    the top-k most-similar corpus vectors whose label DIFFERS from the
    probe's — the negatives that actually move a contrastive loss
    (random negatives are trivially separable; the near-boundary ones
    carry the gradient).

    Same plan class as :func:`brute_topk`: probes broadcast with their
    labels, the label-mismatch predicate rides the broadcast join (the
    corpus is filtered before any scoring), exact cosine, one tiny
    per-probe top-k window.  At scale, swap the scoring pass for the
    IVF cell route exactly as ANN serving does — the label filter is a
    residual predicate either way.

    Returns (probe_id, vec_id, cosine, rank), rank 1..k.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        F.col(label_col).alias("probe_label"),
    )
    joined = spread(corpus).join(
        F.broadcast(p),
        (F.col(id_col) != F.col("probe_id"))
        & (F.col(label_col) != F.col("probe_label")),
    )
    scored = joined.select(
        "probe_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("probe_vec")).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            id_col,
            F.round("cos", 6).alias("cosine"),
            "rank",
        )
    )


def centroid_outliers(
    cells: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-corpus QA: vectors far from their OWN cluster
    centroid — the corrupt/degenerate-embedding detector every
    embedding pipeline runs before training or indexing (a zeroed,
    truncated, or wrong-model vector lands nowhere near any cluster;
    its cosine-to-assigned-centroid is the cheapest anomaly score
    that needs no pairwise work).

    Serves from the PERSISTED cell table (assignment already stored;
    no full-corpus argmax at query time) + the broadcast centroid
    index: one map-side cosine per vector, one filter — O(N·dim),
    zero shuffles beyond the scan.  The cut compares the ROUNDED
    cosine so the flag set is engine-exact.

    Returns flagged (id_col, cent_id, cosine), cosine to own centroid
    rounded 6dp, ascending = worst first is the caller's sort.
    """
    j = cells.join(
        F.broadcast(centroids.select("cent_id", "cent_vec")), "cent_id"
    )
    scored = j.select(
        F.col(id_col),
        F.col("cent_id"),
        F.round(
            cosine(F.col(vec_col), F.col("cent_vec")), 6
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") < threshold)
