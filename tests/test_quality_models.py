"""Golden tests for the round-9 curation-model operators: C4-style
span removal, bigram-LM scoring, hashed-classifier quality filtering,
and ANN recall evaluation."""

import math

import pytest
from pyspark.sql import Row, functions as F

from olap_storage_engine_spark.operators import dedup as dd
from olap_storage_engine_spark.operators import similarity as sim
from olap_storage_engine_spark.operators import text as tx


@pytest.fixture(scope="module")
def span_docs(spark):
    # width=2 segments: doc 1 = ["a b", "c d", "e f"],
    # doc 2 = ["a b", "x y"], doc 3 = ["c d", "a b"], doc 4 = ["q r"]
    rows = [
        Row(doc_id=1, text="a b c d e f"),
        Row(doc_id=2, text="a b x y"),
        Row(doc_id=3, text="c d a b"),
        Row(doc_id=4, text="q r"),
    ]
    return spark.createDataFrame(rows)


def test_span_removal_cuts_corpus_duplicates(spark, span_docs):
    out = {
        r["doc_id"]: r
        for r in dd.remove_duplicate_spans(
            span_docs, width=2, min_occurrences=2
        ).collect()
    }
    # "a b" in docs 1,2,3; "c d" in docs 1,3 -> both cut
    assert out[1]["cleaned_text"] == "e f"
    assert (out[1]["n_spans"], out[1]["kept_spans"]) == (3, 1)
    assert out[2]["cleaned_text"] == "x y"
    assert out[3]["cleaned_text"] == ""  # every span was boilerplate
    assert out[3]["kept_spans"] == 0
    assert out[4]["cleaned_text"] == "q r"  # unique doc untouched


def test_span_removal_preserves_order(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="z z p q m n"),
            Row(doc_id=2, text="p q"),
        ]
    )
    out = {
        r["doc_id"]: r["cleaned_text"]
        for r in dd.remove_duplicate_spans(
            docs, width=2, min_occurrences=2
        ).collect()
    }
    # middle segment "p q" cut; flanks rejoin in original order
    assert out[1] == "z z m n"


def test_span_removal_partial_tail_segment(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
    row = dd.remove_duplicate_spans(docs, width=2, min_occurrences=2).collect()[0]
    # 5 words at width 2 -> 3 segments, last one partial ("e")
    assert row["n_spans"] == 3
    assert row["cleaned_text"] == "a b c d e"


def test_bigram_lm_scores_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),
            Row(doc_id=2, text="a b c"),
            Row(doc_id=3, text="a"),  # single token: no bigram, drops
        ]
    )
    out = {r["doc_id"]: r for r in tx.bigram_lm_scores(docs).collect()}
    # corpus: c1(a)=4, c1(b)=3, c1(c)=1, V=3
    # bigrams: (a,b)x3, (b,a)x1, (b,c)x1
    lp_ab = round(math.log((3 + 1) / (4 + 3)), 6)
    lp_ba = round(math.log((1 + 1) / (3 + 3)), 6)
    lp_bc = round(math.log((1 + 1) / (3 + 3)), 6)
    micro1 = round(lp_ab * 1e6) * 2 + round(lp_ba * 1e6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_lp_micro"] == round(micro1 / 3)
    assert out[1]["sum_logprob"] == pytest.approx(micro1 / 1e6)
    assert out[2]["n_bigrams"] == 2
    assert 3 not in out


def test_classifier_scores_exact_sign_and_bounds(spark, span_docs):
    out = tx.hashed_classifier_scores(span_docs).collect()
    assert len(out) == 4
    for r in out:
        assert 0.0 < r["quality_prob"] < 1.0
        # keep is the exact sign of the raw (pre-division) sum
        assert r["keep"] == (r["raw_score"] >= 0)
        assert r["n_tokens"] > 0


def test_classifier_deterministic_per_token(spark):
    # same token multiset => identical score regardless of order
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="gamma alpha beta")]
    )
    out = {r["doc_id"]: r for r in tx.hashed_classifier_scores(docs).collect()}
    assert out[1]["quality_prob"] == out[2]["quality_prob"]
    assert out[1]["raw_score"] == out[2]["raw_score"]


def _ranking(spark, rows):
    return spark.createDataFrame(
        [Row(probe_id=p, vec_id=v, cosine=0.5, rank=i + 1)
         for p, vs in rows.items() for i, v in enumerate(vs)]
    )


def test_ann_recall_full_and_partial(spark):
    exact = _ranking(spark, {10: [1, 2, 3, 4], 20: [5, 6, 7, 8]})
    approx = _ranking(spark, {10: [1, 2, 3, 4], 20: [5, 6, 99, 98]})
    out = {r["probe_id"]: r for r in sim.ann_recall(exact, approx).collect()}
    assert (out[10]["hits"], out[10]["k"], out[10]["recall"]) == (4, 4, 1.0)
    assert (out[20]["hits"], out[20]["recall"]) == (2, 0.5)


def test_ann_recall_duplicate_candidates_count_once(spark):
    """ADVICE r9: a candidate set that repeats a (probe, vec) pair
    (legal for LSH band unions) must count one hit per pair — recall
    can never exceed 1.0."""
    exact = _ranking(spark, {10: [1, 2]})
    approx = _ranking(spark, {10: [1, 1, 1, 2]})  # pair (10,1) thrice
    row = sim.ann_recall(exact, approx).collect()[0]
    assert (row["hits"], row["k"], row["recall"]) == (2, 2, 1.0)


def test_span_removal_cuts_within_document_repeats(spark):
    """ADVICE r9 / C4 rule: a span occurring twice inside ONE document
    is an occurrence count of 2 and must be cut."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d a b"), Row(doc_id=2, text="u v")]
    )
    out = {
        r["doc_id"]: r
        for r in dd.remove_duplicate_spans(
            docs, width=2, min_occurrences=2
        ).collect()
    }
    assert out[1]["cleaned_text"] == "c d"
    assert (out[1]["n_spans"], out[1]["kept_spans"]) == (3, 1)
    assert out[2]["cleaned_text"] == "u v"


def test_ann_recall_zero_overlap_probe_still_reports(spark):
    exact = _ranking(spark, {10: [1, 2]})
    approx = _ranking(spark, {10: [7, 8]})
    row = sim.ann_recall(exact, approx).collect()[0]
    assert (row["hits"], row["recall"]) == (0, 0.0)


def test_ivf_recall_is_high_on_fixture(spark):
    """End-to-end: the served IVF index should recover most of the
    exact top-10 on the sf0.001 fixture (sanity on the real metric)."""
    import __spark_entry__ as mod

    sf = "/root/testdata/sf0.001"
    out = mod.queries()["ann_recall_eval"](spark, sf).collect()
    assert len(out) == 5
    avg = sum(r["recall"] for r in out) / len(out)
    assert avg >= 0.5  # n_probe=4 of ~16 cells should recall >= half


def test_oov_rate_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b"),
            Row(doc_id=2, text="a b z"),
            Row(doc_id=3, text="q r s t"),
        ]
    )
    # top-2 vocab by (count desc, word asc): a(4), b(2)
    out = {
        r["doc_id"]: r for r in tx.vocab_oov_rates(docs, k=2).collect()
    }
    assert (out[1]["oov_tokens"], out[1]["oov_rate"]) == (0, 0.0)
    assert (out[2]["n_tokens"], out[2]["oov_tokens"]) == (3, 1)
    assert out[2]["oov_rate"] == pytest.approx(1 / 3)
    assert out[3]["oov_rate"] == 1.0


def test_oov_vocab_tie_break_deterministic(spark):
    # z and a tie at count 2 -> word order keeps 'a' for k=1
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="z a"), Row(doc_id=2, text="a z")]
    )
    out = tx.vocab_oov_rates(docs, k=1).collect()
    assert all(r["oov_tokens"] == 1 for r in out)  # 'z' always OOV


def test_kmeans_centroid_query_shape(spark):
    import __spark_entry__ as mod

    sf = "/root/testdata/sf0.001"
    rows = mod.queries()["similarity_kmeans_centroids"](spark, sf).collect()
    from olap_storage_engine_spark.operators.similarity import (
        derived_n_centroids,
    )

    n_emb = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    cents = {r["cent_id"] for r in rows}
    # every surviving centroid carries all 64 dims exactly once
    assert len(rows) == len(cents) * 64
    assert len(cents) <= derived_n_centroids(n_emb)
    assert all(-1.0 <= r["val"] <= 1.0 for r in rows)  # unit-norm corpus


def test_stream_classifier_filter_matches_batch(spark):
    from olap_storage_engine_spark.sources.testdata import load_table
    from olap_storage_engine_spark.streaming.corpus import (
        run_fixture_stream_classifier_filter,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        r["doc_id"]: r
        for r in run_fixture_stream_classifier_filter(spark, sf).collect()
    }
    batch = {
        r["doc_id"]: r
        for r in tx.hashed_classifier_scores(load_table(spark, sf, "documents"))
        .filter("keep")
        .collect()
    }
    assert set(streamed) == set(batch)
    for d, r in streamed.items():
        assert r["quality_prob"] == batch[d]["quality_prob"]


def test_lsh_pr_eval_hand_computed(spark):
    cand = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=1, doc_b=3), Row(doc_a=4, doc_b=5)]
    )
    truth = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=4, doc_b=5), Row(doc_a=6, doc_b=7)]
    )
    row = dd.lsh_pr_eval(cand, truth).collect()[0]
    assert (row["n_candidates"], row["n_truth"], row["n_hits"]) == (3, 3, 2)
    assert row["precision"] == pytest.approx(2 / 3)
    assert row["recall"] == pytest.approx(2 / 3)


def test_temperature_mixture_favors_rare_sources(spark):
    import math

    rows = [
        Row(doc_id=i, text="x", source=("big" if i < 400 else "small"))
        for i in range(420)
    ]
    docs = spark.createDataFrame(rows)
    out = {
        r["source"]: r
        for r in tx.temperature_mixture_summary(docs).collect()
    }
    assert out["big"]["n_docs"] == 400 and out["small"]["n_docs"] == 20
    # T=0.5 damping: the small source must keep a LARGER fraction
    assert out["small"]["kept_frac"] > out["big"]["kept_frac"]
    # exact golden: recompute the documented integer thresholds and
    # the md5 uniform draw per doc — n_kept must match to the row
    import hashlib

    scale = 1_000_000
    ns = {"big": 400, "small": 20}
    ws = {s: int(math.floor(math.sqrt(n * 1e6))) for s, n in ns.items()}
    wtot, total = sum(ws.values()), 420
    thr = {
        s: min(scale, (scale * (total // 2) * ws[s]) // (wtot * n))
        for s, n in ns.items()
    }

    def draw(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % scale

    exp_kept = {
        s: sum(
            1
            for i in range(420)
            if (("big" if i < 400 else "small") == s) and draw(i) < thr[s]
        )
        for s in ns
    }
    for s in ns:
        assert out[s]["n_kept"] == exp_kept[s]


def test_lsh_pr_eval_empty_sets_yield_null_not_crash(spark):
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [], T.StructType([T.StructField("doc_a", T.LongType()),
                          T.StructField("doc_b", T.LongType())])
    )
    pairs = spark.createDataFrame([Row(doc_a=1, doc_b=2)])
    # empty truth: recall undefined (NULL), precision 0
    row = dd.lsh_pr_eval(pairs, empty).collect()[0]
    assert (row["n_truth"], row["recall"]) == (0, None)
    assert row["precision"] == 0.0
    # empty candidates: precision undefined (NULL), recall 0
    row = dd.lsh_pr_eval(empty, pairs).collect()[0]
    assert (row["n_candidates"], row["precision"]) == (0, None)
    assert row["recall"] == 0.0


def test_nb_train_hand_computed_weights(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="good good fine", lbl="pos"),
            Row(doc_id=2, text="good bad", lbl="pos"),
            Row(doc_id=3, text="bad bad awful", lbl="neg"),
        ]
    )
    w = {
        r["bucket"]: r["weight"]
        for r in tx.naive_bayes_train_hashed(
            docs, label_col="lbl", positive="pos"
        ).collect()
    }

    def bucket(tok):
        h = 7
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1000003
        return h % 4096

    # Tp=5 (good x3, fine, bad), Tn=3, V=4 distinct buckets
    # good: cp=3, cn=0 -> ln((4/9)/(1/7))
    assert w[bucket("good")] == round(math.log((4 / 9) / (1 / 7)), 6)
    # bad: cp=1, cn=2 -> ln((2/9)/(3/7))
    assert w[bucket("bad")] == round(math.log((2 / 9) / (3 / 7)), 6)
    # prior row: ln(Np/Nn) = ln(2/1)
    assert w[-1] == round(math.log(2 / 1), 6)


def test_nb_confusion_separates_learnable_label(spark):
    from olap_storage_engine_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").withColumn(
        "__lbl",
        F.when(
            F.array_contains(F.split("text", " "), "spark"), "pos"
        ).otherwise("neg"),
    )
    w = tx.naive_bayes_train_hashed(docs, label_col="__lbl", positive="pos")
    conf = {
        (r["y"], r["pred"]): r["n"]
        for r in tx.nb_confusion(
            docs, w, label_col="__lbl", positive="pos"
        ).collect()
    }
    total = sum(conf.values())
    acc = sum(n for (y, p), n in conf.items() if (y == 1) == p) / total
    majority = (
        max(
            sum(n for (y, _), n in conf.items() if y == 1),
            sum(n for (y, _), n in conf.items() if y == 0),
        )
        / total
    )
    assert acc > majority + 0.05  # real learning, not the one-class model


def test_corpus_drift_zero_for_identical_halves(spark):
    # ids 0 and 1 split to different md5 halves? construct docs whose
    # two halves have IDENTICAL unigram distributions -> KL == 0
    import hashlib

    def side(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2

    a_ids = [i for i in range(40) if side(i) == 0][:3]
    b_ids = [i for i in range(40) if side(i) == 1][:3]
    rows = [Row(doc_id=i, text="x y z") for i in a_ids + b_ids]
    out = tx.corpus_drift_report(spark.createDataFrame(rows)).collect()[0]
    assert (out["tvd_micros"], out["tvd"]) == (0, 0.0)
    assert out["n_words"] == 3
    assert out["tokens_a"] == out["tokens_b"] == 9


def test_corpus_drift_positive_and_asymmetric_inputs(spark):
    import hashlib

    def side(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2

    a_id = next(i for i in range(40) if side(i) == 0)
    b_id = next(i for i in range(40) if side(i) == 1)
    rows = [Row(doc_id=a_id, text="p p p q"), Row(doc_id=b_id, text="q q q p")]
    out = tx.corpus_drift_report(spark.createDataFrame(rows)).collect()[0]
    # hand-computed: V=2, D_a=D_b=6, p_a=(4/6,2/6), p_b=(2/6,4/6)
    # TVD = (|4-2|+|2-4|)/(2*6) = 4/12 = 1/3 -> 333333 micros half-up
    assert out["tvd_micros"] == 333333
    assert out["tvd"] == pytest.approx(1 / 3, abs=1e-6)


def _py_span_dedup(texts, width, min_occurrences):
    """Pure-python reference for remove_duplicate_spans (C4 rule:
    TOTAL corpus occurrences, within-document repeats included)."""
    segs = {}
    for did, text in texts.items():
        arr = text.split(" ")
        segs[did] = [
            " ".join(arr[i * width : (i + 1) * width])
            for i in range((len(arr) + width - 1) // width)
        ]
    from collections import Counter

    df = Counter()
    for ss in segs.values():
        df.update(ss)
    out = {}
    for did, ss in segs.items():
        kept = [s for s in ss if df[s] < min_occurrences]
        out[did] = (len(ss), len(kept), " ".join(kept))
    return out


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_span_removal_matches_python_reference(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d", "e"]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 17)))
        for i in range(25)
    }
    ref = _py_span_dedup(texts, width=2, min_occurrences=2)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["kept_spans"], r["cleaned_text"])
        for r in dd.remove_duplicate_spans(
            docs, width=2, min_occurrences=2
        ).collect()
    }
    assert got == ref


def _py_bigram_lm(texts):
    """Pure-python reference for bigram_lm_scores."""
    from collections import Counter

    uni, bi = Counter(), Counter()
    for t in texts.values():
        ws = t.split(" ")
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    V = len(uni)
    out = {}
    for did, t in texts.items():
        ws = t.split(" ")
        if len(ws) < 2:
            continue
        micros = [
            round(round(math.log((bi[(a, b)] + 1) / (uni[a] + V)), 6) * 1e6)
            for a, b in zip(ws, ws[1:])
        ]
        micro = sum(micros)
        n = len(micros)
        out[did] = (n, micro / 1e6, round(micro / n))
    return out


@pytest.mark.parametrize("seed", [5, 41])
def test_bigram_lm_matches_python_reference(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = ["p", "q", "r", "s"]
    texts = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
        for i in range(20)
    }
    ref = _py_bigram_lm(texts)
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in texts.items()]
    )
    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["sum_logprob"],
            r["avg_lp_micro"],
        )
        for r in tx.bigram_lm_scores(docs).collect()
    }
    assert set(got) == set(ref)
    for did, (n, s, avg) in ref.items():
        gn, gs, gavg = got[did]
        assert gn == n
        assert gs == pytest.approx(s, abs=2e-6)
        assert abs(gavg - avg) <= 1  # python bankers-round vs HALF_UP


def test_pareto_filter_matches_python_reference(spark):
    import hashlib

    from olap_storage_engine_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    scored = {
        r["doc_id"]: r["quality_prob"]
        for r in tx.hashed_classifier_scores(docs).collect()
    }
    kept = {
        r["doc_id"]
        for r in tx.pareto_quality_filter(docs).collect()
    }

    def u(i):
        return (
            int(hashlib.md5(f"pareto#{i}".encode()).hexdigest()[:15], 16)
            % 1_000_000
        ) / 1_000_000

    expected = {
        d
        for d, p in scored.items()
        if (1.0 - u(d)) ** (-1.0 / 9.0) - 1.0 > 1.0 - p
    }
    assert kept == expected
    # stochastic, not a hard cut: some survivors below the median score
    assert kept and len(kept) < len(scored)


def test_hard_negatives_excludes_probe_label(spark):
    rows = [
        Row(vec_id=i, embedding=[float(i == j) for j in range(4)] * 16,
            label=i % 2)
        for i in range(4)
    ]
    emb = spark.createDataFrame(rows)
    probes = emb.filter("vec_id = 0")  # label 0
    out = sim.hard_negatives(emb, probes, k=3).collect()
    assert {r["vec_id"] for r in out} == {1, 3}  # only label-1 vectors
    assert all(r["probe_id"] == 0 for r in out)
    ranks = sorted(r["rank"] for r in out)
    assert ranks == [1, 2]


def test_classifier_empty_token_matches_oracle_seed(spark):
    """Doubled/leading spaces produce EMPTY tokens; their hash must be
    the seed (7), matching the oracle's zero-iteration fold — not a
    one-step fold over ascii('')=0 (r9 review finding)."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="good  bad"), Row(doc_id=2, text=" lead")]
    )
    out = {r["doc_id"]: r for r in tx.hashed_classifier_scores(docs).collect()}

    def bucket(tok):
        h = 7
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1000003
        return h % 4096

    def weight(tok):
        return ((bucket(tok) * 2654435761) % 65536) / 65536.0 - 0.5

    for did, text in ((1, "good  bad"), (2, " lead")):
        toks = text.split(" ")  # includes '' tokens
        raw = sum(weight(t) for t in toks)
        assert out[did]["raw_score"] == round(raw / len(toks), 6)
        assert out[did]["keep"] == (raw >= 0)


def test_nb_confusion_keeps_unseen_bucket_docs(spark):
    """Evaluating under FOREIGN weights: a document whose every bucket
    is absent from the model must classify from the prior alone, not
    vanish from the matrix (r9 review finding)."""
    train = spark.createDataFrame(
        [Row(doc_id=1, text="aaa bbb", lbl="pos"),
         Row(doc_id=2, text="ccc", lbl="neg")]
    )
    w = tx.naive_bayes_train_hashed(train, label_col="lbl", positive="pos")
    # eval corpus with a doc of entirely novel tokens
    ev = spark.createDataFrame(
        [Row(doc_id=10, text="aaa", lbl="pos"),
         Row(doc_id=11, text="zzz qqq www", lbl="neg")]
    )
    conf = tx.nb_confusion(ev, w, label_col="lbl", positive="pos").collect()
    assert sum(r["n"] for r in conf) == 2  # both docs present


def test_nb_serve_from_persisted_model_matches_inline(spark):
    """The persisted-model serving path must predict identically to
    inline train+predict (train-once / serve-many parity)."""
    from olap_storage_engine_spark.fixtures import read_artifact
    from olap_storage_engine_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    served = {
        r["doc_id"]: r["pred"]
        for r in tx.nb_predict(
            docs, read_artifact(spark, sf, "nb_model")
        ).collect()
    }
    labeled = docs.withColumn(
        "__lbl",
        F.when(
            F.array_contains(F.split("text", " "), "spark"), "pos"
        ).otherwise("neg"),
    )
    w = tx.naive_bayes_train_hashed(labeled, label_col="__lbl", positive="pos")
    inline = {r["doc_id"]: r["pred"] for r in tx.nb_predict(docs, w).collect()}
    assert served == inline
    assert len(served) == docs.count()


def test_centroid_outliers_flags_corrupt_vector(spark):
    """A zeroed-out (corrupt) vector must be flagged; a vector near
    its centroid must not."""
    cents = spark.createDataFrame(
        [Row(cent_id=0, cent_vec=[1.0] + [0.0] * 63)]
    )
    cells = spark.createDataFrame(
        [
            Row(cent_id=0, vec_id=1, embedding=[0.99] + [0.01] * 63),
            Row(cent_id=0, vec_id=2, embedding=[0.001] * 64),  # degenerate
        ]
    )
    out = sim.centroid_outliers(cells, cents, threshold=0.5).collect()
    assert {r["vec_id"] for r in out} == {2}
    assert all(r["cosine"] < 0.5 for r in out)


def test_corpus_drift_tvd_matches_exact_rational_reference(spark):
    """The r11 drift statistic is EXACTLY rational: tvd_micros must
    equal the half-up 1e-6 rounding of Σ|p_a-p_b|/2 computed in pure
    python Fractions — no float anywhere in either derivation, so any
    engine that implements the spec agrees bit-for-bit."""
    import hashlib
    import random
    from fractions import Fraction

    rng = random.Random(7)
    vocab = ["a", "b", "c", "dd", "ee", "f"]

    def side_a(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2 == 0

    for trial in range(4):
        rows = [
            Row(
                doc_id=i,
                text=" ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 12))
                ),
            )
            for i in range(trial * 20, trial * 20 + 20)
        ]
        ca, cb = {}, {}
        for r in rows:
            tgt = ca if side_a(r.doc_id) else cb
            for w in r.text.split(" "):
                tgt[w] = tgt.get(w, 0) + 1
        words = set(ca) | set(cb)
        v, ta, tb = len(words), sum(ca.values()), sum(cb.values())
        da, db = ta + v, tb + v
        num = sum(
            abs((ca.get(w, 0) + 1) * db - (cb.get(w, 0) + 1) * da)
            for w in words
        )
        micros = (num * 10**6 + da * db) // (2 * da * db)
        out = tx.corpus_drift_report(spark.createDataFrame(rows)).collect()[0]
        assert out["n_words"] == v
        assert out["tokens_a"] == ta and out["tokens_b"] == tb
        assert out["tvd_micros"] == micros, f"trial {trial}"
        # the integer rounding really is within half a grid step of
        # the exact rational TVD
        exact = Fraction(num, 2 * da * db)
        assert abs(Fraction(out["tvd_micros"], 10**6) - exact) <= Fraction(
            1, 2 * 10**6
        )
        assert 0 <= out["tvd_micros"] <= 10**6
