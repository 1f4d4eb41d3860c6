"""Structured Streaming surface: file-source windowed agg equals the
batch plan; stateful sessionization runs end to end."""

import pytest
from pyspark.sql import Row, functions as F

from olap_storage_engine_spark.streaming.events import (
    sessionize_batch,
    sessionize_stream,
    stream_windowed_counts,
    windowed_event_agg,
)


@pytest.fixture(scope="module")
def events(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            Row(
                event_id=i,
                ts=base + dt.timedelta(minutes=7 * i),
                user_id=i % 5,
                event_type=["click", "view"][i % 2],
                value=float(i),
                props="{}",
            )
        )
    return spark.createDataFrame(rows)


def test_stream_equals_batch(spark, events, tmp_path):
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    batch = windowed_event_agg(spark.read.parquet(src))
    stream = stream_windowed_counts(
        spark, src, events.schema, window="1 hour", watermark="2 hours"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("win_test").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_stream_exact_dedup(spark, events, tmp_path):
    from olap_storage_engine_spark.streaming.events import stream_exact_dedup

    src = str(tmp_path / "dup_src")
    # write the same events twice -> every row duplicated across files
    events.write.parquet(src)
    events.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 400
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        stream_exact_dedup(stream, ["event_id"], watermark="10 hours")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("dedup_test")
    assert out.count() == 200  # each event_id kept once
    assert out.select("event_id").distinct().count() == 200


def test_sessionize_batch_gap_semantics(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=1, ts=t0, user_id=1, event_type="a", value=1.0, props=""),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=10), user_id=1,
            event_type="a", value=2.0, props=""),
        # 40-minute gap > 30 -> new session
        Row(event_id=3, ts=t0 + dt.timedelta(minutes=50), user_id=1,
            event_type="a", value=3.0, props=""),
        Row(event_id=4, ts=t0, user_id=2, event_type="a", value=9.0, props=""),
    ]
    out = sessionize_batch(spark.createDataFrame(rows), gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    first = min(by_user[1], key=lambda r: r["session_start"])
    assert first["n_events"] == 2 and first["total_value"] == 3.0
    assert len(by_user[2]) == 1


def test_sessionize_stream_runs(spark, events, tmp_path):
    """applyInPandasWithState end-to-end: sessions emit on timeout;
    with availableNow + processing-time timeout the streaming query
    runs and commits state without error (emission happens on a later
    trigger in production; here we assert the machinery works)."""
    src = str(tmp_path / "sess_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # state machinery ran; output may be empty until timeout fires
    assert spark.table("sess_test").columns == [
        "user_id", "session_start", "session_end", "n_events", "total_value"
    ]


def test_stream_append_watermark_semantics(spark):
    """Append mode emits exactly the windows the watermark has closed
    (end <= max event time - delay), each with its complete count."""
    from olap_storage_engine_spark.streaming.events import (
        run_fixture_stream_append,
    )

    sf = "/root/testdata/sf0.001"
    emitted = run_fixture_stream_append(spark, sf)
    from olap_storage_engine_spark.sources.testdata import load_table

    ev = load_table(spark, sf, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = windowed_event_agg(ev).filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
    )
    e = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in emitted.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
         for r in batch.collect()}
    assert e == b and len(e) > 0


def test_stream_replay_dedup_idempotent(spark):
    """Source replay (batch 1 delivered twice) leaves the windowed
    aggregate EQUAL to the batch aggregate over the original events —
    watermarked event_id dedup makes ingestion idempotent."""
    from olap_storage_engine_spark.sources.testdata import load_table
    from olap_storage_engine_spark.streaming.events import (
        run_fixture_stream_replay_dedup,
    )

    sf = "/root/testdata/sf0.001"
    got = run_fixture_stream_replay_dedup(spark, sf)
    ev = load_table(spark, sf, "events")
    batch = windowed_event_agg(ev)
    g = {(r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
         for r in batch.collect()}
    assert g == b and len(g) > 0
    # sanity: the replay really delivered duplicates — without dedup
    # the first batch's windows would double-count
    n_events_total = sum(v[0] for v in g.values())
    assert n_events_total == ev.count()


def test_stream_corpus_filter_matches_batch(spark):
    """The streaming verdict histogram must equal the batch policy's
    aggregate — same operator, two execution modes."""
    from olap_storage_engine_spark.operators.text import quality_filter
    from olap_storage_engine_spark.sources.testdata import load_table
    from olap_storage_engine_spark.streaming.corpus import (
        run_fixture_stream_corpus_filter,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        map(tuple, run_fixture_stream_corpus_filter(spark, sf_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            quality_filter(load_table(spark, sf_dir, "documents"))
            .groupBy("lang", "reason")
            .agg(F.count(F.lit(1)).cast("int").alias("n"))
            .collect(),
        )
    )
    assert got == want and len(got) > 4


def test_stream_decontaminate_matches_batch(spark):
    """The streaming keep-set must equal the batch decontamination's
    keep-set — same verdict, two execution modes; and the streaming
    plan must stay stateless (append mode, no state store)."""
    from olap_storage_engine_spark.operators.dedup import decontaminate
    from olap_storage_engine_spark.sources.testdata import load_table
    from olap_storage_engine_spark.streaming.corpus import (
        run_fixture_stream_decontaminate,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        map(
            tuple,
            run_fixture_stream_decontaminate(spark, sf_dir).collect(),
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    want = sorted(
        map(
            tuple,
            decontaminate(docs, bench, n=5)
            .select("doc_id", "lang", "source")
            .collect(),
        )
    )
    assert got == want and len(got) > 100


def test_run_metrics_recorded_for_fixture_streams(spark):
    """r10: _await_or_raise records per-run progress metrics
    (LAST_RUN_METRICS) — the introspection the sf1 streaming scale
    bench reads.  A windowed fixture run must report its input rows
    and a positive bounded state size."""
    from olap_storage_engine_spark.streaming import events as sev

    sev.LAST_RUN_METRICS.clear()
    sev.run_fixture_stream_windowed(spark, "/root/testdata/sf0.001")
    assert sev.LAST_RUN_METRICS, "no metrics recorded"
    m = next(iter(sev.LAST_RUN_METRICS.values()))
    assert m["input_rows"] > 0
    assert m["batches"] >= 1
    assert m["state_rows_peak"] > 0  # complete-mode windowed agg


def test_stream_neardup_filter_matches_batch(spark):
    """The streaming near-dup dropped set must equal the doc_b side of
    the batch banded-LSH candidate pairs served from the persisted
    signature index — same signatures, same banding, two execution
    modes.  Sanity: nothing below the corpus minimum id is ever
    dropped, and at least one dup exists in the fixture."""
    from olap_storage_engine_spark.fixtures import read_artifact
    from olap_storage_engine_spark.operators.dedup import (
        minhash_candidates_from_sigs,
    )
    from olap_storage_engine_spark.streaming.corpus import (
        run_fixture_stream_neardup_filter,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        r["doc_id"]
        for r in run_fixture_stream_neardup_filter(spark, sf_dir).collect()
    )
    sigs = read_artifact(spark, sf_dir, "minhash_sigs")
    want = sorted(
        r["doc_b"]
        for r in minhash_candidates_from_sigs(sigs, 8, 2)
        .select("doc_b")
        .distinct()
        .collect()
    )
    assert got == want and len(got) > 0
    min_id = sigs.agg(F.min("doc_id")).first()[0]
    assert min_id not in got  # the lowest id can never be a dup


def test_stream_neardup_filter_refuses_band_param_drift(spark):
    """band_rows is part of the batch-equivalence contract (r13
    ADVICE): a non-divisor width would silently drop tail hashes, and
    any width other than the batch banding breaks the documented
    dropped-set == mh_pairs doc_b equality — both fail loud."""
    import pytest as _pytest

    from olap_storage_engine_spark.streaming.corpus import (
        run_fixture_stream_neardup_filter,
    )

    sf_dir = "/root/testdata/sf0.001"
    with _pytest.raises(ValueError, match="band_rows must divide"):
        run_fixture_stream_neardup_filter(spark, sf_dir, band_rows=3)
    with _pytest.raises(ValueError, match="mh_pairs contract"):
        run_fixture_stream_neardup_filter(spark, sf_dir, band_rows=4)
    with _pytest.raises(ValueError, match="signature index is"):
        run_fixture_stream_neardup_filter(spark, sf_dir, num_hashes=16)
