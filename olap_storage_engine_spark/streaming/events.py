"""Streaming events surface (SURVEY §2 Part C, X6).

The reference has no streaming at all (SURVEY §2 Part B); this is the
extension surface over the ``events`` fixture: tumbling-window
aggregation expressed once as a column plan shared by the batch query
(oracle-checkable) and the Structured Streaming query (watermark +
windowed state), plus a stateful sessionization example with
``applyInPandasWithState``.

Scale notes: windowed aggregation state is keyed by (window,
event_type) — bounded cardinality; the watermark bounds state
retention under late data.  Sessionization state is per user_id and
evicted on timeout.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event type.  Works identically
    on a batch or streaming DataFrame (the streaming run adds a
    watermark first)."""
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """File-source streaming variant: readStream over a parquet
    directory, watermarked tumbling-window agg.  Returns the streaming
    DataFrame; caller picks the sink/trigger (tests use a memory sink
    with availableNow)."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    return windowed_event_agg(stream, window)


def run_fixture_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the tumbling-window aggregation as an actual Structured
    Streaming query over the events fixture (file source, availableNow
    trigger, complete mode into a memory sink) and return the final
    result table — the streaming twin of ``windowed_event_agg`` with
    identical output, so the same SQL oracle checks both.
    """
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F, types as T

    from ..sources.testdata import ensure_nanos_conf

    ensure_nanos_conf(spark)
    path = os.path.join(sf_dir, "events.parquet")
    # the file streaming source requires a directory; expose the
    # read-only fixture file through a symlink in a temp dir
    src_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    schema = spark.read.parquet(path).schema  # ts arrives as long (nanos)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    name = f"win_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            windowed_event_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


# Per-query-name state/progress metrics of the most recent completed
# fixture stream run (rows in the state store, state memory, input
# rows per micro-batch) — populated by _await_or_raise, read by the
# scale-regime bench (BENCH_SF1 streaming section): state growth vs
# input growth is the number that shows a topology is
# watermark-bounded rather than accumulating.
LAST_RUN_METRICS: dict = {}


def _await_or_raise(q, timeout_sec: int = 300) -> None:
    """awaitTermination returns False on timeout with the query still
    running — a partially-populated memory sink would then read as a
    wrong-but-plausible result.  Stop the query and fail loudly."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} still running after "
            f"{timeout_sec}s — memory sink would be incomplete"
        )
    try:
        prog = q.recentProgress or []
        state_rows = state_bytes = in_rows = 0
        batches = 0
        for p in prog:
            batches += 1
            in_rows += int(p.get("numInputRows") or 0)
            for so in p.get("stateOperators") or []:
                state_rows = max(state_rows, int(so.get("numRowsTotal") or 0))
                state_bytes = max(
                    state_bytes, int(so.get("memoryUsedBytes") or 0)
                )
        LAST_RUN_METRICS[q.name] = {
            "batches": batches,
            "input_rows": in_rows,
            "state_rows_peak": state_rows,
            "state_bytes_peak": state_bytes,
        }
    except Exception:  # metrics are best-effort introspection only
        pass


@contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily scope spark.sql.shuffle.partitions (the state-store
    partition count for a streaming query started inside the scope)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def _excluded_rules(spark: SparkSession, *rules: str):
    """Temporarily add optimizer rules to
    ``spark.sql.optimizer.excludedRules`` for a streaming query
    started (and, with availableNow, fully drained) inside the scope.
    Used where a specific rule rewrites a streaming plan into a
    provably worse shape and no expression-level workaround survives
    the rewrite — see run_fixture_stream_decontaminate."""
    key = "spark.sql.optimizer.excludedRules"
    old = spark.conf.get(key, None)
    parts = [r for r in (old or "").split(",") if r]
    spark.conf.set(key, ",".join(parts + list(rules)))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _ephemeral_checkpoint() -> str:
    """Checkpoint dir for the fixture/bench stream runners: tmpfs when
    the host has one, a normal tempdir otherwise.  Offset/commit WAL
    writes and HDFSBackedStateStore delta files fsync per store per
    micro-batch — on ext4 that measured ~0.3-0.5 s of a ~3.4 s
    availableNow run at sf0.1 (BENCHNOTES_r09 §5).  Ephemeral by
    design: these runners build a fresh query per call; production
    restartable ingest passes its own durable checkpoint_dir
    (streaming/ingest.py refuses to default silently)."""
    import os
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix="olap_stream_ckpt_", dir=base)


_SPLIT_CACHE: dict = {}


def _events_stat(sf_dir: str) -> tuple:
    """(st_mtime_ns, st_size) of the events fixture parquet — cache
    keys include it so an in-process fixture rebuild invalidates the
    split exports instead of silently serving streams from the old
    corpus (same staleness fix as corpus.py's _BENCH_HASHES, ADVICE
    r7/r8).  The path may be a single file or a parquet directory;
    for a directory, fold in every data file's (mtime, size) so a
    rewritten part-file invalidates even when the dir inode doesn't."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    st = os.stat(path)
    if os.path.isdir(path):
        parts = tuple(
            (fn, s.st_mtime_ns, s.st_size)
            for fn in sorted(os.listdir(path))
            if not fn.startswith((".", "_"))
            for s in [os.stat(os.path.join(path, fn))]
        )
        return (st.st_mtime_ns, parts)
    return (st.st_mtime_ns, st.st_size)


def prewarm_stream_sources(
    spark: SparkSession, sf_dir: str, cutoff: str = "2024-01-16 00:00:00"
) -> None:
    """Populate the split-file source caches the fixture streams read
    from (the two-batch split and its replayed variant).  The export is
    FIXTURE work — two filtered batch writes per source — not stream
    work; bench harnesses call this in their setup phase so a timed
    streaming query measures micro-batch execution, never the one-off
    source export (the replay-dedup query was charged ~1 s of
    coalesce+copy on first invocation otherwise)."""
    _two_batch_stream(spark, sf_dir, cutoff)
    _replay_split_dir(spark, sf_dir, cutoff)


def _two_batch_stream(spark: SparkSession, sf_dir: str, cutoff: str):
    """File-source stream over the events fixture split into two files
    at ``cutoff`` (one file per trigger, modification times pinned so
    batch order is deterministic).  The split export is cached per
    (sf_dir, cutoff) — a query timing a streaming run should not also
    pay two batch exports per source."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    key = (sf_dir, cutoff, _events_stat(sf_dir))
    if key not in _SPLIT_CACHE:
        src_dir = tempfile.mkdtemp(prefix="events_stream2_")
        f1 = os.path.join(src_dir, "batch1")
        f2 = os.path.join(src_dir, "batch2")
        ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.parquet(f1)
        ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.parquet(f2)
        now = 1_700_000_000
        for i, d in enumerate([f1, f2]):
            for fn in os.listdir(d):
                os.utime(os.path.join(d, fn), (now + i, now + i))
        _SPLIT_CACHE[key] = src_dir
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(_SPLIT_CACHE[key], "*"))
    )


def _replay_split_dir(spark: SparkSession, sf_dir: str, cutoff: str) -> str:
    """The two-batch split with batch1 delivered TWICE (a distinct
    copy with a later modification time) — the at-least-once replay
    source for run_fixture_stream_replay_dedup; cached per
    (sf_dir, cutoff) like _two_batch_stream's export."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..sources.testdata import load_table

    key = (sf_dir, cutoff, "replay", _events_stat(sf_dir))
    if key not in _SPLIT_CACHE:
        ev = load_table(spark, sf_dir, "events")
        src_dir = tempfile.mkdtemp(prefix="events_replay_")
        f1 = os.path.join(src_dir, "batch1")
        f2 = os.path.join(src_dir, "batch2")
        ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.parquet(f1)
        ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.parquet(f2)
        # the replay: batch1's data delivered again as a new file
        f1r = os.path.join(src_dir, "batch1_replay")
        shutil.copytree(f1, f1r)
        now = 1_700_000_000
        for i, d in enumerate([f1, f1r, f2]):
            for fn in os.listdir(d):
                os.utime(os.path.join(d, fn), (now + i, now + i))
        _SPLIT_CACHE[key] = src_dir
    return _SPLIT_CACHE[key]


def run_fixture_stream_join(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str = "2024-01-16 00:00:00",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's clicks in the preceding hour, as a real Structured
    Streaming join — both sides watermarked, the event-time band
    bounds the join state (clicks older than the band + watermark are
    evicted), matches emit exactly once as they form.  Inner joins
    emit every match regardless of batching, so the final table equals
    the batch band join and the same SQL oracle checks both."""
    import uuid

    from pyspark.sql import functions as F

    purchases = (
        _two_batch_stream(spark, sf_dir, cutoff)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        _two_batch_stream(spark, sf_dir, cutoff)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "c_ts")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    # stream-stream joins run 4 state-store tasks per shuffle partition
    # per microbatch; the fixture's state fits in a handful — state
    # partition count is a per-query knob (read at stream start; the
    # fresh checkpoint pins it), sized to state volume, not to the
    # batch session default
    with _shuffle_partitions(spark, 4):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def run_fixture_stream_append(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str = "2024-01-16 00:00:00",
    watermark: str = "1 hour",
) -> DataFrame:
    """Append-mode watermarked streaming: the production output mode.

    Complete mode re-emits all state every trigger — fine for a memory
    sink fixture, unusable at scale.  Append mode emits each window
    exactly once, when the watermark passes its end, and the watermark
    bounds the state store — this is the mode a 100 TB ingest actually
    runs.  The fixture is split into two files at ``cutoff`` and fed
    one file per trigger, so the watermark advances across a real
    multi-batch run; the data arrives in file order (no true late
    rows), so every emitted window holds its complete count and the
    result is deterministic: all windows whose end <= final watermark
    (max event time - delay), which is what the SQL oracle computes.
    """
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..sources.testdata import load_table

    stream = _two_batch_stream(spark, sf_dir, cutoff).withWatermark(
        "ts", watermark
    )
    name = f"app_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            windowed_event_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session roll-up via Spark's NATIVE session windows
    (``F.session_window``): dynamic-length windows that grow with each
    event and close when ``gap`` passes with no activity.  Works on a
    batch or streaming DataFrame; the streaming run merges session
    state store-side (no Python boundary — contrast the
    applyInPandasWithState sessionizer above, which exists for
    semantics session_window can't express, e.g. processing-time
    timeouts).

    Note the window's ``end`` is last-event-ts + gap by definition, so
    the roll-up also emits ``last_ts`` = max event time for parity with
    gap-based batch sessionization."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("sw"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "last_ts",
            "n_events",
            "total_value",
        )
    )


def run_fixture_stream_session(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str = "2024-01-16 00:00:00",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows as a real append-mode streaming query
    over the two-batch fixture stream: session state merges in the
    state store as events arrive, each closed session emits exactly
    once when the watermark passes its end (last_ts + gap), state is
    watermark-bounded — the 100 TB sessionization shape.

    Determinism mirrors run_fixture_stream_append: files arrive in
    event-time order, so no row is late and the result is exactly the
    batch gap-sessionization filtered to sessions with
    last_ts + gap <= max_ts - watermark_delay — a closed-form SQL
    oracle (a session breaks only when the inter-event gap is STRICTLY
    greater than ``gap``: adjacent windows merge, pinned by
    tests/test_streaming_session.py)."""
    import uuid

    stream = _two_batch_stream(spark, sf_dir, cutoff).withWatermark(
        "ts", watermark
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            session_window_agg(stream, gap)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def stream_exact_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival per key,
    with state bounded by the watermark (keys older than the watermark
    are evicted — the streaming twin of the batch exact-dedup
    operator).  dropDuplicates state is per-key and the watermark
    bounds it, so this runs indefinitely at ingest scale."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(
        key_cols + [ts_col]
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
_STATE_SCHEMA = "start long, end long, n int, total double"


def _sessionize_fn(key, pdfs, state: GroupState):
    """Custom stateful operator: per-user session roll-up with a
    processing-time timeout — the applyInPandasWithState pattern for
    operators Spark's built-in windows can't express."""
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        start, end, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "total_value": [total],
            }
        )
        return
    start = end = None
    n = 0
    total = 0.0
    if state.exists:
        start, end, n, total = state.get
    for pdf in pdfs:
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        lo, hi = min(ts_us), max(ts_us)
        start = lo if start is None else min(start, lo)
        end = hi if end is None else max(end, hi)
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((start, end, n, total))
    state.setTimeoutDuration(30_000)
    return
    yield  # generator form required


def run_fixture_stream_replay_dedup(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str = "2024-01-16 00:00:00",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once ingest under SOURCE REPLAY: the two-file stream
    with the first file fed TWICE (a distinct copy, later modification
    time — the at-least-once delivery failure mode every real ingest
    has), deduplicated by event_id under a watermark before the
    windowed aggregate.

    Replayed rows either hit live dedup state (duplicate -> dropped)
    or fall behind the watermark (late -> dropped); the two conditions
    share the same watermark value, so eviction and late-drop can't
    disagree and the result is deterministic under availableNow's
    pinned batch order.  State is bounded by the watermark horizon —
    this runs indefinitely at ingest scale.  The memory sink equals
    the batch aggregate over the ORIGINAL (unreplayed) events, so the
    events_stream_window oracle checks idempotence end to end.
    """
    import os
    import uuid

    from ..sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(_replay_split_dir(spark, sf_dir, cutoff), "*"))
    )
    # ts (the watermarked event-time column) must be IN the dedup keys:
    # Spark only evicts dropDuplicates state via the watermark when the
    # event-time column participates, and replayed rows carry identical
    # ts, so dedup still holds while state stays watermark-bounded.
    deduped = stream.withWatermark("ts", watermark).dropDuplicates(
        ["event_id", "ts"]
    )
    name = f"rdd_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            windowed_event_agg(deduped)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """Stateful sessionization over a streaming events DataFrame."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch-equivalent sessionization (gap-based) — the oracle-
    checkable twin of the streaming operator: a session breaks when the
    gap to the previous event of the same user exceeds ``gap_minutes``.
    Classic two-window plan: lag -> cumulative session id -> roll-up."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gapped = events.withColumn(
        "new_session",
        F.when(
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            )
            > gap_minutes * 60,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        gapped.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def run_fixture_stream_enrich(
    spark: SparkSession,
    sf_dir: str,
    cutoff: str = "2024-01-16 00:00:00",
) -> DataFrame:
    """Stream-STATIC join — the most common production enrichment
    shape: every arriving event joined to a small static dimension
    (per-user tier; derived deterministically here, a customer/user
    dim in production), then a stateless per-(tier, type) aggregate.

    The static side is a bounded batch DataFrame, so Catalyst
    broadcasts it into every micro-batch — no state store, no
    watermark, no shuffle of the stream side for the join itself; the
    topology holds at any ingest rate because the only stateful node
    is the tiny complete-mode aggregate (|tiers| x |types| rows),
    which production would replace with an append-mode window.
    Deterministic under availableNow: the batch join+aggregate oracle
    checks the final table exactly.
    """
    import uuid

    from pyspark.sql import functions as F

    from ..sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events")
    tiers = (
        ev.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = _two_batch_stream(spark, sf_dir, cutoff)
    joined = stream.join(F.broadcast(tiers), "user_id")
    # the established events-value discipline (events_stream_window):
    # plain double sum rounded 4dp — stable for this column's values
    out = joined.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    with _shuffle_partitions(spark, 4):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", _ephemeral_checkpoint())
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_raise(q)
    return spark.table(name)
