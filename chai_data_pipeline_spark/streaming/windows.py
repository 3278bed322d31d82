"""Structured Streaming ingest path: watermarked tumbling/sliding
window aggregations and session windows over the events stream.

The reference has NO streaming (its closest analog is the
``validation_status='pending'`` micro-batch flag pattern, reference:
scripts/silver/transform_silver.py:251-257); this is the engine's
north-star extension. The same aggregations run identically on a
file-backed stream here and on Kafka in production — only the
``readStream`` source line changes.

Semantics:
- event-time windows via ``window(ts, size[, slide])`` aligned to the
  unix epoch (same alignment as date_trunc, so batch oracles agree);
- ``withWatermark`` bounds state: late data beyond the watermark is
  dropped instead of growing state forever — the 100 TB/day posture;
- ``session_window`` gives gap-based sessions, the streaming equivalent
  of operators/windows.sessionize (same gap rule, so the batch
  sessionization oracle doubles as this stream's correctness check);
- the local test harness drives the stream to completion synchronously
  with a memory sink + processAllAvailable (complete output mode, so
  trailing windows still inside the watermark are emitted too).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Memo of the immutable source-stream DataFrame plan per
# (applicationId, staged source, delivery/trigger variant) — the same
# class as session._TABLE_MEMO (r13): a DataFrame is a logical plan,
# not a result; every started query still reads the staged parquet
# files. Building the stream costs a batch read (footer schema fetch)
# plus a readStream plan construct of ~0.1-0.2 s of driver/Py4J time
# per streaming query build — pure catalog-resolution overhead at any
# scale. Kill switch SPARK_GRAFT_STREAM_MEMO=0 for A/B probes.
_STREAM_MEMO: dict[tuple, DataFrame] = {}

# events.parquet row counts per (path, mtime_ns, size) (footer
# metadata, read once per file version) for adaptive_state_partitions
# — same cache discipline as session._SPLIT_META
_EVENTS_ROWS: dict[tuple[str, int, int], int] = {}


def adaptive_state_partitions(
    spark: SparkSession,
    sf_dir: str,
    floor: int = 2,
    replicas: int = 1,
    rows_per_partition: int = 125_000,
) -> int:
    """Scale the streaming state-store / shuffle partition count with
    SOURCE VOLUME, for topologies whose state is ROW-KEYED (stream-
    stream join buffers, dropDuplicates id sets, per-key Arrow state).

    The r12 re-measure picked 2 at sf0.1 (100k events: per-partition
    state-commit files are the dominant fixed cost of a short run) —
    but the r13 10x scale point proved that is a LOCAL-SCALE constant
    for row-keyed state: at 1M events the stream-stream join runs
    14.2 s with 2 partitions vs 6.0 s with 8 (min-of-3 interleaved,
    plans/r13/ab_stream_parts_sf1.json) because every micro-batch
    shuffles the full batch into only 2 state tasks. Derivation: one
    partition per ~125k source rows, floored at the local optimum (2;
    8 for the applyInPandasWithState topology, which scales with
    parallel Arrow workers), capped at the session's core count —
    the floor intentionally WINS over the core cap (a tiny container
    with fewer cores than the floor still gets the measured-minimum
    partition count, matching the prior fixed defaults). At
    sf0.1 this yields exactly the r12-measured optima — the local
    bench is unchanged by construction — and on a real cluster the
    count follows data volume and executor width, which is how
    production sizes state stores. ``replicas`` covers staged
    redelivery (the at-least-once dedup source stages the file twice).

    NOT for windowed/grouped AGGREGATES with bounded state: their
    stream shuffle is map-side partial-aggregated (bytes move at group
    cardinality, not row count), so extra partitions are pure commit
    overhead at any volume — measured at sf1: tumbling 1.55 s at 2
    parts vs 2.87 s at 8, session windows 2.98 vs 4.07
    (plans/r13/perfprobe_s1_sf1_afterparts.json). Those keep the
    fixed local default.
    """
    src = os.path.join(sf_dir, "events.parquet")
    # cache keyed on (path, mtime, size) so an in-process testdata
    # regeneration invalidates naturally; a read FAILURE is not
    # cached (falls back to the floor for this call only), so a
    # transient error cannot pin the count for the session (ADVICE
    # r13).
    try:
        st = os.stat(src)
        key = (src, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    rows = _EVENTS_ROWS.get(key) if key is not None else None
    if rows is None:
        try:
            import pyarrow.parquet as pq

            rows = pq.ParquetFile(src).metadata.num_rows
        except Exception:
            return floor
        if key is not None:
            _EVENTS_ROWS[key] = rows
    cores = spark.sparkContext.defaultParallelism
    return max(floor, min(cores, (rows * replicas) // rows_per_partition))


def stream_scratch_dir() -> str:
    """Scratch root for streaming checkpoints, staged sources, and file
    sinks. Prefers the RAM-backed /dev/shm when writable: every
    micro-batch commits one state file per partition per stateful
    operator plus offset/commit WAL entries, each fsync'd — on a
    disk-backed /tmp those small synchronous writes are the dominant
    FIXED cost of a local streaming run. Falls back to the system temp
    dir. These dirs are per-run scratch by design (fresh uuid each run,
    stale dirs of the same name reaped) — durability is a non-goal in
    the local harness; production checkpoints go to durable object
    storage via session.object_store_conf instead."""
    import tempfile

    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    duplicate_delivery: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-backed events stream with the same ns→µs conversion as the
    batch reader (session.load_tables).

    The file stream source requires a DIRECTORY; the testdata table is a
    single file, so we stage a symlink dir under /tmp (read-only
    testdata stays untouched). In production this line is the Kafka/
    landing-bucket source instead.

    ``duplicate_delivery=True`` stages the SAME file twice — simulating
    an at-least-once source redelivering every record — for exercising
    streaming deduplication.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # same tz pin + NTZ conversion as the batch reader
    # (session.load_tables): window bucketing on an instant would
    # follow the host zone of the driver's vanilla session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")

    stage = os.path.join(
        stream_scratch_dir(),
        "chai_stream_src_dup" if duplicate_delivery else "chai_stream_src",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(stage, exist_ok=True)
    links = ["events.parquet"]
    if duplicate_delivery:
        links.append("events_redelivered.parquet")
    for name in links:
        link = os.path.join(stage, name)
        # lexists (not exists): a dangling symlink from a rebuilt
        # testdata dir must be replaced, not crash os.symlink; a live
        # link pointing at a DIFFERENT file must be re-pointed, not
        # silently stream stale data
        if os.path.lexists(link):
            if os.path.islink(link) and os.readlink(link) == src:
                continue
            os.remove(link)
        os.symlink(src, link)

    memo_key = (
        spark.sparkContext.applicationId,
        src,
        duplicate_delivery,
        max_files_per_trigger,
    )
    memo_on = os.environ.get("SPARK_GRAFT_STREAM_MEMO", "1") != "0"
    if memo_on:
        cached = _STREAM_MEMO.get(memo_key)
        if cached is not None:
            return cached

    batch = spark.read.parquet(src)
    reader = spark.readStream.schema(batch.schema).format("parquet")
    if max_files_per_trigger is not None:
        # bound each micro-batch to N files — the lever that turns the
        # duplicate-delivery staging into MULTIPLE micro-batches (one
        # per file) for exercising cross-batch semantics
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(stage)
    # ts must be an INSTANT here (withWatermark rejects TIMESTAMP_NTZ);
    # the UTC session pin above makes window bucketing deterministic,
    # and aggregate outputs cast their window labels to NTZ so
    # driver-side collection is OS-tz-independent. Handle every ts
    # physical type the testdata has shipped with: ns (reads as bigint
    # under nanosAsLong), µs-NTZ (reads as timestamp_ntz), or already
    # an instant.
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # NTZ wall clock -> instant: identity under the UTC session pin
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # Event-time streaming is undefined for NULL-ts rows: they cannot be
    # watermarked, windowed, or range-joined. PRE-EPOCH rows are equally
    # out of domain (r12 --xts finding): Spark's watermark floor is
    # epoch-0, so a pre-1970 event is born "late" — stateful operators
    # with eviction (dropDuplicatesWithinWatermark, session_window)
    # silently DROP it while plain windowed aggregates keep it, an
    # intra-engine inconsistency. Define the engine's event-time domain
    # as [1970-01-01, ∞) and enforce it here, centrally, so every
    # streaming consumer (and its batch oracle, which carries the
    # matching predicate) sees the same event-time universe; production
    # routes the rejects to a dead-letter audit instead.
    stream = stream.filter(
        F.col("ts").isNotNull()
        & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    if memo_on:
        _STREAM_MEMO[memo_key] = stream
    return stream


def tumbling_counts_stream(
    spark: SparkSession, sf_dir: str, size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def append_window_counts_stream(
    spark: SparkSession, sf_dir: str, size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling windowed aggregate built for APPEND output mode — the
    canonical watermark-finalized production topology: each window is
    emitted EXACTLY ONCE, after the watermark passes its end, to an
    append-only file sink (run via ``run_streaming_query(...,
    output_mode="append", finalize_windows=True)``).

    Contrast with tumbling_counts_stream (complete mode, re-emits the
    whole aggregate state every batch): append mode is the shape that
    scales — sink traffic is one row per closed window, state is
    evicted as windows finalize, and downstream consumers see an
    immutable log of closed windows. Windows whose end is within the
    watermark delay of max(event time) are never finalized (the
    watermark cannot advance past max(ts) - delay); the batch oracle
    carries the matching ``window_end <= max(ts) - delay`` cutoff.
    Boundary (verified empirically, see run_streaming_query): a window
    ending exactly AT the watermark is emitted (<=, not <).

    Exact-decimal value sum + dround per the sliding_counts_stream
    discipline, so the oracle matches bit-for-bit.
    """
    from ..functions import dround

    ev = _events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dround(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(
    spark: SparkSession, sf_dir: str, size: str = "2 hours",
    slide: str = "1 hour", watermark: str = "2 hours",
) -> DataFrame:
    from ..functions import dround

    ev = _events_stream(spark, sf_dir)
    # no countDistinct on streams — exact decimal sum instead (order-
    # independent, matches the batch oracle bit-for-bit). dround (not a
    # bare floor): Spark FLOOR(double)->LONG silently saturates at 2^63
    # — the r12 2e17 probe caught the unguarded grid here.
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dround(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    ev = _events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )


def purchase_click_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding hour.

    Both sides carry watermarks and the join condition bounds event
    time on both sides — the two requirements for Spark to EVICT join
    state (without them, stream-stream join state grows forever; with
    them, state is capped at watermark + range, the 100 TB/day
    posture). Self-join of one source, filtered two ways — exactly the
    funnel-attribution shape."""
    ev = _events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
    ).select("purchase_id", "click_id")


def dedup_delivery_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once on top of an at-least-once source:
    ``dropDuplicatesWithinWatermark`` on the event id suppresses
    redeliveries arriving within the watermark, with state evicted
    beyond it (bounded memory — plain dropDuplicates on a stream would
    keep every id forever). The staged source delivers every record
    TWICE; the output must contain each exactly once."""
    ev = _events_stream(spark, sf_dir, duplicate_delivery=True)
    return (
        ev.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def run_streaming_query(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int = 2,
    finalize_windows: bool = False,
) -> DataFrame:
    """Drive a streaming query to completion synchronously; returns the
    final result as a batch DataFrame.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for the
    stream's lifetime (restored after): a streaming query's STATE STORE
    partition count is fixed from that conf at first start, and every
    micro-batch commits one state file per partition per stateful
    operator — with a vanilla session's 200 partitions the fixed
    per-batch overhead dwarfs the data. Size it to expected state
    volume / executor count in production; 2 fits the local harness
    (r12 re-measure, min-of-3 per full tumbling run at sf0.1:
    2 ≈ 0.90 s, 1 ≈ 0.87 s, 4 ≈ 1.35 s, 8 ≈ 1.09 s — per-partition
    commit files dominate, and 2 keeps a multi-partition state path
    exercised while 1 would degenerate to a single state task).

    Sink choice matters too: append-mode outputs can be ROW-SIZED (the
    delivery-dedup and stream-join queries emit one row per event), and
    a memory sink pins all of that in driver heap for the rest of the
    process — measured as multi-second GC drag on every subsequent
    query in the bench. Append mode therefore goes through a parquet
    file sink (the production shape; supports append only) and is read
    back lazily; complete/update aggregates are small and keep the
    memory sink.

    No-data micro-batches are disabled for the run (r11): they exist to
    FINALIZE append-mode windowed aggregates after the watermark passes
    — most of this engine's streaming topologies don't need that
    (complete/update modes emit on every data batch; the append-mode
    join and dedup emit at processing time), so the extra batch was a
    pure state-commit round (~0.25 s each locally, one more full commit
    cycle per query at any scale).

    ``finalize_windows=True`` is the sanctioned path for an append-mode
    WINDOWED aggregate (the canonical production pattern: event-time
    windows finalized by the watermark, each emitted exactly once to a
    file sink): it re-enables no-data micro-batches for this run, so
    after the last data batch advances the watermark one zero-input
    finalization batch evicts-and-emits every window whose end <=
    watermark (boundary verified empirically: a window ending EXACTLY
    at the watermark IS emitted). Windows still inside the watermark
    delay of max(event time) are never finalized by design — the batch
    oracle must carry the matching ``window_end <= max(ts) - delay``
    predicate. The runner verifies that the finalization batch actually
    committed before returning (loud timeout, never silent truncation).
    """
    spark = df.sparkSession
    if output_mode == "append" and not finalize_windows:
        # Loud fence for the trap documented above: an append-mode
        # streaming AGGREGATE only emits a group once the watermark
        # passes it, and with no-data micro-batches forced off the
        # watermark never advances past the last data batch — the
        # trailing windows would be SILENTLY truncated (and could even
        # hash-match a truncated oracle). Append-mode aggregates must
        # opt into finalize_windows=True instead of tripping this. The
        # plan probe is a private-API heuristic, so it FAILS CLOSED: if
        # the analyzed plan cannot be inspected (Spark Connect, a
        # future _jdf rename), we raise rather than silently skip the
        # check and re-admit the truncation trap (r12 advice).
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception as exc:
            raise ValueError(
                "run_streaming_query: cannot inspect the analyzed plan "
                "to rule out an append-mode streaming aggregate (the "
                "probe uses the private _jdf API). Failing closed: use "
                "finalize_windows=True for windowed aggregates, or "
                "complete/update output mode."
            ) from exc
        if "Aggregate [" in plan or "'Aggregate" in plan:
            raise ValueError(
                "run_streaming_query: append-mode streaming aggregate "
                "detected, but this runner forces "
                "spark.sql.streaming.noDataMicroBatches.enabled=false, "
                "so trailing windows would never finalize. Use "
                "complete/update output mode, or pass "
                "finalize_windows=True to re-enable no-data "
                "micro-batches for this query."
            )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if finalize_windows else "false",
    )
    restore_retain = _set_ephemeral_retain(spark)
    try:
        return _run_stream_inner(
            spark, df, name, output_mode,
            wait_finalize=finalize_windows,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nd
        )
        restore_retain()


def _set_ephemeral_retain(spark) -> "callable":
    """Bound checkpoint-version retention for an EPHEMERAL streaming run.

    These runners drive a query to completion against a throwaway
    checkpoint (deleted on the next run of the same name, never
    restarted), so Spark's default ``minBatchesToRetain=100`` — sized
    for production recovery windows — only adds per-batch bookkeeping:
    every commit tracks (and, past the bound, cleans) state/WAL
    versions that no restart will ever read. r14 measured the bound at
    2 as a small-but-consistent win across all seven streaming headline
    keys (totals 7.725 -> 7.508 s focused 5-pass, 9.284 -> 8.865 s in
    the 4-arm probe; every key improved in both). It never changes what
    a batch computes — only how many already-committed versions are
    kept.

    ``SPARK_GRAFT_STREAM_RETAIN`` overrides the bound (a long-lived
    production job that restarts from these checkpoints should carry
    its own recovery-window sizing; empty string = leave the session
    default untouched; anything else that is not an integer raises
    ``ValueError`` before any conf is set). Returns a restore thunk for
    the caller's ``finally``.
    """
    val = os.environ.get("SPARK_GRAFT_STREAM_RETAIN", "2")
    if not val:
        return lambda: None
    try:
        retain = int(val)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_STREAM_RETAIN must be an integer or empty, got {val!r}"
        ) from None
    key = "spark.sql.streaming.minBatchesToRetain"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(retain))
    if prev is None:
        return lambda: spark.conf.unset(key)
    return lambda: spark.conf.set(key, prev)


def _await_finalization_batch(q, timeout_s: float = 60.0) -> None:
    """Block until a ZERO-input micro-batch has committed on ``q``.

    processAllAvailable already waits for watermark-required no-data
    batches in practice (MicroBatchExecution only signals idle once no
    further batch is constructible, and a pending watermark advance
    makes one constructible) — this is the belt-and-braces check that
    the finalization batch really committed, because returning without
    it would SILENTLY truncate every window the watermark just closed.
    Loud timeout instead of silent truncation."""
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        progresses = list(q.recentProgress or [])
        if any(p.get("numInputRows") == 0 for p in progresses):
            return
        time.sleep(0.05)
    raise RuntimeError(
        "finalize_windows: no zero-input finalization micro-batch "
        "committed within timeout — trailing windows would be "
        "truncated; refusing to return a partial result."
    )


def _run_stream_inner(
    spark, df: DataFrame, name: str, output_mode: str,
    wait_finalize: bool = False,
) -> DataFrame:
    if output_mode == "append":
        import glob
        import re
        import shutil
        import tempfile
        import uuid

        # Bounded temp usage: drop PREVIOUS runs' output/checkpoint dirs
        # for THIS query name only — the trailing pattern is anchored to
        # exactly one 8-hex-char run id (+ optional _chk) so a name that
        # is a prefix of another ("join" vs "join_x") never deletes the
        # other's dirs. Contract: ONE live result per name — the lazy
        # DataFrame returned by a previous run of the SAME name becomes
        # unreadable once this run deletes its backing dir.
        stale_re = re.compile(
            rf"chai_stream_out_{re.escape(name)}_[0-9a-f]{{8}}(_chk)?$"
        )
        for stale in glob.glob(
            os.path.join(stream_scratch_dir(), f"chai_stream_out_{name}_*")
        ):
            if stale_re.search(os.path.basename(stale)):
                shutil.rmtree(stale, ignore_errors=True)
        out = os.path.join(
            stream_scratch_dir(),
            f"chai_stream_out_{name}_{uuid.uuid4().hex[:8]}",
        )
        q = (
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "_chk")
            .start()
        )
        try:
            q.processAllAvailable()
            if wait_finalize:
                _await_finalization_batch(q)
        finally:
            q.stop()
        return spark.read.parquet(out)
    # memory-sink branch: without an explicit checkpointLocation Spark
    # places the (still fsync'd) offset/state checkpoint under
    # java.io.tmpdir — route it through the scratch root too, with the
    # same name-scoped stale reap as the file-sink branch
    import glob
    import re
    import shutil
    import uuid

    stale_re = re.compile(
        rf"chai_stream_chk_{re.escape(name)}_[0-9a-f]{{8}}$"
    )
    for stale in glob.glob(
        os.path.join(stream_scratch_dir(), f"chai_stream_chk_{name}_*")
    ):
        if stale_re.search(os.path.basename(stale)):
            shutil.rmtree(stale, ignore_errors=True)
    chk = os.path.join(
        stream_scratch_dir(),
        f"chai_stream_chk_{name}_{uuid.uuid4().hex[:8]}",
    )
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def static_enrich_stream(
    spark: SparkSession,
    sf_dir: str,
    size: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–static enrichment: the events stream joined to the static
    customer→nation dimension (every ``user_id`` is a valid
    ``c_custkey`` in the generated data), then a watermarked tumbling
    count per nation.

    The static side is a plain batch DataFrame — Structured Streaming
    re-plans it per micro-batch and (being dimension-sized) broadcasts
    it, so the stream never shuffles for the join: the canonical
    enrich-on-ingest shape. Value mass uses the exact-decimal-sum
    discipline of sliding_counts_stream so the batch oracle matches
    bit-for-bit.
    """
    from ..functions import dround
    from ..session import load_tables

    ev = _events_stream(spark, sf_dir)
    t = load_tables(spark, sf_dir, "customer", "nation")
    dim = t["customer"].join(
        F.broadcast(t["nation"]),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select(F.col("c_custkey").alias("user_id"), F.col("n_name"))
    return (
        ev.filter(F.col("user_id").isNotNull())
        .join(F.broadcast(dim), "user_id")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), "n_name")
        .agg(
            F.count("*").alias("n_events"),
            # dround, not a bare floor: saturation guard (see
            # sliding_counts_stream)
            dround(
                F.sum(F.col("value").cast("decimal(27,4)")).cast("double"),
                4,
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("n_name").alias("nation"),
            "n_events",
            "total_value",
        )
    )


def window_topk_run(
    spark: SparkSession, sf_dir: str, k: int = 3,
    state_partitions: int = 4,
) -> DataFrame:
    """Streaming per-window top-k leaderboard via foreachBatch.

    Window functions cannot run INSIDE a streaming aggregate, so the
    production topology is: complete-mode windowed counts ->
    foreachBatch ranks the aggregate state and OVERWRITES the serving
    sink each micro-batch (a leaderboard is always a full refresh, not
    an append). The rank/filter runs on the batch DataFrame handed to
    foreachBatch — partitioned by window, bounded by the aggregate
    cardinality, never by the stream volume.
    """
    import glob
    import re
    import shutil
    import tempfile
    import uuid

    agg = tumbling_counts_stream(spark, sf_dir)
    stale_re = re.compile(r"chai_stream_topk_[0-9a-f]{8}(_chk)?$")
    for stale in glob.glob(
        os.path.join(stream_scratch_dir(), "chai_stream_topk_*")
    ):
        if stale_re.search(os.path.basename(stale)):
            shutil.rmtree(stale, ignore_errors=True)
    out = os.path.join(
        stream_scratch_dir(), f"chai_stream_topk_{uuid.uuid4().hex[:8]}"
    )

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as _W

        # asc_nulls_last: Spark ASC is NULLS FIRST while DuckDB is
        # NULLS LAST — a planted NULL event_type tying on n_events
        # would otherwise flip top-k membership (nullsweep-caught)
        w = _W.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc_nulls_last("event_type")
        )
        (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .write.mode("overwrite")
            .parquet(out)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # complete-mode state re-emits on every data batch; the no-data
    # finalization batch would just overwrite the sink with the same
    # leaderboard (see run_streaming_query)
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    )
    restore_retain = _set_ephemeral_retain(spark)
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(emit)
            .option("checkpointLocation", out + "_chk")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nd
        )
        restore_retain()
    return spark.read.parquet(out)
