"""Streaming transformations + the availableNow→memory-sink harness.

Each transformation mirrors a batch plan in ``plans/eventtime.py`` so
streaming results can be asserted equal to (a subset of) the batch
results:

- tumbling window agg   ↔ ``e1_tumbling_window``
- session window agg    ↔ ``e3_session_window``
- dropDuplicatesWithinWatermark ↔ ``d1``-style exact dedup

Scale notes: streaming state lives in the state store keyed by
(window, key) / session key — watermarks bound that state, which is why
every aggregation here sets one. Complete-output mode is used only in
the harness for exact batch parity on bounded replays; a production
stream would run append mode with the same plans.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_sink_ids = itertools.count()


def stream_tumbling_counts(events: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """Hourly tumbling counts+sums per event type (streaming e1).

    Decimal-exact sum so the result hash-matches the batch oracle.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def stream_session_agg(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Per-user session windows (streaming e3). Append mode emits a session
    once the watermark passes its end — i.e. once it can no longer grow."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, *, keys: list[str] | None = None, watermark: str = "10 minutes") -> DataFrame:
    """Exactly-once style dedup: state is bounded by the watermark, so a
    duplicate arriving within the watermark window is dropped while state
    stays finite (the unbounded-state alternative, plain dropDuplicates,
    would OOM a long-running stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def run_available_now(
    df: DataFrame,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int | None = 8,
) -> tuple[DataFrame, dict]:
    """Run a streaming DataFrame to completion over the currently-available
    files and return (result-as-batch-DataFrame, last progress dict).

    availableNow + memory sink: the standard bounded-replay harness. The
    memory sink keeps results on the driver — fine for aggregated test
    output, never for raw 100 TB streams (those sink to parquet/Kafka).

    ``state_partitions`` temporarily overrides shuffle partitions for the
    run: each stateful operator initializes one state store PER partition,
    and a bounded replay of a small table pays that init cost every query
    (measured 1.5s → 0.9s at 32 → 8 locally). A real long-lived stream
    sizes this to state volume instead — pass ``None`` to keep the session
    setting. The partition count is baked into the checkpoint on first
    run, so this is a per-query choice, not a hot-tunable.
    """
    spark = df.sparkSession
    name = f"stream_result_{next(_sink_ids)}"
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_sec)
        finally:
            if q.isActive:
                q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
    progress = q.lastProgress or {}
    return spark.table(name), progress


def stream_events_dir_as_batch(
    spark: SparkSession,
    directory: str,
    transform,
    *,
    glob: str = "*.parquet",
    output_mode: str = "append",
) -> DataFrame:
    """One-call helper: stream files → transform → run to completion →
    batch DataFrame of the emitted rows (used by catalog entries so the
    driver's DuckDB oracle can check a streaming plan)."""
    from .source import read_events_stream

    stream = read_events_stream(spark, directory, glob=glob)
    out, _ = run_available_now(transform(stream), output_mode=output_mode)
    return out


def stream_stream_click_error_join(
    clicks: DataFrame,
    errors: DataFrame,
    *,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: each click paired with same-user errors in
    the preceding ``window``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store can evict rows once the watermark passes
    — the requirement for an unbounded-stream join to run with finite
    state. Inner joins under these bounds are COMPLETE on a bounded
    replay (every match is eventually emitted), which is why the catalog
    entry for this plan can hold it to the same DuckDB oracle as the
    batch form.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    e = errors.withWatermark("ts", watermark).select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    joined = c.join(
        e,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") <= F.col("c_ts"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {window}")),
    )
    return joined.select(
        "click_id", "error_id", F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"), F.unix_micros("e_ts").alias("error_us"),
    )


def maintain_hourly_rollup(events: DataFrame, out_path: str, *, watermark: str = "10 minutes") -> None:
    """Continuously-maintained hourly rollup table (hypertable-style
    continuous aggregate) on plain partitioned parquet.

    Update-mode streaming aggregation emits each window's refreshed totals
    whenever a micro-batch touches it; ``foreachBatch`` then rewrites ONLY
    the touched hour partitions (dynamic partition overwrite). The rollup
    parquet therefore always holds the latest complete value per window —
    no Delta/transaction log needed, idempotent under replays because a
    partition rewrite is a put, not an append.

    At scale this is the standard pattern for serving-layer rollups: the
    state store holds one row per open window, the sink only ever touches
    partitions the batch changed.
    """
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )

    def overwrite_touched_partitions(df: DataFrame, epoch_id: int) -> None:
        df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # partition granularity MUST equal update granularity (window AND
        # event_type): an hour-only layout would let a batch that updates
        # one type of an hour wipe that hour's other types.
        # repartition by the partition columns first: the update output is
        # (touched windows × types) rows spread over every state-store
        # partition — hashing them onto the layout keys writes each dir
        # from ONE task (one file per partition, tasks = cores, not rows)
        df.repartition(F.col("window_start_us"), F.col("event_type")).write.mode(
            "overwrite"
        ).partitionBy("window_start_us", "event_type").parquet(out_path)

    q = (
        agg.writeStream.foreachBatch(overwrite_touched_partitions)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def stream_static_enriched_counts(
    events: DataFrame, customers: DataFrame, *, watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-static enrichment join + windowed agg (the streaming form of
    the j1 broadcast-dimension pattern).

    The dimension is a plain batch DataFrame joined per micro-batch —
    stream-static inner joins are stateless (no join state to evict), so
    the only streaming state is the windowed aggregation behind the
    watermark. The broadcast hint is correct here for the same reason as
    batch j1: dimensions are bounded; the stream side never shuffles for
    the join itself.
    """
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(customers.select("c_custkey", "c_mktsegment")),
        events["user_id"] == F.col("c_custkey"),
    )
    return (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "c_mktsegment",
            "cnt",
            "sum_value",
        )
    )


def replay_dir_with_sentinels(sf_dir: str, *, glob: str = "events.parquet") -> str:
    """Stage a replay directory that forces every real session to CLOSE.

    The stateful sessionizer (``stateful.sessionize_with_state``) emits a
    session only when it closes — superseded by a later event, or flushed
    by the event-time watermark. On a plain bounded replay the last open
    session per user never closes, so the result was not oracle-checkable
    (rows-only until r5). The fix is pure event-time mechanics, the same
    trick a backfill job uses to drain state: append two far-future
    SENTINEL events (user_id = -1) in their own files with ascending
    mtimes. Replayed one file per micro-batch:

    - batch 1: the real events — sessions computed, last-per-user open;
    - batch 2: sentinel #1 advances the watermark past every real
      session's end + gap;
    - batch 3: sentinel #2 triggers the event-time timeouts (timers fire
      against the batch-2 watermark), flushing ALL remaining real state.

    Sentinel rows are filtered out of the result (user_id < 0), making
    the emitted set EXACTLY the batch session set — so the batch
    session-window SQL becomes a valid exact oracle for the streaming
    stateful operator.

    The events file itself is byte-copied (schema-preserving for either
    fixture generation — see ``streaming/source.py``). Staged once per
    source by :func:`sources.writers.staged_dir`, so a concurrent session
    sees the whole replay dir or none of it.
    """
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..sources.writers import _stage_key, staged_dir

    src = os.path.join(sf_dir, glob)

    def build(work: str) -> None:
        os.makedirs(work)
        t = pq.read_table(src)  # file OR Spark-written part-file directory
        if os.path.isdir(src):
            # directory layout (synthesized/production tables): stage the
            # concatenated parts as the one real-data file of the replay
            pq.write_table(t, os.path.join(work, "00_events.parquet"))
        else:
            shutil.copyfile(src, os.path.join(work, "00_events.parquet"))
        schema = t.schema
        max_ts = pc.max(t["ts"]).as_py()  # datetime (ns or µs unit — arrow handles both)
        year = dt.timedelta(days=365)
        base = time.time() - 3600
        os.utime(os.path.join(work, "00_events.parquet"), (base, base))
        for i, delta in enumerate((year, year + dt.timedelta(days=30)), start=1):
            row = {
                "event_id": pa.array([-i], type=schema.field("event_id").type),
                "ts": pa.array([max_ts + delta], type=schema.field("ts").type),
                "user_id": pa.array([-1], type=schema.field("user_id").type),
                "event_type": pa.array(["click"], type=schema.field("event_type").type),
                "value": pa.array([0.0], type=schema.field("value").type),
                "props": pa.array(["{}"], type=schema.field("props").type),
            }
            path = os.path.join(work, f"{i:02d}_sentinel.parquet")
            pq.write_table(pa.table([row[f.name] for f in schema], schema=schema), path)
            os.utime(path, (base + 10 * i, base + 10 * i))

    return staged_dir("st3_replay", _stage_key(src, "st3"), build)


def replay_table_slices(sf_dir: str, table: str = "documents", *, n_files: int = 4) -> str:
    """Stage ``<table>.parquet`` as ``n_files`` row-slices with ascending
    mtimes so a ``maxFilesPerTrigger=1`` stream replays the table as
    n_files micro-batches (st7/st8's incremental-arrival simulation).
    Staged once by :func:`sources.writers.staged_dir`.
    """
    import hashlib

    import pyarrow.parquet as pq

    from ..sources.writers import staged_dir

    src = os.path.join(sf_dir, f"{table}.parquet")

    def build(work: str) -> None:
        os.makedirs(work)
        t = pq.read_table(src)
        n = t.num_rows
        base = time.time() - 3600
        step = max(1, (n + n_files - 1) // n_files)
        for i in range(n_files):
            sl = t.slice(i * step, step)
            path = os.path.join(work, f"{i:02d}_{table}.parquet")
            pq.write_table(sl, path)
            os.utime(path, (base + 10 * i, base + 10 * i))

    # the one staged layout not keyed by _stage_key: the benchmark
    # recomputes this exact name (path:getmtime:n_files) to clean up after
    # each run, so the key must stay byte-for-byte as it is
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{os.path.getmtime(src)}:{n_files}".encode()
    ).hexdigest()[:10]
    return staged_dir(f"replay_{table}", key, build)


def maintain_contamination_bloom(
    spark: SparkSession, replay_dir: str, state_path: str
) -> bytes:
    """Continuously-maintained decontamination bloom (st7): each micro-batch
    of arriving eval documents is shingled, hashed, reduced to a 1 MB
    bitset DISTRIBUTED (same per-partition-bitset → bit_or shape as the
    batch build), then OR-merged into the persisted sketch in
    ``foreachBatch``.

    Why this is exact, not approximate-refresh: bloom insertion is a
    bitwise OR, which is associative, commutative and idempotent — so
    OR(bloom(batch_i)) == bloom(union(batches)) REGARDLESS of batch
    boundaries, and replaying a batch after a restart changes nothing.
    The maintained sketch is therefore BYTE-equal to an eager rebuild
    over the full eval set (pinned in tests), and d13's oracle carries
    over verbatim. State is the fixed 1 MB sketch — not per-key stream
    state — published atomically per batch (tmp + os.replace), so a
    reader never sees a torn sketch and a crash loses at most the
    batches not yet OR-ed in.
    """
    import numpy as np

    from ..plans.dedup import _BLOOM_WORDS, _build_bloom, shingled_from_docs

    schema = spark.read.parquet(replay_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )

    def merge_batch(df: DataFrame, epoch_id: int) -> None:
        ev = df.where((F.col("doc_id") % 5 == 0)).select("doc_id", "text")
        hashes = (
            shingled_from_docs(ev)
            .select(F.explode("sh").alias("shingle"))
            .select(F.xxhash64("shingle").alias("h"))
        )
        batch_words = np.frombuffer(_build_bloom(hashes), dtype=np.uint64)
        if os.path.exists(state_path):
            with open(state_path, "rb") as fh:
                words = np.frombuffer(fh.read(), dtype=np.uint64) | batch_words
        else:
            words = batch_words
        assert len(words) == _BLOOM_WORDS
        tmp = f"{state_path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(words.tobytes())
        os.replace(tmp, state_path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    with open(state_path, "rb") as fh:
        return fh.read()


def stream_stream_click_error_left_join(
    events: DataFrame,
    *,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, paired with same-user
    errors in the preceding ``window`` — or with NULLs once no match can
    arrive.

    The outer variant is the state-HEAVY one: an unmatched click cannot
    emit when it is seen (a matching error may still come), so it sits in
    the state store until the watermark passes ``click.ts + window`` (the
    latest event time a matching error could carry) and only THEN emits
    null-padded — correctness depends on eviction timing, not just on
    matching. Both watermarks therefore go on the RAW event stream,
    BEFORE the event_type filters: the bounded-replay sentinels (user_id
    < 0, arbitrary type) must advance both sides' watermarks or the last
    unmatched clicks would hang in state forever — exactly the st3
    sentinel discipline, applied to join state instead of session state.

    Inner-join results stream out as matches arrive (same as
    :func:`stream_stream_click_error_join`); the join condition bounds
    event-time distance on both sides, so state stays finite on an
    unbounded stream.
    """
    wm = events.withWatermark("ts", watermark)
    c = wm.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    e = wm.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    joined = c.join(
        e,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") <= F.col("c_ts"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {window}")),
        "leftOuter",
    )
    return joined.select(
        "click_id",
        "error_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("c_ts").alias("click_us"),
        F.unix_micros("e_ts").alias("error_us"),
    )


def run_restart_exactly_once(
    spark: SparkSession,
    sf_dir: str,
    *,
    crash_after_epoch: int = 1,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Replay the events stream through an IDEMPOTENT foreachBatch
    parquet sink with an injected driver crash, restart from the
    checkpoint, and return the sunk rows — the exactly-once fault-
    tolerance proof (st13).

    Mechanics: each micro-batch lands in its own ``batch_id=N``
    partition with mode=overwrite — the Structured Streaming idempotent-
    sink recipe (epoch_id is stable across batch retries, so a REPLAYED
    batch overwrites itself instead of appending duplicates). The
    injected failure raises AFTER batch ``crash_after_epoch``'s write
    completes but BEFORE its checkpoint commit — the exact at-least-once
    window where a naive append sink duplicates rows. The restart
    replays that batch (same epoch id), the overwrite absorbs it, and
    the final table equals the batch truth — which the DuckDB oracle
    then checks. ``attempts.log`` records every (epoch, write) so tests
    can assert the crash batch really ran twice.

    Staging discipline: keyed by the replay dir (itself keyed by source
    identity); once ``_done`` is published, later invocations just read
    the sunk table (the d12 persisted-index precedent).
    """
    import hashlib

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from .source import read_events_stream

    replay = replay_dir_with_sentinels(sf_dir)
    key = hashlib.md5(replay.encode()).hexdigest()[:12]
    base = f"/tmp/spark_graft_st13_{key}"
    data_dir = os.path.join(base, "data")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        os.makedirs(base, exist_ok=True)
        marker = os.path.join(base, "_crashed_once")
        log = os.path.join(base, "attempts.log")

        def sink(bdf: DataFrame, epoch_id: int) -> None:
            (
                bdf.write.mode("overwrite").parquet(
                    os.path.join(data_dir, f"batch_id={epoch_id}")
                )
            )
            with open(log, "a") as fh:
                fh.write(f"{epoch_id}\n")
            if epoch_id == crash_after_epoch and not os.path.exists(marker):
                with open(marker, "w") as fh:
                    fh.write("injected")
                raise RuntimeError(
                    "st13 injected crash: after write, before epoch commit"
                )

        stream = read_events_stream(
            spark, replay, glob="*.parquet", max_files_per_trigger=1
        )
        saved = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            for _attempt in range(3):
                q = (
                    stream.writeStream.foreachBatch(sink)
                    .option("checkpointLocation", os.path.join(base, "ck"))
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    finished = q.awaitTermination(300)
                except StreamingQueryException:
                    continue  # the injected crash — restart from checkpoint
                finally:
                    if q.isActive:
                        q.stop()
                # ADVICE r9: a 300s TIMEOUT (finished=False) must not count
                # as success — the query was still running and stop() left
                # q.exception() None, so the old break wrote _done over a
                # potentially incomplete sink and cached it forever. Only a
                # query that actually TERMINATED cleanly completes the run.
                if finished and q.exception() is None:
                    break
                if not finished:
                    raise RuntimeError(
                        "st13 stream timed out after 300s without terminating"
                        " — refusing to publish a possibly-incomplete sink"
                    )
            else:
                raise RuntimeError("st13 stream did not complete in 3 attempts")
        finally:
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", saved)
        with open(done, "w") as fh:
            fh.write("ok")
    return spark.read.parquet(data_dir)
