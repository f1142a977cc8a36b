"""Streaming operators (SURVEY.md §2.10) — Structured Streaming.

Unified-API design: every windowed computation is written once as a
DataFrame transformation and applied to BOTH a batch frame (for the
DuckDB oracle / driver checks) and a ``readStream`` frame (for the
real streaming execution, exercised by running the file source to
completion into a memory sink). The reference has no streaming at all
— this is pure north-star surface, built on public Structured
Streaming semantics: event-time windows, watermarks for state
eviction, session windows, streaming dedup, arbitrary stateful
processing.

Scale notes: event-time windowed aggregation keys state by (window,
group); the watermark bounds state size — without it an unbounded
stream accumulates state forever, so every production query here
attaches one. File-source → micro-batch → memory sink is only the
test harness; swap the source/sink lines for Kafka in production.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source (file-source streaming; schema
    pinned from the batch reader — never inferred on a stream).

    The file source watches a DIRECTORY; the fixture is a single
    parquet file, so we stage a per-sf directory containing a symlink
    to it (read-only fixtures stay untouched).
    """
    import hashlib
    import os

    from ..sources.io import load_table

    batch = load_table(spark, sf_dir, "events")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = f"/tmp/mrnej_stream/{key}"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)

    # load_table already pinned nanosAsLong + inferTimestampNTZ=false on
    # this session, so this raw read sees the same physical types the
    # batch reader saw.
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(stage)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [c for c, t in stream.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    # sanity: streaming frame must carry the batch schema
    assert stream.schema == batch.schema, (stream.schema, batch.schema)
    return stream


#: state-store partition count pinned at stream start. Stateful
#: operators pay a fixed per-partition cost per micro-batch (store
#: open/commit), so this is sized to the data, not to the CPU count:
#: 8 is right for the fixture volumes (measured 4x faster than 32 on
#: the stream-stream join); a production deployment sizes it to keys
#: x state per key, and it cannot change after the first checkpoint.
STATE_PARTITIONS = 8


#: State-store provider for LARGE-state operators (stream-stream
#: joins, arbitrary stateful maps): RocksDB keeps state off-heap and
#: spillable, the only viable choice once per-partition state exceeds
#: executor heap (100 TB streams). Windowed aggregates keep the
#: default in-memory store — their watermark-bounded state is tiny and
#: the in-memory store measured faster at fixture scale (SCALE.md).
#: stateOperators entries of the most recent _run() stream, read by
#: tests (a list so the reference stays stable across
#: reassignment-free updates)
LAST_STATE_OPERATORS: list[dict] = []

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming."
    "state.RocksDBStateStoreProvider"
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

#: r14-opt (guide §1 empirical loop on the micro-batch profile): with
#: the RocksDB provider, every micro-batch COMMIT uploaded a full
#: snapshot of each store (stream-stream joins open 4 stores × 8
#: partitions, so 32 snapshot zips per batch — measured in
#: lastProgress.durationMs: the 0-row watermark-flush batch alone
#: spent ~1.0 s in addBatch, almost all store open/commit). Changelog
#: checkpointing commits the per-batch DELTA instead and snapshots in
#: the background — the documented production setting for RocksDB
#: state at scale (commit cost tracks changed keys, not store size).
#: Measured on stream_left_outer_interval at sf0.1, alternating warm
#: runs: 3.22-3.58 s → 2.86-3.04 s (~10%); results byte-identical
#: (state semantics unchanged; each run uses a fresh checkpoint).
_ROCKSDB_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def _run(
    result: DataFrame,
    spark: SparkSession,
    mode: str,
    state_provider: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming plan to completion (all available input, i.e.
    one bounded replay) into a memory sink; return the sink contents.
    The shuffle-partition (and optionally state-store provider +
    RocksDB changelog-checkpointing) confs are pinned around .start()
    (streaming plans capture them at planning time) and restored
    immediately. ``state_partitions`` overrides the module default for
    streams whose keyed state is far smaller than the fixture volumes
    STATE_PARTITIONS is sized for (state-store open/commit is a fixed
    per-partition cost paid every micro-batch)."""
    name = "s" + uuid.uuid4().hex[:12]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(_PROVIDER_CONF, None)
    prev_changelog = spark.conf.get(_ROCKSDB_CHANGELOG_CONF, None)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(state_partitions if state_partitions is not None else STATE_PARTITIONS),
    )
    if state_provider:
        spark.conf.set(_PROVIDER_CONF, state_provider)
        if state_provider == ROCKSDB_PROVIDER:
            spark.conf.set(_ROCKSDB_CHANGELOG_CONF, "true")
    try:
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if state_provider:
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_CONF)
            else:
                spark.conf.set(_PROVIDER_CONF, prev_provider)
            if state_provider == ROCKSDB_PROVIDER:
                # restore (not blindly unset): a session-level pre-set
                # of this conf must survive the first RocksDB stream
                # (ADVICE r14 item 2 — mirrors the provider handling)
                if prev_changelog is None:
                    spark.conf.unset(_ROCKSDB_CHANGELOG_CONF)
                else:
                    spark.conf.set(_ROCKSDB_CHANGELOG_CONF, prev_changelog)
    try:
        q.processAllAvailable()
        # observability hook: record the final state-store footprint so
        # a caller can report it for EVERY registry stream query
        # without re-implementing the queries (stateOperators =
        # rows/bytes held per stateful operator — the number that
        # decides survival on unbounded input). Zero-cost when nobody
        # reads it.
        import json as _json

        prog = _json.loads(q.lastProgress.json) if q.lastProgress else {}
        LAST_STATE_OPERATORS.clear()
        LAST_STATE_OPERATORS.extend(prog.get("stateOperators", []))
    finally:
        q.stop()
    return spark.table(name)


def run_streaming_to_df(
    result: DataFrame, spark: SparkSession, state_partitions: int | None = None
) -> DataFrame:
    """'complete' mode: windowed aggregates emit final values."""
    return _run(result, spark, "complete", state_partitions=state_partitions)


def run_streaming_append_to_df(
    result: DataFrame, spark: SparkSession, state_provider: str | None = None
) -> DataFrame:
    """Append-mode variant for non-aggregating streaming ops (dedup,
    stateful map, stream-stream joins): rows emitted as they finalize."""
    return _run(result, spark, "append", state_provider=state_provider)


def run_streaming_update_to_df(
    result: DataFrame, spark: SparkSession, state_provider: str | None = None
) -> DataFrame:
    """Update-mode variant (transformWithState emits per-batch updated
    rows; the memory sink appends each batch's emissions, so on the
    bounded single-batch replay the table holds exactly one emission
    per key)."""
    return _run(result, spark, "update", state_provider=state_provider)


# --- window shapes (applied to batch OR stream frames) -----------------------


def tumbling_counts(ev: DataFrame) -> DataFrame:
    """1-hour tumbling event-time windows per event_type."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(ev: DataFrame) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4)."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_window_agg(ev: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (streaming-capable form)."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def sessionize_batch(ev: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization via the lag/cumsum rewrite — kept
    EXACTLY equivalent to session_window_agg on bounded input (same
    gap semantics: a gap ≥ gap_seconds starts a new session), and
    DuckDB-expressible for the oracle (SURVEY.md §2.10 parity rule)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_seconds * 1_000_000
    us = F.unix_micros(F.col("ts"))
    with_new = ev.withColumn(
        "__new_session",
        F.when(
            (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) >= gap_us),
            1,
        ).otherwise(0),
    )
    with_sid = with_new.withColumn(
        "__sid", F.sum("__new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "__sid")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n_events"))
        .select("session_start", "user_id", "n_events")
    )


def events_stream_sentineled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source, staged WITH a far-future
    sentinel pair (one 'purchase', one 'error', event_id = -1, ts =
    max(ts) + 10 days). Outer-join / final-window results only emit
    once the watermark passes them; on a bounded replay the watermark
    ends 10 minutes short of max(ts), silently withholding the tail.
    The sentinel pair drives BOTH sides' watermarks past every real
    row, so the engine's watermark-flush batch (shouldRunAnotherBatch
    after the data batch) emits the complete, deterministic result —
    the bounded-replay equivalent of a quiescent stream finally
    passing its watermark. The sentinel file is derived from the raw
    fixture frame itself so its physical schema (incl. the
    timestamp encoding du jour — SURVEY §5.4) always matches."""
    import hashlib
    import os

    from ..sources.io import load_table

    batch = load_table(spark, sf_dir, "events")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = f"/tmp/mrnej_stream/{key}_sentinel"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sentinel = f"{stage}/sentinel.parquet"
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if not os.path.exists(sentinel):
        ts_t = dict(raw.dtypes)["ts"]
        one = raw.limit(1)
        if ts_t == "bigint":  # nanos-as-long
            mx = raw.agg(F.max("ts").alias("m")).collect()[0].m
            future = mx + 10 * 86400 * 1_000_000_000
            one = one.withColumn("ts", F.lit(future).cast("long"))
        else:
            mx = raw.agg(F.max("ts").alias("m")).collect()[0].m
            import datetime

            one = one.withColumn(
                "ts",
                F.lit(mx + datetime.timedelta(days=10)).cast(ts_t),
            )
        pair = one.withColumn("event_type", F.lit("purchase")).unionByName(
            one.withColumn("event_type", F.lit("error"))
        ).withColumn("event_id", F.lit(-1).cast("long"))
        pair.select([c for c, _ in raw.dtypes]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sentinel)
    stream = spark.readStream.schema(raw.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(stage)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [c for c, t in stream.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    assert stream.schema == batch.schema, (stream.schema, batch.schema)
    return stream


#: number of early rows replayed as the deliberately-late batch of the
#: late-accounting gate (bounded constant — never data-proportional)
LATE_REPLAY_ROWS = 64


def late_replay_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-micro-batch late-data replay for the watermark-accounting
    gate (`stream_late_accounting_gate`):

      batch 0  the full events fixture (establishes the watermark at
               max(ts) - 1 minute once the batch commits)
      batch 1  one filler row re-emitting max(ts) (Spark >= 3.4 splits
               the late-events filter watermark from the eviction
               watermark; the filler batch activates the filter — same
               structure as tests/test_streaming.py's two-batch pin)
      batch 2  the LATE_REPLAY_ROWS earliest rows replayed verbatim —
               weeks behind the watermark on every fixture (the events
               table spans ~30 days), so the engine MUST drop all of
               them

    Runs a 1-hour windowed count under a 1-minute watermark in UPDATE
    mode with maxFilesPerTrigger=1 so the three staged files become
    three real micro-batches; returns the raw memory-sink contents
    (one row per (window, update)). Counts only grow, so the caller
    takes max(n) per window for the final per-window value.

    Scale: the staged replay is fixture plumbing; the streaming plan
    itself is the production shape (watermark-bounded windowed agg —
    state is O(active windows), late rows are filtered before the
    state store, which is exactly the 100 TB survival property this
    gate makes hash-checkable).
    """
    import hashlib
    import os
    import shutil

    from ..sources.io import load_table

    load_table(spark, sf_dir, "events")  # pins session parquet confs
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = f"/tmp/mrnej_stream/{key}_latereplay"
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    cols = [c for c, _ in raw.dtypes]
    if not os.path.isdir(stage) or len(os.listdir(stage)) != 3:
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        filler = raw.orderBy(F.desc("ts"), F.desc("event_id")).limit(1)
        late = raw.orderBy("ts", "event_id").limit(LATE_REPLAY_ROWS)
        for i, part in enumerate([raw, filler, late]):
            tmp = f"{stage}/.b{i}.tmpdir"
            part.select(cols).coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            dst = f"{stage}/b{i}-batch.parquet"
            os.replace(f"{tmp}/{src}", dst)
            shutil.rmtree(tmp, ignore_errors=True)
            # mtime drives FileStreamSource batch order (latestFirst
            # false); pin it far apart so ordering never ties
            os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    for c in [c for c, t in stream.dtypes if t == "timestamp_ntz"]:
        stream = stream.withColumn(c, F.col(c).cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return _run(agg, spark, "update")
