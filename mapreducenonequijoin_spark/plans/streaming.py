"""Streaming queries (SURVEY.md §2.10) — each runs a REAL Structured
Streaming query (file source → micro-batch engine → memory sink) to
completion on the bounded fixture stream, so the driver exercises the
streaming engine itself; the DuckDB oracle is the batch-window
equivalent, which must agree on bounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..streaming.windows import (
    ROCKSDB_PROVIDER,
    events_stream,
    run_streaming_append_to_df,
    run_streaming_to_df,
    run_streaming_update_to_df,
    session_window_agg,
    sliding_counts,
    tumbling_counts,
)
from .registry import register

import os


def tws_runtime_available() -> bool:
    """True iff PySpark's transformWithState Python workers can run:
    they speak a protobuf state protocol
    (pyspark/sql/streaming/proto/StateMessage_pb2), so the native path
    needs ``google.protobuf`` importable. This container lacks it
    (installs forbidden) — stream_transform_with_state then routes the
    same per-(user, type) semantics through applyInPandasWithState."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 1-hour event-time windows per event_type, executed by the
    micro-batch engine with a 10-minute watermark (state eviction)."""
    return run_streaming_to_df(tumbling_counts(events_stream(spark, sf_dir)), spark)


@register(
    "stream_sliding",
    oracle="""
    SELECT window_start, event_type, count(*) AS n FROM (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts)
               - k * INTERVAL 15 MINUTE AS window_start, event_type, ts
      FROM events, (SELECT unnest(range(0, 4)) AS k))
    WHERE ts >= window_start AND ts < window_start + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event in 4 windows);
    the oracle reproduces window assignment arithmetically."""
    return run_streaming_to_df(sliding_counts(events_stream(spark, sf_dir)), spark)


@register(
    "stream_session",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sids AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps)
    SELECT min(ts) AS session_start, user_id, count(*) AS n_events
    FROM sids GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-minute gap) on the streaming engine;
    the oracle is the lag/cumsum sessionization rewrite, which is
    equivalent on bounded input (same >= gap boundary semantics)."""
    return run_streaming_to_df(
        session_window_agg(events_stream(spark, sf_dir), "30 minutes"), spark
    )


@register("stream_watermark_late")  # watermark drop semantics: rows-only
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed agg under a tight 1-minute watermark. On a single
    bounded replay nothing is late (one micro-batch), so counts equal
    the batch result; the actual late-drop behavior is pinned by the
    two-batch test in tests/test_streaming.py. Not batch-expressible
    in general → rows-only check (SURVEY.md §2.10)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 minute")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return run_streaming_to_df(agg, spark)


@register(
    "stream_late_accounting_gate",
    oracle="""
    WITH s AS (SELECT max(ts) AS mx, count(*) AS n FROM events),
    late AS (SELECT ts FROM events ORDER BY ts, event_id LIMIT 64),
    surv AS (
      SELECT count(*) AS n_surv
      FROM late, s
      WHERE time_bucket(INTERVAL 1 HOUR, late.ts) + INTERVAL 1 HOUR
              > s.mx - INTERVAL 1 MINUTE)
    SELECT CAST(s.n + 1 AS BIGINT)            AS n_on_time,
           CAST(64 AS BIGINT)                 AS n_late_replayed,
           CAST(s.n + 1 + surv.n_surv AS BIGINT) AS n_counted,
           CAST(CASE WHEN surv.n_surv = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS all_late_dropped
    FROM s, surv
    """,
)
def stream_late_accounting_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative late-row-accounting gate for watermark drop
    semantics — promotes `stream_watermark_late` (rows-only) to a
    hash-checkable claim, the same move sim_knn_recall_gate made for
    ANN recall in round 9.

    A three-micro-batch replay (full fixture → filler → 64 earliest
    rows re-sent weeks late) runs a 1-hour windowed count under a
    1-minute watermark; `n_counted` is MEASURED from the streaming
    engine's memory sink (per-window max across update-mode emits).
    The DuckDB oracle replays the same schedule arithmetically: the
    watermark after the filler batch is max(ts) - 1 minute, so a
    replayed row survives iff its window end exceeds that — zero by
    construction on every fixture. If the engine ever failed to drop
    a late row, n_counted and all_late_dropped both diverge from the
    oracle and the row goes red.
    """
    from ..sources.io import load_table
    from ..streaming.windows import LATE_REPLAY_ROWS, late_replay_window_counts

    sink = late_replay_window_counts(spark, sf_dir)
    counted = (
        sink.groupBy("window_start")
        .agg(F.max("n").alias("wn"))
        .agg(F.sum("wn").alias("n_counted"))
    )
    on_time = load_table(spark, sf_dir, "events").agg(
        (F.count("*") + F.lit(1)).cast("long").alias("n_on_time")
    )
    return on_time.crossJoin(counted).select(
        F.col("n_on_time"),
        F.lit(LATE_REPLAY_ROWS).cast("long").alias("n_late_replayed"),
        F.col("n_counted").cast("long").alias("n_counted"),
        F.when(F.col("n_counted") == F.col("n_on_time"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("all_late_dropped"),
    )


@register(
    "stream_dedup",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup keyed by event_id within the watermark horizon
    (state-bounded exactly-once delivery)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type"
    )
    return run_streaming_append_to_df(deduped, spark)


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: a running
    per-user accumulator (count + value sum), emitted on completion of
    the bounded replay. On unbounded input the same operator emits on
    timeout; state is explicit and watermark-evictable. Runs under
    the RocksDB state store (arbitrary per-key state is unbounded by
    design, so off-heap is the scale default — SCALE.md)."""
    import pandas as pd

    def track(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    result = ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return run_streaming_append_to_df(result, spark, state_provider=ROCKSDB_PROVIDER)


@register(
    "stream_stream_band_join",
    oracle="""
    SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
    FROM events p JOIN events e
      ON  p.event_type = 'purchase' AND e.event_type = 'error'
      AND e.user_id = p.user_id
      AND e.ts >= p.ts - INTERVAL 1 HOUR
      AND e.ts <  p.ts
    """,
)
def stream_stream_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream non-equi join — the flagship band join executed by
    the streaming engine: two unbounded sources, watermarks on both
    sides, and a time-interval condition that lets Spark bound the join
    state (each side's rows are dropped from state once the opposite
    watermark passes the interval). THE reference workload ([OR11]'s
    band join) as a continuous query. Runs under the RocksDB state
    store: join state (both sides buffered until the opposite
    watermark clears them) is the largest state any operator here
    carries, and RocksDB keeps it off-heap/spillable — the 100 TB
    deployment default for this operator (SCALE.md)."""
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_event_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        F.expr(
            "p_user_id = e_user_id "
            "AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts < p_ts"
        ),
        "inner",
    ).select("p_event_id", "e_event_id")
    return run_streaming_append_to_df(joined, spark, state_provider=ROCKSDB_PROVIDER)


@register(
    "stream_join_static",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the unbounded event stream joins
    a dimension snapshot (customer) loaded as an ordinary batch frame.
    No watermark and no state store are needed — the static side is
    re-planned per micro-batch and broadcast below AQE's threshold, so
    each batch is a stateless broadcast-hash join; the 100 TB/day
    stream costs the same per event as a batch lookup."""
    from ..sources.io import load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"], "inner"
    ).select("event_id", "user_id", "event_type", "c_mktsegment")
    return run_streaming_append_to_df(joined, spark)


def epoch_overwrite_writer(out: str):
    """foreachBatch callback: land each micro-batch in its own
    ``epoch_<id>`` directory with mode=overwrite, so a replayed epoch
    (failure between sink write and checkpoint commit) overwrites its
    own previous attempt instead of appending duplicates — idempotence
    pinned by tests/test_streaming.py."""

    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out}/epoch_{epoch_id}")

    return write_epoch


def epoch_dirs(out: str) -> list[str]:
    import os

    return [f"{out}/{d}" for d in sorted(os.listdir(out)) if d.startswith("epoch_")]


@register(
    "stream_sink_foreachbatch",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_sink_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch exactly-once file sink: every micro-batch lands in
    its own ``epoch_<id>`` directory with mode=overwrite, so a replayed
    epoch after failure overwrites its own output instead of
    duplicating it — the standard idempotent-sink recipe for stores
    with no transactional streaming writer. The landed parquet is then
    read back and aggregated, proving the persisted bytes (not the
    in-flight frame) match the batch oracle."""
    import uuid

    ev = events_stream(spark, sf_dir)
    out = f"/tmp/mrnej_stream/fb_{uuid.uuid4().hex[:10]}"
    q = (
        ev.writeStream.foreachBatch(epoch_overwrite_writer(out))
        .option("checkpointLocation", f"{out}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.parquet(*epoch_dirs(out))
    return landed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def funnel_stages_over(ev: DataFrame, spark: SparkSession) -> DataFrame:
    """Funnel computation over an arbitrary (streaming) events frame —
    factored out of ``stream_funnel_stages`` so the batch-split
    invariance test can feed streams with different micro-batch
    boundaries (maxFilesPerTrigger=1 over k staged files).

    Exactness argument: the stateful map accumulates EVERY event a
    user has streamed so far and re-derives the furthest stage from
    that cumulative set on each batch. Adding events can only lower
    t1/t2 (min over a superset) and thereby widen the sets qualifying
    for later stages, so the per-emission stage is monotone
    non-decreasing in the event set REGARDLESS of arrival order; the
    post-sink max() per user therefore equals the stage over the full
    event set under ANY micro-batch split. Pinned by
    tests/test_streaming.py::test_funnel_batch_split_invariance."""
    import pandas as pd

    def track(key, pdfs, state):
        types, tss = (state.get if state.exists else ([], []))
        types, tss = list(types), list(tss)
        for pdf in pdfs:
            types.extend(pdf["event_type"].tolist())
            tss.extend(int(v) for v in pd.Series(pdf["ts"]).astype("int64"))
        state.update((types, tss))
        t1 = min((ts for ty, ts in zip(types, tss) if ty == "signup"),
                 default=None)
        t2 = (
            min((ts for ty, ts in zip(types, tss)
                 if ty == "view" and ts > t1), default=None)
            if t1 is not None else None
        )
        t3 = (
            min((ts for ty, ts in zip(types, tss)
                 if ty == "purchase" and ts > t2), default=None)
            if t2 is not None else None
        )
        stage = 3 if t3 is not None else 2 if t2 is not None else (
            1 if t1 is not None else 0
        )
        yield pd.DataFrame({"user_id": [key[0]], "stage_reached": [stage]})

    staged = ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, stage_reached long",
        stateStructType="types array<string>, tss array<long>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    out = run_streaming_append_to_df(staged, spark, state_provider=ROCKSDB_PROVIDER)
    return out.groupBy("user_id").agg(
        F.max("stage_reached").alias("stage_reached")
    )


@register(
    "stream_funnel_stages",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-04'),
    s1 AS (
      SELECT user_id, min(ts) AS t1 FROM ev
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM ev e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage_reached
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel / CEP-lite (round 5): per-user sequential
    pattern detection (signup → view strictly after → purchase
    strictly after) executed by the STREAMING engine with arbitrary
    per-key state — the continuous twin of the batch
    ``funnel_conversion``. The stateful map buffers each user's
    in-window events (state is bounded by the funnel window — here a
    3-day slice; production pairs this with the watermark to evict
    closed windows) and re-derives the furthest stage on every batch;
    stages are monotone non-decreasing, so the post-sink max() per
    user is exact under any micro-batch split of the input (see
    ``funnel_stages_over``). Runs under RocksDB (buffered-event state
    is the point of this op)."""
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts") < "2024-01-04")
        .withWatermark("ts", "10 minutes")
    )
    return funnel_stages_over(ev, spark)


@register(
    "stream_python_datasource",
    oracle="""
    SELECT CAST(range % 10 AS INT) AS bucket, count(*) AS n,
           CAST(sum(range) AS BIGINT) AS total
    FROM range(1000) GROUP BY 1
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STREAMING SOURCE via the Python DataSource API
    (sources/tbl.py CounterStreamReader): an offset-based replayable
    micro-batch source — read() advances a logical offset,
    readBetweenOffsets() regenerates any past range as a pure function
    of the offsets (the exactly-once replay contract every real
    connector implements against its log positions). The bounded
    counter drains in 4 micro-batches into a complete-mode aggregate;
    the oracle is the closed-form batch result, which offset-replay
    semantics guarantee regardless of how the engine slices the
    batches.

    r15-opt (guide §1 empirical loop, VERDICT item 3): per-batch
    profile showed each micro-batch pays ~0.45-0.65 s of fixed planner
    + addBatch + offset/WAL-commit cost regardless of rows, so batch
    count and state-partition count are the whole wall. step 100→250
    (10→4 batches, still a genuine multi-batch replay) and 2 state
    partitions for the 10-key bucket state (store open/commit is
    per-partition per-batch; 8 partitions for 10 keys is pure
    overhead) measured 5.19→2.65 s median in alternating warm A/B.
    Results are batch-split-invariant by the source contract."""
    from ..sources.tbl import CounterStreamDataSource
    from ..streaming.windows import run_streaming_to_df

    try:
        spark.dataSource.register(CounterStreamDataSource)
    except Exception:
        pass
    src = (
        spark.readStream.format("counterstream")
        .option("end", "1000")
        .option("step", "250")
        .load()
    )
    agg = src.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("i").alias("total")
    )
    return run_streaming_to_df(agg, spark, state_partitions=2)


@register(
    "stream_sink_python_datasource",
    oracle="""
    SELECT CAST(range AS BIGINT) AS i, CAST(range % 10 AS INT) AS bucket
    FROM range(1000)
    """,
)
def stream_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING SINK (sources/tbl.py TblStreamWriter): the
    replayable counter source streamed through a Python
    DataSourceStreamWriter whose commit(messages, batchId) renames
    per-task temps into an ``epoch=<batchId>/`` directory — a replayed
    micro-batch overwrites its own epoch instead of appending
    duplicates, the idempotent-by-epoch layout exactly-once file
    sinks use. Read-back of every committed epoch (via the tbl batch
    source, which lists recursively) must equal the closed-form
    source range.

    r15-opt (VERDICT item 3): same per-batch fixed-cost profile as
    stream_python_datasource — step 100→250 cuts the replay from 10
    to 4 micro-batches (4 epochs, still a real multi-epoch two-phase
    commit); the epoch read-back union is split-invariant."""
    import hashlib
    import shutil

    from ..sources.tbl import (
        CounterStreamDataSource,
        TblDataSource,
        TblStreamSinkDataSource,
    )

    for src_cls in (CounterStreamDataSource, TblDataSource, TblStreamSinkDataSource):
        try:
            spark.dataSource.register(src_cls)
        except Exception:
            pass
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = f"/tmp/mrnej_cache/{key}/counter_tbl_stream_sink"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(out + "_ckpt", ignore_errors=True)
    src = (
        spark.readStream.format("counterstream")
        .option("end", "1000")
        .option("step", "250")
        .load()
    )
    # processAllAvailable (not availableNow): the simple stream
    # reader's prefetch surfaces ONE chunk per latestOffset call, so
    # availableNow would freeze the end offset after the first chunk
    q = (
        src.writeStream.format("tblsink")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("tbl")
        .schema("i long, bucket int")
        .option("path", out)
        .load()
    )


def cdc_apply_over(ev: DataFrame, spark: SparkSession) -> DataFrame:
    """CDC-apply over an already-constructed event stream. Each
    micro-batch emits a per-key state SNAPSHOT row carrying the
    last-writer ordinal (us, eid) and the tombstone flag — tombstones
    included, as markers. The final result then keeps only the LATEST
    snapshot per key and drops keys whose latest state is deleted, so
    the answer is identical under ANY micro-batch split: an earlier
    batch's emission can never survive a later upsert or delete (the
    ADVICE r6 hazard — append-mode per-batch emissions would otherwise
    duplicate keys or resurrect pre-delete rows once the staged input
    arrives in more than one batch)."""
    import pandas as pd

    def apply_cdc(key, pdfs, state):
        if state.exists:
            us, eid, val, dele = state.get
        else:
            us, eid, val, dele = -1, -1, 0.0, False
        for pdf in pdfs:
            for r in pdf.itertuples():
                rus = int(r.ts.value // 1_000)  # pandas ns → µs
                rid = int(r.event_id)
                if (rus, rid) > (us, eid):
                    us, eid = rus, rid
                    val = float(r.value)
                    dele = r.event_type == "error"
        state.update((us, eid, val, dele))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_value": [val],
                "us": [us],
                "eid": [eid],
                "dele": [dele],
            }
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        apply_cdc,
        outputStructType=(
            "user_id long, last_value double, us long, eid long, dele boolean"
        ),
        stateStructType="us long, eid long, val double, dele boolean",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    snapshots = run_streaming_append_to_df(
        result, spark, state_provider=ROCKSDB_PROVIDER
    )
    w = W.partitionBy("user_id").orderBy(F.desc("us"), F.desc("eid"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("dele"))
        .select("user_id", "last_value")
    )


@register(
    "stream_cdc_apply",
    oracle="""
    WITH ranked AS (
      SELECT user_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, value AS last_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY: a change stream folded into current table state —
    every event upserts its user's row (latest (ts, event_id) wins)
    and an 'error' event acts as the DELETE marker, so the emitted
    state is exactly what MERGE-applying a CDC feed (Debezium-style)
    into a keyed table produces. Arbitrary per-key state via
    applyInPandasWithState: the state is ONE tuple per key
    (last-writer timestamp + value + tombstone flag), monotone under
    any batch split because last-writer-wins is an associative
    idempotent fold and the final selection keeps only each key's
    LATEST snapshot (see cdc_apply_over). The oracle is the batch
    last-row-per-key window. Values pass through un-arithmetic'd, so
    parity is exact."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return cdc_apply_over(ev, spark)


@register(
    "stream_versioned_sink",
    oracle="""
    WITH ranked AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, value AS last_value FROM ranked WHERE rn = 1
    """,
)
def stream_versioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming writes into the snapshot-versioned table
    (operators/table_format.py) — the Delta streaming-sink shape: each
    micro-batch MERGEs its per-key last-writer rows as ONE copy-on-
    write commit, so the table gains one snapshot per epoch, every
    intermediate snapshot stays time-travel-readable, and a replayed
    epoch re-MERGEs idempotently (last-writer-wins on identical data
    changes nothing). foreachBatch reduces the batch to one row per
    key BEFORE the merge (merge_commit rejects duplicate delta keys,
    like real MERGE). The final snapshot must equal the batch
    last-row-per-key oracle under any micro-batch split — the same
    invariance argument as stream_cdc_apply, here enforced by the
    table's merge semantics instead of a post-hoc window."""
    import uuid

    from pyspark.sql import Window as W2

    from ..operators.table_format import (
        create_table,
        current_version,
        merge_commit,
        read_snapshot,
    )

    table_dir = f"/tmp/mrnej_stream/vt_{uuid.uuid4().hex[:10]}"
    # empty v0: the stream bootstraps the table
    seed = spark.createDataFrame(
        [(-1, -1.0, -1, -1)], "user_id long, last_value double, us long, eid long"
    ).filter("user_id > 0")
    create_table(spark, seed, table_dir, "user_id", n_files=1)

    def apply_epoch(batch_df, epoch_id):  # noqa: ANN001
        w = W2.partitionBy("user_id").orderBy(
            F.desc(F.unix_micros("ts")), F.desc("event_id")
        )
        last = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("value").alias("last_value"),
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.lit("U").alias("op"),
            )
        )
        # last-writer-wins ACROSS epochs: only upsert keys whose
        # (us, eid) writer ordinal beats the stored one — stored as two
        # columns and compared lexicographically, so event_id ties at
        # the same microsecond stay exact (a packed ordinal would drop
        # bits). The bootstrap v0 has zero files and reads as an empty
        # frame of its stored schema, so every key passes the first
        # epoch.
        cur = read_snapshot(batch_df.sparkSession, table_dir).select(
            F.col("user_id").alias("c_uid"),
            F.col("us").alias("c_us"),
            F.col("eid").alias("c_eid"),
        )
        newer = F.col("c_us").isNull() | (
            F.struct("us", "eid") >= F.struct("c_us", "c_eid")
        )
        last = (
            last.join(cur, last.user_id == cur.c_uid, "left")
            .filter(newer)
            .select("user_id", "last_value", "us", "eid", "op")
        )
        if last.limit(1).count() > 0:
            merge_commit(batch_df.sparkSession, table_dir, last, "user_id")

    ev = events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", f"{table_dir}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert current_version(table_dir) >= 1
    return read_snapshot(spark, table_dir).select("user_id", "last_value")


@register(
    "stream_left_outer_interval",
    oracle="""
    SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
    FROM events p LEFT JOIN events e
      ON  e.event_type = 'error'
      AND e.user_id = p.user_id
      AND e.ts >= p.ts - INTERVAL 1 HOUR
      AND e.ts <  p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def stream_left_outer_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the band join's outer
    form as a continuous query: every purchase emits, null-padded if
    no error preceded it within the hour. Outer results are
    WATERMARK-DRIVEN output (a row can only be declared matchless
    once the opposite watermark passes its interval), which is the
    semantic difference from the inner form: correctness depends on
    the engine's state eviction, not just the join predicate. On a
    bounded replay the tail would be silently withheld (watermark
    stops short of max ts), so the source is the sentineled stage —
    a far-future purchase/error pair pushes both watermarks past all
    real rows and the engine's watermark-flush batch emits the
    complete deterministic result, making the plain DuckDB LEFT JOIN
    a valid oracle (sentinels filtered from the output on both
    engines). RocksDB state store: both sides buffer until the
    opposite watermark clears them, exactly the inner band join's
    envelope plus the left side's awaiting-verdict rows."""
    from ..streaming.windows import events_stream_sentineled

    src = events_stream_sentineled(spark, sf_dir)
    p = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        src.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_event_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        F.expr(
            "p_user_id = e_user_id "
            "AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts < p_ts"
        ),
        "left_outer",
    ).select("p_event_id", "e_event_id")
    # Sentinels are filtered from the SINK CONTENTS, never inside the
    # streaming plan: a pre-sink filter on p_event_id would be pushed
    # below the left EventTimeWatermark node, the sentinel purchase
    # would stop advancing the left watermark, and the globally-latest
    # real purchase's outer row would be withheld forever (observed:
    # exactly one row missing). The sentinel purchase never reaches
    # the sink anyway — its own ts sits past the final watermark.
    res = run_streaming_append_to_df(joined, spark, state_provider=ROCKSDB_PROVIDER)
    return res.filter(F.coalesce(F.col("p_event_id"), F.lit(0)) != -1)


@register(
    "stream_topk_trending",
    oracle="""
    WITH counts AS (
      SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n,
           CAST(row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type) AS BIGINT)
             AS rnk
    FROM counts QUALIFY rnk <= 3
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Trending now': top-3 event types per 6-hour window — the
    leaderboard every activity feed runs. Structured Streaming cannot
    rank INSIDE a streaming query (non-time windows are unsupported on
    streams), so this is the standard two-layer plan: the micro-batch
    engine does the heavy stateful work (watermarked tumbling counts —
    state and shuffle are the streaming agg's, identical to
    stream_tumbling), and the rank runs as a bounded batch pass over
    the agg RESULT, whose size is |windows|·|types| regardless of
    event volume. Deterministic ties via the event_type tiebreak; the
    oracle is the batch twin of both layers."""
    counts = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    final = run_streaming_to_df(counts, spark)
    rnk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        final.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# --- exactly-once epoch replay gate --------------------------------------------------


@register(
    "stream_epoch_replay_gate",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           TRUE AS replay_idempotent
    FROM events GROUP BY event_type
    """,
)
def stream_epoch_replay_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SINK idempotence as a hash-checked row (the
    recall-gate pattern applied to the streaming sink contract): run
    the epoch-per-directory foreachBatch sink to completion, then
    SIMULATE the failure mode it exists for — a retried epoch (crash
    between sink write and checkpoint commit) — by invoking the batch
    writer a second time with epoch 0's frame, and emit
    ``replay_idempotent = (row count unchanged)`` next to the landed
    per-type totals. An append-mode sink duplicates epoch 0 and reds
    BOTH the boolean and every (n, total_cents) hash; the
    overwrite-into-epoch-directory recipe (stream_sink_foreachbatch)
    survives. The DuckDB oracle states the batch truth + the expected
    literal, so the exactly-once claim is driver-hash-checked, not
    test-only. Money in int64 cents end-to-end.

    Scale: the gate adds one epoch-0 re-write to the normal
    foreachBatch run; state is the file sink's directory layout —
    O(epochs) metadata, no growing stream state. The few grouped rows
    are collected and returned as a local frame, so the sink directory
    is removed on the way out, also when the run fails."""
    import shutil
    import uuid

    ev = events_stream(spark, sf_dir)
    out = f"/tmp/mrnej_stream/erg_{uuid.uuid4().hex[:10]}"
    try:
        writer = epoch_overwrite_writer(out)
        q = (
            ev.writeStream.foreachBatch(writer)
            .option("checkpointLocation", f"{out}/_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dirs = epoch_dirs(out)
        before = spark.read.parquet(*dirs).count()
        # the retry: replay epoch 0's input (== its landed frame, by the
        # overwrite contract) through the SAME writer path. The replay
        # reads a copy outside the epoch_* set: a frame over dirs[0]
        # itself would read the very files the writer is replacing
        # (FAILED_READ_FILE). The finally below removes the copy too.
        shutil.copytree(dirs[0], f"{out}/_replay0")
        writer(spark.read.parquet(f"{out}/_replay0"), 0)
        landed = spark.read.parquet(*epoch_dirs(out))
        idempotent = landed.count() == before
        totals = landed.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
            F.lit(idempotent).alias("replay_idempotent"),
        )
        return spark.createDataFrame(totals.collect(), totals.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "stream_transform_with_state",
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithState (SPARK-46815, the 4.x arbitrary-state API
    that supersedes applyInPandasWithState): a per-user StatefulProcessor
    holding a MAPSTATE keyed by event_type — composite per-key state the
    old API's single state tuple cannot express — accumulating
    (count, exact cents) per (user, type) and emitting the map each
    batch in Update mode. Cents are HALF-UP integers (floor(v*100+.5)
    in Python, pandas' bankers-round avoided) so the bounded replay is
    hash-exact against the batch oracle. Requires the RocksDB state
    store (the TWS contract) — which is also the 100 TB default here:
    state is per-(user, type), watermark-evictable, off-heap.

    On unbounded input the same processor bounds its state with the
    MapState TTL parameter and timers (handleExpiredTimer) — surfaces
    this bounded replay never triggers.

    CONTAINER GATE: PySpark's TWS Python workers speak a protobuf
    state protocol (pyspark/sql/streaming/proto/StateMessage_pb2);
    `google.protobuf` is not installed here and installs are
    forbidden, so when the import fails this row runs the SAME
    per-(user, type) semantics through applyInPandasWithState with
    the map flattened into parallel state arrays — one marked swap
    point, the multimodal PPM/JPEG pattern. The TWS path below is
    complete and auto-activates wherever protobuf exists."""
    import pandas as pd

    _tws_available = tws_runtime_available() and not os.environ.get(
        "SPARK_GRAFT_TWS_FALLBACK"  # test hook: force the AIPWS path so
        # fallback/native parity is assertable on one fixture
        # (tests/test_streaming.py::test_tws_native_fallback_parity)
    )

    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "event_type", "value")
    )

    if not _tws_available:
        def track(key, pdfs, state):
            types, ns, cs = (
                state.get if state.exists else ([], [], [])
            )
            acc = {t: [n, c] for t, n, c in zip(types, ns, cs)}
            for pdf in pdfs:
                cents = (pdf["value"] * 100 + 0.5).apply(int)
                for et, grp in pdf.assign(_c=cents).groupby("event_type"):
                    e = acc.setdefault(et, [0, 0])
                    e[0] += len(grp)
                    e[1] += int(grp["_c"].sum())
            ks = sorted(acc)
            state.update((ks, [acc[k][0] for k in ks], [acc[k][1] for k in ks]))
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "event_type": t,
                        "n": acc[t][0],
                        "cents": acc[t][1],
                    }
                    for t in ks
                ]
            )

        result = ev.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType="user_id long, event_type string, n long, cents long",
            stateStructType=(
                "types array<string>, ns array<long>, cents array<long>"
            ),
            outputMode="append",
            timeoutConf="NoTimeout",
        )
        return run_streaming_append_to_df(
            result, spark, state_provider=ROCKSDB_PROVIDER
        )

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class PerTypeAccumulator(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._acc = handle.getMapState(
                "per_type", "event_type string", "n long, cents long"
            )

        def handleInputRows(self, key, rows, timer_values):
            for pdf in rows:
                cents = (pdf["value"] * 100 + 0.5).apply(int)
                for et, grp in pdf.assign(_c=cents).groupby("event_type"):
                    k = (et,)
                    n0, c0 = (
                        self._acc.getValue(k)
                        if self._acc.containsKey(k)
                        else (0, 0)
                    )
                    self._acc.updateValue(
                        k, (n0 + len(grp), c0 + int(grp["_c"].sum()))
                    )
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "event_type": k[0],
                        "n": v[0],
                        "cents": v[1],
                    }
                    for k, v in self._acc.iterator()
                ]
            )

        def close(self) -> None:
            pass

    result = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=PerTypeAccumulator(),
        outputStructType="user_id long, event_type string, n long, cents long",
        outputMode="Update",
        timeMode="None",
    )
    return run_streaming_update_to_df(
        result, spark, state_provider=ROCKSDB_PROVIDER
    )


@register(
    "stream_full_outer_interval",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         e AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'error')
    SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
    FROM p FULL JOIN e
      ON  e.user_id = p.user_id
      AND e.ts >= p.ts - INTERVAL 1 HOUR
      AND e.ts <  p.ts
    """,
)
def stream_full_outer_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the
    outer-join axis of the streaming band family (inner:
    stream_stream_band_join; left: stream_left_outer_interval): every
    purchase emits (null-padded when no error preceded it within the
    hour) AND every error emits (null-padded when no purchase followed
    it within the hour). Both sides' matchless verdicts are
    watermark-driven — a row is declared unmatched only when the
    OPPOSITE side's watermark has passed its whole interval — so state
    eviction correctness is exercised in both directions at once,
    which is exactly what the inner/left forms cannot test. Same
    sentineled bounded-replay contract as the left form (far-future
    purchase+error pair pushes both watermarks past all real rows;
    sentinels filtered from SINK CONTENTS, never inside the plan — a
    pre-sink filter would be pushed below the watermark node and stall
    it). RocksDB state store; the state envelope is the inner join's
    buffer plus BOTH sides' awaiting-verdict rows."""
    from ..streaming.windows import events_stream_sentineled

    src = events_stream_sentineled(spark, sf_dir)
    p = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        src.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_event_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        F.expr(
            "p_user_id = e_user_id "
            "AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts < p_ts"
        ),
        "full_outer",
    ).select("p_event_id", "e_event_id")
    res = run_streaming_append_to_df(
        joined, spark, state_provider=ROCKSDB_PROVIDER
    )
    return res.filter(
        (F.coalesce(F.col("p_event_id"), F.lit(0)) != -1)
        & (F.coalesce(F.col("e_event_id"), F.lit(0)) != -1)
    )


@register(
    "pipeline_stream_alerting",
    oracle="""
    WITH th AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) // 200 AS alert_floor
      FROM events GROUP BY event_type
    ), wc AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT w.window_start, w.event_type, w.n, w.cents, t.alert_floor,
           CASE WHEN w.n > t.alert_floor THEN 'ALERT' ELSE 'ok' END AS status
    FROM wc w JOIN th t ON w.event_type = t.event_type
    """,
)
def pipeline_stream_alerting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED streaming pipeline (r12 — the first composed row on the
    STREAMING side; the four batch compositions have no stream twin):
    watermarked tumbling window counts -> stream-static broadcast
    enrichment against a per-type threshold dimension -> alert
    classification, all in ONE continuous query. This is the canonical
    ops-monitoring shape ("alert when an hour's event count crosses
    the type's historical floor"), and it exercises the composition
    rules that matter on a stream: the stateful agg runs FIRST (state
    = |windows x types|, watermark-evicted), the dimension join is
    per-micro-batch stateless broadcast (joining BEFORE the agg would
    multiply state by the dim width for nothing), and the alert CASE
    is a stateless projection riding the same micro-batch.

    The threshold dim is itself derived from the fixture (count/200
    per type, exact int64 floor-div) so the oracle states the whole
    composition — window agg, join, classification — as one batch
    twin. Money stays int64 cents; every emitted quantity is integer
    or literal-string, hash-exact."""
    from ..sources.io import load_table

    th = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.expr("count(*) div 200").cast("long").alias("alert_floor"))
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    wc = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "cents"
        )
    )
    alerts = wc.join(F.broadcast(th), "event_type").select(
        "window_start",
        "event_type",
        "n",
        "cents",
        "alert_floor",
        F.when(F.col("n") > F.col("alert_floor"), F.lit("ALERT"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )
    return run_streaming_to_df(alerts, spark)


@register(
    "pipeline_stream_incident_funnel",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
         wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM e))
                       - INTERVAL 10 MINUTE AS cut),
         j AS (SELECT p.user_id, p.ts AS p_ts, e.ts AS e_ts
               FROM p JOIN e ON e.user_id = p.user_id
                AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts),
         agg AS (SELECT time_bucket(INTERVAL 1 HOUR, p_ts) AS window_start,
                        user_id,
                        CAST(count(*) AS BIGINT) AS n_error_hits,
                        CAST(sum((epoch_us(p_ts) - epoch_us(e_ts)) // 1000000)
                             AS BIGINT) AS lag_sec_total
                 FROM j GROUP BY 1, 2)
    SELECT window_start, user_id, n_error_hits, lag_sec_total,
           CASE WHEN n_error_hits >= 3 THEN 'critical'
                ELSE 'elevated' END AS severity
    FROM agg, wm WHERE window_start + INTERVAL 1 HOUR <= wm.cut
    """,
)
def pipeline_stream_incident_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED streaming pipeline #2 (VERDICT r13 item 5 — the
    flagship band join in its composed continuous form): watermarked
    purchases x errors TIME-INTERVAL stream-stream join -> windowed
    per-user incident accounting -> stateless severity classification,
    all in ONE continuous query with TWO chained stateful operators
    (join state + window-agg state; Spark >= 3.5 multiple-stateful
    support, append mode). This is the continuous "purchases preceded
    by errors" funnel: for every purchase, count the same user's
    errors in the trailing hour, roll them up per (hour, user), and
    grade the incident.

    Composition rules exercised (the streaming twin of the batch
    composed rows): the band join runs FIRST (its state is the big
    one — both sides buffered until the opposite watermark clears
    them; RocksDB provider, same as stream_stream_band_join), the agg
    rides the join's output watermark (state = live (window, user)
    groups only), and the severity CASE is a stateless projection in
    the same micro-batch. On a bounded replay the append-mode agg
    emits exactly the windows whose end the final global watermark
    passed: wm = min(max p_ts, max e_ts) - the 10-minute delay —
    deterministic on the fixture, so the batch oracle states the SAME
    cutoff arithmetically (the stream_late_accounting_gate pattern).
    Verified to agree with the chained-stateful emission at sf0.001,
    sf0.01 and sf0.1.

    At 100 TB/day: join state is bounded by the 1-hour band + 10-min
    watermark per user (not by stream length); agg state by live
    windows; both evict monotonically. Integer-seconds lag arithmetic
    (int64) keeps every emitted quantity hash-exact."""
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    e = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = p.join(
        e,
        F.expr(
            "p_user_id = e_user_id "
            "AND e_ts >= p_ts - INTERVAL 1 HOUR AND e_ts < p_ts"
        ),
        "inner",
    )
    accounted = (
        joined.groupBy(
            F.window("p_ts", "1 hour").alias("w"), F.col("p_user_id")
        )
        .agg(
            F.count("*").cast("long").alias("n_error_hits"),
            F.sum(
                F.expr("(unix_micros(p_ts) - unix_micros(e_ts)) div 1000000")
            )
            .cast("long")
            .alias("lag_sec_total"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("p_user_id").alias("user_id"),
            "n_error_hits",
            "lag_sec_total",
            F.when(F.col("n_error_hits") >= 3, F.lit("critical"))
            .otherwise(F.lit("elevated"))
            .alias("severity"),
        )
    )
    return run_streaming_append_to_df(
        accounted, spark, state_provider=ROCKSDB_PROVIDER
    )
