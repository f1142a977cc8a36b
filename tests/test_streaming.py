"""Streaming parity + watermark semantics (SURVEY.md §5.3)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from mapreducenonequijoin_spark.sources.io import load_table
from mapreducenonequijoin_spark.streaming.windows import (
    events_stream,
    run_streaming_to_df,
    session_window_agg,
    sessionize_batch,
    tumbling_counts,
)


def test_tumbling_stream_equals_batch(spark, sf_dir):
    got = run_streaming_to_df(tumbling_counts(events_stream(spark, sf_dir)), spark)
    want = tumbling_counts(load_table(spark, sf_dir, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_rewrite_equals_native(spark, sf_dir):
    """The lag/cumsum batch rewrite must agree with native
    session_window on bounded input (the §2.10 parity rule)."""
    ev = load_table(spark, sf_dir, "events")
    native = {
        (r.session_start, r.user_id): r.n_events
        for r in session_window_agg(ev).collect()
    }
    rewrite = {
        (r.session_start, r.user_id): r.n_events
        for r in sessionize_batch(ev).collect()
    }
    assert native == rewrite


@pytest.mark.slow
def test_watermark_drops_late_batch(spark, tmp_path):
    """Micro-batches 1-2 advance the watermark far past batch 3's late
    row → it must be dropped. (Spark ≥3.4 filters late events with the
    PREVIOUS batch's watermark — StateStoreSave carries separate
    late-events/eviction watermarks — hence the filler batch 2.)"""
    import time

    stage = str(tmp_path / "late_stage")

    def write(batch, rows):
        df = spark.createDataFrame(rows, "id long, ts string").select(
            "id", F.col("ts").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(f"{stage}/b{batch}")
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    write(1, [(1, "2024-01-02 10:00:00"), (2, "2024-01-02 10:30:00")])
    write(2, [(4, "2024-01-02 12:00:00")])  # filler: commits the watermark
    write(3, [(3, "2024-01-01 00:00:00")])  # late: far behind watermark

    schema = "id long, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", False)
        .parquet(stage + "/b*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    # update mode: late rows beyond the watermark are DROPPED (complete
    # mode would retain all state and not exhibit the drop)
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("late_test")
    rows = {r.ws.isoformat(): r.n for r in out.collect()}
    # the 2024-01-01 late row must NOT appear; both on-time rows must
    assert "2024-01-02T10:00:00" in rows and rows["2024-01-02T10:00:00"] == 2
    assert not any(k.startswith("2024-01-01") for k in rows)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1
    shutil.rmtree(stage, ignore_errors=True)


def test_foreachbatch_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A retried epoch must overwrite its own previous output, never
    duplicate it — the failure mode the epoch-directory sink exists to
    prevent."""
    from mapreducenonequijoin_spark.plans.streaming import (
        epoch_dirs,
        epoch_overwrite_writer,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    out = str(tmp_path / "fb")
    write_epoch = epoch_overwrite_writer(out)
    batch = load_table(spark, sf_dir, "events").limit(100)
    write_epoch(batch, 0)
    write_epoch(batch, 0)  # simulated replay of the same epoch
    landed = spark.read.parquet(*epoch_dirs(out))
    assert landed.count() == 100


def test_funnel_batch_split_invariance(spark, sf_dir, tmp_path):
    """VERDICT r5 item 8: stream_funnel_stages claims its monotone-
    stage derivation is exact under ANY micro-batch split. Replay the
    same (ts-filtered) events under 1, 3, and 7 micro-batches — one
    staged parquet file per batch via maxFilesPerTrigger=1 — and
    assert identical per-user output, also equal to the full-stream
    registry query's answer."""
    from mapreducenonequijoin_spark.plans.streaming import funnel_stages_over

    ev_batch = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < "2024-01-04")
    )
    schema = ev_batch.schema

    results = {}
    for n_files in (1, 3, 7):
        stage_dir = str(tmp_path / f"split{n_files}")
        # n_files parquet files = n_files micro-batches under
        # maxFilesPerTrigger=1; split by a deterministic hash so each
        # batch mixes users and event types (the adversarial split).
        ev_batch.withColumn(
            "__b", F.abs(F.xxhash64("event_id")) % n_files
        ).repartition("__b").write.partitionBy("__b").parquet(stage_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir + "/__b=*")
            .withWatermark("ts", "10 minutes")
        )
        out = funnel_stages_over(stream, spark)
        results[n_files] = {(r.user_id, r.stage_reached) for r in out.collect()}

    assert results[1] == results[3] == results[7]
    full = {
        (r.user_id, r.stage_reached)
        for r in __import__(
            "mapreducenonequijoin_spark.plans.streaming",
            fromlist=["stream_funnel_stages"],
        ).stream_funnel_stages(spark, sf_dir).collect()
    }
    assert results[1] == full


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop/restart from checkpoint must restore dedup state: rows
    already emitted are not re-emitted, and duplicates arriving AFTER
    the restart are still dropped against pre-restart state."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema("event_id LONG, v LONG")
            .parquet(src)
            .dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    spark.createDataFrame([(i, i) for i in range(100)], "event_id long, v long") \
        .write.mode("overwrite").parquet(src)
    run_once()
    got1 = spark.read.parquet(sink).count()
    assert got1 == 100

    # second half overlaps [50, 100): those 50 must be dropped by the
    # RESTORED state, not reprocessed source files
    spark.createDataFrame([(i, i) for i in range(50, 150)], "event_id long, v long") \
        .write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == 150
    assert out.select("event_id").distinct().count() == 150


def test_cdc_apply_batch_split_invariance(spark, sf_dir, tmp_path):
    """ADVICE r6: stream_cdc_apply's append-mode emissions must not
    depend on the staged file arriving in exactly one micro-batch.
    Replay the same events under 1, 3, and 7 micro-batches (one file
    per batch via maxFilesPerTrigger=1) — identical final state every
    time, equal to the registry query, with no duplicate keys and no
    resurrected pre-delete rows."""
    from mapreducenonequijoin_spark.plans.streaming import (
        cdc_apply_over,
        stream_cdc_apply,
    )

    ev_batch = load_table(spark, sf_dir, "events")
    schema = ev_batch.schema

    results = {}
    for n_files in (1, 3, 7):
        stage_dir = str(tmp_path / f"cdcsplit{n_files}")
        ev_batch.withColumn(
            "__b", F.abs(F.xxhash64("event_id")) % n_files
        ).repartition("__b").write.partitionBy("__b").parquet(stage_dir)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir + "/__b=*")
            .withWatermark("ts", "10 minutes")
        )
        rows = cdc_apply_over(stream, spark).collect()
        keys = [r.user_id for r in rows]
        assert len(keys) == len(set(keys)), f"duplicate keys at {n_files} batches"
        results[n_files] = {(r.user_id, r.last_value) for r in rows}

    assert results[1] == results[3] == results[7]
    full = {
        (r.user_id, r.last_value)
        for r in stream_cdc_apply(spark, str(sf_dir)).collect()
    }
    assert results[1] == full


@pytest.mark.slow
def test_versioned_sink_multi_epoch_invariance(spark, sf_dir, tmp_path):
    """One copy-on-write commit per micro-batch: replaying the events
    under 1 vs 5 micro-batches must converge to the same final
    snapshot (last-writer-wins across epochs via the stored (us, eid)
    ordinal), with one table version per non-empty epoch and every
    intermediate version still readable."""
    import uuid

    from pyspark.sql import Window as W2

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        current_version,
        merge_commit,
        manifest_entries,
        read_snapshot,
    )

    ev_batch = load_table(spark, sf_dir, "events")
    schema = ev_batch.schema

    results = {}
    for n_files in (1, 5):
        stage_dir = str(tmp_path / f"vsink{n_files}")
        ev_batch.withColumn(
            "__b", F.abs(F.xxhash64("event_id")) % n_files
        ).repartition("__b").write.partitionBy("__b").parquet(stage_dir)
        table_dir = str(tmp_path / f"vtbl{n_files}_{uuid.uuid4().hex[:6]}")
        seed = spark.createDataFrame(
            [(-1, -1.0, -1, -1)],
            "user_id long, last_value double, us long, eid long",
        ).filter("user_id > 0")
        create_table(spark, seed, table_dir, "user_id", n_files=1)

        def apply_epoch(batch_df, epoch_id, table_dir=table_dir):
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
            if manifest_entries(table_dir, current_version(table_dir)):
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

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir + "/__b=*")
        )
        q = (
            stream.writeStream.foreachBatch(apply_epoch)
            .option("checkpointLocation", f"{table_dir}/_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert current_version(table_dir) >= (1 if n_files == 1 else 2)
        # every intermediate version stays readable (time travel)
        for v in range(1, current_version(table_dir) + 1):
            assert read_snapshot(spark, table_dir, version=v).count() > 0
        results[n_files] = {
            (r.user_id, r.last_value)
            for r in read_snapshot(spark, table_dir)
            .select("user_id", "last_value")
            .collect()
        }

    assert results[1] == results[5]


def test_left_outer_interval_includes_matchless_tail(spark, sf_dir):
    """The watermark-flush contract: the globally-LATEST purchase has
    no error within its hour and must still appear null-padded —
    exactly the row a bounded replay without the sentinel pair
    withholds (its outer verdict needs a watermark past max ts)."""
    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.streaming import (
        stream_left_outer_interval,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    res = stream_left_outer_interval(spark, sf_dir)
    last = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .orderBy(F.col("ts").desc())
        .select("event_id")
        .first()
        .event_id
    )
    assert res.filter(F.col("p_event_id") == last).count() >= 1
    assert res.filter(F.col("p_event_id") == -1).count() == 0


def test_topk_trending_matches_batch_twin(spark, sf_dir):
    """The streaming-agg + bounded-rank layering must equal a pure
    batch recompute of top-3 per 6h window, with dense ranks and the
    event_type tiebreak."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.streaming import stream_topk_trending
    from mapreducenonequijoin_spark.sources.io import load_table

    got = stream_topk_trending(spark, sf_dir).collect()
    per_win = defaultdict(list)
    for r in got:
        per_win[r.window_start].append((r.rnk, r.n, r.event_type))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "6 hours").getField("start").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    want = defaultdict(list)
    for r in batch:
        want[r.w].append((r.n, r.event_type))
    assert set(per_win) == set(want)
    for w, rows in per_win.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        top = sorted(want[w], key=lambda t: (-t[0], t[1]))[: len(rows)]
        assert [(n, t) for _, n, t in rows] == top


def test_late_accounting_gate_measures_drops(spark, sf_dir):
    """The late-accounting gate's n_counted must be MEASURED by the
    streaming engine (not recomputed): all 64 weeks-late replayed rows
    drop, so the per-window-max sink total equals the on-time count
    (fixture + 1 filler row) and the gate boolean is 1."""
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table

    row = QUERIES["stream_late_accounting_gate"].fn(spark, sf_dir).collect()[0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert row.n_on_time == n_events + 1
    assert row.n_late_replayed == 64
    assert row.n_counted == row.n_on_time  # every late row dropped
    assert row.all_late_dropped == 1


def test_epoch_replay_gate_red_on_append(spark, sf_dir, tmp_path):
    """The gate must actually discriminate: the overwrite writer is
    idempotent under replay; an APPEND writer would duplicate epoch 0
    and change the landed count."""
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.streaming import (
        epoch_dirs,
        epoch_overwrite_writer,
    )
    from mapreducenonequijoin_spark.streaming.windows import events_stream

    got = QUERIES["stream_epoch_replay_gate"].fn(spark, sf_dir).collect()
    assert got and all(r.replay_idempotent for r in got)

    # counterexample: land, then replay epoch 0 with APPEND semantics
    out = str(tmp_path / "erg")
    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(epoch_overwrite_writer(out))
        .option("checkpointLocation", f"{out}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dirs = epoch_dirs(out)
    before = spark.read.parquet(*dirs).count()
    df0 = spark.read.parquet(dirs[0]).localCheckpoint()
    df0.write.mode("append").parquet(dirs[0])
    after = spark.read.parquet(*epoch_dirs(out)).count()
    assert after == before + df0.count()


def test_epoch_replay_gate_leaves_no_sink_dir(spark, sf_dir):
    """Building and collecting the gate leaves no new ``erg_*`` sink
    directory and no new persistent RDD behind."""
    import os

    from mapreducenonequijoin_spark.plans import QUERIES

    root = "/tmp/mrnej_stream"

    def erg_dirs():
        if not os.path.isdir(root):
            return set()
        return {d for d in os.listdir(root) if d.startswith("erg_")}

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before, rdds_before = erg_dirs(), persistent_rdds()
    got = QUERIES["stream_epoch_replay_gate"].fn(spark, sf_dir).collect()
    assert got and all(r.replay_idempotent for r in got)
    assert erg_dirs() - before == set()
    assert persistent_rdds() - rdds_before == set()


def test_transform_with_state_matches_batch(spark, sf_dir):
    """The per-(user, type) stateful accumulator must equal the batch
    groupBy on the bounded replay, with exactly one emission per cell
    (whichever path ran: transformWithState where protobuf exists, the
    applyInPandasWithState flattened-map fallback here)."""
    import math

    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = QUERIES["stream_transform_with_state"].fn(spark, sf_dir).collect()
    got = {(r.user_id, r.event_type): (r.n, r.cents) for r in rows}
    assert len(rows) == len(got), "duplicate emissions for a state cell"
    want: dict = {}
    for r in load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect():
        k = (r.user_id, r.event_type)
        n, c = want.get(k, (0, 0))
        want[k] = (n + 1, c + math.floor(r.value * 100 + 0.5))
    assert got == want


from mapreducenonequijoin_spark.plans.streaming import tws_runtime_available


@pytest.mark.skipif(
    not tws_runtime_available(),
    reason="native transformWithState needs google.protobuf (PySpark TWS "
    "workers speak a protobuf state protocol); this container lacks it and "
    "installs are forbidden — only the applyInPandasWithState fallback can "
    "run here. The moment the env gains protobuf this test runs BOTH paths "
    "and asserts parity (VERDICT r11 item 4).",
)
def test_tws_native_fallback_parity(spark, sf_dir, monkeypatch):
    """When the native TWS path is runnable, the StatefulProcessor
    MapState implementation and the flattened-array
    applyInPandasWithState fallback must produce identical
    per-(user, type) (n, cents) cells on the same bounded replay —
    SPARK_GRAFT_TWS_FALLBACK is the one swap switch."""
    from mapreducenonequijoin_spark.plans import QUERIES

    fn = QUERIES["stream_transform_with_state"].fn
    monkeypatch.delenv("SPARK_GRAFT_TWS_FALLBACK", raising=False)
    native = {
        (r.user_id, r.event_type): (r.n, r.cents)
        for r in fn(spark, sf_dir).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_TWS_FALLBACK", "1")
    fallback = {
        (r.user_id, r.event_type): (r.n, r.cents)
        for r in fn(spark, sf_dir).collect()
    }
    assert native == fallback


def test_incident_funnel_matches_batch_twin_with_cutoff(spark, sf_dir):
    """The chained-stateful composed row (band join -> windowed agg ->
    classify in ONE continuous query) must equal the batch twin
    restricted to windows the final global watermark finalized:
    window_end <= min(max p_ts, max e_ts) - 10 min. Also pins that the
    run really carried TWO stateful operators (join + agg state)."""
    import datetime

    from mapreducenonequijoin_spark.plans.streaming import (
        pipeline_stream_incident_funnel,
    )
    from mapreducenonequijoin_spark.streaming import windows as W

    got = {
        tuple(r)
        for r in pipeline_stream_incident_funnel(spark, sf_dir).collect()
    }
    ops = {o.get("operatorName") for o in W.LAST_STATE_OPERATORS}
    assert len(W.LAST_STATE_OPERATORS) >= 2, ops  # join + agg state

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"), F.col("ts").alias("e_ts")
    )
    cut = min(
        p.agg(F.max("p_ts")).first()[0], e.agg(F.max("e_ts")).first()[0]
    ) - datetime.timedelta(minutes=10)
    twin = (
        p.join(
            e,
            F.expr(
                "p_user_id = e_user_id AND e_ts >= p_ts - INTERVAL 1 HOUR "
                "AND e_ts < p_ts"
            ),
        )
        .groupBy(F.window("p_ts", "1 hour").alias("w"), "p_user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.expr("(unix_micros(p_ts) - unix_micros(e_ts)) div 1000000")
            )
            .cast("long")
            .alias("lag"),
        )
        .filter(F.col("w.end") <= F.lit(cut))
        .select(F.col("w.start"), "p_user_id", "n", "lag")
    )
    want = {
        (r[0], r[1], r[2], r[3], "critical" if r[2] >= 3 else "elevated")
        for r in twin.collect()
    }
    assert got == want and got  # non-empty at every fixture scale
