"""Benchmark runner (driver contract): times the engine's headline
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the no-op sink (full execution, no
driver-side result transfer), so timings reflect the distributed plan,
not collect() serialization.

Methodology:
- HEADLINE is a FIXED representative set, one or more keys per
  operator family. `SPARK_GRAFT_BENCH_ALL=1` sweeps every registered
  query instead (single pass, for local use).
- Median of 3 runs per query, in fixed list order, with the Spark
  cache cleared before every run: unchanged pure-builtin queries were
  swinging 3-5x between rounds on single-shot timings (JVM/codegen
  warmup attribution), which made real regressions unattributable.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreducenonequijoin_spark.session import get_spark  # noqa: E402
from __spark_entry__ import queries  # noqa: E402

# One representative per operator family (fixed order = run order).
HEADLINE: list[str] = [
    "join_self_band",        # flagship
    "join_theta",            # 1-Bucket-Theta
    "join_band",             # banded non-equi
    "join_inequality",       # M-Bucket-I
    "join_inequality_mbucket_o",  # output-balanced M-Bucket-O
    "join_inequality_2pred",  # IEJoin kernel
    "join_interval_overlap",
    "join_asof",
    "join_skew_salted",
    "join_string_edit_distance",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "sim_knn_cosine",
    "sim_lsh_hyperplane",
    "sim_ivf_search",
    "text_lang_stats",
    "text_repetition_filter",  # corpus-prep: explode+two-level agg
    "text_bm25_search",        # corpus-prep: postings + broadcast stats
    "pipeline_training_mix",   # corpus-prep: composed end-to-end pass
    "stream_stateful",
    "stream_stream_band_join",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q8_market_share",      # r5: widest star join (8-way)
    "tpch_q21_waiting_supplier", # r5: chained fact aggregates
    "funnel_conversion",         # r5: sequential-pattern analytics
    "sessionize_events",         # r6: gap sessionization (window family)
    "chunk_documents",           # r6: RAG chunking (narrow explode)
    "join_bloom_pruned",         # r6: runtime-filter pruned equi-join
    "sim_pq_search",             # r6: PQ-ADC + re-rank ANN
    "join_spatial_grid",         # r6: 2D grid ε-distance self-join
    "join_point_in_interval",    # r6: degenerate-interval grid reuse
    "text_line_dedup",           # r7: corpus-wide segment dedup
    "agg_heavy_hitters",         # r7: two-pass Misra-Gries
    "sink_versioned_merge",      # r7: copy-on-write MERGE commit
    "multimodal_audio_decode",   # r7: Arrow-batched WAV decode
    "join_temporal_validity",    # r7: SCD2 temporal lookup
    "dedup_substring_spans",     # r7-close: ExactSubstr 40-gram dedup
    "graph_connected_components",  # r7-close: pointer-jumping CC
    "sample_hard_negatives",     # r7-close: label-masked blocked kNN
    "join_interval_allen",       # r7-close: 13-relation interval classify
    "stream_left_outer_interval",  # r7-close: watermark-driven outer band
    "dedup_url_canonical",       # r7-close: URL-canonical dedup pass
    "sample_poisson_bootstrap",  # r7-close: one-scan B-replicate bootstrap
    "pattern_match_sequence",    # r7-close: CEP-as-regexp journeys
    "eval_auc_rank_sum",         # r7-close: exact AUC via bounded rank sum
    "eval_ndcg_at_k",            # r7-close: NDCG@10 over exact kNN
    "retrieval_rrf_fusion",      # r7-close: hybrid lexical⊕dense RRF
    "graph_k_core",              # r7-close: synchronous k-core peeling
    "pipeline_dataset_card",     # r7-close: per-source card statistics
    "text_bigram_kneser_ney",    # r7-close: KN-smoothed bigram LM
    "sim_knn_recall_gate",       # r9: hash-checked ANN serving recall
    "text_ngram_novelty",        # r9: train-gram novelty (type-table join)
    "eval_bleu2",                # r9: clipped n-gram precision eval
    "multimodal_video_scene_cut",  # r9: frame-energy shot boundaries
    "win_rolling_corr",          # r9: shared 5-moment rolling window
    "timeseries_bollinger_breakout",  # r9-late: integer band-breakout window
    "text_feature_hashing",      # r9-late: hashing-trick bucket agg
    "eval_fleiss_kappa",         # r9-late: generated-ratings agreement
    "graph_modularity",          # r9-late: LPA + community scoring joins
    "stream_late_accounting_gate",  # r10: measured watermark late-drop gate
    "agg_basket_lift_capped",    # r11: bounded-basket pair-stream guard
    "pipeline_corpus_curate",    # r11: composed dedup→gate→mix plan
    "pipeline_user_journey",     # r11: composed one-exchange journey plan
    "pipeline_revenue_abc_report",  # r11: composed rollup→Pareto→report
    "eval_matthews_corr",        # r11: O(1)-output confusion agg
    "eval_log_loss",             # r11: per-class cross-entropy agg
    "stream_transform_with_state",  # r11: TWS/arbitrary-state API (gated)
    "pipeline_retrieval_eval",   # r12: composed ANN->RRF->metrics row
    "pipeline_rag_context",      # r12: composed chunk->retrieve->pack row
    "eval_rank_biased_overlap",  # r12: dual-metric map-side top-k kernel
    "dedup_bloom_prescreen",     # r12: distributed bloom semi-join gate
    "warehouse_deletion_vectors",  # r12: merge-on-read position deletes
    "timeseries_sax_symbols",    # r12: PAA + z-breakpoint symbolization
    "pipeline_warehouse_mor_lifecycle",  # r13: composed COW+MOR lifecycle
    "pipeline_multimodal_dedup",  # r13: composed image dedup (decode->CC)
    "pipeline_tokenize_pack_shard",  # r13: composed pack->HRW-shard tail
    "agg_count_min_sketch",      # r13: exact-hash CMS counter matrix
    "dedup_entity_resolution",   # r13: blocked levenshtein ER
    "feature_quantile_binning",  # r13: rank-arithmetic quartile bins
    "pipeline_stream_incident_funnel",  # r14: chained-stateful stream row
    "warehouse_compaction",      # r14: OPTIMIZE bin-pack maintenance op
    "dedup_semdedup",            # r14: cluster-scoped semantic dedup gate
    "feature_target_encode_oof",  # r14: K-fold leakage-safe encoding
    # power-iteration loop; it releases its rounds and static frames,
    # and at sf0.1 on 4 cores its median reads the same alone (4.1 s)
    # as after the first 30 keys above (3.9 s)
    "graph_pagerank",
]

REPEATS = 3

def main() -> None:
    # The driver parses stdout as EXACTLY ONE JSON line (BENCH_r01 was
    # recorded "parsed": null because JVM/py4j startup chatter shares
    # fd 1). Save the real stdout, point fd 1 at stderr for the whole
    # run, and write the JSON to the saved fd as the sole stdout bytes.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = queries()
    if os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        # Isolated re-measure mode (VERDICT r11 item 2): an explicit
        # comma-separated key list, for adjudicating apparent
        # regressions with idle-host repeat medians without running
        # the whole soak. Honors SPARK_GRAFT_BENCH_REPEATS (use 5 —
        # the host shows sporadic first-run stalls; see AUDIT.md).
        names = os.environ["SPARK_GRAFT_BENCH_QUERIES"].split(",")
        unknown = [n for n in names if n not in qs]
        if unknown:
            # A typo'd key in an adjudication run must fail loudly, not
            # silently produce a shorter run that looks complete
            # (ADVICE r12 item 3).
            raise ValueError(
                f"SPARK_GRAFT_BENCH_QUERIES names not in queries(): {unknown}"
            )
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", 5))
    elif os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        # Full sweep medians too (VERDICT r5 item 3): the single-shot
        # r5 sweep recorded 26x phantom outliers (fn_string 5.27s vs a
        # 0.20s median) that read as regressions in round-over-round
        # diffs. Override via SPARK_GRAFT_BENCH_REPEATS for a quick
        # single-shot pass.
        names = list(qs)
        repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", REPEATS))
    else:
        names, repeats = [n for n in HEADLINE if n in qs], REPEATS

    # One-time warmup: JVM codegen, Python worker pool, parquet footer
    # cache — so the first timed query isn't charged for session
    # startup (it previously absorbed ~5s of cold-start).
    from mapreducenonequijoin_spark.sources.io import TABLES, load_table

    def warmup(s) -> None:
        for t in TABLES:
            load_table(s, sf_dir, t).count()
        s.range(1000).selectExpr("sum(id)").collect()
        # Python-worker-pool warmup (r14-opt, guide §1: measure the
        # computation, not session startup): the FIRST Arrow/pandas
        # stage in a session forks the pyspark.daemon worker pool and
        # initializes the Arrow serde paths — measured ~3.2 s one-time
        # (kmeans iter0 4.06 s vs 0.85 s warm at sf0.1). Without this,
        # that cost lands on whichever Python-boundary query runs
        # first after each session recycle and reads as a phantom
        # regression of that key. One tiny mapInPandas + grouped
        # applyInPandas covers both Python eval modes.
        import pandas as _pd  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        (
            s.range(64)
            .mapInPandas(lambda it: it, schema="id long")
            .groupBy((F.col("id") % 4).alias("g"))
            .applyInPandas(
                lambda p: _pd.DataFrame({"n": [len(p)]}), schema="n long"
            )
            .collect()
        )
        # streaming-engine warmup (state-store init, micro-batch
        # planner): otherwise the FIRST stream query in the run absorbs
        # ~4s of one-time cost, unattributable across rounds
        if "stream_tumbling" in qs:
            qs["stream_tumbling"](s, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()

    warmup(spark)

    # Recycle the session every N queries in BOTH modes: measured r6,
    # queries read up to 3x slower after ~100 prior executions in one
    # JVM (accumulated heap/codegen-cache pressure — AUDIT.md round-6
    # notes), which poisoned round-over-round sweep diffs. Headline
    # mode was single-session while the set was ≤ ~35 queries; at 57
    # (r9) the tail entries were paying the same old-JVM tax (measured:
    # text_ngram_novelty 7.1 s as query #54 in-headline vs 1.3 s
    # isolated median — 5.5x pure JVM age). The recycle bound keeps
    # every measurement within a comparable JVM age; no stream_* query
    # sits directly after a boundary (they'd pay state-store re-init).
    recycle = int(os.environ.get("SPARK_GRAFT_BENCH_RECYCLE", "25"))

    timings: dict[str, float] = {}
    # per-key noise floor (max-min across the idle repeats): rounds
    # r8/r9 both spent judge time on sub-0.15 s "regressions" that were
    # single-shot swing — recording the observed spread per key lets
    # the next reader mechanically separate noise from regression
    # (VERDICT r9 item 7). Written to the side file only.
    noise: dict[str, float] = {}
    for qi, name in enumerate(names):
        if qi and qi % recycle == 0:
            spark.stop()
            spark = get_spark("bench")
            warmup(spark)
        fn = qs[name]
        runs = []
        try:
            for _ in range(repeats):
                spark.catalog.clearCache()  # no cross-run cache credit
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                runs.append(time.time() - t0)
        except Exception as e:  # noqa: BLE001
            # BENCH_ALL is also the full-materialization soak (a noop
            # write forces every column of every query — it exposed
            # eval_kendall_tau's ANSI 0/0 at sf0.1 that count()-based
            # checks missed). One crasher must not kill the sweep:
            # report it loudly and keep measuring the rest.
            print(f"BENCH ERROR {name}: {str(e)[:200]}", file=sys.stderr)
            timings[name] = -1.0
            continue
        timings[name] = round(statistics.median(runs), 3)
        noise[name] = round(max(runs) - min(runs), 3)

    payload = _payload(timings, sf)

    # Full 3-decimal per-key detail ALWAYS goes to a side file: the
    # env override, or an untracked default, so no run rewrites the
    # committed record tools/bench_headline_last.json.
    side = os.environ.get("SPARK_GRAFT_BENCH_NOISE") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tools",
        "bench_last_run.json",
    )
    with open(side, "w") as fh:
        json.dump({**payload, "noise_floor": noise}, fh, indent=1)

    # Stop the session BEFORE writing the line, so every JVM/py4j
    # shutdown log precedes the JSON on the combined output.
    spark.stop()
    sys.stdout.flush()
    os.write(real_stdout, (json.dumps(payload) + "\n").encode())
    os.close(real_stdout)


def _payload(timings: dict[str, float], sf: float | None) -> dict:
    """The stdout/side-file payload. -1.0 marks a crashed query: it is
    excluded from the total (a crasher must read as a loud failure,
    not a silent -1 s discount) and listed under ``failed``."""
    failed = sorted(k for k, v in timings.items() if v < 0)
    payload = {
        "metric": "headline_total_wall",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if failed:
        payload["failed"] = failed
    return payload


if __name__ == "__main__":
    main()
