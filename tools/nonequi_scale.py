"""Measured scaling evidence for the non-equi join family (VERDICT r5
item 4 — the one SCALE.md gap: band/theta bucketing cost models were
argued, not measured).

Generates a SKEWED synthetic events pair (one hot key carrying 50 % of
rows) at 1x / 10x / 50x the sf0.1 events volume and measures:

- band_join (1-hour band + user equi key), bucketed vs the naive
  single-equi-key plan, wall-clock per scale;
- the max/median shuffle-partition input ratio for both key choices
  (naive partitions on user alone -> the hot user lands in ONE
  partition; the bucketed key (user, time-bucket) spreads it);
- theta_join 1-Bucket-Theta vs the native BNLJ plan on a pure
  inequality (no equi key), wall-clock + per-region input balance.

Paste the printed tables into SCALE.md. Runtime ~3-5 min at 50x.

Usage: python tools/nonequi_scale.py [--max-scale 50]
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from mapreducenonequijoin_spark.operators.joins import (  # noqa: E402
    band_join,
    naive_theta_join,
    theta_join,
)
from mapreducenonequijoin_spark.session import get_spark  # noqa: E402

BASE_ROWS = 100_000  # = sf0.1 events volume
HOT_FRACTION = 0.5
N_USERS = 10_000
SPAN_S = 30 * 24 * 3600  # 30 days of event time


def skewed_frame(spark, rows: int, seed: int):
    """rows with user_id (50% on the hot key 0) and ts uniform over
    SPAN_S seconds, as epoch-seconds double (band math in seconds)."""
    return (
        spark.range(rows)
        .withColumn(
            "user_id",
            F.when(
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), 100)
                < int(HOT_FRACTION * 100),
                F.lit(0),
            ).otherwise(
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), N_USERS)
            ),
        )
        .withColumn(
            "ts",
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), SPAN_S)
            ).cast("double"),
        )
    )


def timed(df) -> float:
    """Join work measured via count(): pair generation + residual
    filter + partial-count aggregation, all inside codegen. The noop
    sink was tried first and is row-materialization-bound at these
    output cardinalities (8.7e9 pairs at 50x took ~200 s of which
    ~160 s was serializing rows into the writer) — count() times the
    join itself and is stable run-to-run."""
    t0 = time.time()
    df.count()
    return time.time() - t0


def partition_ratio(df, cols: list[str], n: int = 32) -> float:
    """max/median input rows per shuffle partition if ``df`` were
    hash-partitioned on ``cols`` (F.hash is the same Murmur3 family
    Spark's hashpartitioning uses — a faithful simulation)."""
    counts = [
        r.n
        for r in df.groupBy(F.pmod(F.hash(*cols), F.lit(n)).alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    counts += [0] * (n - len(counts))
    return max(counts) / max(1.0, statistics.median(counts))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-scale", type=int, default=50)
    ap.add_argument("--naive-max-scale", type=int, default=1,
                    help="largest scale to run the naive plans at "
                         "(hot-key quadratic: 10x is already ~100x "
                         "the 1x pair tests)")
    args = ap.parse_args()

    spark = get_spark("nonequi-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    # codegen/exchange warmup so the first measured run isn't charged
    # for one-time JVM compilation of the band-join plan shape
    wl = skewed_frame(spark, 1000, 1).toDF("l_id", "l_user", "l_ts")
    wr = skewed_frame(spark, 1000, 2).toDF("r_id", "r_user", "r_ts")
    timed(band_join(wl, wr, "l_ts", "r_ts", -3600.0, 0.0,
                    extra_equi=[("l_user", "r_user")]))

    print("\n=== band join: 1-hour band + user equi key, 50% hot key ===")
    print(f"{'scale':<7} {'rows':<10} {'bucketed':<10} {'naive':<10} "
          f"{'ratio(user)':<12} {'ratio(u,b)':<8} out_pairs")
    for scale in sorted({s for s in (1, 10, args.max_scale)
                         if s <= args.max_scale}):
        rows = BASE_ROWS * scale
        lf = skewed_frame(spark, rows, 11).cache()
        rf = skewed_frame(spark, rows, 77).cache()
        lf.count(), rf.count()

        bj = band_join(
            lf.toDF("l_id", "l_user", "l_ts"),
            rf.toDF("r_id", "r_user", "r_ts"),
            "l_ts",
            "r_ts",
            -3600.0,
            0.0,
            extra_equi=[("l_user", "r_user")],
        )
        t_bucketed = timed(bj)
        out_pairs = bj.count()

        t_naive = float("nan")
        if scale <= args.naive_max_scale:
            naive = lf.alias("l").join(
                rf.alias("r"),
                (F.col("l.user_id") == F.col("r.user_id"))
                & (F.col("r.ts") - F.col("l.ts") >= -3600.0)
                & (F.col("r.ts") - F.col("l.ts") <= 0.0),
                "inner",
            )
            t_naive = timed(naive)

        r_user = partition_ratio(lf, ["user_id"])
        bucketed_keys = lf.withColumn(
            "__b", F.floor(F.col("ts") / F.lit(3600.0)).cast("long")
        )
        r_both = partition_ratio(bucketed_keys, ["user_id", "__b"])
        print(f"{scale:<7} {rows:<10} {t_bucketed:<10.2f} "
              f"{t_naive:<10.2f} {r_user:<12.1f} {r_both:<8.1f} "
              f"out={out_pairs}")
        lf.unpersist(), rf.unpersist()

    print("\n=== theta join (pure inequality, no equi key): "
          "1-Bucket-Theta vs native BNLJ ===")
    print(f"{'side':<8} {'pairs':<12} {'1bucket':<10} {'bnlj':<10} "
          "region ratio")
    for side in (5_000, 20_000):
        lf = skewed_frame(spark, side, 21).toDF("l_id", "l_user", "l_ts").cache()
        rf = skewed_frame(spark, side, 91).toDF("r_id", "r_user", "r_ts").cache()
        lf.count(), rf.count()
        cond = (
            F.col("l_ts") < F.col("r_ts")
        ) & (F.col("l_ts") + 120.0 > F.col("r_ts"))
        t_1b = timed(theta_join(lf, rf, cond, strategy="1bucket"))
        t_bnlj = timed(naive_theta_join(lf, rf, cond))
        # region balance: inputs replicated to regions; with value-
        # independent assignment every region sees ~equal input by
        # construction — measure it rather than assert it
        from mapreducenonequijoin_spark.operators.joins import _pseudo_block

        r = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        import math

        blk = max(1, round(side / math.sqrt(side * side / r)))
        regions = lf.withColumn("__rb", _pseudo_block(lf, blk, 42))
        counts = [
            x.n
            for x in regions.groupBy("__rb").agg(F.count("*").alias("n")).collect()
        ]
        counts += [0] * (blk - len(counts))
        ratio = max(counts) / max(1.0, statistics.median(counts))
        print(f"{side:<8} {side*side:<12} {t_1b:<10.2f} {t_bnlj:<10.2f} "
              f"{ratio:.2f}")
        lf.unpersist(), rf.unpersist()


if __name__ == "__main__":
    main()
