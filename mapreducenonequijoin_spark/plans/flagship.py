"""Flagship query (SURVEY.md §7.2) — the reference's signature shape.

Self band join on the ``events`` stream table: for each ``purchase``
event, count ``error`` events by the same user in the preceding hour.
Exercises scan → custom band-join rewrite (equi user_id + time band)
→ residual filter → hash aggregation, end to end. [OR11 §5]'s
experiment workload is exactly this query class (band join on an
observation attribute); here the band is on event time with an equi
key, the common production variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import band_join
from ..sources.io import load_table
from .registry import register

_FLAGSHIP_ORACLE = """
SELECT p.event_id AS event_id,
       p.user_id  AS user_id,
       count(e.event_id) AS n_errors
FROM events p
LEFT JOIN events e
  ON  e.user_id = p.user_id
  AND e.event_type = 'error'
  AND e.ts >= p.ts - INTERVAL 1 HOUR
  AND e.ts <  p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
"""


def _purchase_error_sides(
    p_src: DataFrame, e_src: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The flagship join's two inputs: ``p_src``'s purchases as
    (p_event_id, p_user_id, p_ts) and ``e_src``'s errors as
    (e_event_id, e_user_id, e_ts). Batch and streaming callers alike
    pass their own sources (one frame twice, or two streams)."""

    def side(src: DataFrame, event_type: str, prefix: str) -> DataFrame:
        return src.filter(F.col("event_type") == event_type).select(
            F.col("event_id").alias(f"{prefix}_event_id"),
            F.col("user_id").alias(f"{prefix}_user_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    return side(p_src, "purchase", "p"), side(e_src, "error", "e")


@register("join_self_band", oracle=_FLAGSHIP_ORACLE)
def purchase_error_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors-in-the-preceding-hour per purchase event.

    Plan shape: both sides are pruned scans of events (filter pushed to
    parquet); the band join shuffles once on (user_id is folded into
    the residual-equi condition, time bucket is the shuffle key with ×2
    replication of the error side); counts aggregate partial+final;
    the final left join restores purchases with zero errors.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases, errors = _purchase_error_sides(ev, ev)
    # e_ts ∈ [p_ts - 1h, p_ts)  ⟺  (e_ts - p_ts) ∈ [-3600s, 0s)
    pairs = band_join(
        purchases,
        errors,
        "p_ts",
        "e_ts",
        lower=-3600,
        upper=0,
        extra_equi=[("p_user_id", "e_user_id")],
        include_lower=True,
        include_upper=False,
    )
    counts = pairs.groupBy("p_event_id").agg(F.count("*").alias("__n"))
    return purchases.join(counts, "p_event_id", "left").select(
        F.col("p_event_id").alias("event_id"),
        F.col("p_user_id").alias("user_id"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_errors"),
    )
