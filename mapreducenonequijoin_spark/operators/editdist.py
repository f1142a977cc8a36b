"""String similarity join on edit distance — the ICDE'22-tracked
extension (PAPERS.md: string similarity joins) built the same way as
every join in this engine: turn the all-pairs predicate into an
equi-join on a derived key plus an exact residual.

Algorithm: segment-pigeonhole candidate generation (the PassJoin
family, Li+ VLDB'11 — public literature): if ed(s, t) ≤ k, then
splitting s into k+1 contiguous segments, at least one segment is
untouched by the ≤k edits and therefore occurs VERBATIM in t, at a
position shifted by at most k (each insertion/deletion before it
shifts it by one). So:

- left side emits its k+1 segments keyed (segment_index, substring,
  len(s)) — k+1 rows per string, linear;
- right side emits, for every compatible left length l ∈
  [len(t)−k, len(t)+k] and segment index i, the substrings of t at
  the segment's position for length l shifted by δ ∈ [−k, k] —
  O(k³) short keys per string, still linear in rows;
- equi-join on (i, substring, l), dropDuplicates the (left, right)
  id pair ([OR11 §4]'s exactly-once by construction is traded for an
  explicit dedup here because a pair can match on several segments),
  then the exact ``levenshtein ≤ k`` residual.

Short strings (len(s) ≤ k) break the pigeonhole guarantee: splitting
them into k+1 segments yields at least one EMPTY segment, and the one
untouched segment may be the empty one (e.g. ed('ab','xy') = 2 at
k = 2 — both chars edited, only the empty third segment survives), so
an empty-key filter silently loses pairs. They are routed through a
dedicated short-string path instead: a left string of length ≤ k can
only match right strings of length ≤ 2k (ed ≥ |len difference|), so
both sides of that subset are tiny and bounded by construction; they
meet on an equi-join over the left length (right explodes the ≤ 2k+1
compatible lengths), then the same exact residual. The two paths
partition the left side by length, so their outputs are disjoint.

All expressions are built-ins (substring/sequence/explode/
levenshtein) — no Python UDF; the shuffle carries only short segment
keys, never the candidate cross product.

Stop-segment skew: at 100 TB a common substring ("the ", "ing ")
becomes a hot (len, i, segment) join key whose l×r product lands on
one reducer. Indexing only each string's RAREST segment (the
dedup_ngram_jaccard doc-frequency trick) would NOT be a sound fix
here — the pigeonhole promises only that SOME segment of the k+1 is
untouched, never which one, so pruning index segments loses pairs.
The sound fix implemented below is TARGETED hot-key salting: a
per-key frequency frame (one agg over the short keys) rides a
broadcast, keys above ``hot_threshold`` get ``ceil(freq/threshold)``
splits (capped), the left row hashes into one split and only the
matching right rows replicate across them — the [OR11 §4.2] random
matrix cut applied per hot cell, cold keys untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import _check_disjoint

__all__ = ["edit_distance_join"]


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_str: str,
    right_id: str,
    right_str: str,
    k: int = 2,
    hot_threshold: int = 10_000,
    max_splits: int = 32,
    seed: int = 42,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein(left_str, right_str)
    ≤ k``, via segment-pigeonhole candidates + exact residual, with
    hot segment keys salted (see module docstring).

    Output: (left_id, right_id, edit_dist) — callers join back for
    payload columns (keeps the shuffle narrow).
    """
    if k < 1:
        raise ValueError("k must be >= 1 (use an equi-join for k=0)")
    _check_disjoint(left, right)
    kp1 = k + 1

    # --- left: its own k+1 segments, keyed by (i, seg, own length) ---
    s, slen = F.col("__l_str"), F.length("__l_str")
    base, rem = (slen / kp1).cast("int"), slen % kp1
    segs = F.array(*[
        F.struct(
            F.lit(i).alias("i"),
            # start of segment i (1-based): i*base + min(i, rem)
            F.substring(
                s,
                (F.lit(i) * base + F.least(F.lit(i), rem) + 1).cast("int"),
                (base + F.when(F.lit(i) < rem, 1).otherwise(0)).cast("int"),
            ).alias("seg"),
        )
        for i in range(kp1)
    ])
    lbase_all = left.select(
        F.col(left_id).alias("__l_id"), F.col(left_str).alias("__l_str")
    ).withColumn("__l_len", F.length("__l_str"))
    # len(s) >= k+1 guarantees every one of the k+1 segments is
    # non-empty, so the empty-key filter below is safe on this subset;
    # shorter strings go through the short-string path instead.
    lhs = (
        lbase_all.filter(F.col("__l_len") > k)
        .withColumn("__seg", F.explode(segs))
        .select(
            "__l_id", "__l_str", "__l_len",
            F.col("__seg.i").alias("__i"), F.col("__seg.seg").alias("__key"),
        )
        .filter(F.length("__key") > 0)
    )

    # --- right: candidate substrings for every compatible left length
    # l and shift δ ∈ [−k, k] ---
    tlen = F.length("__r_str")
    rhs = (
        right.select(
            F.col(right_id).alias("__r_id"), F.col(right_str).alias("__r_str")
        )
        .withColumn("__t_len", F.length("__r_str"))
        # only left lengths > k live in the segment path (shorter left
        # strings take the short path); tlen >= 1 keeps the sequence
        # ascending (tlen = 0 can't reach any left length > k anyway)
        .filter(tlen >= 1)
        .withColumn(
            "__l_len",
            F.explode(
                F.sequence(F.greatest(F.lit(kp1), tlen - k), tlen + k)
            ),
        )
        .withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(k))))
    )
    # Multi-match-aware shift selection (PassJoin, Li+ VLDB'11): with
    # Δ = len(t) − len(s), a segment matching at shift δ needs ≥ |δ|
    # net indels before it and ≥ |Δ−δ| after (|δ| + |Δ−δ| ≤ k), and if
    # segment i (0-based) is the FIRST untouched one, the i touched
    # segments before it hold ≥ i edits, so |Δ−δ| ≤ k−i. Enumerating
    # only those δ halves the probe keys vs the naive δ ∈ [−k, k]
    # (k=2, Δ=0: 7 keys/length instead of 15) at identical recall —
    # completeness holds because the actual first untouched segment
    # always satisfies both bounds.
    delta = F.col("__t_len") - F.col("__l_len")
    d_lo = F.greatest(
        F.ceil((delta - k) / 2), delta - (F.lit(k) - F.col("__i"))
    )
    d_hi = F.least(
        F.floor((delta + k) / 2), delta + (F.lit(k) - F.col("__i"))
    )
    rhs = rhs.withColumn("__d", F.explode(F.sequence(d_lo, d_hi)))
    lbase, lrem = (F.col("__l_len") / kp1).cast("int"), F.col("__l_len") % kp1
    seg_start = (
        F.col("__i") * lbase + F.least(F.col("__i"), lrem) + 1 + F.col("__d")
    )
    seg_len = lbase + F.when(F.col("__i") < lrem, 1).otherwise(0)
    rhs = (
        rhs.withColumn(
            "__key",
            F.when(
                (seg_start >= 1) & (seg_len > 0)
                & (seg_start + seg_len - 1 <= F.col("__t_len")),
                F.substring(F.col("__r_str"), seg_start.cast("int"),
                            seg_len.cast("int")),
            ),
        )
        .filter(F.col("__key").isNotNull())
        .select("__r_id", "__r_str", "__l_len", "__i", "__key")
        .dropDuplicates(["__r_id", "__l_len", "__i", "__key"])
    )

    # targeted hot-key salting: frequency frame over the index side's
    # short keys -> split counts for keys above threshold, broadcast to
    # both sides; cold keys (split 1) keep exactly their current plan.
    jk = ["__l_len", "__i", "__key"]
    hot = (
        lhs.groupBy(*jk)
        .agg(F.count("*").alias("__nk"))
        .filter(F.col("__nk") > hot_threshold)
        .withColumn(
            "__sp",
            F.least(
                F.lit(max_splits),
                F.ceil(F.col("__nk") / F.lit(hot_threshold)).cast("int"),
            ),
        )
        .select(*jk, "__sp")
    )
    lhs = lhs.join(F.broadcast(hot), jk, "left").withColumn(
        "__salt",
        F.when(F.col("__sp").isNull(), F.lit(0)).otherwise(
            F.pmod(
                F.xxhash64(F.col("__l_id"), F.col("__l_str"), F.lit(seed)),
                F.col("__sp"),
            ).cast("int")
        ),
    ).drop("__sp")
    rhs = rhs.join(F.broadcast(hot), jk, "left").withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.coalesce(F.col("__sp"), F.lit(1)) - 1)),
    )
    cand = (
        lhs.join(rhs, jk + ["__salt"])
        .select("__l_id", "__l_str", "__r_id", "__r_str")
        .dropDuplicates(["__l_id", "__r_id"])
    )

    # --- short-string path: left len ≤ k (pigeonhole void — see module
    # docstring). Right side is bounded to len ≤ 2k; equi-join on the
    # exploded compatible left length (≤ 2k+1 keys/row, linear). ---
    short_l = lbase_all.filter(F.col("__l_len") <= k)
    short_r = (
        right.select(
            F.col(right_id).alias("__r_id"), F.col(right_str).alias("__r_str")
        )
        .withColumn("__t_len", F.length("__r_str"))
        .filter(F.col("__t_len") <= 2 * k)
        .withColumn(
            "__l_len",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("__t_len") - k),
                    F.least(F.lit(k), F.col("__t_len") + k),
                )
            ),
        )
        .select("__r_id", "__r_str", "__l_len")
    )
    cand_short = short_l.join(short_r, "__l_len").select(
        "__l_id", "__l_str", "__r_id", "__r_str"
    )
    cand = cand.unionByName(cand_short)

    return (
        cand.withColumn(
            "edit_dist", F.levenshtein("__l_str", "__r_str").cast("long")
        )
        .filter(F.col("edit_dist") <= k)
        .select(
            F.col("__l_id").alias(left_id),
            F.col("__r_id").alias(right_id),
            "edit_dist",
        )
    )
