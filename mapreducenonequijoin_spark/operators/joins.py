"""Non-equi join rewrites — the heart of the engine (SURVEY.md §2.3, §4.3).

The reference repo implements the theta-join partitioning algorithms of
Okcan & Riedewald, "Processing Theta-Joins using MapReduce", SIGMOD 2011
[OR11]: 1-Bucket-Theta (randomized join-matrix region assignment, §4)
and the statistics-driven M-Bucket variants (§5-6). Spark's native plan
for a non-equi condition is BroadcastNestedLoopJoin (one side small) or
a cartesian product — both scale hazards for large×large inputs.

Every function here is a *plan rewrite*: it derives a bucketing column,
turns the non-equi join into an equi-join on the bucket (which Spark
executes as a shuffled hash / sort-merge join), and applies the original
predicate as a residual filter. Key correctness property, inherited
from [OR11 §4]: **each candidate pair is examined in exactly one
bucket**, so no post-hoc dedup is needed. Everything stays in DataFrame
space — Catalyst still pushes filters/prunes columns through the
rewritten plan, and AQE re-plans at runtime.

Scale notes (100 TB design):
- no ``collect()`` anywhere; the statistics [OR11] gathers up front
  come from metadata where they can: a bare parquet scan's row count is
  the sum of its footers' ``num_rows`` (no Spark job). Any other frame
  takes one ``count``, and an equi-depth histogram takes one
  ``percentile_approx`` aggregate, each an O(1)-result driver action
  memoized per session (catalog stats replace both on a real
  deployment);
- replication factors are bounded (×2 for band joins, ×√r for theta,
  ×#buckets only where output is provably of that order);
- skew-resistant by construction: bucket keys are either uniform by
  randomization (theta) or value-derived with AQE skew splitting on.
"""

from __future__ import annotations

import math
from collections import OrderedDict
from functools import reduce
from operator import and_
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.io import scan_row_count

__all__ = [
    "band_join",
    "band_join_outer",
    "theta_join",
    "naive_theta_join",
    "inequality_join",
    "inequality_join_2pred",
    "inequality_join_mbucket_o",
    "interval_overlap_join",
    "asof_join",
    "salted_equi_join",
    "grid_distance_join_2d",
]

# Below this product of input sizes the naive cross/BNLJ plan is cheap
# and the bucketing overhead is not worth it (BASELINE.md bench note).
_NAIVE_PAIR_THRESHOLD = 4_000_000

# [OR11] statistics step. A bare parquet scan's row count comes from
# its file footers (``scan_row_count``, no Spark job, no memo); any other
# frame is counted once and memoized, as are the histogram bounds, keyed
# by session and Catalyst semantic hash, so repeated plan builds over the
# same frame in a session pay one scan. A semantic hash does not see a
# rewrite of the files under a path, which is why bare scans skip the
# memo. Both memos keep the _STAT_MEMO_MAX most recently used entries.
_STAT_MEMO_MAX = 64
_COUNT_CACHE: OrderedDict[tuple[int, int], int] = OrderedDict()
_QUANTILE_CACHE: OrderedDict[tuple[int, int, int], list] = OrderedDict()


def _memoized(memo: OrderedDict, key: tuple, compute):
    if key in memo:
        memo.move_to_end(key)
        return memo[key]
    value = memo[key] = compute()
    if len(memo) > _STAT_MEMO_MAX:
        memo.popitem(last=False)
    return value


def _stat_count(df: DataFrame) -> int:
    n = scan_row_count(df)
    if n is not None:
        return n
    return _memoized(
        _COUNT_CACHE, (id(df.sparkSession), df.semanticHash()), df.count
    )


def _stat_quantiles(proj: DataFrame, col: str, b: int) -> list:
    """Sorted distinct equi-depth bounds of ``col`` (the [OR11]
    histogram): one ``percentile_approx`` aggregate at relative error
    1/1000 over the non-NULL, non-NaN values, so the bounds have a total
    order. Empty when no such value exists."""

    def compute() -> list:
        probs = [i / b for i in range(1, b)]
        c = F.col(col)
        bounds = (
            proj.filter(c.isNotNull() & ~F.isnan(c))
            .agg(F.percentile_approx(c, probs, 1000))
            .first()[0]
        )
        return sorted(set(bounds or []))

    return _memoized(
        _QUANTILE_CACHE, (id(proj.sparkSession), proj.semanticHash(), b), compute
    )


def _pseudo_block(df: DataFrame, n_blocks: int, seed: int) -> Column:
    """Pseudo-random block index ∈ [0, n_blocks) that is DETERMINISTIC
    under task recomputation.

    [OR11 §4] wants a uniform random assignment; ``F.rand(seed)`` is
    seeded per partition, so an AQE re-plan or shuffle-fetch retry can
    recompute a task over a different upstream layout and move rows to
    different regions between attempts of downstream consumers —
    duplicated or lost pairs at cluster scale. xxhash64 of the full row
    content (+ seed) is value-derived, hence replay-stable, while
    remaining uniform for [OR11] balance on any input with row
    diversity. Known trade-off: exact duplicate rows share a block;
    a corpus dominated by ONE identical row would re-concentrate, which
    the residual AQE skew-split still catches.
    """
    return F.pmod(
        F.xxhash64(F.struct(*df.columns), F.lit(seed)), F.lit(n_blocks)
    ).cast("long")


def _one_bucket_regions(
    left: DataFrame,
    right: DataFrame,
    n_left: int,
    n_right: int,
    num_regions: int | None,
    seed: int,
    region_cols: tuple[str, str],
) -> tuple[DataFrame, DataFrame]:
    """[OR11 §4] 1-Bucket-Theta region assignment for both join sides.

    The |L|×|R| join matrix is tiled into ``cr × cs`` regions with
    near-square blocks of side ≈ √(|L||R|/r), which minimizes the
    per-region input ≈ 2√(|L||R|/r) [OR11 §4.1]; r defaults to the
    shuffle width. Each left row draws a pseudo-random block-row and is
    replicated to the ``cs`` regions of that row; each right row draws
    a block-column and is replicated to its ``cr`` regions. Every (l, r)
    pair meets in exactly one region, and the load is balanced under
    any skew because the assignment ignores the join values.

    Returns both sides with their region id in ``region_cols``, each
    hash-repartitioned on it into r partitions, so each reduce task
    joins about one region. A region's work is quadratic in its input
    while its shuffle bytes are linear, so AQE's byte-based coalescing
    would fold a small grid (perfbench's 3×3 regions of 2000×2000
    comparisons, 0.6 MB in all) into one task that runs the regions one
    after another; AQE never coalesces a shuffle with an explicit
    partition count. The join (sort-merge or cogroup) accepts this
    partitioning as it is, so each side still has one exchange.
    """
    r = num_regions or int(
        left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    side = math.sqrt(n_left * n_right / r)
    cr = max(1, round(n_left / side))  # block-rows
    cs = max(1, round(n_right / side))  # block-cols
    lhs = (
        left.withColumn("__tj_rb", _pseudo_block(left, cr, seed))
        .withColumn("__tj_s", F.explode(F.sequence(F.lit(0), F.lit(cs - 1))))
        .withColumn(region_cols[0], F.col("__tj_rb") * cs + F.col("__tj_s"))
        .drop("__tj_rb", "__tj_s")
    )
    rhs = (
        right.withColumn("__tj_cb", _pseudo_block(right, cs, seed + 1))
        .withColumn("__tj_r", F.explode(F.sequence(F.lit(0), F.lit(cr - 1))))
        .withColumn(region_cols[1], F.col("__tj_r") * cs + F.col("__tj_cb"))
        .drop("__tj_cb", "__tj_r")
    )
    return lhs.repartition(r, region_cols[0]), rhs.repartition(r, region_cols[1])


_SALT_COLS = ("__salt_k", "__salt_s")


def _salt_hot_split(
    keep: DataFrame,
    spread: DataFrame,
    keep_keys: Sequence[str],
    spread_keys: Sequence[str],
    hash_cols: Sequence[str],
    salt_hot: int,
    hot_min: int,
) -> tuple[DataFrame, DataFrame, Column]:
    """[OR11 §6] hot-cell split for an equi-keyed join (the ``salt_hot``
    option of the band, LSH and blocking joins).

    A key shared by m rows on each side is one join task emitting ~m²
    pairs: output skew that AQE's skew-join split cannot see, because
    its trigger reads input partition bytes and the hot key's input is
    small. Keys holding more than ``hot_min`` rows on ``keep`` are
    found by one count aggregate and broadcast back (the hot set is
    small by definition). On those keys a ``keep`` row takes the ONE
    salt ``pmod(hash(hash_cols), salt_hot)`` and a ``spread`` row is
    replicated to every salt ``0..salt_hot-1``; cold keys keep salt 0 on
    both sides and pay nothing. A matching pair therefore meets exactly
    once, at the keep row's salt, so the join output is unchanged while
    a hot key's pairs spread over ``salt_hot`` tasks.

    Returns both salted sides and the salt-equality condition to AND
    into the join; the caller drops ``_SALT_COLS`` from its result.
    """
    hks = [f"__hk{i}" for i in range(len(keep_keys))]
    hot = F.broadcast(
        keep.groupBy(*keep_keys)
        .count()
        .filter(F.col("count") > hot_min)
        .select(*[F.col(k).alias(h) for k, h in zip(keep_keys, hks)])
    )

    def on_hot(keys: Sequence[str]) -> Column:
        return reduce(and_, [F.col(k) == F.col(h) for k, h in zip(keys, hks)])

    is_hot = F.col(hks[0]).isNotNull()
    keep = (
        keep.join(hot, on_hot(keep_keys), "left")
        .withColumn(
            _SALT_COLS[0],
            F.when(is_hot, F.pmod(F.hash(*hash_cols), F.lit(salt_hot))).otherwise(
                F.lit(0)
            ),
        )
        .drop(*hks)
    )
    spread = (
        spread.join(hot, on_hot(spread_keys), "left")
        .withColumn(
            _SALT_COLS[1],
            F.explode(
                F.when(is_hot, F.sequence(F.lit(0), F.lit(salt_hot - 1))).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
        .drop(*hks)
    )
    return keep, spread, F.col(_SALT_COLS[0]) == F.col(_SALT_COLS[1])


def _check_disjoint(left: DataFrame, right: DataFrame) -> None:
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"join sides must have disjoint column names; rename these first: {sorted(overlap)}"
        )


def _numeric(df: DataFrame, col: str) -> tuple[Column, bool]:
    """Map a column to an orderable numeric expression.

    Returns (expr, exact_int): timestamps → epoch microseconds (exact
    int64), dates → epoch days, integral types kept exact; floats are
    inexact (bucket math widens the replication range to compensate).
    """
    dtype = dict(df.dtypes)[col]
    if dtype == "timestamp_ntz":
        # unix_micros only accepts TIMESTAMP; reinterpret NTZ in the
        # session TZ (UTC in this engine) so epoch math stays exact.
        return F.unix_micros(F.col(col).cast("timestamp")), True
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col)), True
    if dtype == "date":
        return F.datediff(F.col(col), F.lit("1970-01-01")), True
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return F.col(col).cast("long"), True
    return F.col(col).cast("double"), False


def _floordiv(expr: Column, width, exact: bool) -> Column:
    """floor(expr / width) that is exact for integer domains.

    Integer path avoids double rounding at bucket boundaries:
    (x - pmod(x, w)) / w is an exact multiple division and pmod is
    non-negative, giving true floor semantics for negatives too.
    """
    w = F.lit(width)
    if exact:
        return ((expr - F.pmod(expr, w)) / w).cast("long")
    return F.floor(expr / w).cast("long")


def _unit_scale(df: DataFrame, col: str) -> float:
    """Scale factor from user units to the numeric domain of ``col``:
    seconds→microseconds for timestamps, days for dates, 1 otherwise."""
    dtype = dict(df.dtypes)[col]
    if dtype.startswith("timestamp"):
        return 1_000_000.0
    return 1.0


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    lower: float,
    upper: float,
    extra_equi: Sequence[tuple[str, str]] = (),
    include_lower: bool = True,
    include_upper: bool = True,
    bucket_width: float | None = None,
    salt_hot: int = 0,
    hot_bucket_min: int = 256,
) -> DataFrame:
    """Band join: rows where ``right_on - left_on ∈ [lower, upper]``.

    The flagship query class of the reference ([OR11 §5]'s experiments
    are band joins); its M-Bucket-I algorithm covers only near-diagonal
    join-matrix cells using histograms. The Spark-native equivalent:

    - left row  → one bucket  ``floor(l / w)``
    - right row → the 2 buckets covering ``[r - upper, r - lower]``
      (w defaults to the band width, so the cover is exactly 2 buckets)
    - equi-join on bucket (+ any ``extra_equi`` keys) + residual filter.

    Each pair meets exactly once (the left row lives in exactly ONE
    bucket — the [OR11 §4] unique-region property), so no dedup.
    Replication is ×2 on the right side only: linear, shuffle-parallel,
    skew-bounded. For timestamp columns, ``lower/upper/bucket_width``
    are in SECONDS.

    The symmetric band |l − r| ≤ ε is ``lower=-ε, upper=ε``.

    ``salt_hot = s`` (opt-in) splits buckets holding more than
    ``hot_bucket_min`` left rows ``s`` ways (see ``_salt_hot_split``):
    a heavily tied value puts all its rows in one bucket.
    """
    if upper < lower:
        raise ValueError("upper must be >= lower")
    _check_disjoint(left, right)

    l_num, l_exact = _numeric(left, left_on)
    r_num, r_exact = _numeric(right, right_on)
    exact = l_exact and r_exact
    scale = _unit_scale(left, left_on)
    # residual bounds = the EXACT user bounds in the numeric domain; the
    # floor/ceil-widened lo/hi below are for bucket-cover math ONLY
    # (widening the cover adds replicas but must never loosen the
    # filter: with fractional bounds on integer columns the widened
    # bounds would wrongly admit e.g. diff=1 for upper=0.5).
    res_lo, res_hi = lower * scale, upper * scale
    if float(res_lo).is_integer():
        res_lo = int(res_lo)
    if float(res_hi).is_integer():
        res_hi = int(res_hi)
    lo, hi = res_lo, res_hi
    if exact:
        lo, hi = int(math.floor(lo)), int(math.ceil(hi))
    w = (bucket_width * scale) if bucket_width else (hi - lo)
    if w <= 0:
        w = 1
    if exact:
        w = max(int(w), 1)

    lhs = left.withColumn("__band_bl", _floordiv(l_num, w, exact))
    lo_b = _floordiv(r_num - F.lit(hi), w, exact)
    hi_b = _floordiv(r_num - F.lit(lo), w, exact)
    if not exact:
        # float domain: floor() on doubles can misplace boundary values
        # by one bucket; widening the cover costs replicas, never misses
        # pairs, and never duplicates (left bucket is still unique).
        lo_b, hi_b = lo_b - 1, hi_b + 1
    rhs = right.withColumn("__band_br", F.explode(F.sequence(lo_b, hi_b)))

    cond = F.col("__band_bl") == F.col("__band_br")
    for lc, rc in extra_equi:
        cond = cond & (F.col(lc) == F.col(rc))
    diff = _numeric_joined(right, right_on) - _numeric_joined(left, left_on)
    cond = cond & (diff >= F.lit(res_lo) if include_lower else diff > F.lit(res_lo))
    cond = cond & (diff <= F.lit(res_hi) if include_upper else diff < F.lit(res_hi))

    drop = ["__band_bl", "__band_br"]
    if salt_hot > 1:
        # full-row hash: the band value is CONSTANT inside a tied hot
        # bucket, so the salt must come from the other columns
        lhs, rhs, salted = _salt_hot_split(
            lhs,
            rhs,
            ["__band_bl"] + [lc for lc, _ in extra_equi],
            ["__band_br"] + [rc for _, rc in extra_equi],
            left.columns,
            salt_hot,
            hot_bucket_min,
        )
        cond = cond & salted
        drop += _SALT_COLS

    return lhs.join(rhs, cond, "inner").drop(*drop)


def _numeric_joined(df: DataFrame, col: str) -> Column:
    """Same mapping as _numeric but usable post-join (by-name lookup)."""
    expr, _ = _numeric(df, col)
    return expr


def band_join_outer(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    lower: float,
    upper: float,
    left_key: str,
    extra_equi: Sequence[tuple[str, str]] = (),
    include_lower: bool = True,
    include_upper: bool = True,
) -> DataFrame:
    """LEFT OUTER band join (SURVEY.md §7.7 hard-part 2): inner
    bucketed band join + anti-join union of unmatched left rows,
    null-extended on the right columns. ``left_key`` must uniquely
    identify left rows (the anti-join is on the key, so duplicate
    left rows would collapse). Stays fully shuffle-parallel: the
    anti-join is an equi-join on the key against the distinct matched
    keys — a tiny frame relative to the join output."""
    inner = band_join(
        left, right, left_on, right_on, lower, upper,
        extra_equi=extra_equi,
        include_lower=include_lower, include_upper=include_upper,
    )
    matched = inner.select(left_key).distinct()
    r_types = dict(right.dtypes)
    unmatched = left.join(matched, left_key, "left_anti").select(
        *left.columns,
        *[F.lit(None).cast(r_types[c]).alias(c) for c in right.columns],
    )
    return inner.select(*left.columns, *right.columns).unionByName(unmatched)


def theta_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
    num_regions: int | None = None,
    seed: int = 42,
    strategy: str = "auto",
) -> DataFrame:
    """General theta join via the 1-Bucket-Theta rewrite [OR11 §4]
    (region grid in ``_one_bucket_regions``): every (l, r) pair meets
    in exactly one region, so there is no dedup, and the load is
    balanced under any skew.

    Spark mapping: region id is a derived column; each side is
    repartitioned on it into r reduce tasks, about one region each, so
    the quadratic regions run in parallel; the region equi-join is a
    sort-merge join on that partitioning; θ is the residual filter. |L| and |R| are the up-front cardinality knowledge
    [OR11] assumes: footer row counts for a bare parquet scan, one
    memoized ``count()`` otherwise (``_stat_count``).

    ``strategy``: 'auto' falls back to Spark's native non-equi plan
    (BNLJ / broadcast) below a small-input threshold, '1bucket' forces
    the rewrite. ``naive_theta_join`` is the native plan on its own.
    """
    _check_disjoint(left, right)
    if strategy not in ("auto", "1bucket"):
        raise ValueError(f"unknown strategy {strategy!r}")

    n_left, n_right = _stat_count(left), _stat_count(right)
    if n_left == 0 or n_right == 0:
        return left.join(right, condition, "inner")
    if strategy == "auto" and n_left * n_right <= _NAIVE_PAIR_THRESHOLD:
        return left.join(right, condition, "inner")
    lhs, rhs = _one_bucket_regions(
        left, right, n_left, n_right, num_regions, seed,
        ("__tj_region", "__tj_region2"),
    )
    return lhs.join(
        rhs, (F.col("__tj_region") == F.col("__tj_region2")) & condition, "inner"
    ).drop("__tj_region", "__tj_region2")


def inequality_join_2pred(
    left: DataFrame,
    right: DataFrame,
    x_pair: tuple[str, str, str],
    y_pair: tuple[str, str, str],
    num_regions: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Two-predicate inequality join, e.g. ``l.x < r.x AND l.y > r.y``
    — the IEJoin workload class (Khayyat+ PVLDB'15).

    Strategy: 1-Bucket-Theta pseudo-random regions [OR11 §4] for
    provable load balance, with an IEJoin-style SORT/SWEEP kernel per
    region via cogrouped applyInPandas. The kernel sweeps the right
    side in x-order, incrementally inserting qualifying left rows into
    a y-sorted secondary index, and emits each right row's matches with
    one binary search + one slice — O((m+n)·log(m+n) + inserts +
    output), and crucially O(m+n) MEMORY, never materializing the m×n
    candidate matrix (the previous vectorized kernel allocated a full
    boolean matrix per region — a memory cliff as regions grow). This
    is the two-relation equivalent of the paper's permutation+bitmap
    formulation: the y-sorted index plays the bitmap, the x-sweep
    plays the permutation scan.

    ``x_pair``/``y_pair`` = (left_col, op, right_col), op ∈ <,<=,>,>=.
    Output: left columns + right columns of matching pairs,
    exactly once per pair (unique-region property).
    """
    import pandas as pd

    lx, xop, rx = x_pair
    ly, yop, ry = y_pair
    for op in (xop, yop):
        if op not in ("<", "<=", ">", ">="):
            raise ValueError(f"unsupported op {op!r}")
    _check_disjoint(left, right)

    n_left, n_right = _stat_count(left), _stat_count(right)
    if n_left == 0 or n_right == 0:
        return left.join(
            right,
            _cmp(F.col(lx), F.col(rx), xop) & _cmp(F.col(ly), F.col(ry), yop),
            "inner",
        )
    lhs, rhs = _one_bucket_regions(
        left, right, n_left, n_right, num_regions, seed, ("__region", "__region")
    )

    l_cols, r_cols = left.columns, right.columns
    l_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in left.schema)
    r_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in right.schema)

    def kernel(ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        if ldf.empty or rdf.empty:
            return pd.DataFrame(columns=l_cols + r_cols)
        li, ri = _iejoin_indices(
            ldf[lx].to_numpy(), ldf[ly].to_numpy(),
            rdf[rx].to_numpy(), rdf[ry].to_numpy(),
            xop, yop,
        )
        out = pd.concat(
            [
                ldf.iloc[li][l_cols].reset_index(drop=True),
                rdf.iloc[ri][r_cols].reset_index(drop=True),
            ],
            axis=1,
        )
        return out

    return (
        lhs.groupBy("__region")
        .cogroup(rhs.groupBy("__region"))
        .applyInPandas(kernel, schema=f"{l_schema}, {r_schema}")
    )


def _sortable_i8(arr):
    """numpy array view that supports negation: datetime64/timedelta64
    → int64 epoch view, bool → int8; numeric dtypes pass through."""
    import numpy as np

    if arr.dtype.kind in ("M", "m"):
        return arr.view("i8")
    if arr.dtype.kind == "b":
        return arr.astype(np.int8)
    return arr


def _iejoin_indices(lxv, lyv, rxv, ryv, xop: str, yop: str):
    """IEJoin sort/sweep kernel: positional (left, right) index arrays
    of all pairs with ``l.x xop r.x AND l.y yop r.y``.

    Canonicalized to ``l.x < r.x`` / ``l.y > r.y`` (non-strict
    variants via searchsorted side) by negating values for the other
    directions. Sweep the right side in ascending x; lefts whose x
    qualifies are batch-inserted into a y-sorted index (values + ids);
    each right row's matches are one binary search + one tail slice —
    emission is output-bound, memory is O(m+n)."""
    import numpy as np

    lxv, lyv = _sortable_i8(lxv), _sortable_i8(lyv)
    rxv, ryv = _sortable_i8(rxv), _sortable_i8(ryv)
    if xop in (">", ">="):
        lxv, rxv = -lxv, -rxv
        xop = "<" if xop == ">" else "<="
    if yop in ("<", "<="):
        lyv, ryv = -lyv, -ryv
        yop = ">" if yop == "<" else ">="
    # lefts with x qualifying vs right value v: count = searchsorted
    # side 'left' (< v, strict) or 'right' (<= v)
    x_side = "left" if xop == "<" else "right"
    # inserted y qualifying vs right value w: ys[cut:] with cut side
    # 'right' (> w, strict) or 'left' (>= w)
    y_side = "right" if yop == ">" else "left"

    lorder = np.argsort(lxv, kind="stable")
    lxs = lxv[lorder]
    rorder = np.argsort(rxv, kind="stable")

    ys = np.empty(0, dtype=lyv.dtype)
    yids = np.empty(0, dtype=np.int64)
    out_l: list = []
    out_r: list = []
    p = 0
    for ri in rorder:
        q = np.searchsorted(lxs, rxv[ri], side=x_side)
        if q > p:
            batch_ids = lorder[p:q]
            batch = lyv[batch_ids]
            border = np.argsort(batch, kind="stable")
            batch, batch_ids = batch[border], batch_ids[border]
            pos = np.searchsorted(ys, batch)
            ys = np.insert(ys, pos, batch)
            yids = np.insert(yids, pos, batch_ids)
            p = q
        if ys.size:
            cut = np.searchsorted(ys, ryv[ri], side=y_side)
            if cut < ys.size:
                matched = yids[cut:]
                out_l.append(matched)
                out_r.append(np.full(matched.size, ri, dtype=np.int64))
    if not out_l:
        e = np.empty(0, dtype=np.int64)
        return e, e
    return np.concatenate(out_l), np.concatenate(out_r)


def naive_theta_join(left: DataFrame, right: DataFrame, condition: Column) -> DataFrame:
    """Reference oracle for property tests: Spark's native plan
    (cross/BNLJ + filter). O(|L|·|R|) work — test scale only."""
    _check_disjoint(left, right)
    return left.join(right, condition, "inner")


def inequality_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    op: str = "<",
    num_buckets: int | None = None,
    extra_equi: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Inequality join ``left_on <op> right_on`` (op ∈ <, <=, >, >=).

    [OR11 §5]'s M-Bucket-I: equi-depth histograms on the join attribute
    prune join-matrix cells that cannot match. Spark mapping: quantile
    range-bucket both sides (one ``percentile_approx`` aggregate = the
    equi-depth histogram / statistics step), replicate each left row to
    every right-bucket it can match, equi-join on bucket, residual
    filter.

    Output of an inequality join is Θ(n²) in the worst case, so the
    ×B replication is dominated by the output itself; the rewrite's
    value is *balancing* that work across the cluster instead of a
    single BNLJ partition pair.
    """
    if op not in ("<", "<=", ">", ">="):
        raise ValueError(f"unsupported op {op!r}")
    if op in (">", ">="):
        # l > r  ≡  r < l: swap the frames, then restore column order.
        inv = "<" if op == ">" else "<="
        return inequality_join(
            right, left, right_on, left_on, inv, num_buckets,
            [(rc, lc) for lc, rc in extra_equi],
        ).select(*left.columns, *right.columns)

    _check_disjoint(left, right)
    spark = left.sparkSession
    b = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # Statistics step (the [OR11] histogram): quantile boundaries of the
    # right side's join attribute. One aggregate returning O(b) values
    # — not a data materialization — memoized per (frame, b) so
    # repeated plan builds don't rescan.
    l_num, l_exact = _numeric(left, left_on)
    r_num, r_exact = _numeric(right, right_on)
    bounds = _stat_quantiles(right.select(r_num.alias("__v")), "__v", b)
    if not bounds:
        return left.join(
            right, _cmp(_numeric_joined(left, left_on), _numeric_joined(right, right_on), op), "inner"
        )

    bucket_of = lambda e: _bucket_expr(e, bounds)  # noqa: E731
    n_b = len(bounds) + 1
    lhs = left.withColumn("__iq_bl", bucket_of(l_num))
    rhs = right.withColumn("__iq_br", bucket_of(r_num))
    # left row in bucket k matches right rows in buckets >= k (since
    # l < r): replicate LEFT to buckets [k, n_b); right stays put.
    lhs = lhs.withColumn(
        "__iq_b", F.explode(F.sequence(F.col("__iq_bl"), F.lit(n_b - 1)))
    ).drop("__iq_bl")

    cond = F.col("__iq_b") == F.col("__iq_br")
    for lc, rc in extra_equi:
        cond = cond & (F.col(lc) == F.col(rc))
    cond = cond & _cmp(
        _numeric_joined(left, left_on), _numeric_joined(right, right_on), op
    )
    return lhs.join(rhs, cond, "inner").drop("__iq_b", "__iq_br")


def inequality_join_mbucket_o(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    op: str = "<",
    num_buckets: int | None = None,
    num_regions: int | None = None,
    max_splits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """OUTPUT-balanced inequality join — the M-Bucket-O analogue of
    [OR11 §6] (input-balanced M-Bucket-I is ``inequality_join``).

    An inequality join's cost is dominated by its Θ(n²)-ish OUTPUT, and
    output concentrates in the join-matrix cells far from the diagonal
    (for ``l < r``: low-l×high-r cells are all-pairs). Input-balanced
    bucketing therefore leaves some reducers emitting millions of pairs
    while others emit none. M-Bucket-O balances the *output*:

    1. Statistics: shared quantile boundaries + a per-bucket histogram
       of each side ([OR11]'s sampled statistics; O(B) driver state).
    2. Exact per-cell output estimates: with shared boundaries a cell
       (i, j), j > i is ALL-pairs (cnt_l[i]·cnt_r[j] — no estimation
       error), the diagonal ≈ half; empty cells are pruned.
    3. Hot cells get ``splits`` subdivisions: the left row picks a
       deterministic pseudo-random split (xxhash64), the right side
       replicates ×splits within that cell only — each oversized cell
       spreads over `splits` reducers, the [OR11 §6] hot-cell cut.

    Exactly-once: a pair lives in one (i, j) cell and one split of it.
    The cell/split map rides a broadcast frame (O(B²) rows max).
    """
    if op not in ("<", "<=", ">", ">="):
        raise ValueError(f"unsupported op {op!r}")
    if op in (">", ">="):
        inv = "<" if op == ">" else "<="
        return inequality_join_mbucket_o(
            right, left, right_on, left_on, inv,
            num_buckets, num_regions, max_splits, seed,
        ).select(*left.columns, *right.columns)
    _check_disjoint(left, right)
    spark = left.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    b = num_buckets or n_shuffle
    r = num_regions or n_shuffle

    l_num, _ = _numeric(left, left_on)
    r_num, _ = _numeric(right, right_on)
    bounds = _stat_quantiles(right.select(r_num.alias("__v")), "__v", b)
    if not bounds:
        return left.join(
            right,
            _cmp(_numeric_joined(left, left_on), _numeric_joined(right, right_on), op),
            "inner",
        )
    bucket_l = _bucket_expr(l_num, bounds)
    bucket_r = _bucket_expr(r_num, bounds)
    n_b = len(bounds) + 1

    # Per-bucket histograms and the cell/split map, computed ENTIRELY
    # Spark-side (the [OR11] statistics step): the O(B) histogram
    # frames meet on an exploded equi-join (bucket i pairs with buckets
    # j >= i — bounded ×B replication of B rows, hash join, never
    # BNLJ), per-cell output estimates are exact integer arithmetic
    # (j > i cells are all-pairs, the diagonal ≈ half), and the global
    # output total is a whole-frame window over ≤ B² rows. No
    # data-derived collect; the resulting map rides a broadcast.
    hist_l = (
        left.select(bucket_l.cast("int").alias("__mb_ci"))
        .groupBy("__mb_ci")
        .agg(F.count("*").alias("__nl"))
        .withColumn(
            "__mb_cj",
            F.explode(F.sequence(F.col("__mb_ci"), F.lit(n_b - 1))),
        )
    )
    hist_r = (
        right.select(bucket_r.cast("int").alias("__mb_cj"))
        .groupBy("__mb_cj")
        .agg(F.count("*").alias("__nr"))
    )
    est = F.when(
        F.col("__mb_cj") > F.col("__mb_ci"), F.col("__nl") * F.col("__nr")
    ).otherwise(F.greatest(F.lit(1), F.expr("(__nl * __nr) DIV 2")))
    cell_df = (
        hist_l.join(hist_r, "__mb_cj")
        .withColumn("__est", est)
        .withColumn(
            "__target",
            F.greatest(
                F.lit(1),
                F.expr(f"sum(__est) OVER () DIV {r}"),
            ),
        )
        .withColumn(
            "__mb_sp",
            F.least(
                F.lit(max_splits),
                F.greatest(
                    F.lit(1),
                    F.expr("(__est + __target - 1) DIV __target"),
                ),
            ).cast("int"),
        )
        .select("__mb_ci", "__mb_cj", "__mb_sp")
    )

    lhs = (
        left.withColumn("__mb_bl", bucket_l.cast("int"))
        .join(F.broadcast(cell_df), F.col("__mb_bl") == F.col("__mb_ci"))
        .withColumn(
            "__mb_salt",
            F.pmod(F.xxhash64(F.struct(*left.columns), F.lit(seed)), F.col("__mb_sp")
                   ).cast("int"),
        )
        .select(*left.columns, "__mb_ci", "__mb_cj", "__mb_salt")
    )
    rhs = (
        right.withColumn("__mb_br", bucket_r.cast("int"))
        .join(F.broadcast(cell_df), F.col("__mb_br") == F.col("__mb_cj"))
        .withColumn(
            "__mb_salt2", F.explode(F.sequence(F.lit(0), F.col("__mb_sp") - 1))
        )
        .select(
            *right.columns,
            F.col("__mb_ci").alias("__mb_ci2"),
            F.col("__mb_cj").alias("__mb_cj2"),
            "__mb_salt2",
        )
    )
    cond = (
        (F.col("__mb_ci") == F.col("__mb_ci2"))
        & (F.col("__mb_cj") == F.col("__mb_cj2"))
        & (F.col("__mb_salt") == F.col("__mb_salt2"))
        & _cmp(_numeric_joined(left, left_on), _numeric_joined(right, right_on), op)
    )
    return lhs.join(rhs, cond, "inner").drop(
        "__mb_ci", "__mb_cj", "__mb_salt", "__mb_ci2", "__mb_cj2", "__mb_salt2"
    )


def _cmp(a: Column, b: Column, op: str) -> Column:
    return {"<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b}[op]


def _bucket_expr(expr: Column, bounds: list) -> Column:
    """Index of the quantile bucket containing ``expr`` (0..len(bounds));
    built as a chain of whens — small (≤ ~64 way), codegen-friendly."""
    out = F.lit(len(bounds))
    # descending so the first satisfied when() wins
    acc = None
    for i, bnd in enumerate(bounds):
        clause = expr <= F.lit(bnd)
        acc = F.when(clause, F.lit(i)) if acc is None else acc.when(clause, F.lit(i))
    return acc.otherwise(out).cast("long") if acc is not None else out


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: float,
    extra_equi: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Interval overlap join: ``l.start ≤ r.end AND r.start ≤ l.end``.

    Grid rewrite: tile the time/value axis into fixed-width buckets,
    replicate each interval to every bucket it covers, equi-join on
    bucket. Overlapping pairs share ≥1 bucket, so they would meet
    multiple times; exactly-once is restored WITHOUT a dedup shuffle by
    the [OR11]-style unique-cell rule: a pair is emitted only in the
    bucket containing ``greatest(l.start, r.start)`` — a point that
    lies in both intervals iff they overlap. For timestamps,
    ``bucket_width`` is in seconds.
    """
    _check_disjoint(left, right)
    ls, ls_exact = _numeric(left, left_start)
    le, _ = _numeric(left, left_end)
    rs, rs_exact = _numeric(right, right_start)
    re_, _ = _numeric(right, right_end)
    exact = ls_exact and rs_exact
    scale = _unit_scale(left, left_start)
    w = bucket_width * scale
    if exact:
        w = max(int(w), 1)

    def covered(start: Column, end: Column, name: str, df: DataFrame) -> DataFrame:
        lo_b = _floordiv(start, w, exact)
        hi_b = _floordiv(end, w, exact)
        if not exact:
            lo_b, hi_b = lo_b - 1, hi_b + 1
        return df.withColumn(name, F.explode(F.sequence(lo_b, hi_b)))

    lhs = covered(ls, le, "__iv_bl", left)
    rhs = covered(rs, re_, "__iv_br", right)

    l_s, l_e = _numeric_joined(left, left_start), _numeric_joined(left, left_end)
    r_s, r_e = _numeric_joined(right, right_start), _numeric_joined(right, right_end)
    overlap = (l_s <= r_e) & (r_s <= l_e)
    anchor = _floordiv(F.greatest(l_s, r_s), w, exact)
    cond = (F.col("__iv_bl") == F.col("__iv_br")) & overlap & (F.col("__iv_bl") == anchor)
    for lc, rc in extra_equi:
        cond = cond & (F.col(lc) == F.col(rc))
    return lhs.join(rhs, cond, "inner").drop("__iv_bl", "__iv_br")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    left_key: str,
    right_key: str,
    right_values: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the values of the single
    CLOSEST right row with a matching key — the LATEST one with
    ``right_ts <= left_ts`` (direction='backward', the default) or
    the EARLIEST one with ``right_ts >= left_ts``
    (direction='forward'); nulls when no such row. Classic
    event-stream enrichment (SURVEY.md §2.3 join_asof, an extension
    beyond the reference).

    Rewrite without any non-equi join at all: union both sides tagged,
    sort within key by (ts, side) — ordered so that at equal ts the
    right row is visible to the left row — and propagate the nearest
    right row with a one-sided window (unbounded-preceding ``last``
    for backward, unbounded-following ``first`` for forward). One
    shuffle on the key, zero replication: strictly better than
    bucketing for this shape, and the window is streaming-friendly
    (monotone in ts).

    All ``right_values`` travel as ONE struct, so every output value
    comes from the SINGLE matched right row — a matched row whose
    value column is legitimately NULL yields NULL, never a stale
    non-null from an earlier row (per-column ignorenulls would mix
    rows and diverge from ASOF semantics).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    _check_disjoint(left, right)
    l_cols = left.columns
    backward = direction == "backward"
    # at equal ts the right row must sort on the side the window scans
    # from: before left rows for backward, after them for forward
    l_side, r_side = (1, 0) if backward else (0, 1)
    r_fields = {f.name: f for f in right.schema.fields}
    payload_t = T.StructType([r_fields[v] for v in right_values])
    tagged_left = left.select(
        F.col(left_key).alias("__as_k"),
        F.col(left_ts).cast("timestamp").alias("__as_ts"),
        F.lit(l_side).alias("__as_side"),
        *[F.col(c) for c in l_cols],
        F.lit(None).cast(payload_t).alias("__as_p"),
    )
    tagged_right = right.select(
        F.col(right_key).alias("__as_k"),
        F.col(right_ts).cast("timestamp").alias("__as_ts"),
        F.lit(r_side).alias("__as_side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in l_cols],
        F.struct(*[F.col(v) for v in right_values]).alias("__as_p"),
    )
    base = W.partitionBy("__as_k").orderBy("__as_ts", "__as_side")
    if backward:
        w = base.rowsBetween(W.unboundedPreceding, 0)
        picked = F.last("__as_p", ignorenulls=True).over(w)
    else:
        w = base.rowsBetween(0, W.unboundedFollowing)
        picked = F.first("__as_p", ignorenulls=True).over(w)
    unioned = tagged_left.unionByName(tagged_right)
    enriched = unioned.select("*", picked.alias("__as_pick"))
    out = enriched.filter(F.col("__as_side") == l_side).select(
        *l_cols,
        *[F.col("__as_pick").getField(v).alias(v) for v in right_values],
    )
    return out


def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi join hardened against heavy key skew — [OR11 §4.2]'s
    motivating problem (a hot key overwhelms one reducer; random matrix
    assignment defeats it). Manual rewrite kept alongside AQE skew-join:
    the (presumed skewed) LEFT side gets a random salt ∈ [0, k); the
    right side is replicated k ways; join on (key, salt) spreads each
    hot key over k partitions. Salt columns never escape the operator.
    """
    _check_disjoint(left, right)
    lhs = left.withColumn("__salt_l", _pseudo_block(left, salt, seed).cast("int"))
    rhs = right.withColumn(
        "__salt_r", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    cond = (F.col(left_key) == F.col(right_key)) & (
        F.col("__salt_l") == F.col("__salt_r")
    )
    return lhs.join(rhs, cond, "inner").drop("__salt_l", "__salt_r")


def grid_distance_join_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
) -> DataFrame:
    """All unordered point pairs within Euclidean distance < ``eps`` in
    2D — the spatial ε-distance self-join, via uniform-grid bucketing
    (the 2D analogue of [OR11]'s band-join ε-buckets).

    Each point gets its grid cell ``(floor(x/eps), floor(y/eps))``;
    since any pair closer than eps differs by at most one cell in each
    axis, the RIGHT side is replicated to its 3×3 cell neighbourhood
    and the candidate set is a plain equi-join on the cell key. Each
    qualifying pair (a.id < b.id) is emitted exactly once: exactly one
    of b's nine replicas lands on a's home cell. Replication is a
    constant ×9 of one side (replicate the smaller side in an R⋈S
    variant); candidates are O(points per 3×3 neighbourhood), never
    all-pairs, so the plan scales linearly in points for fixed density
    — the same argument as the 1D ε-bucket band join. The exact
    distance filter runs on candidates only.

    Output: (id_a, id_b, dist) with dist rounded 4dp; x/y are consumed
    as doubles so the arithmetic is engine-portable bit-for-bit.
    """
    if not eps > 0:  # also catches NaN; floor(x/eps) would null out
        raise ValueError(f"grid_distance_join_2d: eps must be > 0, got {eps}")
    p = points.select(
        F.col(id_col).alias("__gid"),
        F.col(x_col).cast("double").alias("__gx"),
        F.col(y_col).cast("double").alias("__gy"),
    )
    cell_x = F.floor(F.col("__gx") / F.lit(eps))
    cell_y = F.floor(F.col("__gy") / F.lit(eps))
    lhs = p.select(
        F.col("__gid").alias("id_a"),
        F.col("__gx").alias("__ax"),
        F.col("__gy").alias("__ay"),
        cell_x.alias("__cx"),
        cell_y.alias("__cy"),
    )
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    rhs = (
        p.select(
            F.col("__gid").alias("id_b"),
            F.col("__gx").alias("__bx"),
            F.col("__gy").alias("__by"),
            cell_x.alias("__bcx"),
            cell_y.alias("__bcy"),
        )
        .withColumn("__dx", off)
        .withColumn("__dy", off)
        .withColumn("__cx", F.col("__bcx") + F.col("__dx"))
        .withColumn("__cy", F.col("__bcy") + F.col("__dy"))
        .drop("__bcx", "__bcy", "__dx", "__dy")
    )
    dist = F.sqrt(
        (F.col("__ax") - F.col("__bx")) * (F.col("__ax") - F.col("__bx"))
        + (F.col("__ay") - F.col("__by")) * (F.col("__ay") - F.col("__by"))
    )
    return (
        lhs.join(rhs, ["__cx", "__cy"])
        .filter((F.col("id_a") < F.col("id_b")) & (dist < F.lit(eps)))
        .select("id_a", "id_b", F.round(dist, 4).alias("dist"))
    )
