"""Property tests (SURVEY.md §5.3): each custom rewrite must return
exactly the pairs of the naive crossJoin+filter plan — the [OR11 §4]
exactly-once coverage property, independent of the DuckDB oracle."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from mapreducenonequijoin_spark.operators.joins import (
    asof_join,
    inequality_join,
    interval_overlap_join,
    naive_theta_join,
    salted_equi_join,
    theta_join,
)


def _frames(spark, seed, n=250, lo=-500, hi=500):
    rng = random.Random(seed)
    left = spark.createDataFrame(
        [(i, float(rng.randint(lo, hi)), rng.randint(0, 4)) for i in range(n)],
        "l_id long, l_x double, l_k int",
    )
    right = spark.createDataFrame(
        [(i, float(rng.randint(lo, hi)), rng.randint(0, 4)) for i in range(n)],
        "r_id long, r_x double, r_k int",
    )
    return left, right


def _pairs(df):
    return sorted((r.l_id, r.r_id) for r in df.select("l_id", "r_id").collect())


@pytest.mark.slow
def test_theta_1bucket_matches_naive(spark):
    left, right = _frames(spark, seed=11)
    cond = (F.col("l_x") * 2 < F.col("r_x")) & (F.col("l_k") != F.col("r_k"))
    got = theta_join(left, right, cond, strategy="1bucket")
    want = naive_theta_join(left, right, cond)
    assert _pairs(got) == _pairs(want)


def test_theta_1bucket_no_duplicates(spark):
    # exactly-once: even with a tautological θ every pair appears once
    left, right = _frames(spark, seed=12, n=80)
    got = theta_join(left, right, F.lit(True), strategy="1bucket")
    pairs = _pairs(got)
    assert len(pairs) == len(set(pairs)) == 80 * 80


@pytest.mark.slow
def test_inequality_matches_naive(spark):
    left, right = _frames(spark, seed=13)
    for op in ("<", "<=", ">", ">="):
        got = inequality_join(left, right, "l_x", "r_x", op, num_buckets=8)
        want = naive_theta_join(
            left.select("l_id", "l_x"),
            right.select("r_id", "r_x"),
            {"<": F.col("l_x") < F.col("r_x"),
             "<=": F.col("l_x") <= F.col("r_x"),
             ">": F.col("l_x") > F.col("r_x"),
             ">=": F.col("l_x") >= F.col("r_x")}[op],
        )
        assert _pairs(got) == _pairs(want), op


def test_inequality_with_equi_matches_naive(spark):
    left, right = _frames(spark, seed=14)
    got = inequality_join(
        left, right, "l_x", "r_x", "<", num_buckets=6,
        extra_equi=[("l_k", "r_k")],
    )
    want = naive_theta_join(
        left, right, (F.col("l_x") < F.col("r_x")) & (F.col("l_k") == F.col("r_k"))
    )
    assert _pairs(got) == _pairs(want)


@pytest.mark.slow
def test_interval_overlap_matches_naive(spark):
    rng = random.Random(15)
    rows_l, rows_r = [], []
    for i in range(200):
        s = rng.randint(0, 1000)
        rows_l.append((i, float(s), float(s + rng.randint(0, 50))))
        s = rng.randint(0, 1000)
        rows_r.append((i, float(s), float(s + rng.randint(0, 50))))
    left = spark.createDataFrame(rows_l, "l_id long, l_s double, l_e double")
    right = spark.createDataFrame(rows_r, "r_id long, r_s double, r_e double")
    got = interval_overlap_join(left, right, "l_s", "l_e", "r_s", "r_e", bucket_width=25)
    want = naive_theta_join(
        left, right, (F.col("l_s") <= F.col("r_e")) & (F.col("r_s") <= F.col("l_e"))
    )
    got_pairs = _pairs(got)
    assert got_pairs == _pairs(want)
    assert len(got_pairs) == len(set(got_pairs))  # exactly-once, no dedup needed


def test_asof_matches_window_oracle(spark):
    rng = random.Random(16)
    left = spark.createDataFrame(
        [(i, rng.randint(0, 3), float(rng.randint(0, 1000))) for i in range(150)],
        "l_id long, l_k int, l_t double",
    )
    right = spark.createDataFrame(
        [(i, rng.randint(0, 3), float(rng.randint(0, 1000)), float(i)) for i in range(150)],
        "r_id long, r_k int, r_t double, r_val double",
    )
    # dedupe right ts per key so the latest-row winner is unique
    right = right.groupBy("r_k", "r_t").agg(F.max("r_val").alias("r_val"))
    got = asof_join(left, right, "l_t", "r_t", "l_k", "r_k", ["r_val"])
    # naive oracle: max r_t <= l_t per left row, then fetch its value
    naive = (
        left.join(right, (F.col("l_k") == F.col("r_k")) & (F.col("r_t") <= F.col("l_t")), "left")
        .groupBy("l_id", "l_k", "l_t")
        .agg(F.max_by("r_val", "r_t").alias("r_val"))
    )
    g = {(r.l_id): r.r_val for r in got.collect()}
    w = {(r.l_id): r.r_val for r in naive.collect()}
    assert g == w


def test_salted_equi_matches_plain(spark):
    left, right = _frames(spark, seed=17)
    got = salted_equi_join(left, right, "l_k", "r_k", salt=4)
    want = left.join(right, F.col("l_k") == F.col("r_k"))
    assert _pairs(got) == _pairs(want)


@pytest.mark.slow
def test_inequality_2pred_matches_naive(spark):
    from mapreducenonequijoin_spark.operators.joins import inequality_join_2pred

    left, right = _frames(spark, seed=18, n=200)
    got = inequality_join_2pred(
        left.select("l_id", "l_x", "l_k"),
        right.select("r_id", "r_x", "r_k"),
        ("l_x", "<", "r_x"),
        ("l_k", ">", "r_k"),
    )
    want = naive_theta_join(
        left, right, (F.col("l_x") < F.col("r_x")) & (F.col("l_k") > F.col("r_k"))
    )
    assert _pairs(got) == _pairs(want)


def test_asof_forward_matches_naive(spark):
    rng = random.Random(19)
    left = spark.createDataFrame(
        [(i, rng.randint(0, 3), float(rng.randint(0, 1000))) for i in range(150)],
        "l_id long, l_k int, l_t double",
    )
    right = spark.createDataFrame(
        [(i, rng.randint(0, 3), float(rng.randint(0, 1000)), float(i)) for i in range(150)],
        "r_id long, r_k int, r_t double, r_val double",
    )
    right = right.groupBy("r_k", "r_t").agg(F.max("r_val").alias("r_val"))
    got = asof_join(
        left, right, "l_t", "r_t", "l_k", "r_k", ["r_val"], direction="forward"
    )
    naive = (
        left.join(right, (F.col("l_k") == F.col("r_k")) & (F.col("r_t") >= F.col("l_t")), "left")
        .groupBy("l_id", "l_k", "l_t")
        .agg(F.min_by("r_val", "r_t").alias("r_val"))
    )
    g = {r.l_id: r.r_val for r in got.collect()}
    w = {r.l_id: r.r_val for r in naive.collect()}
    assert g == w


def test_asof_null_right_value_propagates(spark):
    # Regression (ADVICE r1): when the MATCHED right row carries a NULL
    # value column, the join must return NULL — not a stale non-null
    # from an earlier right row (per-column ignorenulls would mix rows).
    left = spark.createDataFrame(
        [(1, 0, 10.0), (2, 0, 20.0)], "l_id long, l_k int, l_t double"
    )
    right = spark.createDataFrame(
        [(0, 5.0, 100.0, 1.0), (0, 15.0, None, 2.0)],
        "r_k int, r_t double, r_val double, r_aux double",
    )
    got = {
        r.l_id: (r.r_val, r.r_aux)
        for r in asof_join(
            left, right, "l_t", "r_t", "l_k", "r_k", ["r_val", "r_aux"]
        ).collect()
    }
    assert got[1] == (100.0, 1.0)  # matched row at t=5
    assert got[2] == (None, 2.0)  # matched row at t=15: NULL stays NULL


@pytest.mark.slow
def test_theta_region_assignment_deterministic(spark):
    # Replay-stability: two independent evaluations of the same plan
    # must produce identical pair sets (xxhash64 regions, not rand()).
    left, right = _frames(spark, seed=21, n=120)
    cond = F.col("l_x") < F.col("r_x")
    df = theta_join(left, right, cond, strategy="1bucket")
    assert _pairs(df) == _pairs(df)
    assert _pairs(df) == _pairs(naive_theta_join(left, right, cond))


@pytest.mark.slow
def test_mbucket_o_matches_naive(spark):
    from mapreducenonequijoin_spark.operators.joins import inequality_join_mbucket_o

    left, right = _frames(spark, seed=23)
    for op in ("<", "<=", ">", ">="):
        got = inequality_join_mbucket_o(
            left.select("l_id", "l_x"), right.select("r_id", "r_x"),
            "l_x", "r_x", op, num_buckets=8,
        )
        want = naive_theta_join(
            left.select("l_id", "l_x"), right.select("r_id", "r_x"),
            _cmp_col(op),
        )
        assert _pairs(got) == _pairs(want), op


def _cmp_col(op):
    return {"<": F.col("l_x") < F.col("r_x"),
            "<=": F.col("l_x") <= F.col("r_x"),
            ">": F.col("l_x") > F.col("r_x"),
            ">=": F.col("l_x") >= F.col("r_x")}[op]


@pytest.mark.slow
def test_mbucket_o_skewed_exactly_once(spark):
    # 60% of the left mass in one value — hot cells must split without
    # duplicating or dropping pairs.
    import random as _r

    rng = _r.Random(24)
    left = spark.createDataFrame(
        [(i, 500.0 if i % 10 < 6 else float(rng.randint(-500, 500)))
         for i in range(300)],
        "l_id long, l_x double",
    )
    right = spark.createDataFrame(
        [(i, float(rng.randint(-500, 500))) for i in range(300)],
        "r_id long, r_x double",
    )
    from mapreducenonequijoin_spark.operators.joins import inequality_join_mbucket_o

    got = inequality_join_mbucket_o(left, right, "l_x", "r_x", "<", num_buckets=8)
    want = naive_theta_join(left, right, F.col("l_x") < F.col("r_x"))
    got_pairs = _pairs(got)
    assert got_pairs == _pairs(want)
    assert len(got_pairs) == len(set(got_pairs))


def test_bucketed_nonequi_plans_never_bnlj_above_gate(spark):
    """VERDICT r5 item 4: the bucketed non-equi family must never fall
    back to a nested-loop/cartesian plan once inputs exceed the naive
    gate — band_join by construction (bucket equi key), theta_join via
    the 1-Bucket rewrite above _NAIVE_PAIR_THRESHOLD. Checked on the
    executed plan string, where a fallback would appear as
    BroadcastNestedLoopJoin or CartesianProduct."""
    from mapreducenonequijoin_spark.operators.joins import (
        _NAIVE_PAIR_THRESHOLD,
        band_join,
    )

    n = int(_NAIVE_PAIR_THRESHOLD ** 0.5) + 100  # n*n just above gate
    left = spark.range(n).select(
        F.col("id").alias("l_id"), (F.col("id") % 977).cast("double").alias("l_x")
    )
    right = spark.range(n).select(
        F.col("id").alias("r_id"), (F.col("id") % 991).cast("double").alias("r_x")
    )

    bj = band_join(left, right, "l_x", "r_x", -5.0, 5.0)
    tj = theta_join(left, right, F.col("l_x") < F.col("r_x"))
    for name, df in (("band_join", bj), ("theta_join_auto", tj)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    # and the sub-gate auto path IS allowed to go native (sanity that
    # the gate exists rather than everything silently rewriting)
    small = theta_join(
        left.limit(10), right.limit(10), F.col("l_x") < F.col("r_x")
    )
    assert small.count() > 0


def test_grid_distance_join_matches_brute_force(spark):
    from mapreducenonequijoin_spark.operators.joins import grid_distance_join_2d

    rng = random.Random(99)
    pts = spark.createDataFrame(
        [(i, rng.uniform(-1, 1), rng.uniform(-1, 1)) for i in range(300)],
        "pid long, x double, y double",
    )
    eps = 0.15
    got = sorted(
        (r.id_a, r.id_b)
        for r in grid_distance_join_2d(pts, "pid", "x", "y", eps).collect()
    )
    rows = pts.collect()
    want = sorted(
        (a.pid, b.pid)
        for a in rows
        for b in rows
        if a.pid < b.pid and ((a.x - b.x) ** 2 + (a.y - b.y) ** 2) ** 0.5 < eps
    )
    assert got == want
    assert len(got) == len(set(got))  # exactly-once: no duplicate pairs


def test_asof_forward_matches_brute_force(spark):
    rng = random.Random(7)
    left = spark.createDataFrame(
        [(i, rng.randint(0, 3), rng.randint(0, 10_000)) for i in range(120)],
        "l_id long, l_k int, l_t long",
    )
    right = spark.createDataFrame(
        [(i, rng.randint(0, 3), rng.randint(0, 10_000), float(i)) for i in range(120)],
        "r_id long, r_k int, r_t long, r_v double",
    )
    out = asof_join(left, right, "l_t", "r_t", "l_k", "r_k", ["r_v"],
                    direction="forward")
    got = {r.l_id: r.r_v for r in out.collect()}
    rrows = right.collect()
    for lr in left.collect():
        cands = [r for r in rrows if r.r_k == lr.l_k and r.r_t >= lr.l_t]
        want = min(cands, key=lambda r: r.r_t).r_v if cands else None
        # ties on r_t: any of the tied rows' values is a valid ASOF answer
        if cands:
            tmin = min(r.r_t for r in cands)
            valid = {r.r_v for r in cands if r.r_t == tmin}
            assert got[lr.l_id] in valid
        else:
            assert got[lr.l_id] is None or want is None


@pytest.mark.slow
def test_theta_region_assignment_is_layout_invariant(spark):
    """The [OR11] randomized region assignment must be a pure function
    of row VALUES, not of partition layout: an AQE re-plan or a
    shuffle-retry recompute can present the same rows in a different
    partitioning, and F.rand-style per-partition seeding would then
    move rows between regions mid-query (lost/duplicated pairs at
    cluster scale — the hazard operators/joins._pseudo_block exists to
    prevent). Equal results under adversarially different layouts is
    the locally-testable form of that invariant."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.joins import _pseudo_block

    left, right = _frames(spark, seed=31, n=200)
    layouts = [
        left,
        left.repartition(3),
        left.repartition(17, "l_k"),
        left.coalesce(1),
    ]
    want = None
    for frame in layouts:
        got = sorted(
            (r.l_id, r.b)
            for r in frame.withColumn(
                "b", _pseudo_block(frame, n_blocks=8, seed=42)
            ).collect()
        )
        if want is None:
            want = got
        assert got == want

    cond = F.col("l_x") < F.col("r_x")
    base = sorted(
        (r.l_id, r.r_id)
        for r in theta_join(left, right, cond, strategy="1bucket")
        .select("l_id", "r_id")
        .collect()
    )
    relaid = sorted(
        (r.l_id, r.r_id)
        for r in theta_join(left.repartition(13), right.coalesce(2), cond,
                            strategy="1bucket")
        .select("l_id", "r_id")
        .collect()
    )
    assert base == relaid


def test_theta_1bucket_balanced_under_zipf_skew(spark):
    """[OR11 §4] load-balance claim, asserted instead of narrated: the
    1-Bucket-Theta randomized region assignment keys on the WHOLE ROW
    hash, not the join key, so even an adversarially Zipf-skewed join
    key (here ~28% of 10^5 rows share key 1) must leave every region's
    input within ~2x of the square-block bound n_left/cr + n_right/cs.
    A key-partitioned scheme would concentrate the hot key's rows in
    one region; this test fails loudly if the assignment ever regresses
    to anything key-derived."""
    import math

    import numpy as np

    from mapreducenonequijoin_spark.operators.joins import _pseudo_block

    n = 100_000
    rng = np.random.default_rng(7)
    zipf_l = np.minimum(rng.zipf(1.5, n), 1000).astype("int64")
    zipf_r = np.minimum(rng.zipf(1.5, n), 1000).astype("int64")
    left = spark.createDataFrame(
        [(int(i), int(k)) for i, k in enumerate(zipf_l)], "l_id long, l_key long"
    )
    right = spark.createDataFrame(
        [(int(i), int(k)) for i, k in enumerate(zipf_r)], "r_id long, r_key long"
    )

    # the region geometry theta_join computes for these cardinalities
    r_regions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    side = math.sqrt(n * n / r_regions)
    cr = max(1, round(n / side))
    cs = max(1, round(n / side))

    lhs = (
        left.withColumn("rb", _pseudo_block(left, cr, 42))
        .withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(cs - 1))))
        .withColumn("region", F.col("rb") * cs + F.col("s"))
    )
    rhs = (
        right.withColumn("cb", _pseudo_block(right, cs, 43))
        .withColumn("rr", F.explode(F.sequence(F.lit(0), F.lit(cr - 1))))
        .withColumn("region", F.col("rr") * cs + F.col("cb"))
    )
    per_region = {
        r.region: r.cnt
        for r in lhs.select("region")
        .unionByName(rhs.select("region"))
        .groupBy("region")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert len(per_region) == cr * cs  # every region populated
    bound = n / cr + n / cs  # square-block per-region input [OR11 §4]
    worst = max(per_region.values())
    assert worst <= 2.0 * bound, (
        f"skewed region blowup: max input {worst} vs bound {bound:.0f} "
        f"(ratio {worst / bound:.2f})"
    )
    # and the balance should in fact be tight, not just under 2x
    mean = sum(per_region.values()) / len(per_region)
    assert worst / mean <= 1.2, f"region imbalance {worst / mean:.2f}x mean"


def test_allen_relations_partition_and_inverse_consistency(spark):
    """Every span pair gets EXACTLY one relation (the CASE ladder is a
    partition of the 13 Allen cases), and pair counts match the
    closed form n_users x C(n_types, 2)."""
    from mapreducenonequijoin_spark.plans.joins import join_interval_allen

    out = join_interval_allen(spark, "/root/testdata/sf0.001").collect()
    import itertools
    from collections import Counter

    seen = Counter((r.user_id, r.a_type, r.b_type) for r in out)
    assert max(seen.values()) == 1  # one relation per pair
    allowed = {
        "precedes", "preceded_by", "meets", "met_by", "equals",
        "starts", "started_by", "finishes", "finished_by",
        "during", "contains", "overlaps", "overlapped_by",
    }
    assert {r.relation for r in out} <= allowed
    # closed form: per user, all unordered type pairs appear
    users: dict = {}
    for r in out:
        users.setdefault(r.user_id, set()).update([r.a_type, r.b_type])
    expect = sum(
        len(list(itertools.combinations(sorted(t), 2))) for t in users.values()
    )
    assert len(out) == expect


def test_lateral_topk_bounded_and_ordered(spark, sf_dir):
    """Per outer customer: at most 3 rows, and they are exactly that
    customer's 3 latest orders (no cross-customer bleed)."""
    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.joins import join_lateral_topk

    df = join_lateral_topk(spark, sf_dir)
    per_key = df.groupBy("c_custkey").count()
    assert per_key.filter(F.col("count") > 3).count() == 0
    # the lateral result equals the window top-3 formulation
    from mapreducenonequijoin_spark.sources.io import load_table
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    expect = (
        orders.filter(F.col("o_custkey") % 50 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
        )
    )
    assert df.exceptAll(expect).count() == 0 and expect.exceptAll(df).count() == 0


def test_null_safe_join_null_bucket_cardinality(spark, sf_dir):
    """<=> pairs every null-keyed left row with every null-keyed
    right row: the null-pair count must equal the product of the two
    null-set sizes, and non-null matches must be key-equal."""
    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.joins import join_null_safe_equi
    from mapreducenonequijoin_spark.sources.io import load_table

    res = join_null_safe_equi(spark, sf_dir)
    n_null_pairs = res.filter(F.col("null_pair") == 1).count()
    o_nulls = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 40 == 0) & (F.col("o_custkey") % 13 == 0))
        .count()
    )
    c_nulls = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 13 == 0))
        .count()
    )
    assert n_null_pairs == o_nulls * c_nulls


def test_spatial_nearest_is_true_minimum(spark, sf_dir):
    """Every emitted neighbour must be the brute-force nearest within
    eps (on the rounded-distance + id order), every point with at
    least one eps-neighbour must appear, and no self-matches."""
    import math

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.joins import join_spatial_nearest
    from mapreducenonequijoin_spark.sources.io import load_table

    pts = {
        r.vec_id: (float(r.x), float(r.y))
        for r in load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.element_at("embedding", 1).alias("x"),
            F.element_at("embedding", 2).alias("y"),
        )
        .collect()
    }
    want = {}
    for a, (ax, ay) in pts.items():
        best = None
        for b, (bx, by) in pts.items():
            if a == b:
                continue
            d = math.sqrt((ax - bx) ** 2 + (ay - by) ** 2)
            if d < 0.05:
                key = (round(d, 4), b)
                if best is None or key < best:
                    best = key
        if best is not None:
            want[a] = best
    got = {r.id_a: (r.dist, r.id_b) for r in join_spatial_nearest(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for a, (d, b) in got.items():
        assert a != b
        assert (d, b) == want[a]


# ------------------------------------------------ [OR11] statistics and regions


def test_scan_row_count_reads_footers_of_bare_scans(spark, sf_dir, tmp_path):
    """Footer row counts equal count() on a one-file scan, a multi-file
    directory (its path needs URI decoding), a table snapshot and a
    load_table frame under a cast Project; a plan that can change the
    row count gets None."""
    import glob

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        read_snapshot,
    )
    from mapreducenonequijoin_spark.sources.io import (
        load_table,
        scan_row_count,
        sink_parquet,
    )

    sink_parquet(spark.range(37).coalesce(1), str(tmp_path / "one"))
    (one,) = glob.glob(str(tmp_path / "one" / "*.parquet"))
    multi = str(tmp_path / "multi dir")
    sink_parquet(spark.range(0, 500, 1, 5), multi)
    table = str(tmp_path / "tbl")
    create_table(spark, spark.range(300).withColumnRenamed("id", "k"), table, "k", n_files=3)
    cast = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("long").alias("p")
    )
    frames = {
        "one file": spark.read.parquet(one),
        "directory": spark.read.parquet(multi),
        "snapshot": read_snapshot(spark, table),
        "load_table cast": cast,
    }
    assert len(frames["directory"].inputFiles()) == 5
    assert len(frames["snapshot"].inputFiles()) > 1
    assert cast._jdf.queryExecution().optimizedPlan().nodeName() == "Project"
    for name, df in frames.items():
        assert scan_row_count(df) == df.count(), name

    base = frames["directory"]
    for name, df in {
        "filter": base.filter("id > 3"),
        "limit": base.limit(3),
        "union": base.union(base),
        "join": base.join(frames["one file"], "id"),
    }.items():
        assert scan_row_count(df) is None, name


def test_stat_count_sees_overwritten_files(spark, tmp_path):
    """A count must follow the files under a path, not a memo keyed on
    the plan: the same path rewritten with 20 rows counts 20."""
    from mapreducenonequijoin_spark.operators.joins import _stat_count
    from mapreducenonequijoin_spark.sources.io import sink_parquet

    path = str(tmp_path / "t.parquet")
    sink_parquet(spark.range(10), path)
    assert _stat_count(spark.read.parquet(path)) == 10
    sink_parquet(spark.range(20), path)
    assert _stat_count(spark.read.parquet(path)) == 20


def test_stat_memos_keep_the_most_recently_used():
    """The statistics memos hold _STAT_MEMO_MAX entries: a hit is not
    recomputed and becomes most recent; the least recent entry goes."""
    from collections import OrderedDict

    from mapreducenonequijoin_spark.operators import joins

    memo: OrderedDict = OrderedDict()
    calls = []

    def value(i):
        calls.append(i)
        return i * i

    cap = joins._STAT_MEMO_MAX
    for i in range(cap):
        joins._memoized(memo, (i,), lambda i=i: value(i))
    assert joins._memoized(memo, (0,), lambda: value(-1)) == 0  # a hit
    joins._memoized(memo, (cap,), lambda: value(cap))
    assert len(memo) == cap
    assert (0,) in memo and (1,) not in memo  # (1,) was least recent
    assert calls == list(range(cap + 1))


def _result_stage_tasks(spark, df, group: str) -> int:
    """Collect ``df`` under a job group and return the task count of
    the stage that produced the rows (the last stage of the last job)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    last_job = max(st.getJobIdsForGroup(group))
    return st.getStageInfo(max(st.getJobInfo(last_job).stageIds)).numTasks


def test_one_bucket_regions_run_in_parallel_tasks(spark):
    """Each routed side reaches the region join through exactly one
    REPARTITION_BY_NUM exchange on its region column (AQE does not
    coalesce it, and the join needs no second exchange), so the join
    stage runs more than one reduce task, for the sort-merge theta join
    and the cogroup IEJoin alike."""
    import re

    from mapreducenonequijoin_spark.operators.joins import inequality_join_2pred

    left, right = _frames(spark, seed=41, n=300)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cases = {
            "theta": (
                theta_join(left, right, F.col("l_x") < F.col("r_x"), strategy="1bucket"),
                ["__tj_region", "__tj_region2"],
            ),
            "iejoin": (
                inequality_join_2pred(left, right, ("l_x", "<", "r_x"), ("l_k", ">", "r_k")),
                ["__region", "__region"],
            ),
        }
        for name, (df, region_cols) in cases.items():
            tasks = _result_stage_tasks(spark, df, f"regions-{name}")
            plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
            exchanges = re.findall(r"Exchange (\w+)\((\w+)#\d+L?, (\d+)\), (\w+)", plan)
            assert plan.count("Exchange") == 2, (name, plan)
            assert sorted(exchanges) == [
                ("hashpartitioning", c, width, "REPARTITION_BY_NUM") for c in region_cols
            ], (name, plan)
            assert tasks > 1, (name, tasks)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_inequality_joins_with_nan_and_null_keys_match_naive(spark):
    """NaN and NULL join keys on both sides: the histogram drops them,
    so its bounds are totally ordered, and M-Bucket-I and M-Bucket-O
    return exactly the naive plan's pairs (Spark orders NaN above every
    number, and a NULL key matches nothing)."""
    import math

    from mapreducenonequijoin_spark.operators.joins import (
        _stat_quantiles,
        inequality_join_mbucket_o,
    )

    nan = float("nan")
    vals = [nan, None, -2.5, 0.0, 1.0, 1.0, 3.5, 7.25, nan, None]
    left = spark.createDataFrame(list(enumerate(vals)), "l_id long, l_x double")
    right = spark.createDataFrame(
        list(enumerate(reversed(vals))) + [(50 + i, float(i)) for i in range(8)],
        "r_id long, r_x double",
    )
    bounds = _stat_quantiles(right.select(F.col("r_x").alias("__v")), "__v", 4)
    assert bounds and bounds == sorted(bounds)
    assert not any(math.isnan(b) for b in bounds)
    ops = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }
    for op, cmp in ops.items():
        want = _pairs(naive_theta_join(left, right, cmp(F.col("l_x"), F.col("r_x"))))
        got_i = inequality_join(left, right, "l_x", "r_x", op, num_buckets=4)
        got_o = inequality_join_mbucket_o(
            left, right, "l_x", "r_x", op, num_buckets=4, num_regions=4
        )
        assert _pairs(got_i) == want, op
        assert _pairs(got_o) == want, op
