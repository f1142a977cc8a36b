"""Degenerate-input robustness: empty sides, single rows, zero-width
bands — the shapes a library user hits first and fixtures never do."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducenonequijoin_spark.operators.dedup import (
    connected_components,
    minhash_near_dup_pairs,
)
from mapreducenonequijoin_spark.operators.joins import (
    band_join,
    inequality_join,
    interval_overlap_join,
    theta_join,
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_band_join_empty_sides(spark):
    left = spark.createDataFrame([(1, 1.0)], "l_id long, l_x double")
    right = _empty(spark, "r_id long, r_x double")
    assert band_join(left, right, "l_x", "r_x", -1, 1).count() == 0
    assert band_join(right.selectExpr("r_id l2", "r_x x2"), left, "x2", "l_x", -1, 1).count() == 0


def test_band_join_zero_width(spark):
    # lower == upper: an exact-offset equality band
    left = spark.createDataFrame([(1, 10.0), (2, 20.0)], "l_id long, l_x double")
    right = spark.createDataFrame([(1, 15.0), (2, 20.0)], "r_id long, r_x double")
    out = band_join(left, right, "l_x", "r_x", lower=0, upper=0)
    assert [(r.l_id, r.r_id) for r in out.collect()] == [(2, 2)]


def test_band_join_single_rows(spark):
    left = spark.createDataFrame([(1, 5.0)], "l_id long, l_x double")
    right = spark.createDataFrame([(1, 5.5)], "r_id long, r_x double")
    assert band_join(left, right, "l_x", "r_x", -1, 1).count() == 1
    assert band_join(left, right, "l_x", "r_x", -0.1, 0.1).count() == 0


def test_theta_join_empty(spark):
    left = _empty(spark, "l_id long, l_x double")
    right = spark.createDataFrame([(1, 1.0)], "r_id long, r_x double")
    out = theta_join(left, right, F.col("l_x") < F.col("r_x"), strategy="1bucket")
    assert out.count() == 0


def test_inequality_join_constant_column(spark):
    # all right values identical → the histogram has one bound
    left = spark.createDataFrame([(i, float(i)) for i in range(5)], "l_id long, l_x double")
    right = spark.createDataFrame([(i, 2.0) for i in range(3)], "r_id long, r_x double")
    out = inequality_join(left, right, "l_x", "r_x", "<", num_buckets=4)
    assert out.count() == 2 * 3  # l_x in {0,1} < 2.0, each matching 3 rows


def test_interval_join_point_intervals(spark):
    left = spark.createDataFrame([(1, 5.0, 5.0)], "l_id long, l_s double, l_e double")
    right = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 6.0, 7.0)], "r_id long, r_s double, r_e double"
    )
    out = interval_overlap_join(left, right, "l_s", "l_e", "r_s", "r_e", bucket_width=2)
    assert [(r.l_id, r.r_id) for r in out.collect()] == [(1, 1)]


def test_minhash_empty_docs(spark):
    docs = _empty(spark, "doc_id long, text string")
    assert minhash_near_dup_pairs(docs, "doc_id", "text", 0.5).count() == 0


def test_connected_components_no_edges(spark):
    verts = spark.createDataFrame([(i,) for i in range(4)], "v long")
    edges = _empty(spark, "a long, b long")
    out = {(r.v, r.cluster_rep) for r in connected_components(verts, edges, "v", "a", "b").collect()}
    assert out == {(i, i) for i in range(4)}


def test_connected_components_chain(spark):
    # path graph 0-1-2-3: all collapse to 0 (diameter > 1 → multiple rounds)
    verts = spark.createDataFrame([(i,) for i in range(4)], "v long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "a long, b long")
    out = {r.cluster_rep for r in connected_components(verts, edges, "v", "a", "b").collect()}
    assert out == {0}


def test_max_by_tiebreak_is_deterministic(spark):
    """Two customers with IDENTICAL balances: the sortable-string
    comparand must pick the lexicographically larger name for max_by
    (and smaller for min_by) — not an arbitrary engine choice."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "Customer#B", 500.0), (1, "Customer#A", 500.0),
         (1, "Customer#C", 100.0)],
        "c_nationkey int, c_name string, c_acctbal double",
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long") + 1_000_000
    key = F.concat(F.lpad(cents.cast("string"), 8, "0"), F.lit("|"), F.col("c_name"))
    out = (
        df.withColumn("ordkey", key)
        .groupBy("c_nationkey")
        .agg(F.max_by("c_name", "ordkey").alias("mx"),
             F.min_by("c_name", "ordkey").alias("mn"))
        .collect()[0]
    )
    assert out.mx == "Customer#B" and out.mn == "Customer#C"


def test_sliding_median_matches_bruteforce(spark):
    """med3 must equal the per-user brute-force trailing-3 median."""
    from mapreducenonequijoin_spark.plans.relational import win_sliding_median
    from mapreducenonequijoin_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.event_id: r.med3 for r in win_sliding_median(spark, sf).collect()}
    rows = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    import statistics

    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(evs):
            frame = [e.value for e in evs[max(0, i - 2): i + 1]]
            assert got[r.event_id] == statistics.median(frame)


def test_not_in_collapses_under_null(spark):
    """The fixture subquery DOES contain NULL keys, so the NOT IN
    variant must report 0 while NOT EXISTS reports the true anti
    count — the pair of rows that demonstrates 3VL."""
    from mapreducenonequijoin_spark.plans.relational import sub_not_in

    rows = {r.variant: r.n_rows for r in
            sub_not_in(spark, "/root/testdata/sf0.01").collect()}
    assert rows["not_in"] == 0
    assert rows["not_exists"] > 0


def test_string_agg_segments_sorted(spark):
    from mapreducenonequijoin_spark.plans.relational import (
        agg_string_agg_ordered,
    )

    for r in agg_string_agg_ordered(spark, "/root/testdata/sf0.001").collect():
        parts = r.segments.split(",")
        assert parts == sorted(parts)
        assert len(parts) == r.n_segments


def test_bitmap_distinct_exact_across_bucket_boundary(spark):
    """Keys straddling the 32768 bucket boundary (and the 1-based
    position shift) must still count exactly."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("g", k) for k in [0, 1, 32766, 32767, 32768, 32769, 65535, 65536]]
        + [("g", 32767)],  # duplicate must not double-count
        "o_orderpriority string, o_custkey long",
    )
    out = (
        df.select(
            "o_orderpriority",
            F.expr("o_custkey DIV 32768").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey + 1)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
        .collect()[0]
    )
    assert out.n == 8


def test_url_parse_matches_urllib(spark, sf_dir):
    """parse_url components must agree with Python's urllib on every
    synthesized URL (protocol, host, path, query, utm_source param);
    query/param are NULL exactly when absent."""
    from urllib.parse import parse_qs, urlsplit

    from mapreducenonequijoin_spark.plans.relational import fn_url_parse

    for r in fn_url_parse(spark, sf_dir).collect():
        # rebuild the raw URL deterministically from the row itself
        raw = f"{r.protocol}://{r.host}{r.path}" + (
            f"?{r.query}" if r.query is not None else ""
        )
        s = urlsplit(raw)
        assert r.protocol == s.scheme
        assert r.host == s.hostname or r.host == s.netloc  # no port in fixture
        assert r.path == s.path
        assert (r.query or "") == s.query
        want_utm = parse_qs(s.query).get("utm_source")
        assert r.utm_source == (want_utm[0] if want_utm else None)
        if r.doc_id % 7 == 0:
            assert r.utm_source == "feed"
        else:
            assert r.query is None and r.utm_source is None


def test_ratio_to_report_sums_to_one(spark, sf_dir):
    """Shares must sum to 1 (within per-row rounding), the leader's
    vs_top is exactly 1, and every share is cents/total recomputed."""
    from mapreducenonequijoin_spark.plans.relational import win_ratio_to_report

    rows = win_ratio_to_report(spark, sf_dir).collect()
    total = sum(r.cents for r in rows)
    top = max(r.cents for r in rows)
    assert abs(sum(r.share for r in rows) - 1.0) <= len(rows) * 5e-7
    for r in rows:
        assert r.share == round(r.cents / total, 6)
        assert r.vs_top == round(r.cents / top, 6)
    assert any(r.vs_top == 1.0 for r in rows)


def test_try_arithmetic_null_semantics(spark, sf_dir):
    """try_* forms must NULL exactly the poisoned rows: first line
    number (division by zero) and mod-3 keys (unparseable string) —
    and never throw under ANSI mode."""
    from mapreducenonequijoin_spark.plans.relational import fn_try_arithmetic

    rows = fn_try_arithmetic(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (r.price_per_prev_line is None) == (r.l_linenumber == 1)
        assert (r.parsed_key is None) == (r.l_orderkey % 3 == 0)
        if r.parsed_key is not None:
            assert r.parsed_key == r.l_orderkey
        assert r.cents_per_unit is not None  # fixture quantities >= 1


def test_product_compound_ordered_fold(spark, sf_dir):
    """The product must equal a Python left fold over the (linenumber,
    factor)-sorted factors; effective_discount complements it; a
    single-line order passes factors through unchanged."""
    import functools
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import agg_product_compound
    from mapreducenonequijoin_spark.sources.io import load_table

    factors = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 40 == 0)
        .select("l_orderkey", "l_linenumber",
                ((100 - F.round(F.col("l_discount") * 100).cast("long")) / 100.0)
                .alias("kf"))
        .collect()
    ):
        factors[r.l_orderkey].append((r.l_linenumber, r.kf))
    got = {r.l_orderkey: r for r in agg_product_compound(spark, sf_dir).collect()}
    assert set(got) == set(factors)
    for k, fs in factors.items():
        fs.sort()
        prod = functools.reduce(lambda a, x: a * x[1], fs, 1.0)
        r = got[k]
        assert r.n_lines == len(fs)
        assert r.keep_fraction == round(prod, 6)
        assert r.effective_discount == round(1.0 - prod, 6)
        assert 0.0 <= r.effective_discount <= 1.0


def test_grouping_id_mask_semantics(spark, sf_dir):
    """gid must encode exactly which columns were aggregated away:
    gid=0 rows carry real values, gid=3 is the single grand total,
    and per-gid row counts partition the cube."""
    from mapreducenonequijoin_spark.plans.relational import agg_grouping_id

    rows = agg_grouping_id(spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
        assert (r.flag == "<all>") == (r.gid & 2 > 0)
        assert (r.status == "<all>") == (r.gid & 1 > 0)
    assert len(by_gid[3]) == 1
    total = sum(r.n for r in by_gid[0])
    assert by_gid[3][0].n == total


def test_table_checksum_is_order_invariant_and_sensitive(spark, sf_dir):
    """The checksum must equal a Python recompute (in any row order),
    and flipping one row's price by a cent must change it."""
    import hashlib

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import agg_table_checksum
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority",
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .collect()
    )
    def h(key, prio, cents):
        return int(hashlib.md5(f"{key}|{prio}|{cents}".encode()).hexdigest()[:11], 16)
    want = sum(h(r.o_orderkey, r.o_orderpriority, r.cents) for r in rows)
    got = agg_table_checksum(spark, sf_dir).collect()[0]
    assert got.n_rows == len(rows)
    assert got.checksum == want
    r0 = rows[0]
    tampered = want - h(r0.o_orderkey, r0.o_orderpriority, r0.cents) + h(
        r0.o_orderkey, r0.o_orderpriority, r0.cents + 1
    )
    assert tampered != want


def test_variant_extracts_match_python_json(spark, sf_dir):
    """Typed VARIANT extractions must match a plain-Python json parse
    of the same synthesized documents; flags follow the parity rule
    and v2 is exactly 2k."""
    import json as pyjson

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import fn_variant_json
    from mapreducenonequijoin_spark.sources.io import load_table

    src = {
        r.event_id: (r.event_type, r.user_id, pyjson.loads(r.props)["k"])
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 17 == 0)
        .select("event_id", "event_type", "user_id", "props")
        .collect()
    }
    rows = fn_variant_json(spark, sf_dir).collect()
    assert {r.event_id for r in rows} == set(src)
    for r in rows:
        etype, uid, k = src[r.event_id]
        assert (r.vtype, r.uid, r.v2) == (etype, uid, 2 * k)
        assert r.flag == (r.event_id % 2 == 0)


def test_collation_halves_distinct_counts(spark, sf_dir):
    """Wherever both casings of a segment occur in a nation, the
    binary distinct count must be exactly 2x the collated one; the
    collated count equals the distinct segment set size."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import fn_string_collation
    from mapreducenonequijoin_spark.sources.io import load_table

    segs = defaultdict(set)
    for r in (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_custkey", "c_mktsegment")
        .collect()
    ):
        segs[r.c_nationkey].add(
            (r.c_mktsegment.lower(), r.c_custkey % 2 == 0)
        )
    for r in fn_string_collation(spark, sf_dir).collect():
        pairs = segs[r.c_nationkey]
        ci = {s for s, _ in pairs}
        assert r.n_ci == len(ci)
        assert r.n_binary == len(pairs)
        assert r.n_ci <= r.n_binary <= 2 * r.n_ci


def test_pipe_syntax_equals_classic_plan(spark, sf_dir):
    """The pipe-syntax query must return exactly the classic-syntax
    DataFrame result (the parser desugars to the same plan)."""
    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import sql_pipe_syntax
    from mapreducenonequijoin_spark.sources.io import load_table

    got = {r.l_returnflag: (r.n, r.total_qty) for r in sql_pipe_syntax(spark, sf_dir).collect()}
    want = {
        r.l_returnflag: (r.n, r.total_qty)
        for r in load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= "1997-01-01")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .collect()
    }
    assert got == want


def test_nth_value_runner_up_semantics(spark, sf_dir):
    """second/third cents must be the true 2nd/3rd largest (with the
    orderkey tiebreak) and NULL exactly when fewer orders exist."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import win_nth_value
    from mapreducenonequijoin_spark.sources.io import load_table

    per = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 50 == 0)
        .select("o_custkey", "o_orderkey",
                F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .collect()
    ):
        per[r.o_custkey].append((-r.cents, r.o_orderkey))
    got = {r.o_custkey: r for r in win_nth_value(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for ck, orders in per.items():
        orders.sort()
        r = got[ck]
        assert r.n_orders == len(orders)
        assert r.second_cents == (-orders[1][0] if len(orders) >= 2 else None)
        assert r.third_cents == (-orders[2][0] if len(orders) >= 3 else None)


def test_weighted_percentiles_crossing_property(spark, sf_dir):
    """Each reported quartile must be the LOWEST value whose
    cumulative weight crosses p·total (ties folded by value), and the
    quartiles are ordered; p50 equals agg_weighted_median."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.relational import (
        agg_percentile_weighted,
        agg_weighted_median,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    per = defaultdict(lambda: defaultdict(int))
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag",
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
                F.col("l_quantity").cast("long").alias("wt"))
        .collect()
    ):
        per[r.l_returnflag][r.cents] += r.wt

    def crossing(weights, num, den):
        total = sum(weights.values())
        cum = 0
        for v in sorted(weights):
            cum += weights[v]
            if den * cum >= num * total:
                return v / 100.0
        raise AssertionError("no crossing")

    med = {r.l_returnflag: r.weighted_median for r in agg_weighted_median(spark, sf_dir).collect()}
    for r in agg_percentile_weighted(spark, sf_dir).collect():
        w = per[r.l_returnflag]
        assert r.wp25 == crossing(w, 1, 4)
        assert r.wp50 == crossing(w, 1, 2)
        assert r.wp75 == crossing(w, 3, 4)
        assert r.wp25 <= r.wp50 <= r.wp75
        assert r.wp50 == med[r.l_returnflag]
        assert r.total_weight == sum(w.values())
