"""Join-family queries (SURVEY.md §2.3) — one registered query per
join operator, each with a DuckDB oracle twin.

These exercise the custom rewrites in operators/joins.py on the
fixture tables at driver-checkable scale. Semantics follow [OR11]
(Okcan & Riedewald, SIGMOD 2011): theta/band/inequality joins are the
algorithm family the reference repo implements; as-of/interval/salted
variants are the same partitioning trick applied to adjacent shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import (
    asof_join,
    band_join,
    grid_distance_join_2d,
    inequality_join,
    interval_overlap_join,
    salted_equi_join,
    theta_join,
)
from ..sources.io import load_table
from .flagship import _purchase_error_sides
from .registry import register


# --- cross -----------------------------------------------------------------


@register(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate theta join (θ ≡ true); 1-Bucket-Theta handles it by
    construction [OR11 §4] — Spark's cartesian is fine at dim-table size."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


# --- general theta (1-Bucket rewrite) ---------------------------------------


@register(
    "join_theta",
    oracle="""
    SELECT s_suppkey, c_custkey
    FROM supplier, customer
    WHERE abs(s_acctbal - c_acctbal) < 10.0
      AND s_nationkey <> c_nationkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary θ (numeric proximity + inequality on different keys),
    forced through the 1-Bucket region rewrite so the driver exercises
    the [OR11 §4] path, not BNLJ."""
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    cond = (F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < 10.0) & (
        F.col("s_nationkey") != F.col("c_nationkey")
    )
    return theta_join(sup, cust, cond, strategy="1bucket").select(
        "s_suppkey", "c_custkey"
    )


# --- numeric band ------------------------------------------------------------


@register(
    "join_band",
    oracle="""
    SELECT a.p_partkey AS a_partkey, b.p_partkey AS b_partkey
    FROM part a, part b
    WHERE abs(a.p_retailprice - b.p_retailprice) <= 1.0
      AND a.p_partkey < b.p_partkey
    """,
)
def join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric self band join — the flagship [OR11 §5] query class on a
    value attribute (price proximity pairs)."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("a_partkey"), F.col("p_retailprice").alias("a_price")
    )
    b = part.select(
        F.col("p_partkey").alias("b_partkey"), F.col("p_retailprice").alias("b_price")
    )
    pairs = band_join(a, b, "a_price", "b_price", lower=-1.0, upper=1.0)
    return pairs.filter(F.col("a_partkey") < F.col("b_partkey")).select(
        "a_partkey", "b_partkey"
    )


# --- inequality (M-Bucket-I quantile rewrite) --------------------------------


@register(
    "join_inequality",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
    GROUP BY 1
    """,
)
def join_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: customers in the same nation with a larger balance.
    Quantile-bucketed inequality join ([OR11 §5] M-Bucket-I histograms)
    + hash aggregation."""
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    pairs = inequality_join(
        sup, cust, "s_acctbal", "c_acctbal", "<",
        extra_equi=[("s_nationkey", "c_nationkey")],
    )
    return pairs.groupBy("s_suppkey").agg(F.count("*").alias("n_richer"))


# --- interval overlap ---------------------------------------------------------


@register(
    "join_interval_overlap",
    oracle="""
    SELECT l.event_id AS a_id, r.event_id AS b_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.ts <= r.ts + INTERVAL 30 MINUTE
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
     AND l.event_id < r.event_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of same-user events whose 30-minute activity windows
    overlap. Grid-bucket rewrite with the unique-anchor-cell rule for
    exactly-once emission (no dedup shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    mk = lambda p: ev.select(  # noqa: E731
        F.col("event_id").alias(f"{p}_id"),
        F.col("user_id").alias(f"{p}_user"),
        F.col("ts").alias(f"{p}_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias(f"{p}_end"),
    )
    pairs = interval_overlap_join(
        mk("a"), mk("b"), "a_start", "a_end", "b_start", "b_end",
        bucket_width=1800, extra_equi=[("a_user", "b_user")],
    )
    return pairs.filter(F.col("a_id") < F.col("b_id")).select("a_id", "b_id")


# --- as-of --------------------------------------------------------------------


def _asof_inputs(
    spark: SparkSession, sf_dir: str, value_alias: str
) -> tuple[DataFrame, DataFrame]:
    """The as-of queries' two inputs from ``events``: purchases as
    (event_id, user_id, ts) and clicks as (c_user, c_ts, value under
    ``value_alias``)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias(value_alias),
    )
    return purchases, clicks


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the value of the user's latest
    prior (or simultaneous) click; null when none. Union-tag + window
    rewrite: one shuffle on the key, zero replication."""
    purchases, clicks = _asof_inputs(spark, sf_dir, "click_value")
    out = asof_join(
        purchases, clicks, "ts", "c_ts", "user_id", "c_user", ["click_value"]
    )
    return out.select("event_id", "user_id", "click_value")


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                THEN c.value END AS click_value_30m
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound (pandas merge_asof
    `tolerance`): the latest prior click only counts if it happened
    within 30 minutes of the purchase. No operator change needed —
    the matched row's timestamp travels inside the payload struct, so
    the bound is one post-projection null-out over the same
    single-shuffle union-tag window rewrite."""
    purchases, clicks = _asof_inputs(spark, sf_dir, "click_value")
    out = asof_join(
        purchases, clicks, "ts", "c_ts", "user_id", "c_user",
        ["click_value", "c_ts"],
    )
    within = F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return out.select(
        "event_id",
        "user_id",
        F.when(within, F.col("click_value")).alias("click_value_30m"),
    )


# --- plain equi / broadcast / salted -----------------------------------------


@register(
    "join_equi_hash",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def join_equi_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi join (θ = equality): planner-chosen SMJ/SHJ, the
    skew-resistant special case of [OR11 §7]."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT p_brand, count(*) AS n_items,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size < 10
    GROUP BY 1
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small×large dimension join, explicitly broadcast (the MR
    map-side join idiom [HADOOP-API]): no shuffle of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "join_skew_salted",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened equi join: random salt spreads each hot key over k
    partitions ([OR11 §4.2]'s randomized defeat of skew, manually).
    Salt never escapes; the aggregate is salt-invariant."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_equi_join(orders, cust, "o_custkey", "c_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# --- semi / anti / outer ------------------------------------------------------


@register(
    "join_semi",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate < o_orderdate)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS with a non-equi component: orders having a line shipped
    before the order date (a real fixture quirk — see FIXTURES.md)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") < F.col("o_orderdate")
    )
    return orders.join(li, cond, "left_semi").select("o_orderkey")


@register(
    "join_anti",
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate < o_orderdate)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS twin of join_semi."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") < F.col("o_orderdate")
    )
    return orders.join(li, cond, "left_anti").select("o_orderkey")


@register(
    "join_outer_nonequi",
    oracle="""
    SELECT o_orderkey,
           CAST(l_linenumber AS DOUBLE) AS linenumber,
           l_quantity AS quantity
    FROM orders LEFT JOIN lineitem
      ON o_orderkey = l_orderkey AND l_quantity > 45
    """,
)
def join_outer_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a non-equi residual: every order, null-extended
    when it has no line with quantity > 45. (linenumber cast to double
    in both engines so the null-extended column has one dtype.)"""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (F.col("l_quantity") > 45)
    return orders.join(li, cond, "left").select(
        "o_orderkey",
        F.col("l_linenumber").cast("double").alias("linenumber"),
        F.col("l_quantity").alias("quantity"),
    )


# --- multiway (star schema) ---------------------------------------------------


@register(
    "join_multiway",
    oracle="""
    SELECT r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join chain; Catalyst broadcast-joins the
    dimensions and reorders — declared, not hand-scheduled."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ["lineitem", "orders", "customer", "nation", "region"]}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# --- outer band (bucketed rewrite with null-extension) ------------------------


@register(
    "join_outer_band",
    oracle="""
    SELECT p.event_id AS p_event_id, e.event_id AS e_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON  e.user_id = p.user_id
      AND e.ts >= p.ts - INTERVAL 1 HOUR
      AND e.ts <  p.ts
    """,
)
def join_outer_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left OUTER band join through the bucketed rewrite (SURVEY.md
    §7.7 hard-part 2): every purchase, with each same-user error in the
    preceding hour, null-extended when there is none."""
    from ..operators.joins import band_join_outer

    ev = load_table(spark, sf_dir, "events")
    purchases, errors = _purchase_error_sides(ev, ev)
    out = band_join_outer(
        purchases, errors, "p_ts", "e_ts", lower=-3600, upper=0,
        left_key="p_event_id",
        extra_equi=[("p_user_id", "e_user_id")],
        include_lower=True, include_upper=False,
    )
    return out.select("p_event_id", "e_event_id")


@register(
    "join_inequality_mbucket_o",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer
    FROM supplier JOIN customer ON s_acctbal < c_acctbal
    GROUP BY 1
    """,
)
def join_inequality_mbucket_o(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless inequality join (every supplier × richer customers —
    a quadratic-output shape, ~|S|·|C|/2 pairs) through the
    OUTPUT-balanced M-Bucket-O rewrite [OR11 §6]: per-cell output
    estimates prune empty cells and split hot cells across reducers."""
    from ..operators.joins import inequality_join_mbucket_o

    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pairs = inequality_join_mbucket_o(sup, cust, "s_acctbal", "c_acctbal", "<")
    return pairs.groupBy("s_suppkey").agg(F.count("*").alias("n_richer"))


@register(
    "join_inequality_2pred",
    oracle="""
    SELECT s_suppkey, c_custkey
    FROM supplier, customer
    WHERE s_acctbal < c_acctbal AND s_nationkey > c_nationkey
    """,
)
def join_inequality_2pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predicate inequality join (the IEJoin workload class):
    suppliers×customers with a balance < and a nationkey > condition,
    through balanced random regions + a vectorized numpy kernel."""
    from ..operators.joins import inequality_join_2pred

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    out = inequality_join_2pred(
        sup, cust,
        ("s_acctbal", "<", "c_acctbal"),
        ("s_nationkey", ">", "c_nationkey"),
    )
    return out.select("s_suppkey", "c_custkey")


@register(
    "join_string_edit_distance",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS a_name, b.p_name AS b_name,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM names a, names b
    WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_string_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String similarity self-join: distinct part names within edit
    distance 2, via the segment-pigeonhole candidate join (PassJoin
    family) + exact levenshtein residual — never the name cross
    product."""
    from ..operators.editdist import edit_distance_join

    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("a_name"))
    b = names.select(F.col("p_name").alias("b_name"))
    out = edit_distance_join(a, b, "a_name", "a_name", "b_name", "b_name", k=2)
    return out.filter(F.col("a_name") < F.col("b_name"))


@register(
    "join_bloom_pruned",
    oracle="""
    SELECT count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS sum_price,
           count(DISTINCT c.c_custkey) AS n_custs
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom-style) pruned equi-join: before the fact
    table ever shuffles, a coarse membership filter built from the
    FILTERED dim side's join keys — distinct pmod(xxhash64(key), 8192)
    buckets, broadcast as a few KB — drops every fact row whose key
    hashes to an empty bucket. The residual equi-join keeps the result
    EXACT (false positives only cost work, never wrong rows), so the
    oracle is the plain join. This is Spark's runtime row-level
    filtering / bloom pushdown expressed explicitly as a plan the
    engine controls: at 100 TB the shuffle volume of the fact scan
    drops by ~the dim filter's selectivity (here 1/5 of customers)
    before any Exchange, which is THE lever for big fact ⋈ filtered
    dim. The bucket table is value-derived and replay-stable, and the
    broadcast is O(8192) rows regardless of dim cardinality."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    buckets = cust.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(8192)).alias("__kb")
    ).distinct()
    pruned = (
        orders.withColumn("__kb", F.pmod(F.xxhash64("o_custkey"), F.lit(8192)))
        .join(F.broadcast(buckets), "__kb")
        .drop("__kb")
    )
    return pruned.join(cust, pruned.o_custkey == cust.c_custkey).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count_distinct("c_custkey").alias("n_custs"),
    )


# --- forward as-of, equi-prefixed band, spatial grid --------------------------


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           c.value AS next_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase enriched with the user's EARLIEST
    click at-or-after the purchase (pandas merge_asof
    direction='forward'). Same union-tag single-shuffle window rewrite
    as the backward variant — the window just scans from the other
    side (unbounded-following first instead of unbounded-preceding
    last); still one shuffle on the key and zero replication."""
    purchases, clicks = _asof_inputs(spark, sf_dir, "next_click_value")
    out = asof_join(
        purchases, clicks, "ts", "c_ts", "user_id", "c_user",
        ["next_click_value"], direction="forward",
    )
    return out.select("event_id", "user_id", "next_click_value")


@register(
    "join_equi_band",
    oracle="""
    SELECT a.user_id AS user_id,
           a.event_id AS event_id_a, b.event_id AS event_id_b,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 1 AND 300000000
    """,
)
def join_equi_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band self-join WITH an equi prefix: pairs of a user's events
    where the second strictly follows the first by at most 5 minutes —
    the telemetry "what happened right after X" shape. The equi key
    changes everything versus a pure band join: Spark plans a plain
    shuffled sort-merge join on user_id with the band as a residual
    range filter, so there is NO replication and NO custom bucketing —
    per-key candidate sets are bounded by per-user event counts. At
    100 TB this is the plan to prefer whenever any equi attribute
    exists ([OR11 §6.2] reaches the same conclusion: exploit equality
    attributes first, bucket only the residual). Epoch-µs integer
    arithmetic keeps the strict/inclusive boundaries bit-exact across
    engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = ev.select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("event_id_a"),
        F.unix_micros("ts").alias("__us_a"),
    )
    b = ev.select(
        F.col("user_id").alias("u_b"),
        F.col("event_id").alias("event_id_b"),
        F.unix_micros("ts").alias("__us_b"),
    )
    gap = F.col("__us_b") - F.col("__us_a")
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("u_b"))
            & (gap >= F.lit(1))
            & (gap <= F.lit(300_000_000)),
        )
        .select(
            "user_id",
            "event_id_a",
            "event_id_b",
            F.expr("(__us_b - __us_a) DIV 1000000").alias("gap_s"),
        )
    )


@register(
    "join_spatial_grid",
    oracle="""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 4) AS dist
    FROM p a JOIN p b ON a.vec_id < b.vec_id
     AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) < 0.02
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ε-distance self-join on the first two embedding
    dimensions via uniform-grid cell bucketing (×9 bounded replication
    of one side, candidates = same-or-neighbour cell only — the 2D
    analogue of the ε-bucket band join; see
    operators/joins.grid_distance_join_2d). The oracle is the O(n²)
    brute force, which is exactly what the grid plan must reproduce
    pair-for-pair; float x/y are widened to double so both engines run
    identical IEEE arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).alias("x"),
        F.element_at("embedding", 2).alias("y"),
    )
    return grid_distance_join_2d(emb, "vec_id", "x", "y", 0.02).select(
        F.col("id_a"), F.col("id_b"), F.col("dist")
    )


@register(
    "join_point_in_interval",
    oracle="""
    WITH iv AS (
      SELECT p_partkey, p_retailprice * 0.98 AS lo, p_retailprice * 1.02 AS hi
      FROM part
    )
    SELECT p_partkey, count(*) AS n_matches,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN iv ON l.l_extendedprice BETWEEN iv.lo AND iv.hi
    GROUP BY 1
    """,
)
def join_point_in_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (the IP-geolocation / price-band lookup
    shape): every lineitem whose extended price falls inside a part's
    ±2 % retail-price band, aggregated per part. A point is a
    DEGENERATE interval [v, v], so this reuses the grid rewrite of
    interval_overlap_join verbatim: intervals replicate to the
    buckets they span (bounded by len/width + 1 — the [OR11]
    statistics step sizes the width to the max interval length),
    the point side lands in ~one bucket, and the unique-anchor rule
    keeps each pair exactly once with no dedup shuffle. The naive
    Spark plan for this predicate is a BNLJ over |L|·|R| pairs; the
    rewrite is the difference between 2 000 × 60 000 pair tests and a
    hash join on ~1 bucket per point."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v_lo"),
        F.col("l_extendedprice").alias("v_hi"),
        F.col("l_quantity").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") * 0.98).alias("lo"),
        (F.col("p_retailprice") * 1.02).alias("hi"),
    )
    # [OR11]-style statistics pruning before any replication: points
    # outside the intervals' GLOBAL [min lo, max hi] envelope cannot
    # match anything, and here the bands cover ~1 % of the price
    # domain, so the broadcast range filter drops ~95 % of lineitem
    # BEFORE the grid shuffle (isolated median 1.93 s → 1.77 s at
    # sf0.1 locally — scan-bound here, but at 100 TB the pruned rows
    # are shuffle traffic saved, which is the lever that matters).
    # The envelope is a 1-row aggregate attached as a broadcast hash
    # join.
    from ._scalar import attach_scalar_frame

    env = part.agg(F.min("lo").alias("__env_lo"), F.max("hi").alias("__env_hi"))
    li = (
        attach_scalar_frame(li, "v_lo", env, "__env_lo")
        .filter(
            (F.col("v_lo") >= F.col("__env_lo"))
            & (F.col("v_lo") <= F.col("__env_hi"))
        )
        .drop("__env_lo", "__env_hi")
    )
    pairs = interval_overlap_join(li, part, "v_lo", "v_hi", "lo", "hi", 64.0)
    return pairs.groupBy("p_partkey").agg(
        F.count("*").alias("n_matches"),
        F.sum(F.col("qty").cast("long")).alias("sum_qty"),
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    bwd AS (
      SELECT p.event_id, c.ts AS b_ts, c.value AS b_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    fwd AS (
      SELECT p.event_id, c.ts AS f_ts, c.value AS f_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts <= c.ts
    )
    SELECT p.event_id AS event_id, p.user_id AS user_id,
           CASE
             WHEN b_ts IS NULL THEN f_val
             WHEN f_ts IS NULL THEN b_val
             WHEN epoch_us(p.ts) - epoch_us(b_ts)
                  <= epoch_us(f_ts) - epoch_us(p.ts) THEN b_val
             ELSE f_val
           END AS nearest_click_value
    FROM p
    LEFT JOIN bwd ON p.event_id = bwd.event_id
    LEFT JOIN fwd ON p.event_id = fwd.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of (pandas merge_asof direction='nearest'): each
    purchase takes the click closest in time in EITHER direction,
    ties to the earlier (backward) side — pandas' tie rule. Composed
    from the two one-sided union-tag window rewrites (each one
    shuffle on the key, zero replication); the matched timestamps
    travel in the payload structs so the nearer side is a pure
    epoch-µs projection, no extra join. The oracle mirrors the same
    composition with DuckDB's two ASOF directions."""
    purchases, clicks = _asof_inputs(spark, sf_dir, "c_val")
    bwd = asof_join(
        purchases, clicks, "ts", "c_ts", "user_id", "c_user",
        ["c_val", "c_ts"], direction="backward",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("c_val").alias("b_val"),
        F.col("c_ts").alias("b_ts"),
    )
    # forward pass keyed the same way (user_id), then equi-joined
    # back on event_id to sit beside the backward payload
    fwd = asof_join(
        purchases.select(
            F.col("event_id").alias("f_event_id"),
            F.col("user_id").alias("f_user_p"),
            F.col("ts").alias("f_p_ts"),
        ),
        clicks.select(
            F.col("c_user").alias("f_user"),
            F.col("c_ts").alias("f_ts0"),
            F.col("c_val").alias("f_val0"),
        ),
        "f_p_ts", "f_ts0", "f_user_p", "f_user",
        ["f_val0", "f_ts0"], direction="forward",
    ).select("f_event_id", F.col("f_val0").alias("f_val"), F.col("f_ts0").alias("f_ts"))
    out = bwd.join(fwd, bwd.event_id == fwd.f_event_id, "left")
    b_gap = F.unix_micros("ts") - F.unix_micros("b_ts")
    f_gap = F.unix_micros("f_ts") - F.unix_micros("ts")
    nearest = (
        F.when(F.col("b_ts").isNull(), F.col("f_val"))
        .when(F.col("f_ts").isNull(), F.col("b_val"))
        .when(b_gap <= f_gap, F.col("b_val"))
        .otherwise(F.col("f_val"))
    )
    return out.select("event_id", "user_id", nearest.alias("nearest_click_value"))


_ALLEN_ORACLE = """
WITH s AS (
  SELECT user_id, event_type, min(ts) AS s, max(ts) AS e
  FROM events GROUP BY user_id, event_type
)
SELECT a.user_id AS user_id, a.event_type AS a_type, b.event_type AS b_type,
       CASE
         WHEN a.e < b.s THEN 'precedes'
         WHEN b.e < a.s THEN 'preceded_by'
         WHEN a.e = b.s THEN 'meets'
         WHEN b.e = a.s THEN 'met_by'
         WHEN a.s = b.s AND a.e = b.e THEN 'equals'
         WHEN a.s = b.s AND a.e < b.e THEN 'starts'
         WHEN a.s = b.s THEN 'started_by'
         WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
         WHEN a.e = b.e THEN 'finished_by'
         WHEN a.s > b.s AND a.e < b.e THEN 'during'
         WHEN a.s < b.s AND a.e > b.e THEN 'contains'
         WHEN a.s < b.s THEN 'overlaps'
         ELSE 'overlapped_by'
       END AS relation
FROM s a JOIN s b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
"""


@register("join_interval_allen", oracle=_ALLEN_ORACLE)
def join_interval_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra (Allen CACM'83): classify every pair
    of same-user activity spans (per-event-type [min ts, max ts])
    into the 13 qualitative relations — precedes/meets/overlaps/
    starts/during/finishes, their inverses, and equals. Temporal-
    reasoning engines expose exactly this as their interval-join
    predicate language; here the span table is first collapsed by an
    aggregate (at 100 TB: |users × types| ≪ |events|), then a single
    self equi-join on user_id with per-key fan-out bounded by
    #event_types² — no grid replication needed because the
    aggregation already made the join side bounded. The CASE ladder
    is ordered identically in both engines (disjoint-by-construction
    branches: strict separation first, then boundary-touch, then
    shared endpoints, then containment, leaving plain overlap), all
    comparisons on exact timestamps — nothing floating-point."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    a = s.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("a_type"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = s.select(
        F.col("user_id").alias("bu"),
        F.col("event_type").alias("b_type"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    a_s, a_e, b_s, b_e = (F.col(c) for c in ("a_s", "a_e", "b_s", "b_e"))
    relation = (
        F.when(a_e < b_s, "precedes")
        .when(b_e < a_s, "preceded_by")
        .when(a_e == b_s, "meets")
        .when(b_e == a_s, "met_by")
        .when((a_s == b_s) & (a_e == b_e), "equals")
        .when((a_s == b_s) & (a_e < b_e), "starts")
        .when(a_s == b_s, "started_by")
        .when((a_e == b_e) & (a_s > b_s), "finishes")
        .when(a_e == b_e, "finished_by")
        .when((a_s > b_s) & (a_e < b_e), "during")
        .when((a_s < b_s) & (a_e > b_e), "contains")
        .when(a_s < b_s, "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        a.join(b, (F.col("u") == F.col("bu")) & (F.col("a_type") < F.col("b_type")))
        .select(
            F.col("u").alias("user_id"),
            "a_type",
            "b_type",
            relation.alias("relation"),
        )
    )


@register(
    "join_lateral_topk",
    oracle="""
    SELECT c.c_custkey,
           t.o_orderkey,
           CAST(CAST(t.o_orderdate AS DATE) AS VARCHAR) AS order_date,
           t.o_totalprice AS total_price
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_orderdate DESC, o_orderkey DESC
      LIMIT 3
    ) t
    WHERE c.c_custkey % 50 = 0
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT —
    "the 3 most recent orders for each sampled customer". The classic
    pre-decorrelation implementation is a per-key nested loop; Spark's
    optimizer (DecorrelateInnerQuery + InferWindowGroupLimit) rewrites
    it into a partial-then-final ``WindowGroupLimit`` over one hash
    Exchange on the join key, i.e. a MAP-SIDE top-k per key before the
    shuffle — each map task forwards at most k rows per key, so at
    100 TB the shuffle moves O(k · |keys|), not O(|orders|). The
    correlated equality AND the outer filter are both pushed into the
    inner scan (verified in the executed plan). Expressed through the
    SQL surface with DataFrame named-parameter binding (no temp-view
    globals), since LATERAL has no DataFrame-API equivalent."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return spark.sql(
        """
        SELECT c.c_custkey,
               t.o_orderkey,
               CAST(CAST(t.o_orderdate AS DATE) AS STRING) AS order_date,
               t.o_totalprice AS total_price
        FROM {cust} c JOIN LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM {orders} o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC
          LIMIT 3
        ) t
        WHERE c.c_custkey % 50 = 0
        """,
        cust=cust,
        orders=orders,
    )


@register(
    "join_null_safe_equi",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey % 13 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_orderkey % 40 = 0
    ), c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_custkey END AS k
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT o.o_orderkey, c.c_custkey,
           CAST(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS null_pair
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    """,
)
def join_null_safe_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM) — the
    semantics corner ordinary equi-joins silently drop: NULL = NULL
    is UNKNOWN, so rows with missing keys vanish from a plain join,
    while <=> treats NULL as a matchable value. Spark still plans
    this as a HASH join (the null-safe comparison has a hashable
    normal form) — verified no BNLJ — but the null bucket pairs
    every null-keyed left row with every null-keyed right row, the
    classic skew trap: at scale you either pre-filter nulls to an
    anti-join branch or accept one hot key (documented; the fixture
    keeps both sides' null sets small on purpose)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_custkey") % 13 == 0, None)
            .otherwise(F.col("o_custkey"))
            .alias("k"),
        )
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 13 == 0, None)
            .otherwise(F.col("c_custkey"))
            .alias("k"),
        )
    )
    return o.join(c, o["k"].eqNullSafe(c["k"])).select(
        "o_orderkey",
        "c_custkey",
        F.when(o["k"].isNull(), 1).otherwise(0).cast("long").alias("null_pair"),
    )


@register(
    "join_spatial_nearest",
    oracle="""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    ), cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 4) AS dist
      FROM p a JOIN p b ON a.vec_id <> b.vec_id
       AND sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) < 0.05
    )
    SELECT id_a, id_b, dist FROM (
      SELECT *, row_number() OVER (PARTITION BY id_a
                                   ORDER BY dist, id_b) AS rn
      FROM cand) WHERE rn = 1
    """,
)
def join_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbour spatial join (ε-bounded): each point reports
    its single closest other point within ε — the geocoding /
    store-to-customer / sensor-pairing shape ("match every record to
    the nearest site"). Built ON the grid kernel: the ε-cell join
    yields unordered candidate pairs with ×9-bounded replication,
    both orientations are unioned (a pair serves both endpoints'
    candidacy), and a per-point WindowGroupLimit keeps rank 1 — so
    the shuffle after the grid join carries candidates, and the rank
    window partitions by point id (map-side top-1, O(points) rows
    out). Points with no neighbour inside ε drop out, the inner-join
    convention. Ranking orders by the 4dp-ROUNDED distance with the
    id tiebreak, so cross-engine ulp noise cannot flip the winner
    (SURVEY §5.4)."""
    from pyspark.sql import Window

    from ..operators.joins import grid_distance_join_2d

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).alias("x"),
        F.element_at("embedding", 2).alias("y"),
    )
    pairs = grid_distance_join_2d(emb, "vec_id", "x", "y", 0.05)
    both = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "dist",
        )
    )
    w = Window.partitionBy("id_a").orderBy("dist", "id_b")
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id_a", "id_b", "dist")
    )


@register(
    "join_asof_interpolated",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS t,
             CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events WHERE event_type = 'view'
      GROUP BY 1, 2
    ), probes AS (
      SELECT user_id, event_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'click'
    ), u AS (
      SELECT user_id, t, CAST(0 AS BIGINT) AS is_probe,
             CAST(-1 AS BIGINT) AS eid, y
      FROM pts
      UNION ALL
      SELECT user_id, t, 1, event_id, NULL FROM probes
    ), walls AS (
      SELECT user_id, t, is_probe, eid,
             last_value(y IGNORE NULLS) OVER wb AS py,
             last_value(CASE WHEN y IS NOT NULL THEN t END IGNORE NULLS)
               OVER wb AS pt,
             first_value(y IGNORE NULLS) OVER wf AS ny,
             first_value(CASE WHEN y IS NOT NULL THEN t END IGNORE NULLS)
               OVER wf AS nt
      FROM u
      WINDOW wb AS (PARTITION BY user_id ORDER BY t, is_probe, eid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY t, is_probe, eid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, eid AS event_id, t AS t_us,
           CAST(trunc(CASE
             WHEN pt IS NOT NULL AND nt IS NOT NULL AND pt <> nt THEN
               (CAST(py AS DOUBLE)
                + CAST(ny - py AS DOUBLE)
                  * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)))
               * CAST(1000 AS DOUBLE)
             WHEN pt IS NOT NULL THEN CAST(py AS DOUBLE) * CAST(1000 AS DOUBLE)
             ELSE CAST(ny AS DOUBLE) * CAST(1000 AS DOUBLE)
           END) AS BIGINT) AS interp_micro
    FROM walls
    WHERE is_probe = 1 AND (pt IS NOT NULL OR nt IS NOT NULL)
    """,
)
def join_asof_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED as-of join — the missing member of the §2.3 as-of
    family (backward / forward / nearest / tolerance all have rows):
    align each probe event onto the OTHER series' timeline with
    linear interpolation between the bracketing observations, per
    entity — kdb's aj with interpolation / QuestDB's interpolated
    asof, the trades-vs-quotes alignment at a mid-tick instant. Here:
    each user's 'click' instants sample the user's interpolated
    'view' value series (flat extrapolation outside the observed
    range; exact hit when a view shares the timestamp — the
    same-t point sorts BEFORE the probe, so it lands in the
    backward wall).

    Plan: the classic union-and-two-walls rewrite — tag points and
    probes, ONE sort per entity, backward/forward IGNORE NULLS
    window walls — instead of a range join (which would shuffle
    points × probes); both engines sort by the identical
    (t, is_probe, eid) TOTAL order (same-timestamp duplicate points
    pre-collapsed by sum, probe eids unique). The interpolation is
    ONE fixed parenthesization over exact int64 micros/milli-units,
    TRUNCATED to micro output.

    Scale: one hash partition + sort per entity key, two linear
    window passes — O(points + probes) per entity, zero joins."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.unix_micros("ts").alias("t"))
        .agg(F.sum(F.round(F.col("value") * 1000).cast("long")).alias("y"))
        .select(
            "user_id",
            "t",
            F.lit(0).cast("long").alias("is_probe"),
            F.lit(-1).cast("long").alias("eid"),
            "y",
        )
    )
    probes = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.lit(1).cast("long").alias("is_probe"),
        F.col("event_id").cast("long").alias("eid"),
        F.lit(None).cast("long").alias("y"),
    )
    u = pts.unionByName(probes)
    order = [F.col("t"), F.col("is_probe"), F.col("eid")]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, W.unboundedFollowing)
    )
    pt_expr = F.when(F.col("y").isNotNull(), F.col("t"))
    walls = u.select(
        "user_id",
        "t",
        "is_probe",
        "eid",
        F.last("y", ignorenulls=True).over(wb).alias("py"),
        F.last(pt_expr, ignorenulls=True).over(wb).alias("pt"),
        F.first("y", ignorenulls=True).over(wf).alias("ny"),
        F.first(pt_expr, ignorenulls=True).over(wf).alias("nt"),
    )
    frac = F.col("t") - F.col("pt")
    span = F.col("nt") - F.col("pt")
    interp = (
        F.when(
            F.col("pt").isNotNull()
            & F.col("nt").isNotNull()
            & (F.col("pt") != F.col("nt")),
            (
                F.col("py").cast("double")
                + (F.col("ny") - F.col("py")).cast("double")
                * (frac.cast("double") / span.cast("double"))
            )
            * F.lit(1000).cast("double"),
        )
        .when(
            F.col("pt").isNotNull(),
            F.col("py").cast("double") * F.lit(1000).cast("double"),
        )
        .otherwise(F.col("ny").cast("double") * F.lit(1000).cast("double"))
    )
    return (
        walls.filter(
            (F.col("is_probe") == 1)
            & (F.col("pt").isNotNull() | F.col("nt").isNotNull())
        )
        .select(
            "user_id",
            F.col("eid").alias("event_id"),
            F.col("t").alias("t_us"),
            interp.cast("long").alias("interp_micro"),
        )
    )
