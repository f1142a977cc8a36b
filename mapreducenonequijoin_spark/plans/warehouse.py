"""Warehouse-maintenance shapes (SURVEY.md §2 extensions, round 6):
SCD-2 dimension building, MERGE-style upsert, fixed-width feature
bucketization, and fixed-iteration PageRank. These are the table-
maintenance / feature-engineering / graph ops a production warehouse
layers on top of the query operators; each is a pure DataFrame plan
whose shuffle structure is argued for 100 TB in its docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import _checkpoint_round, _drop_checkpoint
from ..sources.io import load_table
from ._scalar import attach_scalar_frame
from .registry import register


@register(
    "scd2_dimension",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) AS BIGINT)
             AS version
    FROM changes
    """,
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: collapse each user's
    event stream into versioned attribute intervals — a new version
    opens whenever event_type changes, valid_to is the next version's
    valid_from (NULL for the current one). Change detection is lag(),
    interval closing is lead(), versioning is row_number() — three
    window passes over ONE hash partitioning on user_id (Exchange
    reuse; the same single-shuffle argument as sessionization). This
    is the standard scalable SCD-2 plan: per-key state only, no join
    back to the source, deterministic under ts ties via the event_id
    tiebreak."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    wc = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wc).alias("valid_to"),
        F.row_number().over(wc).cast("long").alias("version"),
    )


@register(
    "sink_merge_upsert",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), delta AS (
      SELECT o_orderkey AS d_key, (cents * 105) // 100 AS d_cents
      FROM t WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 600000000, cents
      FROM t WHERE o_orderkey % 97 = 3
    ), merged AS (
      SELECT
        CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
             WHEN d.d_key IS NULL THEN 'unchanged'
             ELSE 'updated' END AS merge_action,
        COALESCE(d.d_cents, t.cents) AS cents
      FROM t FULL OUTER JOIN delta d ON t.o_orderkey = d.d_key
    )
    SELECT merge_action, count(*) AS n_rows,
           sum(cents) / 100.0 AS sum_price
    FROM merged GROUP BY merge_action
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (upsert) expressed as a relational plan:
    a delta of updates (keys ≡ 0 mod 7, price +5 %) and inserts (new
    keys) merged into the orders table — matched rows take the delta
    price, unmatched delta rows insert, the rest pass through. The
    engine form is a single full-outer equi-join on the key plus
    coalesce/CASE projection, which is exactly the merge-on-read plan
    Delta/Iceberg execute; at 100 TB the delta side is typically ≪
    the target and rides a broadcast, and with a bucketed/partitioned
    target the join co-locates so only the delta shuffles. Output is
    the per-action audit summary (row counts + checksums) a MERGE
    reports. ALL price arithmetic runs in exact integer CENTS — the
    fixture prices are 2dp decimals, so ×100 round-trips losslessly;
    both the +5 % update and the checksum sums are then associative
    int64 ops, immune to the per-row rounding-mode and summation-order
    divergence the strict bit-exact sweep catches on double money
    math (a double sum over ~1e4 prices drifts at the cent level)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("d_key"),
        F.expr("(cents * 105) DIV 100").alias("d_cents"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 97 == 3).select(
        (F.col("o_orderkey") + 600_000_000).alias("d_key"),
        F.col("cents").alias("d_cents"),
    )
    delta = updates.unionByName(inserts)
    merged = orders.join(delta, orders.o_orderkey == delta.d_key, "full_outer").select(
        F.when(F.col("o_orderkey").isNull(), F.lit("inserted"))
        .when(F.col("d_key").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
        F.coalesce(F.col("d_cents"), F.col("cents")).alias("m_cents"),
    )
    return merged.groupBy("merge_action").agg(
        F.count("*").alias("n_rows"),
        (F.sum("m_cents") / 100.0).alias("sum_price"),
    )


@register(
    "feature_bucketize",
    oracle="""
    WITH s AS (
      SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
    )
    SELECT
      least(CAST(floor((o_totalprice - mn) / ((mx - mn) / 10)) AS BIGINT), 9)
        AS bucket_no,
      round(min(mn) + least(CAST(floor((o_totalprice - mn) / ((mx - mn) / 10))
                                 AS BIGINT), 9) * ((min(mx) - min(mn)) / 10), 2)
        AS bucket_lo,
      count(*) AS n_orders,
      round(avg(o_totalprice), 2) AS avg_price
    FROM orders, s
    GROUP BY 1
    """,
)
def feature_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram bucketization of a numeric feature (the
    discretize step of feature engineering): 10 equal-width buckets
    between the column min and max, per-bucket count and mean. The
    min/max are a one-row aggregate broadcast back over the scan —
    bounded model state, no collect, no global sort — then bucket
    assignment is a narrow projection and the histogram is one
    groupBy on a 10-value key. Contrast with ntile(): identical
    feature intent, but ntile needs a single-partition global-order
    window, which is exactly what a 100 TB plan must avoid. All
    bucket math is shared-subexpression IEEE double arithmetic, so
    the bucket boundaries are bit-identical across engines."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    stats = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(10)
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("mn")) / width).cast("long"), F.lit(9)
    )
    return (
        attach_scalar_frame(orders, "o_totalprice", stats, "mn")
        .select(
            bucket.alias("bucket_no"),
            "o_totalprice",
            F.col("mn"),
            F.col("mx"),
        )
        .groupBy("bucket_no")
        .agg(
            F.round(
                F.min("mn")
                + F.col("bucket_no") * ((F.min("mx") - F.min("mn")) / F.lit(10)),
                2,
            ).alias("bucket_lo"),
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


_PAGERANK_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), e AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), deg AS (
  SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, 1.0 / nn.n AS rank FROM nodes, nn
), r1 AS (
  SELECT nd.node, 0.15 / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
    GROUP BY e.dst
  ) c ON nd.node = c.node, nn
), r2 AS (
  SELECT nd.node, 0.15 / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
    GROUP BY e.dst
  ) c ON nd.node = c.node, nn
), r3 AS (
  SELECT nd.node, 0.15 / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.node
    GROUP BY e.dst
  ) c ON nd.node = c.node, nn
)
SELECT node AS node_id, round(rank, 8) AS rank
FROM r3 ORDER BY round(rank, 8) DESC, node LIMIT 25
"""


def _node_id(c: str) -> Column:
    """Display id of a ±(key+1) trade-graph node id column: ``c<k>``
    for customer key k (ids ≥ 1), ``s<k>`` for supplier key k (ids ≤
    -1). Both fixture key spaces start at 0, so a bare negation would
    collide customer 0 with supplier 0 and merge two graph nodes."""
    return (
        F.when(F.col(c) > 0, F.concat(F.lit("c"), (F.col(c) - 1).cast("string")))
        .otherwise(F.concat(F.lit("s"), (-F.col(c) - 1).cast("string")))
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparsified customer→supplier trade graph, one row per line:
    every 19th order's lines whose l_suppkey ≡ o_custkey (mod 10), as
    ``src`` = custkey+1, ``dst`` = -(suppkey+1) and the order date
    ``d``. The 100 supplier hubs would otherwise glue the whole fixture
    into one component. Not deduplicated: callers take
    ``select("src", "dst").distinct()``, or split on ``d`` first, and
    the optimizer prunes ``o_orderdate`` from the scan when ``d`` is
    dropped."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.filter(F.col("o_orderkey") % 19 == 0)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_suppkey") % 10 == F.col("o_custkey") % 10)
        .select(
            (F.col("o_custkey") + 1).cast("long").alias("src"),
            (-(F.col("l_suppkey") + 1)).cast("long").alias("dst"),
            F.col("o_orderdate").alias("d"),
        )
    )


def _co_supply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded co-supply graph, one row per undirected edge: the
    distinct supplier pairs (s1 < s2) that ship lines of the same order,
    over every 23rd order and with s2 - s1 ≤ 15. The band keeps the
    100-supplier fixture graph sparse (~1k edges) instead of
    near-complete."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.filter(F.col("a.l_orderkey") % 23 == 0)
        .join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey"))
            & (F.col("b.l_suppkey") - F.col("a.l_suppkey") <= 15),
        )
        .select(F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2"))
        .distinct()
    )


def _co_supply_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions (u, v) of every ``_co_supply_edges`` edge."""
    e = _co_supply_edges(spark, sf_dir)
    return e.select(F.col("s1").alias("u"), F.col("s2").alias("v")).unionByName(
        e.select(F.col("s2").alias("u"), F.col("s1").alias("v"))
    )


def _sym_trade_edges(spark: SparkSession, sf_dir: str, p: int) -> DataFrame:
    """Undirected customer↔supplier trade edge list (every order, ±(key+1)
    node ids as in ``_node_id``), deduplicated and persisted
    hash-partitioned p-ways on ``src``, the key every per-round join and
    aggregate of the power-iteration queries uses. Both directions
    explode out of the join projection, so one src-keyed exchange
    serves the duplicate drop (hashpartitioning(src) satisfies the
    (src, dst) clustering) and every downstream consumer. The caller
    unpersists it."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .repartition(p, "o_orderkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .repartition(p, "l_orderkey")
    )
    both = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        (F.col("o_custkey") + 1).cast("long").alias("src"),
                        (-(F.col("l_suppkey") + 1)).cast("long").alias("dst"),
                    ),
                    F.struct(
                        (-(F.col("l_suppkey") + 1)).cast("long").alias("src"),
                        (F.col("o_custkey") + 1).cast("long").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    return both.repartition(p, "src").dropDuplicates().persist()


def _power_rounds(
    edges: DataFrame,
    nodes: DataFrame,
    score: DataFrame,
    contrib: Column,
    update: Column,
    p: int,
) -> DataFrame:
    """Three synchronous power-iteration rounds. A round joins the
    directed ``edges`` (src, dst, ...) with the nonzero rows of
    ``score`` (node, score) on src, sums ``contrib`` per dst into ``s``
    (one p-way exchange on dst, which the aggregate reuses), left-joins
    the sums onto ``nodes`` (node, ...) and takes ``update`` as the next
    score. A zero score adds nothing to any sum, so its rows are not
    shuffled. p is set in the plan rather than inherited from
    ``spark.sql.shuffle.partitions``, whose vanilla 200 turns every
    round into hundreds of tiny tasks. Each round is eagerly
    checkpointed, so round k+1 plans against a materialized frame
    instead of k rounds of joins, and the round it replaces is
    released: the result is the last round's checkpoint and reads
    nothing else."""
    ckpt = None
    for _ in range(3):
        live = score.filter(F.col("score") != 0)
        sums = (
            edges.join(live, edges.src == live.node)
            .repartition(p, "dst")
            .groupBy("dst")
            .agg(contrib.alias("s"))
        )
        score = ckpt = _checkpoint_round(
            nodes.join(sums, nodes.node == sums.dst, "left").select(
                "node", update.alias("score")
            ),
            ckpt,
        )
    return score


@register("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85) over the bipartite
    customer↔supplier trade graph (edges = distinct custkey/suppkey
    pairs that share an order, made undirected so no node dangles),
    run by ``_power_rounds``: every join and aggregate keys on the node
    id, so one p-way hash partitioning serves each round. The edge,
    node and degree frames are persisted for the rounds and released
    before return; the result reads only the last round's checkpoint.
    Ranks round to 8dp (values ~1e-4, float-sum noise ~1e-18) and the
    top-25 cut orders by the ROUNDED rank with a node-id tiebreak, so
    selection is deterministic across engines."""
    p = max(spark.sparkContext.defaultParallelism, 4)
    edges = _sym_trade_edges(spark, sf_dir, p)
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("double").alias("outdeg")
    )
    # persisted on the src partitioning every round joins on: without
    # it each round re-derives the whole orders⋈lineitem→distinct
    # pipeline (measured 24 s → ~3 s at sf0.1)
    edges_deg = (
        edges.join(deg, edges.src == deg.node).select("src", "dst", "outdeg").persist()
    )
    # node count: an O(1)-result driver statistic, same class as the
    # [OR11] statistics step (operators/joins._stat_count)
    n = float(nodes.count())
    if n == 0:  # empty graph: no nodes, no ranks (guards the 1/n below)
        out = spark.createDataFrame([], "node_id string, rank double")
    else:
        ranks = _power_rounds(
            edges_deg,
            nodes,
            nodes.select("node", F.lit(1.0 / n).alias("score")),
            F.sum(F.col("score") / F.col("outdeg")),
            F.lit(0.15 / n) + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0)),
            p,
        )
        out = ranks.select(
            _node_id("node").alias("node_id"), F.round("score", 8).alias("rank")
        ).orderBy(F.desc("rank"), "node_id").limit(25)
    for df in (edges, nodes, edges_deg):
        df.unpersist()
    return out


# fixed 2D centroids (model state, as literals so the assignment step's
# cross-engine determinism is self-contained)
_KM_CENTROIDS = [(-0.15, -0.15), (-0.15, 0.15), (0.15, -0.15), (0.15, 0.15)]


def _km_oracle() -> str:
    d = [
        f"((x - ({cx}))*(x - ({cx})) + (y - ({cy}))*(y - ({cy})))"
        for cx, cy in _KM_CENTROIDS
    ]
    assign = (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]} THEN 0 "
        f"WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1 "
        f"WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END"
    )
    return f"""
    WITH p AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
    )
    SELECT {assign} AS cluster_id,
           count(*) AS n_points,
           round(avg(x), 6) AS mean_x,
           round(avg(y), 6) AS mean_y
    FROM p GROUP BY 1
    """


@register("cluster_kmeans_assign", oracle=_km_oracle())
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means SCORING step: assign every vector to its nearest fixed
    centroid and emit per-cluster size + mean — the map side of one
    Lloyd iteration, and the shape every embedding-clustering pipeline
    runs at full-corpus scale (the iterative FIT runs on a sample with
    bounded driver-side model state — operators/ivf.py:34 — while this
    assignment pass is a pure narrow projection + one small-key
    groupBy, so it is the part that must scale). Centroids are plan
    literals, so argmin is a chain of <= comparisons with a
    lowest-id tiebreak — deterministic and bit-identical across
    engines; only the 6dp-rounded per-cluster means touch float
    summation at all."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    dists = [
        (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
        + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy))
        for cx, cy in _KM_CENTROIDS
    ]
    assign = (
        F.when((dists[0] <= dists[1]) & (dists[0] <= dists[2]) & (dists[0] <= dists[3]), 0)
        .when((dists[1] <= dists[2]) & (dists[1] <= dists[3]), 1)
        .when(dists[2] <= dists[3], 2)
        .otherwise(3)
    )
    return (
        emb.select(assign.alias("cluster_id"), "x", "y")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.avg("y"), 6).alias("mean_y"),
        )
    )


# --- snapshot-versioned table (copy-on-write MERGE + time travel) -----------

# Layout version of the cached versioned table, part of its directory
# name: _vt_build returns an existing table as it is, so a change to what
# a build writes takes a new number, and each fixture's table is rebuilt
# once. 2: every version has its schema file.
_VT_LAYOUT = 2


def _vt_dir(sf_dir: str) -> str:
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/mrnej_cache/{key}/versioned_orders_l{_VT_LAYOUT}"


def _vt_build(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently build the versioned table: v0 = (orderkey, cents)
    projection of orders; v1 = MERGE of a deterministic CDC delta
    (updates keys ≡0 mod 7 at +5 %, deletes keys ≡1 mod 13 not
    updated, inserts new keys for ≡3 mod 97). All money in int64
    cents. Returns the table dir."""
    from ..operators.table_format import create_table, current_version, merge_commit

    d = _vt_dir(sf_dir)
    if current_version(d) is not None and current_version(d) >= 1:
        return d
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    if current_version(d) is None:
        create_table(spark, orders, d, "k", n_files=8)
    updates = orders.filter(F.col("k") % 7 == 0).select(
        "k", F.expr("(cents * 105) DIV 100").alias("cents"), F.lit("U").alias("op")
    )
    deletes = orders.filter((F.col("k") % 13 == 1) & (F.col("k") % 7 != 0)).select(
        "k", F.lit(None).cast("long").alias("cents"), F.lit("D").alias("op")
    )
    inserts = orders.filter(F.col("k") % 97 == 3).select(
        (F.col("k") + 600_000_000).alias("k"),
        F.col("cents"),
        F.lit("U").alias("op"),
    )
    merge_commit(
        spark, d, updates.unionByName(deletes).unionByName(inserts), "k"
    )
    return d


_VT_MERGED_ORACLE = """
WITH t AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
), merged AS (
  SELECT t.k,
         CASE WHEN t.k % 7 = 0 THEN (t.cents * 105) // 100
              ELSE t.cents END AS cents
  FROM t WHERE NOT (t.k % 13 = 1 AND t.k % 7 <> 0)
  UNION ALL
  SELECT k + 600000000 AS k, cents FROM t WHERE k % 97 = 3
)
SELECT k AS o_orderkey, cents / 100.0 AS price FROM merged
"""


@register("sink_versioned_merge", oracle=_VT_MERGED_ORACLE)
def sink_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE commit against a snapshot-versioned Parquet
    table (operators/table_format.py — manifest-listed files with key
    envelopes, Iceberg/Delta's commit protocol in miniature): a CDC
    delta of updates/deletes/inserts produces snapshot v1 by rewriting
    ONLY the data files whose key envelope the delta touches; v0's
    untouched files are SHARED by path in the v1 manifest. Returns the
    v1 table contents; the oracle recomputes the merged state
    relationally. Work scales with touched bytes + delta size, never
    table size — the MERGE cost model real table formats promise."""
    from ..operators.table_format import read_snapshot

    d = _vt_build(spark, sf_dir)
    t = read_snapshot(spark, d)  # latest = v1
    return t.select(
        F.col("k").alias("o_orderkey"), (F.col("cents") / 100.0).alias("price")
    )


@register(
    "scan_time_travel",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0 AS price
    FROM orders
    """,
)
def scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: read snapshot v0 of the versioned table AFTER the
    v1 MERGE committed — the pre-merge state, byte-identical, because
    commits only add files and manifests are immutable (VERSION AS OF
    semantics on plain Parquet + manifests). The oracle is the
    original base projection; matching it proves the v1 commit did not
    disturb v0's files."""
    from ..operators.table_format import read_snapshot

    d = _vt_build(spark, sf_dir)
    t = read_snapshot(spark, d, version=0)
    return t.select(
        F.col("k").alias("o_orderkey"), (F.col("cents") / 100.0).alias("price")
    )


@register(
    "scan_snapshot_pruned",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), merged AS (
      SELECT t.k,
             CASE WHEN t.k % 7 = 0 THEN (t.cents * 105) // 100
                  ELSE t.cents END AS cents
      FROM t WHERE NOT (t.k % 13 = 1 AND t.k % 7 <> 0)
      UNION ALL
      SELECT k + 600000000 AS k, cents FROM t WHERE k % 97 = 3
    )
    SELECT k AS o_orderkey, cents / 100.0 AS price
    FROM merged WHERE k BETWEEN 10000 AND 20000
    """,
)
def scan_snapshot_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned snapshot scan: a key-range read of the
    versioned table opens ONLY the data files whose manifest [min,max]
    envelope intersects the range — Iceberg's scan planning, done
    driver-side over metadata before any data I/O — then applies the
    residual row predicate to the surviving files. The oracle
    recomputes the merged v1 state with the same range filter, so a
    pruning bug that drops a needed file (or double-reads a shared
    one) fails the hash compare, not just a perf target. Pruning
    effectiveness is pinned by test_warehouse.py (files read < files
    total)."""
    from ..operators.table_format import read_snapshot

    d = _vt_build(spark, sf_dir)
    lo, hi = 10_000, 20_000
    t = read_snapshot(spark, d, key_range=(lo, hi))
    return t.filter((F.col("k") >= lo) & (F.col("k") <= hi)).select(
        F.col("k").alias("o_orderkey"), (F.col("cents") / 100.0).alias("price")
    )


@register(
    "join_temporal_validity",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    ), dim AS (
      SELECT user_id, event_type AS dim_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, event_id) AS valid_to,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY valid_from, event_id) AS BIGINT)
               AS version
      FROM changes
    )
    SELECT e.event_id, e.user_id, d.version, d.dim_type
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    """,
)
def join_temporal_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-validity join: each fact row looks up the dimension
    version that was VALID at its event time — the canonical SCD-2
    consumption pattern (fact ⋈ dim ON key AND ts ∈ [valid_from,
    valid_to)). The dimension here is scd2_dimension's own output, so
    every event resolves to exactly one version (half-open intervals
    partition each user's timeline; ties land in the interval the
    change event itself opened).

    Scale shape: an equi-join on the entity key with the interval
    predicate as residual — the dimension side holds only each user's
    version intervals (≪ fact rows), so per-key fan-in is the user's
    version count, never a cross product; both sides hash-partition on
    user_id, the same single partitioning scd2_dimension already
    produced. This is the standard temporal-dimension lookup plan at
    any scale; with a range-bucketed dimension it upgrades to the
    [OR11] interval-bucket shape like join_point_in_interval."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    dim = scd2_dimension(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("dim_type"),
        "valid_from",
        "valid_to",
        "version",
    )
    cond = (
        (ev.user_id == dim.d_user)
        & (ev.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (ev.ts < dim.valid_to))
    )
    return ev.join(dim, cond).select("event_id", "user_id", "version", "dim_type")


@register(
    "scan_snapshot_changes",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    )
    SELECT k AS o_orderkey, 'update_postimage' AS change_type,
           ((cents * 105) // 100) / 100.0 AS price
    FROM t WHERE k % 7 = 0 AND (cents * 105) // 100 <> cents
    UNION ALL
    SELECT k, 'delete', cents / 100.0
    FROM t WHERE k % 13 = 1 AND k % 7 <> 0
    UNION ALL
    SELECT k + 600000000, 'insert', cents / 100.0
    FROM t WHERE k % 97 = 3
    """,
)
def scan_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots (Delta
    ``table_changes(v0, v1)``): diff the v0 and v1 manifests' contents
    by key into insert / delete / update_postimage rows. The diff
    reads ONLY the files that differ between the manifests (shared
    paths cancel — copy-on-write makes snapshot diffs cheap by
    construction: unchanged files are provably identical WITHOUT
    reading them, the same argument incremental consumers rely on at
    100 TB), then one full-outer join on the key classifies changes.
    Keys whose value is unchanged after the +5 % cents update (cents
    = (cents*105) DIV 100 only when cents = 0... impossible here, but
    the filter is semantic, not fixture-trivia) emit nothing — a CDF
    reports actual changes, not touched rows."""
    from ..operators.table_format import manifest_entries, current_version

    d = _vt_build(spark, sf_dir)
    assert current_version(d) >= 1
    e0 = {e["path"] for e in manifest_entries(d, 0)}
    e1 = {e["path"] for e in manifest_entries(d, 1)}
    only0, only1 = sorted(e0 - e1), sorted(e1 - e0)
    old = spark.read.parquet(*only0).select(
        F.col("k").alias("k0"), F.col("cents").alias("c0")
    )
    new = spark.read.parquet(*only1).select(
        F.col("k").alias("k1"), F.col("cents").alias("c1")
    )
    j = old.join(new, old.k0 == new.k1, "full_outer")
    return (
        j.select(
            F.coalesce("k0", "k1").alias("o_orderkey"),
            F.when(F.col("k0").isNull(), F.lit("insert"))
            .when(F.col("k1").isNull(), F.lit("delete"))
            .when(F.col("c0") != F.col("c1"), F.lit("update_postimage"))
            .alias("change_type"),
            (F.coalesce("c1", "c0") / 100.0).alias("price"),
        )
        .filter(F.col("change_type").isNotNull())
    )


_CC_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT o_custkey + 1 AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 19 = 0 AND l_suppkey % 10 = o_custkey % 10
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), reach(v, lab) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, r.lab FROM reach r JOIN e ON e.dst = r.v
)
SELECT CASE WHEN v > 0 THEN 'c' || CAST(v - 1 AS VARCHAR)
            ELSE 's' || CAST(-v - 1 AS VARCHAR) END AS node_id,
       CASE WHEN min(lab) > 0 THEN 'c' || CAST(min(lab) - 1 AS VARCHAR)
            ELSE 's' || CAST(-min(lab) - 1 AS VARCHAR) END AS component
FROM reach GROUP BY v
"""


@register("graph_connected_components", oracle=_CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the sparsified customer↔supplier
    trade graph (``_trade_edges``: 33 components over 339 vertices at
    sf0.01, so a split/merge bug has something to break). Computed
    with the pointer-jumping min-label propagation kernel
    (operators/dedup.connected_components — Shiloach–Vishkin path
    halving, O(log diameter) rounds, two shuffle joins per round).
    The oracle is a recursive CTE computing min-reachable-label per
    vertex — exact ground truth, so a propagation bug (a component
    split or merged) fails the hash."""
    from ..operators.dedup import connected_components

    e0 = _trade_edges(spark, sf_dir).select("src", "dst").distinct()
    verts = (
        e0.select(F.col("src").alias("v"))
        .unionByName(e0.select(F.col("dst").alias("v")))
        .distinct()
    )
    cc = connected_components(verts, e0, "v", "src", "dst")
    return cc.select(
        _node_id("v").alias("node_id"), _node_id("cluster_rep").alias("component")
    )


_TRI_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  WHERE a.l_orderkey % 23 = 0 AND b.l_suppkey - a.l_suppkey <= 15
), t AS (
  SELECT x.s1 AS a, x.s2 AS b, y.s2 AS c
  FROM e x JOIN e y ON y.s1 = x.s2
           JOIN e z ON z.s1 = x.s1 AND z.s2 = y.s2
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT a AS node FROM t UNION ALL
      SELECT b FROM t UNION ALL
      SELECT c FROM t)
GROUP BY node
"""


@register("graph_triangle_count", oracle=_TRI_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the banded co-supply graph
    (``_co_supply_edges``). Algorithm: the standard oriented-edge
    join — every edge stored once as (lo, hi), a triangle found exactly once as
    (a<b<c) via e(a,b) ⋈ e(b,c) ⋈ e(a,c). The orientation bounds join
    fan-out by the out-degree of the LOWER endpoint, which is the
    degree-splitting idea behind every distributed triangle counter;
    both joins are plain shuffled equi-joins, so at 100 TB the cost is
    O(Σ d(v)²) candidate wedges hashed on the closing edge — no
    broadcast of the edge set, no driver state. The per-node rollup
    unions the three corner roles and reuses the same hash key."""
    # e feeds all three triangle-join legs; without the persist Spark
    # recomputes the lineitem self-join + distinct once per leg
    # (measured: 18 parquet scans, 0 ReusedExchange)
    e = _co_supply_edges(spark, sf_dir).persist()
    x = e.select(F.col("s1").alias("ta"), F.col("s2").alias("tb"))
    y = e.select(F.col("s1").alias("ub"), F.col("s2").alias("tc"))
    z = e.select(F.col("s1").alias("va"), F.col("s2").alias("vc"))
    tri = (
        x.join(y, F.col("tb") == F.col("ub"))
        .join(
            z,
            (F.col("va") == F.col("ta")) & (F.col("vc") == F.col("tc")),
            "leftsemi",
        )
        .select("ta", "tb", "tc")
    )
    # one pass over tri: explode the three corner roles instead of a
    # 3-way self-union (which would re-run the triangle joins 3x)
    corners = tri.select(
        F.explode(F.array("ta", "tb", "tc")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


_BFS_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT o_custkey + 1 AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 19 = 0 AND l_suppkey % 10 = o_custkey % 10
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), seeds AS (
  SELECT DISTINCT src AS v FROM e WHERE src > 0 AND (src - 1) % 7 = 0
), walk(v, d) AS (
  SELECT v, 0 FROM seeds
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.v WHERE w.d < 4
)
SELECT CASE WHEN v > 0 THEN 'c' || CAST(v - 1 AS VARCHAR)
            ELSE 's' || CAST(-v - 1 AS VARCHAR) END AS node_id,
       CAST(min(d) AS BIGINT) AS dist
FROM walk GROUP BY v
"""


@register("graph_bfs_distance", oracle=_BFS_ORACLE)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (horizon 4) over the same
    congruence-sparsified trade graph as graph_connected_components;
    seeds are the customer vertices with custkey ≡ 0 (mod 7). The
    loop is level-synchronous frontier expansion — the Pregel
    iteration pattern: per round, frontier ⋈ edges proposes
    neighbors, an anti-join against the settled-distance table keeps
    only first discoveries, and the settled table plus the new
    frontier is eagerly checkpointed as the next round (the frontier
    is its rows at the current depth), so round k+1's plan does not
    replay rounds 1..k and the round it replaces is released. Exactly
    H=4 rounds ⇒ 2 shuffle joins per round on the vertex key;
    frontier size is monotonically bounded by the reachable set, the
    settled table by |V| — no driver state beyond loop control. The
    persisted edge frame is released before return, so the result
    reads only the last round's checkpoint. Oracle: bounded recursive CTE, min hop
    per vertex — exact, so any premature-settle or missed-frontier
    bug fails the value hash, not just a row count."""
    p = max(spark.sparkContext.defaultParallelism, 8)
    e0 = _trade_edges(spark, sf_dir).select("src", "dst").distinct()
    edges = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(p, "src")
        .persist()
    )
    dist = _checkpoint_round(
        edges.filter((F.col("src") > 0) & ((F.col("src") - 1) % 7 == 0))
        .select(F.col("src").alias("v"))
        .distinct()
        .withColumn("d", F.lit(0)),
        None,
    )
    for depth in range(1, 5):
        frontier = dist.filter(F.col("d") == depth - 1)
        nxt = (
            frontier.join(edges, frontier.v == edges.src)
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(dist.select("v"), "v", "left_anti")
            .withColumn("d", F.lit(depth))
        )
        dist = _checkpoint_round(dist.unionByName(nxt), dist)
    edges.unpersist()
    return dist.select(_node_id("v").alias("node_id"), F.col("d").cast("long").alias("dist"))


_JACC_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  WHERE a.l_orderkey % 23 = 0 AND b.l_suppkey - a.l_suppkey <= 15
), e AS (
  SELECT s1 AS u, s2 AS v FROM e0 UNION ALL SELECT s2, s1 FROM e0
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
), common AS (
  SELECT x.u AS a, y.u AS b, CAST(count(*) AS BIGINT) AS c
  FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
  GROUP BY x.u, y.u HAVING count(*) >= 3
)
SELECT a, b, c AS n_common,
       round(CAST(c AS DOUBLE) / (da.d + db.d - c), 6) AS jaccard
FROM common
JOIN deg da ON da.u = a
JOIN deg db ON db.u = b
"""


@register("graph_jaccard_neighbors", oracle=_JACC_ORACLE)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs — the
    classic link-prediction feature: |N(a)∩N(b)| / |N(a)∪N(b)| over
    the banded co-supply graph, computed WITHOUT materializing
    neighbor sets. The intersection is wedge counting (two-path join
    through the shared neighbor, a<b orientation so each pair counts
    once), the union comes from degrees by inclusion-exclusion — so
    the whole plan is one self equi-join on the wedge center plus a
    grouped count, the same Θ(Σ d(v)²) candidate bound as the
    triangle counter, and two broadcast degree lookups. A support
    floor (≥3 shared neighbors) kills the quadratic tail of weak
    pairs BEFORE the degree join — at 100 TB that filter is the
    difference between a feature table and a cartesian blowup. One
    IEEE division per surviving pair, rounded for display only."""
    e = _co_supply_sym(spark, sf_dir).persist()  # feeds degrees AND both wedge legs
    deg = e.groupBy("u").agg(F.count("*").alias("d"))
    x = e.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = e.select(F.col("u").alias("b"), F.col("v").alias("w2"))
    common = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )
    da = deg.select(F.col("u").alias("ka"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("kb"), F.col("d").alias("db"))
    return (
        common.join(F.broadcast(da), common.a == da.ka)
        .join(F.broadcast(db), common.b == db.kb)
        .select(
            "a",
            "b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# Shared 3-round label-propagation CTE chain (e0 = one undirected
# edge per row, e = both directions, l3 = final labels) — reused by
# graph_label_propagation and graph_modularity.
_LPA_CTE = """
WITH e0 AS (
  SELECT DISTINCT CAST(o.o_custkey + 1 AS BIGINT) AS src,
                  CAST(-(l.l_suppkey + 1) AS BIGINT) AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderkey % 19 = 0 AND l.l_suppkey % 10 = o.o_custkey % 10
), e AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), l0 AS (
  SELECT DISTINCT src AS v, src AS label FROM e
), v1 AS (
  SELECT e.src AS v, l.label, count(*) AS c
  FROM e JOIN l0 l ON e.dst = l.v GROUP BY 1, 2
), l1 AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
    FROM v1) WHERE rn = 1
), v2 AS (
  SELECT e.src AS v, l.label, count(*) AS c
  FROM e JOIN l1 l ON e.dst = l.v GROUP BY 1, 2
), l2 AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
    FROM v2) WHERE rn = 1
), v3 AS (
  SELECT e.src AS v, l.label, count(*) AS c
  FROM e JOIN l2 l ON e.dst = l.v GROUP BY 1, 2
), l3 AS (
  SELECT v, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
    FROM v3) WHERE rn = 1
)
"""

_LPA_ORACLE = _LPA_CTE + """
SELECT CASE WHEN v > 0 THEN 'c' || CAST(v - 1 AS VARCHAR)
            ELSE 's' || CAST(-v - 1 AS VARCHAR) END AS node_id,
       CASE WHEN label > 0 THEN 'c' || CAST(label - 1 AS VARCHAR)
            ELSE 's' || CAST(-label - 1 AS VARCHAR) END AS community
FROM l3
"""


def _lpa_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(e0, sym, labels): the sparsified undirected trade graph (one
    row per edge / both directions) and its 3-round synchronous-LPA
    labels — the Spark mirror of ``_LPA_CTE``."""
    e0 = _trade_edges(spark, sf_dir).select("src", "dst").distinct()
    sym = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("v")).distinct().withColumn(
        "label", F.col("v")
    )
    w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(3):
        votes = (
            sym.join(labels, sym.dst == labels.v)
            .groupBy(F.col("src").alias("v2"), "label")
            .agg(F.count("*").alias("c"))
            .select(F.col("v2").alias("v"), "label", "c")
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", "label")
        )
    return e0, sym, labels


@register("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 2007): each round every vertex adopts the
    MODE of its neighbours' labels, ties broken by minimum label —
    that deterministic tie-break plus a FIXED round count (3,
    unrolled) is what makes an otherwise order-sensitive heuristic
    bit-reproducible, so the oracle is the same three rounds as
    unrolled CTEs. Unlike connected components this keeps dense
    communities apart even when bridged by a single edge. Plan shape
    per round: one edge⋈label equi-join, a (vertex, label) count, and
    a per-vertex arg-max window — at 100 TB every stage is keyed on
    the vertex id so the hash partitioning is reused across all three
    rounds, and the window input is bounded by the vertex's DISTINCT
    neighbour labels (≤ degree), never the corpus. Same sparsified
    trade graph and ±(key+1) node encoding as
    graph_connected_components."""
    _, _, labels = _lpa_frames(spark, sf_dir)
    return labels.select(
        _node_id("v").alias("node_id"), _node_id("label").alias("community")
    )


@register(
    "warehouse_accumulating_snapshot",
    oracle="""
    SELECT o.o_orderkey,
           CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS placed_day,
           CAST(CAST(min(l.l_shipdate) AS DATE) AS VARCHAR) AS first_ship_day,
           CAST(CAST(max(l.l_shipdate) AS DATE) AS VARCHAR) AS last_ship_day,
           count(*) AS n_lines,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(min(l.l_shipdate) AS DATE)) AS BIGINT)
             AS days_to_first_ship
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 25 = 0
    GROUP BY o.o_orderkey, o.o_orderdate
    """,
)
def warehouse_accumulating_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact table (Kimball's third fact style,
    beside transaction facts and periodic snapshots): one row per
    pipeline entity carrying its MILESTONE timestamps and lags —
    order placed → first ship → last ship, with days-to-first-ship as
    the process-velocity measure. Built as conditional min/max
    aggregates over the line items folded onto the order grain: ONE
    shuffle on the natural key, partials carry a handful of
    timestamps per order regardless of line count. In a live
    warehouse this row is UPDATED as milestones land — the
    sink_merge_upsert / CDC plans are exactly that maintenance path;
    this query is its full-recompute (backfill) twin."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 25 == 0)
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("placed"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "placed")
        .agg(
            F.min("ship").alias("first_ship"),
            F.max("ship").alias("last_ship"),
            F.count("*").alias("n_lines"),
        )
        .select(
            "o_orderkey",
            F.col("placed").cast("string").alias("placed_day"),
            F.col("first_ship").cast("string").alias("first_ship_day"),
            F.col("last_ship").cast("string").alias("last_ship_day"),
            "n_lines",
            F.datediff("first_ship", "placed").cast("long").alias(
                "days_to_first_ship"
            ),
        )
    )


@register(
    "feature_standardize",
    oracle="""
    WITH x AS (
      SELECT vec_id, dim - 1 AS dim,
             CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS m
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
    ), stats AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS BIGINT) AS s,
             CAST(sum(m * m) AS BIGINT) AS ssq
      FROM x GROUP BY dim
    )
    SELECT x.vec_id, x.dim,
           round((x.m - CAST(s.s AS DOUBLE) / s.n)
                 / sqrt(CAST(s.n * s.ssq - s.s * s.s AS DOUBLE)
                        / (s.n * s.n)), 6) AS z
    FROM x JOIN stats s USING (dim)
    WHERE x.vec_id % 20 = 0
    """,
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding matrix —
    the fit+transform StandardScaler step every downstream model
    (logreg gates, k-means, PQ codebooks) assumes, distributed as: ONE
    posexplode scan → a |dims|-row moment aggregate (n, Σx, Σx²) →
    broadcast back onto the exploded values.

    Determinism discipline (SURVEY §5.4): values enter as exact
    round(x·10³) int64 milli-units (milli, not micro, on purpose: it
    keeps n·Σx² − (Σx)² below 2⁵³ so the single int→double cast is
    EXACT in both engines — DuckDB's HUGEINT→double double-rounds its
    two 64-bit halves and diverged 1 ulp from Java's BigDecimal in the
    micro-unit variant, caught live by verify); population variance is
    the all-integer (n·Σx² − (Σx)²)/n² with that one cast, sqrt is a
    correctly-rounded IEEE op, and z = (x − mean)/std is the same
    fixed parenthesization in both engines (milli-units cancel),
    rounded once. Past ~10¹⁰ rows/dim the numerator leaves the exact
    int64/double range — at that scale re-shard the moment aggregate
    (per-partition partials stay exact) before the final merge.
    Output filtered to every 20th vector to keep the compare frame
    small; the plan shape is corpus-wide."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("dim"),
        F.round(F.col("col") * 1_000).cast("long").alias("m"),
    )
    stats = x.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("m").cast("long").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("ssq"),
    )
    var_num = (
        F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    ).cast("double")
    z = (F.col("m") - F.col("s").cast("double") / F.col("n")) / F.sqrt(
        var_num / (F.col("n") * F.col("n"))
    )
    return (
        x.filter(F.col("vec_id") % 20 == 0)
        .join(F.broadcast(stats), "dim")
        .select("vec_id", "dim", F.round(z, 6).alias("z"))
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Chained-CTE peeling: round i keeps nodes whose degree within
    the round-(i-1) subgraph is >= k, then keeps edges with both
    endpoints surviving — the same unrolled rounds the Spark plan
    runs, so the engines agree even pre-convergence."""
    sql = """
    WITH e0 AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_suppkey < b.l_suppkey
       AND b.l_suppkey - a.l_suppkey <= 15
      WHERE a.l_orderkey % 23 = 0
    ), d0 AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    )"""
    prev = "d0"
    for i in range(1, _KCORE_ROUNDS + 1):
        sql += f""", n{i} AS (
      SELECT u AS node FROM {prev} GROUP BY u
      HAVING count(*) >= {_KCORE_K}
    ), d{i} AS (
      SELECT d.u, d.v FROM {prev} d
      JOIN n{i} x ON x.node = d.u JOIN n{i} y ON y.node = d.v
    )"""
        prev = f"d{i}"
    sql += f"""
    SELECT u AS node_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY u
    """
    return sql


@register("graph_k_core", oracle=_kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the co-supply graph by iterative
    peeling (Seidman '83; the Batagelj-Zaveršnik distributed variant):
    repeatedly drop nodes with degree < k, then edges touching them,
    until the fixpoint — the densest-region extractor behind community
    seeding, spam-graph trimming, and graph-sampling curricula.

    Unrolled to 4 synchronous rounds with the SAME rounds in the
    oracle CTEs (the graph_label_propagation contract: engines agree
    even pre-convergence; the fixture converges by round 3, pinned by
    test). Each round is one degree hash-agg plus two semi-joins on
    the node key — all hash-partitioned on the same key so the
    Exchange is reused across rounds, and the edge frame only ever
    SHRINKS (peeling is monotone). Each round is eagerly checkpointed
    and the round it replaces released, so no round replays rounds
    1..k-1 and the result reads only the last round's checkpoint."""
    # in-plan partition sizing: every shuffle below is an explicit
    # repartition(p, key), so a vanilla session's shuffle.partitions=200
    # never inflates the unrolled rounds with empty-task overhead
    p = max(spark.sparkContext.defaultParallelism, 4)
    d = _checkpoint_round(_co_supply_sym(spark, sf_dir).repartition(p, "u"), None)
    for _ in range(_KCORE_ROUNDS):
        # d is hash-partitioned by u ⇒ the degree agg and the first
        # semi-join reuse that Exchange; only the v-side semi-join
        # needs one p-way reshuffle per round
        keep = d.groupBy("u").agg(F.count("*").alias("deg")).filter(
            F.col("deg") >= _KCORE_K
        ).select(F.col("u").alias("node"))
        d = _checkpoint_round(
            d.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .repartition(p, "v")
            .join(
                keep.select(F.col("node").alias("v")).repartition(p, "v"),
                "v",
                "left_semi",
            )
            .select("u", "v")
            .repartition(p, "u"),
            d,
        )
    return d.groupBy("u").agg(F.count("*").cast("long").alias("core_degree")).select(
        F.col("u").alias("node_id"), "core_degree"
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_suppkey < b.l_suppkey
       AND b.l_suppkey - a.l_suppkey <= 15
      WHERE a.l_orderkey % 23 = 0
    ), deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)
      GROUP BY 1
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-supply graph — the first plot of
    every graph analysis (power-law check, hub detection, and the
    skew forecast that decides whether downstream joins need
    salting: a heavy-tailed histogram here predicts hot keys there).

    Two chained hash aggs: per-node degree (one shuffle of the
    doubled edge list on the node key — shared shape with
    graph_k_core round 0), then the |distinct degrees|-row histogram.
    All integers, no windows, no collect; at 100 TB the histogram is
    the cheapest possible whole-graph summary."""
    deg = (
        _co_supply_sym(spark, sf_dir)
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").cast("long").alias("n_nodes"))


@register(
    "agg_covariance_pairs",
    oracle="""
    WITH x AS (
      SELECT vec_id, dim - 1 AS dim,
             CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT) AS m
      FROM (SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
    ), pairs AS (
      SELECT a.dim AS d1, b.dim AS d2,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.m * b.m) AS BIGINT) AS sxy,
             CAST(sum(a.m) AS BIGINT) AS sx,
             CAST(sum(b.m) AS BIGINT) AS sy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      WHERE a.dim % 8 = 0 AND b.dim % 8 = 0
      GROUP BY 1, 2
    )
    SELECT d1, d2, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE) / (n * n) / 1000000, 6)
             AS cov
    FROM pairs
    """,
)
def agg_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance of embedding dimensions (the sampled
    upper-triangle of the covariance matrix) — the input to
    whitening/PCA and the redundant-dimension diagnostic every
    embedding pipeline eventually runs.

    Exactness: milli-unit int64 values (the feature_standardize
    bound: all moment sums and the n·Σxy − Σx·Σy numerator stay
    ≪2⁵³, so the single int→double cast is exact in both engines);
    population covariance is ONE rounded division chain. Plan: the
    dim-pair products come from a self-equi-join on vec_id over the
    PRE-FILTERED exploded frame (every 8th dim ⇒ 8×8 upper triangle
    = 36 pairs), so the join fan-out is |kept dims|² per vector, not
    |dims|²; the shuffle keys on vec_id once. At full 64² scale the
    right plan swaps the join for per-partition numpy outer-product
    partials in mapInPandas (documented; the dim² blowup is inherent
    to the statistic, not the engine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = (
        emb.select(
            "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("dim"),
            F.round(F.col("col") * 1_000).cast("long").alias("m"),
        )
        .filter(F.col("dim") % 8 == 0)
    )
    a = x.select(
        F.col("vec_id").alias("vid"), F.col("dim").alias("d1"), F.col("m").alias("m1")
    )
    b = x.select(
        F.col("vec_id").alias("vid"), F.col("dim").alias("d2"), F.col("m").alias("m2")
    )
    pairs = (
        a.join(b, "vid")
        .filter(F.col("d1") <= F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("m1") * F.col("m2")).cast("long").alias("sxy"),
            F.sum("m1").cast("long").alias("sx"),
            F.sum("m2").cast("long").alias("sy"),
        )
    )
    cov = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("n"))
        / 1_000_000
    )
    return pairs.select("d1", "d2", "n", F.round(cov, 6).alias("cov"))


_CC_INC_ORACLE = """
WITH RECURSIVE e0 AS (
  SELECT DISTINCT (o_custkey + 1) AS src, -(l_suppkey + 1) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 19 = 0 AND l_suppkey % 10 = o_custkey % 10
), e AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), reach(v, lab) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, r.lab FROM reach r JOIN e ON e.dst = r.v
)
SELECT CASE WHEN v > 0 THEN 'c' || CAST(v - 1 AS VARCHAR)
            ELSE 's' || CAST(-v - 1 AS VARCHAR) END AS node_id,
       CASE WHEN min(lab) > 0 THEN 'c' || CAST(min(lab) - 1 AS VARCHAR)
            ELSE 's' || CAST(-min(lab) - 1 AS VARCHAR) END AS component
FROM reach GROUP BY v
"""

_CC_INC_CUTOFF = "1997-01-01"


@register("graph_cc_incremental", oracle=_CC_INC_ORACLE)
def graph_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components — the daily-ingest shape of
    dedup clustering: yesterday's labels exist, today's crawl adds
    edges, and recomputing CC over the full corpus graph would pay
    O(all edges) for an O(delta) change. The classical contraction
    argument (same family as Kiveris et al. KDD'14): because every
    base component already carries its min label, the union graph's
    components are exactly the components of the CONTRACTED graph
    whose super-nodes are base labels and whose edges are the delta
    edges mapped through the base labeling — so the incremental step
    runs CC on a graph with O(|delta|) edges and ≤ 2·|delta| + new
    vertices, never on the base again.

    Here the trade-graph edges split on o_orderdate < 1997-01-01
    (base ≈ the first five TPC-H years) vs the rest (delta); base
    labels are computed in-plan only because the fixture stores none —
    in production they are yesterday's parquet. The ORACLE is the full
    recursive-CTE recompute over ALL edges: the hash match IS the
    proof that contract-then-merge equals a from-scratch CC (min-label
    composition: min over merged super-nodes = min over their member
    minima = the global component min; a new vertex smaller than every
    base min wins in both). Scale: two label joins keyed on vertex +
    one delta-sized CC; the base frame is touched once, map-side."""
    from ..operators.dedup import connected_components

    e_all = _trade_edges(spark, sf_dir)
    base_e = e_all.filter(F.col("d") < F.lit(_CC_INC_CUTOFF)).select(
        "src", "dst"
    ).distinct()
    delta_e = e_all.filter(F.col("d") >= F.lit(_CC_INC_CUTOFF)).select(
        "src", "dst"
    ).distinct()

    def verts_of(e):
        return (
            e.select(F.col("src").alias("v"))
            .unionByName(e.select(F.col("dst").alias("v")))
            .distinct()
        )

    base_labels = connected_components(
        verts_of(base_e), base_e, "v", "src", "dst"
    ).withColumnRenamed("cluster_rep", "blab")

    # contract delta edges through the base labeling (identity for
    # vertices the base never saw)
    bsrc = base_labels.select(
        F.col("v").alias("src"), F.col("blab").alias("slab")
    )
    bdst = base_labels.select(
        F.col("v").alias("dst"), F.col("blab").alias("dlab")
    )
    super_e = (
        delta_e.join(bsrc, "src", "left")
        .join(bdst, "dst", "left")
        .select(
            F.coalesce("slab", "src").alias("src"),
            F.coalesce("dlab", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    super_labels = connected_components(
        verts_of(super_e), super_e, "v", "src", "dst"
    ).withColumnRenamed("cluster_rep", "slab2")

    # compose: final(v) = super(base(v)) where defined, else base(v),
    # else v — over the union vertex set
    all_verts = verts_of(base_e).unionByName(verts_of(delta_e)).distinct()
    lab = (
        all_verts.join(base_labels, "v", "left")
        .withColumn("b", F.coalesce("blab", "v"))
        .join(
            super_labels.select(
                F.col("v").alias("b"), F.col("slab2")
            ),
            "b",
            "left",
        )
        .select("v", F.coalesce("slab2", "b").alias("lab"))
    )
    return lab.select(_node_id("v").alias("node_id"), _node_id("lab").alias("component"))


@register(
    "warehouse_table_history",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN (cents * 105) // 100 ELSE cents END
               AS cents
      FROM t WHERE NOT (k % 13 = 1 AND k % 7 <> 0)
      UNION ALL
      SELECT k + 600000000, cents FROM t WHERE k % 97 = 3
    )
    SELECT CAST(0 AS BIGINT) AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_key,
           CAST(max(k) AS BIGINT) AS max_key,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM t
    UNION ALL
    SELECT 1, CAST(count(*) AS BIGINT), CAST(min(k) AS BIGINT),
           CAST(max(k) AS BIGINT), CAST(sum(cents) AS BIGINT)
    FROM v1
    """,
)
def warehouse_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the versioned table (Delta's
    ``DESCRIBE HISTORY`` / Iceberg's ``snapshots`` metadata table):
    one audit row per snapshot with row count, key envelope, and the
    int64-cents balance — the reconciliation readout an ingest
    pipeline checks after every merge commit ("did the MERGE move the
    totals it should have?").

    Each version's stats aggregate over ONLY that manifest's file
    list (snapshot isolation makes old versions readable forever;
    shared files are scanned per version they appear in — at 100 TB a
    production variant reads the per-file row/min/max stats straight
    from the manifest entries, a metadata-only pass, and only the SUM
    needs the data files). The oracle recomputes both snapshots
    closed-form from the deterministic CDC delta that built v1 — so a
    MERGE that lost a row, double-applied an update, or leaked a
    delete into v0 fails the hash. Money stays int64 cents
    end-to-end."""
    from ..operators.table_format import current_version, read_snapshot

    d = _vt_build(spark, sf_dir)
    out = None
    for v in range(current_version(d) + 1):
        snap = read_snapshot(spark, d, version=v).agg(
            F.lit(v).cast("long").alias("version"),
            F.count("*").cast("long").alias("n_rows"),
            F.min("k").cast("long").alias("min_key"),
            F.max("k").cast("long").alias("max_key"),
            F.sum("cents").cast("long").alias("total_cents"),
        ).select("version", "n_rows", "min_key", "max_key", "total_cents")
        out = snap if out is None else out.unionByName(snap)
    return out


@register(
    "warehouse_vacuum",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN (cents * 105) // 100 ELSE cents END
               AS cents
      FROM t WHERE NOT (k % 13 = 1 AND k % 7 <> 0)
      UNION ALL
      SELECT k + 600000000, cents FROM t WHERE k % 97 = 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           TRUE AS vacuumed_any,
           TRUE AS v0_unreadable
    FROM v1
    """,
)
def warehouse_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / expire_snapshots for the versioned table — the
    storage-lifecycle op that bounds a copy-on-write table's physical
    footprint (Delta VACUUM, Iceberg expire_snapshots): data files
    unreferenced by the retention window's manifests are physically
    deleted, expired manifests removed. Runs against a COPY of the
    shared fixture table (vacuum is destructive; time-travel queries
    keep their v0).

    The emitted row is the post-vacuum latest snapshot's (count,
    int64-cents total) — closed-form recomputable from the
    deterministic CDC, so a vacuum that deleted a LIVE file (breaking
    v1) or retained nothing fails the hash — plus two deterministic
    booleans: files were actually removed (every merge rewrites ≥1
    file at the fixture's CDC density, so the v0-only set is
    non-empty) and v0 is no longer readable (its manifest is gone —
    the documented contract of vacuuming past retention). The whole
    op is METADATA-SIZED: manifest unions and directory listings,
    never a data-file read (operators/table_format.vacuum)."""
    from ..operators.table_format import clone_table, read_snapshot, vacuum

    src = _vt_build(spark, sf_dir)
    dst = src.rstrip("/") + "_vacuumed"
    # clone_table rebases the manifests' absolute paths — a bare
    # copytree leaves the clone reading (and vacuuming against) the
    # SOURCE's files (caught live by the exact-live-files test)
    clone_table(src, dst)
    removed_data, removed_manifests = vacuum(dst, keep_latest=1)
    try:
        read_snapshot(spark, dst, version=0)
        v0_unreadable = False
    except Exception:  # noqa: BLE001 - manifest gone = expected
        v0_unreadable = True
    return read_snapshot(spark, dst).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.lit(removed_data > 0 and removed_manifests > 0).alias(
            "vacuumed_any"
        ),
        F.lit(v0_unreadable).alias("v0_unreadable"),
    )


@register(
    "warehouse_compaction",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT k, cents FROM t
      UNION ALL
      SELECT k + 600000000, cents FROM t WHERE k % 97 = 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           TRUE AS files_reduced,
           TRUE AS content_identical,
           TRUE AS base_file_shared,
           TRUE AS envelopes_disjoint
    FROM v1
    """,
)
def warehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION (Delta OPTIMIZE / Iceberg
    rewrite_data_files) — the missing storage-maintenance op beside
    vacuum/deletion-vectors/history: streaming-style ingest commits
    append a fragmented tail of small files (every one costs a task +
    open + footer per scan FOREVER), and OPTIMIZE bin-packs them back
    to target size without touching the compacted base.

    The fixture reproduces the real fragmentation path: v0 = the
    orders projection as ONE large file; v1 = an INSERT-only merge
    (the k%97 CDC insert arm) fanned into ≤24 small files (inserts
    land beyond every file envelope, so the base file is untouched —
    the streaming-append shape). Compaction (operators/table_format.
    compact) then bin-packs files under 1,000 rows into ≥100-row bins,
    in min-key order so the packed files keep DISJOINT envelopes, and
    commits v2 = base file (path-SHARED, byte-identical) + packed
    files.

    Gate row (exact ints + measured booleans, the vacuum pattern):
    n_rows/total_cents of v2 are closed-form from the CDC; the
    booleans assert files_after < files_before, v2 ≡ v1 content
    (two-way anti-join, both directions zero), the base file carried
    by PATH into v2, and pairwise-disjoint packed envelopes (manifest
    metadata, no data read). At 100 TB: the decision pass is
    manifest-sized; rewrite cost is the small-file bytes only."""
    import shutil

    from ..operators.table_format import (
        compact,
        create_table,
        manifest_entries,
        merge_commit,
        read_snapshot,
    )

    d = _vt_dir(sf_dir).replace("versioned_orders", "compaction_orders")
    shutil.rmtree(d, ignore_errors=True)  # rebuild per run: compaction
    # commits a new version, so an idempotent cache would drift
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    create_table(spark, orders, d, "k", n_files=1)
    inserts = orders.filter(F.col("k") % 97 == 3).select(
        (F.col("k") + 600_000_000).alias("k"),
        F.col("cents"),
        F.lit("U").alias("op"),
    )
    merge_commit(spark, d, inserts, "k", n_files=24)
    base_paths = {e["path"] for e in manifest_entries(d, 0)}
    v1_entries = manifest_entries(d, 1)
    files_v1 = len(v1_entries)
    _, files_before, files_after, _ = compact(
        spark, d, "k", small_rows=1000, target_rows=100
    )
    v2 = read_snapshot(spark, d, version=2)
    v2_entries = manifest_entries(d, 2)
    packed = [e for e in v2_entries if e["path"] not in base_paths]
    packed.sort(key=lambda e: e["min"])
    envelopes_disjoint = all(
        packed[i]["max"] < packed[i + 1]["min"] for i in range(len(packed) - 1)
    )
    base_file_shared = base_paths <= {e["path"] for e in v2_entries}
    # content identity audited on the REWRITTEN scope only: the base
    # file is carried by path (byte identity needs no read), so the
    # two-way anti-join covers small-v1-files vs packed-v2-files —
    # at 100 TB that is fragment bytes, never table bytes
    v1_small = spark.read.parquet(
        *sorted(e["path"] for e in v1_entries if e["path"] not in base_paths)
    )
    v2_packed = spark.read.parquet(*sorted(e["path"] for e in packed))
    # both anti-directions counted in ONE job (they were two separate
    # driver round-trips; the union is still rewritten-scope-sized)
    missing = (
        v1_small.exceptAll(v2_packed)
        .unionAll(v2_packed.exceptAll(v1_small))
        .count()
    )
    return v2.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.lit(files_after < files_before and files_before == files_v1).alias(
            "files_reduced"
        ),
        F.lit(missing == 0).alias("content_identical"),
        F.lit(base_file_shared).alias("base_file_shared"),
        F.lit(envelopes_disjoint).alias("envelopes_disjoint"),
    )


# --- local clustering coefficient --------------------------------------------


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_orderkey % 23 = 0 AND b.l_suppkey - a.l_suppkey <= 15
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e)
      GROUP BY node
    ), t AS (
      SELECT x.s1 AS a, x.s2 AS b, y.s2 AS c
      FROM e x JOIN e y ON y.s1 = x.s2
               JOIN e z ON z.s1 = x.s1 AND z.s2 = y.s2
    ), tc AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT a AS node FROM t UNION ALL
            SELECT b FROM t UNION ALL
            SELECT c FROM t)
      GROUP BY node
    )
    SELECT d.node, d.degree,
           coalesce(tc.n_triangles, 0) AS n_triangles,
           CAST((2 * coalesce(tc.n_triangles, 0) * 1000000)
                // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_micro
    FROM deg d LEFT JOIN tc USING (node)
    WHERE d.degree >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient c(v) = 2·T(v) / (d(v)·(d(v)−1))
    over the graph_triangle_count co-supply graph — the
    community-structure readout (how close each node's neighborhood
    is to a clique) that separates hub-and-spoke link farms from
    genuine clusters in web-graph curation.

    Reuses the oriented-edge triangle kernel verbatim (edges stored
    once as lo<hi, each triangle found exactly once, join fan-out
    bounded by the lower endpoint's out-degree); degree comes from the
    both-directions union of the SAME deduped edge set, so T and d are
    consistent by construction. The coefficient never touches floats:
    (2·T·10⁶) DIV (d·(d−1)) is exact int64 end-to-end (Spark DIV and
    DuckDB // agree on non-negatives), degree-<2 nodes excluded by an
    integer predicate.

    Scale: identical cost envelope to graph_triangle_count —
    O(Σ d(v)²) hashed wedges, plain shuffled equi-joins, no broadcast
    of the edge set; the rollups reuse the node hash key."""
    # feeds degree + three triangle legs; without the persist the
    # lineitem self-join recomputes once per leg
    e = _co_supply_edges(spark, sf_dir).persist()
    deg = (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    x = e.select(F.col("s1").alias("ta"), F.col("s2").alias("tb"))
    y = e.select(F.col("s1").alias("ub"), F.col("s2").alias("tc"))
    z = e.select(F.col("s1").alias("va"), F.col("s2").alias("vc"))
    tri = (
        x.join(y, F.col("tb") == F.col("ub"))
        .join(
            z,
            (F.col("va") == F.col("ta")) & (F.col("vc") == F.col("tc")),
            "leftsemi",
        )
        .select("ta", "tb", "tc")
    )
    tc = (
        tri.select(F.col("ta").alias("node"))
        .unionAll(tri.select(F.col("tb").alias("node")))
        .unionAll(tri.select(F.col("tc").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    out = (
        deg.join(tc, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .filter(F.col("degree") >= 2)
    )
    return out.select(
        "node",
        "degree",
        "n_triangles",
        F.expr("CAST((2 * n_triangles * 1000000) DIV (degree * (degree - 1)) AS BIGINT)").alias(
            "cc_micro"
        ),
    )


# --- smoothed mean-target encoding -------------------------------------------

_TENC_M = 10  # pseudo-count mass pulled toward the global mean


@register(
    "feature_target_encode",
    oracle=f"""
    WITH fact AS (
      SELECT c.c_nationkey AS nation,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_c
      FROM fact GROUP BY nation
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS big_n,
             CAST(sum(cents) AS BIGINT) AS total_c
      FROM fact
    )
    SELECT nation, n,
           CAST(trunc(
             ((CAST(sum_c AS DOUBLE) * CAST(big_n AS DOUBLE)
               + CAST({_TENC_M} AS DOUBLE) * CAST(total_c AS DOUBLE))
              / (CAST(big_n AS DOUBLE)
                 * (CAST(n AS DOUBLE) + CAST({_TENC_M} AS DOUBLE))))
             * CAST(1000 AS DOUBLE)) AS BIGINT) AS enc_millicents
    FROM per, tot
    """,
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding (Micci-Barreca, SIGKDD Expl.
    2001) of customer nation against order total — THE high-cardinality
    categorical encoder of tabular feature pipelines: each category's
    code is its target mean shrunk toward the global mean by a
    pseudo-count m, so rare categories don't memorize their few labels
    (the leakage/overfit failure of raw per-category means).

    enc = (Σ_cat + m·μ_global)/(n_cat + m) is cleared of the inner
    μ_global division: (Σ_cat·N + m·Σ_total)/(N·(n_cat + m)). Both
    numerator products can pass 2⁶³ at 100 TB, so the four EXACT int64
    aggregates are combined in DOUBLE with one fixed parenthesization
    and emitted as TRUNCATED milli-cents (the boundary-free idiom).

    Scale: one fact join (orders ⋈ customer — broadcastable dim),
    one map-side-combined per-category agg + a 1-row totals frame
    attached via the unfoldable-key broadcast (never a BNLJ);
    O(categories) output."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    fact = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = fact.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_c"),
    )
    tot = fact.agg(
        F.count("*").cast("long").alias("big_n"),
        F.sum("cents").cast("long").alias("total_c"),
    )
    j = attach_scalar_frame(per, "nation", tot, "big_n")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m = F.lit(float(_TENC_M))
    enc = (d("sum_c") * d("big_n") + m * d("total_c")) / (
        d("big_n") * (d("n") + m)
    )
    return j.select(
        "nation",
        "n",
        (enc * F.lit(1000).cast("double")).cast("long").alias("enc_millicents"),
    )


@register(
    "feature_target_encode_oof",
    oracle=f"""
    WITH fact AS (
      SELECT c.c_nationkey AS nation, o.o_orderkey % 5 AS fold,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), pf AS (
      SELECT nation, fold, CAST(count(*) AS BIGINT) AS n_nf,
             CAST(sum(cents) AS BIGINT) AS sum_nf
      FROM fact GROUP BY nation, fold
    ), pn AS (
      SELECT nation, CAST(sum(n_nf) AS BIGINT) AS n_n,
             CAST(sum(sum_nf) AS BIGINT) AS sum_n
      FROM pf GROUP BY nation
    ), ft AS (
      SELECT fold, CAST(sum(n_nf) AS BIGINT) AS n_f,
             CAST(sum(sum_nf) AS BIGINT) AS sum_f
      FROM pf GROUP BY fold
    ), g AS (
      SELECT CAST(sum(n_nf) AS BIGINT) AS big_n,
             CAST(sum(sum_nf) AS BIGINT) AS total_c
      FROM pf
    )
    SELECT pf.nation, pf.fold,
           CAST(pn.n_n - pf.n_nf AS BIGINT) AS n_oof,
           CAST(trunc(
             ((CAST(pn.sum_n - pf.sum_nf AS DOUBLE)
                 * CAST(g.big_n - ft.n_f AS DOUBLE)
               + CAST({_TENC_M} AS DOUBLE)
                 * CAST(g.total_c - ft.sum_f AS DOUBLE))
              / (CAST(g.big_n - ft.n_f AS DOUBLE)
                 * (CAST(pn.n_n - pf.n_nf AS DOUBLE)
                    + CAST({_TENC_M} AS DOUBLE))))
             * CAST(1000 AS DOUBLE)) AS BIGINT) AS enc_oof_millicents
    FROM pf JOIN pn USING (nation) JOIN ft USING (fold), g
    """,
)
def feature_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-FOLD smoothed target encoding — the leakage-SAFE form of
    feature_target_encode (Micci-Barreca smoothing per fold): a
    training row in fold f gets its category's statistics computed
    from the OTHER k−1 folds only, so its own label never leaks into
    its own feature (the standard K-fold target-encoding discipline;
    plain target encoding memorizes labels of rare categories and
    overfits). Folds are the deterministic k % 5 assignment (the
    sample_kfold_assign rule), so both engines replay them exactly.

    Everything derives from ONE map-side-combined (nation, fold)
    aggregate of the fact join: nation totals, fold totals and the
    grand total are re-aggregates of that ≤|nations|·k-row frame, and
    the OOF statistics are SUBTRACTIONS (nation minus own fold,
    global minus own fold) — no second fact pass, no per-fold scans.
    The smoothed mean is cleared of the inner global-mean division
    exactly as feature_target_encode (one fixed DOUBLE
    parenthesization over exact int64 sums, truncated milli-cents).

    Scale: one broadcastable dim join + one fact aggregate; the OOF
    ladder is O(|nations|·k) rows of pure arithmetic. Output:
    (nation, fold, n_oof, enc_oof_millicents)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    fact = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_nationkey").alias("nation"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pf = fact.groupBy("nation", "fold").agg(
        F.count("*").cast("long").alias("n_nf"),
        F.sum("cents").cast("long").alias("sum_nf"),
    )
    pf = pf.persist()  # three re-aggregates of one ≤|nations|·k frame
    pn = pf.groupBy("nation").agg(
        F.sum("n_nf").cast("long").alias("n_n"),
        F.sum("sum_nf").cast("long").alias("sum_n"),
    )
    ft = pf.groupBy("fold").agg(
        F.sum("n_nf").cast("long").alias("n_f"),
        F.sum("sum_nf").cast("long").alias("sum_f"),
    )
    g = pf.agg(
        F.sum("n_nf").cast("long").alias("big_n"),
        F.sum("sum_nf").cast("long").alias("total_c"),
    )
    j = attach_scalar_frame(
        pf.join(F.broadcast(pn), "nation").join(F.broadcast(ft), "fold"),
        "nation",
        g,
        "big_n",
    )
    # int64 subtraction FIRST, then the double cast — the oracle's
    # CAST(a - b AS DOUBLE) shape, kept identical for bit parity
    ds = lambda a, b: (F.col(a) - F.col(b)).cast("double")  # noqa: E731
    m = F.lit(float(_TENC_M))
    enc = (
        ds("sum_n", "sum_nf") * ds("big_n", "n_f")
        + m * ds("total_c", "sum_f")
    ) / (ds("big_n", "n_f") * (ds("n_n", "n_nf") + m))
    return j.select(
        "nation",
        "fold",
        (F.col("n_n") - F.col("n_nf")).cast("long").alias("n_oof"),
        (enc * F.lit(1000).cast("double")).cast("long").alias(
            "enc_oof_millicents"
        ),
    )


# --- robust (median/IQR) feature scaling --------------------------------------


@register(
    "feature_robust_scale",
    oracle="""
    WITH x AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), s AS (
      SELECT quantile_cont(cents, 0.25) AS p25,
             quantile_cont(cents, 0.50) AS med,
             quantile_cont(cents, 0.75) AS p75
      FROM x
    )
    SELECT o_orderkey,
           CAST(trunc((cents - med) * CAST(1000000 AS DOUBLE) / (p75 - p25))
                AS BIGINT) AS robust_z_micro
    FROM x, s
    WHERE o_orderkey % 20 = 0
    """,
)
def feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust scaling (x − median)/IQR of order totals — the
    outlier-proof sibling of feature_standardize (RobustScaler):
    median and quartiles don't move when a whale order lands, so the
    scaled feature distribution is stable under the heavy right tail
    money columns always have.

    Determinism: values enter as exact int64 cents; the three R-7
    quartiles over integers are k + frac·(k'−k) with frac ∈ {0, ¼, ½,
    ¾} — exactly representable doubles both engines produce
    bit-identically (same interpolation definition, fixture cents ≪
    2⁵³). (cents − med) and the ×10⁶ stay exact; the single division
    is the same IEEE op; output is TRUNCATED micro-units (trunc of
    identical doubles can never disagree; round can — SURVEY §5.4).

    Scale: one exact-percentile aggregate (multiset buffer — the
    documented swap to approx_percentile past memory bounds, same plan
    shape) → 1-row frame broadcast back onto the fact via the
    unfoldable-key equi-join (never a BNLJ). Output thinned to every
    20th key to keep the compare frame small; the plan is corpus-wide."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    s = x.agg(
        F.percentile("cents", 0.25).alias("p25"),
        F.percentile("cents", 0.50).alias("med"),
        F.percentile("cents", 0.75).alias("p75"),
    )
    j = attach_scalar_frame(x.filter(F.col("o_orderkey") % 20 == 0), "cents", s, "med")
    z = (
        (F.col("cents") - F.col("med"))
        * F.lit(1_000_000).cast("double")
        / (F.col("p75") - F.col("p25"))
    )
    return j.select("o_orderkey", z.cast("long").alias("robust_z_micro"))


# --- declarative data-quality constraint audit --------------------------------


@register(
    "warehouse_constraint_audit",
    oracle="""
    SELECT 'orders_pk_unique' AS constraint_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(count(*) AS BIGINT),
           CAST(count(*) FILTER (l_discount IS NULL
                                 OR l_discount < 0 OR l_discount > 1)
                AS BIGINT)
    FROM lineitem
    """,
)
def warehouse_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint audit — the dbt-test /
    Deequ-style contract every warehouse load runs before publishing a
    table: primary-key uniqueness, referential integrity, and value-
    range checks, each emitted as (constraint, n_checked, n_violations)
    so a gate can threshold on violation counts.

    Scale: PK uniqueness is count − approx-free DISTINCT on the key
    (one map-side-combined agg); each FK check is a LEFT join counting
    unmatched probes (broadcastable dim for customer; the lineitem →
    orders check shuffles both sides on the key exactly once); range
    checks are scan-local count_if. Five independent skinny branches
    unioned into an O(#constraints)-row report — no branch ever
    materializes violating ROWS (that's the debug query, not the
    gate)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    pk = orders.agg(
        F.count("*").cast("long").alias("n_checked"),
        (F.count("*") - F.count_distinct("o_orderkey"))
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("orders_pk_unique").alias("constraint_name"), "*")

    fk_cust = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == cust.c_custkey,
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n_checked"),
            F.count_if(F.col("c_custkey").isNull())
            .cast("long")
            .alias("n_violations"),
        )
        .select(F.lit("orders_fk_customer").alias("constraint_name"), "*")
    )

    fk_ord = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            li.l_orderkey == orders.o_orderkey,
            "left",
        )
        .agg(
            F.count("*").cast("long").alias("n_checked"),
            F.count_if(F.col("o_orderkey").isNull())
            .cast("long")
            .alias("n_violations"),
        )
        .select(F.lit("lineitem_fk_orders").alias("constraint_name"), "*")
    )

    rng_price = orders.agg(
        F.count("*").cast("long").alias("n_checked"),
        F.count_if(
            F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
        )
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("orders_totalprice_positive").alias("constraint_name"), "*")

    rng_disc = li.agg(
        F.count("*").cast("long").alias("n_checked"),
        F.count_if(
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1)
        )
        .cast("long")
        .alias("n_violations"),
    ).select(F.lit("lineitem_discount_range").alias("constraint_name"), "*")

    return pk.unionByName(fk_cust).unionByName(fk_ord).unionByName(
        rng_price
    ).unionByName(rng_disc)


# --- community-quality and degree-mixing scalars -------------------------------


@register(
    "graph_modularity",
    oracle=_LPA_CTE + """
    , deg AS (
      SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM e0
    ), intra AS (
      SELECT CAST(count(*) AS BIGINT) AS e_in
      FROM e0
      JOIN l3 lu ON e0.src = lu.v
      JOIN l3 lv ON e0.dst = lv.v
      WHERE lu.label = lv.label
    ), dc AS (
      SELECT l3.label, CAST(sum(deg.d) AS BIGINT) AS d_c
      FROM l3 JOIN deg ON l3.v = deg.v GROUP BY 1
    ), dc2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_comm,
             CAST(sum(d_c * d_c) AS BIGINT) AS dc2_sum
      FROM dc
    )
    SELECT m.m, dc2.n_comm, intra.e_in, dc2.dc2_sum,
           CAST(trunc(
             (CAST(4 * m.m * intra.e_in - dc2.dc2_sum AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / CAST(4 * m.m * m.m AS DOUBLE)) AS BIGINT) AS q_micro
    FROM m, intra, dc2
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity Q of the label-propagation partition —
    the community-QUALITY scalar that closes the detection loop
    (detect with graph_label_propagation, SCORE with Q; Q ≈ 0 means
    the partition is no better than random edge placement):
    Q = Σ_c [e_c/m − (d_c/2m)²] = (4m·Σe_c − Σd_c²) / 4m².

    Runs the identical 3-round LPA as graph_label_propagation
    (shared `_lpa_frames` / `_LPA_CTE` — one Spark plan, one oracle
    CTE chain, no drift possible), then THREE integer aggregates:
    m (undirected edges), Σe_c (intra-community edges — one
    two-sided label join over e0), Σd_c² (per-community degree
    mass). The output division is the fixed-parenthesization double
    (num·10⁶)/4m² TRUNCATED (num may be negative; both engines
    truncate toward zero). Exact-int64 bound: 4m·e_in needs
    m < 1.5·10⁹ edges — past that, emit the three aggregates raw and
    divide downstream.

    Scale: LPA's per-round cost dominates; the scoring adds two
    broadcast-sized label joins keyed on the vertex id (reusing LPA's
    partitioning) and three 1-row rollups."""
    e0, sym, labels = _lpa_frames(spark, sf_dir)
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    m = e0.agg(F.count("*").cast("long").alias("m"))
    lu = labels.select(F.col("v").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("v").alias("w"), F.col("label").alias("lv"))
    intra = (
        e0.join(lu, e0.src == lu.u)
        .join(lv, e0.dst == lv.w)
        .filter(F.col("lu") == F.col("lv"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    dc2 = (
        labels.join(deg, "v")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("d_c"))
        .agg(
            F.count("*").cast("long").alias("n_comm"),
            F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("dc2_sum"),
        )
    )
    j = attach_scalar_frame(
        attach_scalar_frame(m, "m", intra, "e_in"), "m", dc2, "n_comm"
    )
    num = (4 * F.col("m") * F.col("e_in") - F.col("dc2_sum")).cast("double")
    den = (4 * F.col("m") * F.col("m")).cast("double")
    return j.select(
        "m",
        "n_comm",
        "e_in",
        "dc2_sum",
        ((num * F.lit(1_000_000).cast("double")) / den)
        .cast("long")
        .alias("q_micro"),
    )


@register(
    "graph_assortativity",
    oracle=_LPA_CTE + """
    , deg AS (
      SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1
    ), pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON e.src = du.v JOIN deg dv ON e.dst = dv.v
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS big_m,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs
    )
    SELECT big_m, sxy, sx, sxx,
           CAST(trunc(
             (CAST(big_m * sxy - sx * sy AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / (sqrt(CAST(big_m * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(big_m * syy - sy * sy AS DOUBLE))))
             AS BIGINT) AS r_micro
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the
    Pearson correlation of (deg(u), deg(v)) over directed edge
    endpoints — negative r is the hub-to-leaf signature of
    web/bipartite-trade graphs, positive r the peer-to-peer signature
    of social graphs; THE one-number mixing diagnostic for a crawl
    snapshot.

    Five exact int64 moments over the edge list (M, Σxy, Σx, Σx²,
    and the mirrored y versions — kept separate rather than assuming
    symmetry so the formula is the general directed one); r =
    (M·Σxy − ΣxΣy)/(√(M·Σx²−(Σx)²)·√(M·Σy²−(Σy)²)) as ONE fixed
    parenthesization — sqrt·sqrt, never sqrt(a·b), because a·b
    overflows int64 first and the factored form is the identical
    IEEE expression in both engines — TRUNCATED to micro-units (the
    numerator may be negative; both engines truncate toward zero).
    Exact bound: M·Σxy needs Σ d_u·d_v < 2⁶³/M — re-quantize degrees
    to a coarser unit past ~10⁹ edges (documented
    feature_standardize discipline).

    Scale: one degree agg keyed on vertex + two broadcast-or-shuffle
    hash joins keyed on edge endpoints + ONE map-side-combined 1-row
    moment rollup."""
    _, sym, _ = _lpa_frames(spark, sf_dir)
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("v").alias("w"), F.col("d").alias("y"))
    pairs = sym.join(du, sym.src == du.u).join(dv, sym.dst == dv.w)
    s = pairs.agg(
        F.count("*").cast("long").alias("big_m"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (F.col("big_m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("big_m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("big_m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "big_m",
        "sxy",
        "sx",
        "sxx",
        ((num * F.lit(1_000_000).cast("double")) / den)
        .cast("long")
        .alias("r_micro"),
    )


@register(
    "warehouse_orphan_file_audit",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN (cents * 105) // 100 ELSE cents END
               AS cents
      FROM t WHERE NOT (k % 13 = 1 AND k % 7 <> 0)
      UNION ALL
      SELECT k + 600000000, cents FROM t WHERE k % 97 = 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(1 AS BIGINT) AS n_orphans,
           TRUE AS found_planted
    FROM v1
    """,
)
def warehouse_orphan_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file audit — Delta FSCK / Iceberg remove_orphan_files:
    find data files on disk that NO retained manifest references
    (the residue of a writer dying between data write and manifest
    commit; the two-phase protocol makes the manifest atomic but
    can't un-write data files). The audit PLANTS one orphan in a
    clone (a parquet written into the data dir with no commit — the
    exact crash artifact), then asserts the janitor view finds
    exactly it AND that snapshot reads are unaffected (orphans are
    invisible to readers by construction: reads go through the
    manifest).

    Everything is METADATA-SIZED (manifest union + directory
    listing, zero data reads). The emitted row is the v1 snapshot
    closed-form (count, int64-cents — proving reads ignore the
    orphan) plus the orphan count and the invariance boolean.

    Scale: O(#files) driver-side set arithmetic — the same class as
    vacuum/time-travel; at real scale this is the table format's
    metadata layer, not a data job."""
    from ..operators.table_format import (
        clone_table,
        orphan_files,
        read_snapshot,
    )

    import os

    src = _vt_build(spark, sf_dir)
    dst = src + "_orphanaudit"
    if not os.path.isdir(dst):
        clone_table(src, dst)
    # plant the crash artifact idempotently: one uncommitted parquet
    data_dirs = sorted(d for d in os.listdir(dst) if d.startswith("data-"))
    planted = f"{dst}/{data_dirs[0]}/part-orphan-00000.parquet"
    if not os.path.exists(planted):
        spark.range(1).select(
            F.lit(-1).cast("long").alias("k"),
            F.lit(0).cast("long").alias("cents"),
        ).coalesce(1).write.mode("overwrite").parquet(planted + ".tmpdir")
        os.replace(
            next(
                f"{planted}.tmpdir/{f}"
                for f in os.listdir(planted + ".tmpdir")
                if f.endswith(".parquet")
            ),
            planted,
        )
        import shutil

        # drop the _SUCCESS/.crc staging residue so the data dir holds
        # exactly the committed parts + the one planted orphan
        shutil.rmtree(planted + ".tmpdir", ignore_errors=True)
    orphans = orphan_files(dst)
    # n_rows/total_cents are computed AFTER planting: a hash match on
    # them against the closed-form oracle IS the reads-unaffected proof
    snap = read_snapshot(spark, dst)
    return snap.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(
        "n_rows",
        "total_cents",
        F.lit(len(orphans)).cast("long").alias("n_orphans"),
        F.lit(os.path.abspath(planted) in set(orphans)).alias("found_planted"),
    )


# --- in-engine OLS via normal equations ------------------------------------------


@register(
    "feature_ols_normal_equations",
    oracle="""
    WITH base AS (
      SELECT date_trunc('month', l_shipdate) AS ship_month,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 100 AS y
      FROM lineitem
    ), m AS (
      SELECT ship_month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1,
             CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
             CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
             CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
             CAST(sum(x1 * y) AS BIGINT) AS sx1y,
             CAST(sum(x2 * y) AS BIGINT) AS sx2y
      FROM base GROUP BY 1
    ), s AS (
      SELECT ship_month, n,
             n * sx1x1 - sx1 * sx1 AS s11,
             n * sx2x2 - sx2 * sx2 AS s22,
             n * sx1x2 - sx1 * sx2 AS s12,
             n * sx1y - sx1 * sy AS s1y,
             n * sx2y - sx2 * sy AS s2y
      FROM m
    )
    SELECT ship_month, n,
           CAST(trunc(
             (CAST(s22 AS DOUBLE) * CAST(s1y AS DOUBLE)
              - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
             * CAST(1000000 AS DOUBLE)
             / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
                - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)))
             AS BIGINT) AS beta_qty_micro,
           CAST(trunc(
             (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)
              - CAST(s12 AS DOUBLE) * CAST(s1y AS DOUBLE))
             * CAST(1000000 AS DOUBLE)
             / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
                - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)))
             AS BIGINT) AS beta_disc_micro
    FROM s
    WHERE n > 2 AND s11 > 0 AND s22 > 0
      AND CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
          - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) > 0
    """,
)
def feature_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS fitted ENTIRELY in the engine via the normal
    equations — the workhorse of feature-pipeline sanity fits (price ~
    quantity + discount per ship-month here): nine exact int64 moment
    sums per group, then Cramer's rule on the centered 2×2 system.
    This is the map-side-combinable formulation of regression — the
    moments are partial-aggregatable, so a 100 TB fit is ONE hash agg
    (no gradient passes, no driver matrix).

    Determinism: every moment is an exact int64 (y in whole dollars
    via cents DIV 100, x1 = quantity ≤ 50, x2 = discount percent ≤
    10; n·Σx1y stays under 2⁶³ through sf1.0 per-month masses); the
    centered S-terms are exact int64; only the final Cramer ratio
    moves to double — identical CAST/multiply/divide parenthesization
    in both engines, TRUNCATED to micro-units. Degenerate guards are
    integer predicates (s11/s22 > 0) plus the determinant sign on the
    identical double both engines compute.

    Scale: one map-side-combined moment agg (9 partials/group) → an
    O(months) frame; no shuffle after the group agg; O(months) rows
    out."""
    base = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").alias("ship_month"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.expr(
            "CAST(round(l_extendedprice * 100, 0) AS BIGINT) div 100"
        ).alias("y"),
    )
    m = base.groupBy("ship_month").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sx2y"),
    )
    s = m.select(
        "ship_month",
        "n",
        (F.col("n") * F.col("sx1x1") - F.col("sx1") * F.col("sx1")).alias("s11"),
        (F.col("n") * F.col("sx2x2") - F.col("sx2") * F.col("sx2")).alias("s22"),
        (F.col("n") * F.col("sx1x2") - F.col("sx1") * F.col("sx2")).alias("s12"),
        (F.col("n") * F.col("sx1y") - F.col("sx1") * F.col("sy")).alias("s1y"),
        (F.col("n") * F.col("sx2y") - F.col("sx2") * F.col("sy")).alias("s2y"),
    )
    det = F.expr(
        "CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)"
        " - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)"
    )
    return (
        s.filter((F.col("n") > 2) & (F.col("s11") > 0) & (F.col("s22") > 0))
        .filter(det > 0)
        .select(
            "ship_month",
            "n",
            F.expr(
                "CAST((CAST(s22 AS DOUBLE) * CAST(s1y AS DOUBLE)"
                " - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))"
                " * CAST(1000000 AS DOUBLE)"
                " / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)"
                " - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS BIGINT)"
            ).alias("beta_qty_micro"),
            F.expr(
                "CAST((CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)"
                " - CAST(s12 AS DOUBLE) * CAST(s1y AS DOUBLE))"
                " * CAST(1000000 AS DOUBLE)"
                " / (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)"
                " - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS BIGINT)"
            ).alias("beta_disc_micro"),
        )
    )


# --- Katz centrality (attenuated walk counts, all-integer) ------------------------

_KATZ_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT CAST(o_custkey + 1 AS BIGINT) AS src,
                  CAST(-(l_suppkey + 1) AS BIGINT) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), e AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), x1 AS (
  SELECT nd.node,
         1000000 + COALESCE(c.s, 0) // 8 AS x
  FROM nodes nd LEFT JOIN (
    SELECT dst AS node, CAST(count(*) AS BIGINT) * 1000000 AS s
    FROM e GROUP BY dst
  ) c ON nd.node = c.node
), x2 AS (
  SELECT nd.node, 1000000 + COALESCE(c.s, 0) // 8 AS x
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(x.x) AS BIGINT) AS s
    FROM e JOIN x1 x ON e.src = x.node GROUP BY e.dst
  ) c ON nd.node = c.node
), x3 AS (
  SELECT nd.node, 1000000 + COALESCE(c.s, 0) // 8 AS x
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(x.x) AS BIGINT) AS s
    FROM e JOIN x2 x ON e.src = x.node GROUP BY e.dst
  ) c ON nd.node = c.node
)
SELECT CASE WHEN node > 0 THEN 'c' || CAST(node - 1 AS VARCHAR)
            ELSE 's' || CAST(-node - 1 AS VARCHAR) END AS node_id,
       x AS katz_micro
FROM x3 ORDER BY x DESC, node LIMIT 25
"""


@register("graph_katz_centrality", oracle=_KATZ_ORACLE)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality, 3 fixed attenuated-walk rounds (α = 1/8,
    β = 1): x_{k+1}(v) = β + α·Σ_{u∈N(v)} x_k(u) over the undirected
    customer↔supplier trade graph — the walk-counting cousin of
    PageRank (Katz 1953) that rewards reachability mass instead of
    normalized shares, and the centrality of choice when edge counts
    (not stochastic shares) carry meaning.

    ALL INTEGER, unlike the rounded-double PageRank row: scores live
    in micro-units, each round is one exact int64 neighbor-sum and
    one floor DIV 8 (α as an integer divisor) — bit-equal across
    engines by construction, no rounding idiom needed. Round 1's
    neighbor sum collapses to degree·10⁶ in both engines. Int64
    headroom: x₃ ≤ 10⁶·(1 + E/8 + (E/8)² …) — a 10⁹-edge hub chain
    would need β rescaling, documented here, irrelevant at fixture
    masses.

    Scale: the same ``_power_rounds`` loop and vertex-cut layout as
    graph_pagerank — ONE p-way hash partitioning on the node id serves
    every round's join+agg, each round is checkpointed and the one it
    replaces released, and the persisted edge and node frames are
    released before return. Only (node, score) pairs shuffle, never
    fact rows; O(nodes) frame, top-25 out."""
    p = max(spark.sparkContext.defaultParallelism, 4)
    edges = _sym_trade_edges(spark, sf_dir, p)
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    x = _power_rounds(
        edges,
        nodes,
        nodes.select("node", F.lit(1_000_000).cast("long").alias("score")),
        F.sum("score").cast("long"),
        (F.lit(1_000_000) + F.expr("coalesce(s, 0L) div 8")).cast("long"),
        p,
    )
    for df in (edges, nodes):
        df.unpersist()
    return (
        x.orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(25)
        .select(_node_id("node").alias("node_id"), F.col("score").alias("katz_micro"))
    )


# --- HITS hubs & authorities ----------------------------------------------------


_HITS_ORACLE = """
WITH e AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                  CAST(l_suppkey AS BIGINT) AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), a1r AS (
  SELECT s, CAST(count(*) AS BIGINT) * 1000000 AS a FROM e GROUP BY s
), a1 AS (
  SELECT s, a * 1000000 // (SELECT CAST(sum(a) AS BIGINT) FROM a1r) AS a
  FROM a1r
), h1r AS (
  SELECT e.c, CAST(sum(a1.a) AS BIGINT) AS h
  FROM e JOIN a1 ON e.s = a1.s GROUP BY e.c
), h1 AS (
  SELECT c, h * 1000000 // (SELECT CAST(sum(h) AS BIGINT) FROM h1r) AS h
  FROM h1r
), a2r AS (
  SELECT e.s, CAST(sum(h1.h) AS BIGINT) AS a
  FROM e JOIN h1 ON e.c = h1.c GROUP BY e.s
), a2 AS (
  SELECT s, a * 1000000 // (SELECT CAST(sum(a) AS BIGINT) FROM a2r) AS a
  FROM a2r
)
SELECT 's' || CAST(s AS VARCHAR) AS node_id, a AS auth_micro
FROM a2 ORDER BY a DESC, s LIMIT 25
"""


@register("graph_hits", oracle=_HITS_ORACLE)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM'99) over the
    DIRECTED bipartite customer→supplier trade graph — the dual-score
    companion to graph_pagerank/graph_katz_centrality: customers are
    pure hubs, suppliers pure authorities, and the mutual
    reinforcement (a ← Σ_in h, h ← Σ_out a) ranks suppliers by the
    endorsement mass of WELL-CONNECTED buyers, not raw degree.
    Fixed-iteration power method: a₁ (degree seed) → h₁ → a₂, each
    followed by an integer mass normalization.

    ALL INTEGER: scores in micro-units, each half-round one exact
    int64 neighbor-sum; normalization x ← x·10⁶ DIV Σx (Σx is a 1-row
    agg broadcast back via attach_scalar_frame — never a driver
    collect) keeps every score ≤ 10⁶ so the next sum is bounded by
    deg·10⁶, not by growth across rounds. All operands non-negative →
    DIV engine-identical. Int64 bound: pre-normalization mass ·10⁶
    needs E < 9·10⁶ distinct edges at micro quantization; past that
    seed in milli.

    Scale: the edge list is derived once and checkpointed; each
    half-round joins it against the O(nodes) score frame — BROADCAST
    here (suppliers/customers are dimension-sized: ≤150k rows at sf1,
    so edges never shuffle and only map-side agg partials leave the
    scan; measured: 14.0M → 5.8M records at sf0.1 when the hint
    replaced the SMJ that AQE picked blind on the stats-less
    checkpoint scan). Past ~10⁷ nodes drop the two F.broadcast hints
    and the SAME plan degrades gracefully to the partitioned O(E)-per-
    round equi-join every other graph row uses. Each half-round's raw
    aggregate is eagerly checkpointed and the one it replaces
    released; the edge checkpoint goes once the last half-round is
    materialized, so the result reads only that half-round's
    checkpoint. Top-25 out."""
    p = max(spark.sparkContext.defaultParallelism, 4)
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .repartition(p, "o_orderkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .repartition(p, "l_orderkey")
    )
    # EAGER localCheckpoint, not persist(): each half-round compiles
    # its own plan, and a lazily-persisted edge frame re-derives the
    # orders⋈lineitem join once per plan BRANCH before the cache first
    # materializes (measured at sf1.0: 225M shuffle records ≈ 3× the
    # derivation). No repartition after dropDuplicates — a checkpoint
    # reads back as UnknownPartitioning, so a pre-checkpoint exchange
    # can never be reused downstream anyway.
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
        .dropDuplicates()
        .localCheckpoint()
    )

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        """raw MUST be checkpointed: the normalization consumes it
        twice (row branch + Σ branch) — on an unmaterialized frame
        that doubles every upstream edge join (measured live on this
        op: the sf0.1 shuffle halved when the checkpoint moved from
        the normed frame to the raw aggregate)."""
        tot = raw.agg(F.sum(col).cast("long").alias("__t"))
        return attach_scalar_frame(raw, col, tot, "__t").select(
            raw.columns[0],
            F.expr(f"{col} * 1000000 div __t").cast("long").alias(col),
        )

    # a1: degree seed (h0 ≡ 1e6 for every customer). Each half-round
    # checkpoints its RAW O(nodes) aggregate — the edge join then
    # executes exactly once per half-round (inside the checkpoint
    # materialization), and the two _norm branches replay only the
    # skinny checkpointed frame.
    raw = _checkpoint_round(
        edges.groupBy("s").agg((F.count("*") * 1_000_000).cast("long").alias("a")),
        None,
    )
    raw = _checkpoint_round(
        edges.join(F.broadcast(_norm(raw, "a")), "s")
        .groupBy("c")
        .agg(F.sum("a").cast("long").alias("h")),
        raw,
    )
    raw = _checkpoint_round(
        edges.join(F.broadcast(_norm(raw, "h")), "c")
        .groupBy("s")
        .agg(F.sum("h").cast("long").alias("a")),
        raw,
    )
    _drop_checkpoint(edges)
    a = _norm(raw, "a")
    return (
        a.orderBy(F.col("a").desc(), F.col("s").asc())
        .limit(25)
        .select(
            F.concat(F.lit("s"), F.col("s").cast("string")).alias("node_id"),
            F.col("a").alias("auth_micro"),
        )
    )


# --- named refs: tags & branches over the table format ------------------------------


@register(
    "warehouse_branch_refs",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT CASE WHEN k % 7 = 0 THEN (cents * 105) // 100
                  ELSE cents END AS cents
      FROM t WHERE NOT (k % 13 = 1 AND k % 7 <> 0)
      UNION ALL
      SELECT cents FROM t WHERE k % 97 = 3
    ), exp AS (
      SELECT CASE WHEN k % 11 = 0 THEN (cents * 110) // 100
                  ELSE cents END AS cents
      FROM t
    )
    SELECT * FROM (
      SELECT 'exp' AS ref, 'branch' AS kind,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM exp
      UNION ALL
      SELECT 'main', 'head', CAST(count(*) AS BIGINT),
             CAST(sum(cents) AS BIGINT) FROM v1
      UNION ALL
      SELECT 'v0-audit', 'tag', CAST(count(*) AS BIGINT),
             CAST(sum(cents) AS BIGINT) FROM t
    )
    """,
)
def warehouse_branch_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAMED REFS on the table format — Iceberg tags and branches
    (`ALTER TABLE ... CREATE TAG / CREATE BRANCH`), the
    write-audit-publish workflow in miniature: a TAG pins snapshot v0
    for audit, a BRANCH forks v0 and takes an experimental commit
    (+10% on keys ≡0 mod 11) WITHOUT touching main, and main's head
    keeps the production CDC merge. All three refs are then read back
    AFTER a ``vacuum(keep_latest=1)`` — the row triple proves the
    three retention/isolation properties at once: (a) branch writes
    never leak into main (main row still hashes to the closed-form v1
    state), (b) branch content is exactly base+delta, (c) the tag
    survives a vacuum whose retention window would otherwise expire
    v0 (vacuum unions every ref's reachable files into the live set
    and never removes a tagged manifest —
    operators/table_format.ref_live_paths). Runs against a CLONE of
    the shared fixture table (vacuum is destructive; the clone's
    manifests are path-rebased).

    Scale: refs are METADATA (one json pointer file, atomic rename
    commit); a branch commit writes only its own data files; reads at
    a ref are ordinary manifest-driven scans — nothing here grows
    with table size except the branch's own delta rewrite."""
    from ..operators.table_format import (
        branch_commit,
        clone_table,
        read_ref,
        read_snapshot,
        set_tag,
        table_refs,
        vacuum,
    )

    src = _vt_build(spark, sf_dir)
    dst = src.rstrip("/") + "_refs"
    clone_table(src, dst)
    set_tag(dst, "v0-audit", 0)
    if "exp" not in table_refs(dst):
        base = read_snapshot(spark, dst, version=0)
        exp = base.select(
            "k",
            F.when(
                F.col("k") % 11 == 0, F.expr("(cents * 110) div 100")
            )
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        branch_commit(spark, dst, "exp", exp, "k", from_version=0)
    vacuum(dst, keep_latest=1)

    def stats(df: DataFrame, ref: str, kind: str) -> DataFrame:
        return df.agg(
            F.lit(ref).alias("ref"),
            F.lit(kind).alias("kind"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("total_cents"),
        ).select("ref", "kind", "n_rows", "total_cents")

    return (
        stats(read_ref(spark, dst, "exp"), "exp", "branch")
        .unionByName(stats(read_snapshot(spark, dst), "main", "head"))
        .unionByName(stats(read_ref(spark, dst, "v0-audit"), "v0-audit", "tag"))
    )


# --- distributed PCA step 1: exact Gramian + moment sums (round 11) -----------

_PCA_D = 64  # embedding dimensionality (fixture schema)


@register(
    "feature_pca_gramian",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ), gram AS (
      SELECT p.i - 1 AS i, p.j - 1 AS j,
             CAST(sum(q.v[p.i] * q.v[p.j]) AS BIGINT) AS val
      FROM q, (SELECT a.i, b.j
               FROM generate_series(1, {_PCA_D}) a(i),
                    generate_series(1, {_PCA_D}) b(j)
               WHERE a.i <= b.j) p
      GROUP BY 1, 2
    ), sums AS (
      SELECT g.i - 1 AS i, CAST(-1 AS BIGINT) AS j,
             CAST(sum(q.v[g.i]) AS BIGINT) AS val
      FROM q, generate_series(1, {_PCA_D}) g(i) GROUP BY 1
    ), cnt AS (
      SELECT CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,
             CAST(count(*) AS BIGINT) AS val
      FROM q
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, val FROM gram
    UNION ALL SELECT * FROM sums
    UNION ALL SELECT * FROM cnt
    """,
)
def feature_pca_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, step 1 — the EXACT d*d Gramian X'X plus the
    coordinate sums and row count over the embedding matrix: with
    these three, covariance = (G - s*s'/n)/(n-1) and the d*d eigen
    solve is O(d^3) DRIVER work on bounded model state — precisely how
    Spark MLlib itself splits PCA (treeAggregate a local BLAS
    syrk/Gramian per partition, eigen-decompose the d*d result
    locally). The distributed part is THIS query; nothing downstream
    touches the data again.

    Exactness: coordinates quantize to micro-int64 JVM-SIDE
    (F.round HALF_UP == DuckDB round, the established parity) BEFORE
    the kernel, so every partition's numpy X'X is integer arithmetic
    and the merged Gramian is bit-exact (|coord| <= 6e5 micro =>
    per-pair products < 4e11; int64 holds ~2e7 rows — past that the
    partials upgrade to python-int/decimal, noted). Output rows:
    (i, j, val) for i <= j upper-triangle Gramian entries, (i, -1)
    coordinate sums, (-1, -1) the row count.

    Scale: the kernel is mapInPandas — each partition emits ONE
    (d(d+1)/2 + d + 1)-row partial no matter how many vectors it
    holds, so the shuffle is O(partitions * d^2) and the reduce is a
    tiny (i, j) sum agg: the canonical map-side-combine shape, zero
    data-proportional movement."""
    import numpy as np
    import pandas as pd

    d = _PCA_D
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * 1_000_000).cast("long"),
        ).alias("q")
    )

    def gram_partial(batches):
        g = np.zeros((d, d), dtype=np.int64)
        s = np.zeros(d, dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["q"].to_list(), dtype=np.int64)
            g += x.T @ x
            s += x.sum(axis=0)
            n += len(x)
        iu = np.triu_indices(d)
        yield pd.concat(
            [
                pd.DataFrame(
                    {
                        "i": iu[0].astype("int64"),
                        "j": iu[1].astype("int64"),
                        "val": g[iu],
                    }
                ),
                pd.DataFrame(
                    {
                        "i": np.arange(d, dtype="int64"),
                        "j": np.full(d, -1, dtype="int64"),
                        "val": s,
                    }
                ),
                pd.DataFrame({"i": [-1], "j": [-1], "val": [n]}),
            ]
        )

    partials = emb.mapInPandas(gram_partial, schema="i long, j long, val long")
    return partials.groupBy("i", "j").agg(F.sum("val").cast("long").alias("val"))


# --- weight-of-evidence encoding (round 12) ----------------------------------


@register(
    "feature_woe_encoding",
    oracle="""
    WITH cell AS (
      SELECT source,
             CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS pos_n,
             CAST(count(*) FILTER (lang <> 'en') AS BIGINT) AS neg_n
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(pos_n) AS BIGINT) AS pos_t,
             CAST(sum(neg_n) AS BIGINT) AS neg_t,
             CAST(count(*) AS BIGINT) AS n_cat
      FROM cell
    ), woe AS (
      SELECT c.source, c.pos_n, c.neg_n,
             CAST(floor(ln(
               (CAST((2*c.pos_n + 1) AS DOUBLE) * (2*t.neg_t + t.n_cat))
               / (CAST((2*c.neg_n + 1) AS DOUBLE) * (2*t.pos_t + t.n_cat))
             ) * 1000000) AS BIGINT) AS woe_micro,
             CAST((c.pos_n * 1000000 // t.pos_t
                   - c.neg_n * 1000000 // t.neg_t) AS BIGINT) AS share_diff_micro
      FROM cell c, tot t
    )
    SELECT source, pos_n, neg_n, woe_micro,
           round(CAST(woe_micro AS DOUBLE) / 1000000, 6) AS woe,
           CAST(
             CASE WHEN share_diff_micro * woe_micro >= 0
                  THEN share_diff_micro * woe_micro // 1000000
                  ELSE -((-share_diff_micro * woe_micro) // 1000000)
             END AS BIGINT) AS iv_term_micro
    FROM woe
    """,
)
def feature_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence categorical encoding + information value —
    the credit-scoring / risk-modeling standard (Siddiqi 2006) and the
    leakage-safer cousin of target mean encoding: each category's code
    is ln(P(cat|pos)/P(cat|neg)), and the per-category IV term
    (pos_share − neg_share)·WoE ranks features by predictive power.
    Category = documents.source, outcome = (lang = 'en').

    Determinism: the Laplace-0.5-smoothed odds ratio is cleared to ONE
    exact int64 rational — (2·pos_c+1)(2·neg_T+C) / (2·neg_c+1)(2·pos_T+C)
    — so both engines evaluate ln on the SAME double quotient, and the
    result is floor-quantized to micro before anything sums over it
    (the eval_log_loss ln discipline). The IV term is pure integer
    arithmetic on micro units with explicit toward-zero division
    (Spark's int div truncates toward zero, DuckDB's // floors — the
    CASE reconciles negative products). Plan: one scan, a
    |categories|-row cell aggregate with map-side-combined partials,
    the 1-row totals attached via the unfoldable-key scalar frame —
    O(|categories|) output at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("source").agg(
        F.count_if(F.col("lang") == "en").cast("long").alias("pos_n"),
        F.count_if(F.col("lang") != "en").cast("long").alias("neg_n"),
    )
    tot = cell.agg(
        F.sum("pos_n").cast("long").alias("pos_t"),
        F.sum("neg_n").cast("long").alias("neg_t"),
        F.count("*").cast("long").alias("n_cat"),
    )
    with_t = attach_scalar_frame(cell, "source", tot, "pos_t")
    num = (2 * F.col("pos_n") + 1).cast("double") * (
        2 * F.col("neg_t") + F.col("n_cat")
    )
    den = (2 * F.col("neg_n") + 1).cast("double") * (
        2 * F.col("pos_t") + F.col("n_cat")
    )
    woe_micro = F.floor(F.log(num / den) * 1_000_000).cast("long")
    share_diff = (
        F.expr("pos_n * 1000000 div pos_t") - F.expr("neg_n * 1000000 div neg_t")
    ).cast("long")
    return (
        with_t.withColumn("woe_micro", woe_micro)
        .withColumn("share_diff_micro", share_diff)
        .select(
            "source",
            "pos_n",
            "neg_n",
            "woe_micro",
            F.round(F.col("woe_micro").cast("double") / 1_000_000, 6).alias(
                "woe"
            ),
            F.expr(
                "CAST(CASE WHEN share_diff_micro * woe_micro >= 0 "
                "THEN share_diff_micro * woe_micro div 1000000 "
                "ELSE -((-share_diff_micro * woe_micro) div 1000000) "
                "END AS BIGINT)"
            ).alias("iv_term_micro"),
        )
    )


# --- personalized PageRank (round 12) -----------------------------------------

_PPR_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst,
                  o_custkey AS ck
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), e AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM e
), seeds AS (
  SELECT DISTINCT 'c' || CAST(ck AS VARCHAR) AS node FROM e0
  WHERE ck % 100 = 0
), deg AS (
  SELECT src AS node, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src
), ns AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds
), r0 AS (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS rank
  FROM nodes nd LEFT JOIN seeds s ON nd.node = s.node, ns
), r1 AS (
  SELECT nd.node,
         CASE WHEN sd.node IS NOT NULL THEN 0.15 / ns.n ELSE 0.0 END
           + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd
  LEFT JOIN seeds sd ON nd.node = sd.node
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
    WHERE r.rank <> 0
    GROUP BY e.dst
  ) c ON nd.node = c.node, ns
), r2 AS (
  SELECT nd.node,
         CASE WHEN sd.node IS NOT NULL THEN 0.15 / ns.n ELSE 0.0 END
           + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd
  LEFT JOIN seeds sd ON nd.node = sd.node
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
    WHERE r.rank <> 0
    GROUP BY e.dst
  ) c ON nd.node = c.node, ns
), r3 AS (
  SELECT nd.node,
         CASE WHEN sd.node IS NOT NULL THEN 0.15 / ns.n ELSE 0.0 END
           + 0.85 * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd
  LEFT JOIN seeds sd ON nd.node = sd.node
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.outdeg) AS s
    FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.node
    WHERE r.rank <> 0
    GROUP BY e.dst
  ) c ON nd.node = c.node, ns
)
SELECT node AS node_id, round(rank, 8) AS rank
FROM r3 WHERE round(rank, 8) > 0
ORDER BY round(rank, 8) DESC, node LIMIT 25
"""


@register("graph_personalized_pagerank", oracle=_PPR_ORACLE)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (3 unrolled rounds, d=0.85) over the same
    customer<->supplier trade graph as graph_pagerank, with the restart
    mass concentrated on a SEED set (customers with custkey % 100 == 0)
    instead of spread uniformly — the recommendation / trust-propagation
    workhorse ("rank suppliers from THESE customers' point of view";
    Jeh & Widom WWW'03). The same ``_power_rounds`` loop and persisted
    frames as graph_pagerank, all released before return; the only
    deltas are the sparse restart vector (a broadcast-joined seed
    flag) and a sparse r0 — rank mass stays on the seeds'
    neighborhoods, so early rounds shuffle only reached-node
    contributions (the WHERE rank <> 0 pruning both engines apply).
    Ranks round to 8dp, zero-mass nodes drop, top-25 by (rounded
    rank, node id)."""
    p = max(spark.sparkContext.defaultParallelism, 4)
    edges = _sym_trade_edges(spark, sf_dir, p)
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("double").alias("outdeg")
    )
    edges_deg = (
        edges.join(deg, edges.src == deg.node)
        .select("src", "dst", "outdeg")
        .persist()
    )
    seeds = (
        nodes.filter((F.col("node") > 0) & ((F.col("node") - 1) % 100 == 0))
        .select(F.col("node").alias("seed"))
        .persist()
    )
    ns = float(seeds.count())
    if ns == 0:
        out = spark.createDataFrame([], "node_id string, rank double")
    else:
        flagged = nodes.join(
            F.broadcast(seeds), nodes.node == seeds.seed, "left"
        ).select("node", F.col("seed").isNotNull().alias("is_seed"))
        ranks = _power_rounds(
            edges_deg,
            flagged,
            flagged.select(
                "node",
                F.when(F.col("is_seed"), F.lit(1.0 / ns))
                .otherwise(F.lit(0.0))
                .alias("score"),
            ),
            F.sum(F.col("score") / F.col("outdeg")),
            F.when(F.col("is_seed"), F.lit(0.15 / ns)).otherwise(F.lit(0.0))
            + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0)),
            p,
        )
        out = (
            ranks.withColumn("r8", F.round("score", 8))
            .filter(F.col("r8") > 0)
            .select(_node_id("node").alias("node_id"), F.col("r8").alias("rank"))
            .orderBy(F.desc("rank"), F.asc("node_id"))
            .limit(25)
        )
    for df in (edges, nodes, edges_deg, seeds):
        df.unpersist()
    return out


# --- Adamic–Adar link prediction ----------------------------------------------

_AA_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  WHERE a.l_orderkey % 23 = 0 AND b.l_suppkey - a.l_suppkey <= 15
), e AS (
  SELECT s1 AS u, s2 AS v FROM e0 UNION ALL SELECT s2, s1 FROM e0
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
), terms AS (
  SELECT u, CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
           AS t_micro
  FROM deg WHERE d >= 2
), wedges AS (
  SELECT x.u AS a, y.u AS b, x.v AS w
  FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
), scored AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(t.t_micro) AS BIGINT) AS aa_micro
  FROM wedges JOIN terms t ON t.u = w
  GROUP BY a, b HAVING count(*) >= 3
)
SELECT a, b, n_common, aa_micro,
       round(CAST(aa_micro AS DOUBLE) / 1000000, 6) AS adamic_adar
FROM scored
"""


@register("graph_adamic_adar", oracle=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link-prediction score, AA(a,b) = Σ_{w∈N(a)∩N(b)}
    1/ln(deg(w)) (Adamic & Adar, Social Networks'03) — the
    degree-discounted refinement of graph_jaccard_neighbors: a shared
    RARE neighbor is stronger evidence of a future link than a shared
    hub. Same banded co-supply graph, same wedge-counting plan
    (one self equi-join on the wedge center, Θ(Σ d(v)²) candidates,
    the ≥3-support floor killing the weak-pair tail pre-aggregation).

    Determinism: each wedge center contributes floor(1e6 / ln(d_w)) —
    the per-NODE term is floor-quantized ONCE (a |nodes|-row frame
    broadcast onto the wedge stream), so AA is an exact int64 sum in
    both engines and the display value is one rounded division. Wedge
    centers always have degree ≥ 2 (they neighbor both a and b), so
    ln > 0 unconditionally."""
    e = _co_supply_sym(spark, sf_dir).persist()
    terms = (
        e.groupBy("u")
        .agg(F.count("*").cast("long").alias("d"))
        # degree-1 nodes can never be wedge centers (a center neighbors
        # both a and b), and ln(1) = 0 would divide by zero under ANSI
        # mode — drop them before the term division (both engines)
        .filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("w_node"),
            F.floor(F.lit(1_000_000.0) / F.log(F.col("d").cast("double")))
            .cast("long")
            .alias("t_micro"),
        )
    )
    x = e.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = e.select(F.col("u").alias("b"), F.col("v").alias("w2"))
    scored = (
        x.join(y, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
        .join(F.broadcast(terms), F.col("w") == F.col("w_node"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum("t_micro").cast("long").alias("aa_micro"),
        )
        .filter(F.col("n_common") >= 3)
    )
    return scored.select(
        "a",
        "b",
        "n_common",
        "aa_micro",
        F.round(F.col("aa_micro").cast("double") / 1_000_000, 6).alias(
            "adamic_adar"
        ),
    )


# --- merge-on-read deletion vectors (round 12) ---------------------------------


def _dv_dir(sf_dir: str) -> str:
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/mrnej_cache/{key}/dv_orders"


def _dv_build(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently build the deletion-vector table: `base/` = orders
    as 8 position-stamped files (file_id = k % 8, pos = row_number
    within the file at write time — the explicit form of the implicit
    row index real DV formats address), `dv/` = the deletion vector,
    (file_id, pos) pairs for keys ≡ 1 mod 13, derived by READING base
    and written WITHOUT touching any base file — that non-rewrite is
    merge-on-read's entire value at 100 TB (a delete of 0.1 % of rows
    costs a position file, not a rewrite of every affected gigabyte).
    tests/test_r12_ops.py asserts the base file set is byte-identical
    across the DV commit. Returns the table dir."""
    import os

    d = _dv_dir(sf_dir)
    base, dv = f"{d}/base", f"{d}/dv"
    if not os.path.exists(base):
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("o_orderkey") % 8).alias("file_id"),
        )
        w = Window.partitionBy("file_id").orderBy("k")
        orders.withColumn("pos", F.row_number().over(w).cast("long")).write.mode(
            "overwrite"
        ).partitionBy("file_id").parquet(base)
    if not os.path.exists(dv):
        spark.read.parquet(base).filter(F.col("k") % 13 == 1).select(
            "file_id", "pos"
        ).write.mode("overwrite").parquet(dv)
    return d


@register(
    "warehouse_deletion_vectors",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderkey % 13 <> 1
    GROUP BY o_orderstatus
    """,
)
def warehouse_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (the Delta/Iceberg v2
    "position delete" mechanism): the delete commit writes ONLY a
    (file_id, position) vector file — zero base-file rewrites (asserted
    byte-identical in the pytest) — and every read applies the vector
    as a per-file anti-join before anything else sees the rows. This
    is the other half of the ACID-emulation axis: sink_merge_upsert /
    scan_snapshot_* prove COPY-ON-WRITE (rewrite files, cheap reads);
    this row proves MERGE-ON-READ (cheap deletes, reads pay the
    anti-join until compaction — sink_compact_small_files is the
    compaction path that would fold the DV back in).

    Scale: the anti-join keys on (file_id, pos) — both sides arrive
    partitioned by file_id (the base's own layout), so the DV join is
    file-local co-located work, never a corpus-wide shuffle; the DV
    side is deleted-row-count sized. Output: post-delete per-status
    rowcount + int64 cents, hash-checked against DuckDB applying the
    same predicate to the raw table."""
    d = _dv_build(spark, sf_dir)
    base = spark.read.parquet(f"{d}/base")
    dv = spark.read.parquet(f"{d}/dv")
    live = base.join(dv, ["file_id", "pos"], "left_anti")
    return live.groupBy(F.col("status").alias("o_orderstatus")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    )


# --- composed row #7: warehouse MOR lifecycle (round 13) -----------------------


def _mor_dv2_dir(sf_dir: str) -> str:
    # the position deletes address the versioned table's files by path,
    # so they are cached under that table's layout-numbered name
    return f"{_vt_dir(sf_dir)}_mor_dv2"


def _mor_stamped_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1 snapshot of the versioned table with per-file row
    positions — (path, pos) is the address a position-delete file
    stores. Positions come from Spark's hidden ``_metadata.row_index``
    column (the ACTUAL implicit row index Delta/Iceberg position
    deletes address, stable because committed files are immutable):
    scan-attached metadata, ZERO shuffle — the first cut stamped
    positions with a row_number window partitioned by path, which
    exchanged the whole snapshot (708k records at sf0.1) just to
    recompute what the reader already knows."""
    from ..operators.table_format import manifest_entries

    d = _vt_build(spark, sf_dir)
    paths = [e["path"] for e in manifest_entries(d, 1)]
    return spark.read.parquet(*paths).select(
        "*",
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.row_index").cast("long").alias("pos"),
    )


def _mor_build_dv2(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently commit a merge-on-read DELETE on TOP of the v1
    copy-on-write snapshot: keys ≡ 5 mod 11 leave the table as a
    (path, pos) position file ONLY — no v1 data file is rewritten
    (asserted byte-identical in tests/test_r13_ops.py). Returns the
    DV dir."""
    import os

    dvp = _mor_dv2_dir(sf_dir)
    if not os.path.exists(dvp):
        _mor_stamped_v1(spark, sf_dir).filter(F.col("k") % 11 == 5).select(
            "path", "pos"
        ).write.mode("overwrite").parquet(dvp)
    return dvp


@register(
    "pipeline_warehouse_mor_lifecycle",
    oracle="""
    WITH t AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT k,
             CASE WHEN k % 7 = 0 THEN (cents * 105) // 100
                  ELSE cents END AS cents
      FROM t WHERE NOT (k % 13 = 1 AND k % 7 <> 0)
      UNION ALL
      SELECT k + 600000000 AS k, cents FROM t WHERE k % 97 = 3
    )
    SELECT 'v0_write' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM t
    UNION ALL
    SELECT 'v1_cow_merge', CAST(count(*) AS BIGINT),
           CAST(sum(cents) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 'v2_mor_delete', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(cents), 0) AS BIGINT)
    FROM v1 WHERE k % 11 <> 5
    UNION ALL
    SELECT 'v2_deleted_rows', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(cents), 0) AS BIGINT)
    FROM v1 WHERE k % 11 = 5
    """,
)
def pipeline_warehouse_mor_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composed row #7 (VERDICT r12 item 6) — the full storage-
    maintenance lifecycle end to end on ONE table: (1) v0 WRITE
    (create_table, 8 manifest-listed files with key envelopes), (2) a
    copy-on-write MERGE commit producing v1 (updates +5 % on keys ≡ 0
    mod 7, deletes of keys ≡ 1 mod 13, inserts at k+6e8 — the
    sink_versioned_merge commit, file-sharing manifests), (3) a
    MERGE-ON-READ position-delete commit on TOP of v1 (keys ≡ 5 mod
    11 → a (path, pos) deletion-vector file, zero v1 rewrites — the
    warehouse_deletion_vectors mechanism), then (4) the three reads a
    lakehouse audit runs: time-travel to v0, the v1 post-merge state,
    and the CURRENT state = v1 ⟕anti DV — plus the deleted-row
    accounting (the v1→v2 change feed). Output: one exact int64
    (n_rows, cents) row per lifecycle stage; the oracle recomputes all
    four states relationally from raw orders.

    Scale: v0 and v1 are each ONE snapshot scan; the v2/current and
    deleted arms share a SINGLE scan (one left join against the
    deleted-count-sized DV, classified by hit in the same aggregate —
    never two passes). The two 1-row stage frames cross-join into the
    scoreboard (census-listed scalar attach) and the four stage rows
    expand IN-ROW via explode, no join node. The DV anti-join keys on
    (path, pos): both sides are file-local, so at 100 TB the read tax
    is per-file co-located work until compaction folds the DV in."""
    from ..operators.table_format import read_snapshot

    d = _vt_build(spark, sf_dir)
    dvp = _mor_build_dv2(spark, sf_dir)
    dv = spark.read.parquet(dvp).withColumn("hit", F.lit(1))
    v0 = read_snapshot(spark, d, version=0).agg(
        F.count("*").cast("long").alias("v0_n"),
        F.sum("cents").cast("long").alias("v0_c"),
    )
    marked = _mor_stamped_v1(spark, sf_dir).join(dv, ["path", "pos"], "left")
    live = F.col("hit").isNull()
    per = marked.agg(
        F.count("*").cast("long").alias("v1_n"),
        F.sum("cents").cast("long").alias("v1_c"),
        F.count_if(live).cast("long").alias("v2_n"),
        F.coalesce(F.sum(F.when(live, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("v2_c"),
        F.count_if(~live).cast("long").alias("dv_n"),
        F.coalesce(F.sum(F.when(~live, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("dv_c"),
    )
    row = v0.crossJoin(per)  # 1-row x 1-row scalar attach (census-listed)
    stage = lambda nm, n, c: F.struct(  # noqa: E731 — stage-row literal
        F.lit(nm).alias("stage"),
        F.col(n).alias("n_rows"),
        F.col(c).alias("cents"),
    )
    return row.select(
        F.explode(
            F.array(
                stage("v0_write", "v0_n", "v0_c"),
                stage("v1_cow_merge", "v1_n", "v1_c"),
                stage("v2_mor_delete", "v2_n", "v2_c"),
                stage("v2_deleted_rows", "dv_n", "dv_c"),
            )
        ).alias("s")
    ).select("s.stage", "s.n_rows", "s.cents")


# --- equal-frequency quantile binning (round 13) -------------------------------


@register(
    "feature_quantile_binning",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS grp,
             CAST(round(l_quantity, 0) AS BIGINT) AS qty,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY round(l_quantity, 0)) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ), b AS (
      SELECT grp,
             max(CASE WHEN rn = (n * 25 + 99) // 100 THEN qty END) AS q25,
             max(CASE WHEN rn = (n * 50 + 99) // 100 THEN qty END) AS q50,
             max(CASE WHEN rn = (n * 75 + 99) // 100 THEN qty END) AS q75
      FROM v GROUP BY grp
    ), assigned AS (
      SELECT v.grp,
             CAST(CASE WHEN qty <= q25 THEN 0
                       WHEN qty <= q50 THEN 1
                       WHEN qty <= q75 THEN 2
                       ELSE 3 END AS BIGINT) AS bin_no,
             qty
      FROM v JOIN b ON v.grp = b.grp
    )
    SELECT grp, bin_no,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(qty) AS BIGINT) AS qty_min,
           CAST(max(qty) AS BIGINT) AS qty_max,
           CAST(sum(qty) AS BIGINT) AS qty_sum
    FROM assigned GROUP BY grp, bin_no
    """,
)
def feature_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-FREQUENCY binning (quartile discretization) per group —
    the counterpart of feature_bucketize's equal-WIDTH histogram and
    the standard monotone-feature discretizer (each bin holds ~25 % of
    the group's rows regardless of the value distribution). The naive
    form is ntile() over a global sort; the scalable two-pass form
    used here: (1) bin BOUNDARIES from the PERCENTILE_DISC rank
    arithmetic — rn = ceil(p·n) as pure integers ((n·pct+99) DIV 100),
    one partitioned window sort per group, the agg_percentile_disc
    discipline — collapsed to one (q25,q50,q75) row per group;
    (2) assignment is a BROADCAST join of those group-few boundary
    rows back over the scan plus three integer comparisons. Ties at a
    boundary all take the lower bin (v <= q), so assignment is a pure
    value function — deterministic in both engines, no rank reuse.

    100 TB: pass 1 is the one per-group sort exchange (the same cost
    as any exact percentile); pass 2 is scan + broadcast, zero
    shuffle beyond the final 8-row aggregate. Bin counts are ~n/4
    ± tie mass, never resorted."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity", 0).cast("long").alias("qty"),
    )
    w = Window.partitionBy("grp").orderBy("qty")
    ranked = li.select(
        "grp",
        "qty",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    bounds = ranked.groupBy("grp").agg(
        F.max(
            F.when(F.expr("rn = (n * 25 + 99) div 100"), F.col("qty"))
        ).alias("q25"),
        F.max(
            F.when(F.expr("rn = (n * 50 + 99) div 100"), F.col("qty"))
        ).alias("q50"),
        F.max(
            F.when(F.expr("rn = (n * 75 + 99) div 100"), F.col("qty"))
        ).alias("q75"),
    )
    assigned = li.join(F.broadcast(bounds), "grp").select(
        "grp",
        F.when(F.col("qty") <= F.col("q25"), F.lit(0))
        .when(F.col("qty") <= F.col("q50"), F.lit(1))
        .when(F.col("qty") <= F.col("q75"), F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
        .alias("bin_no"),
        "qty",
    )
    return assigned.groupBy("grp", "bin_no").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("qty").cast("long").alias("qty_min"),
        F.max("qty").cast("long").alias("qty_max"),
        F.sum("qty").cast("long").alias("qty_sum"),
    )
