"""Deduplication operators (SURVEY.md §2.9, north-star).

Structurally these REUSE the reference's core trick — turning an
all-pairs problem into an equi-join on a derived bucketing key
[OR11 §4] — with the bucket key being an LSH hash:

- exact dedup: content hash → groupBy (one shuffle)
- MinHash LSH:  shingle → minhash signature → band buckets →
  equi-join on band → exact-Jaccard residual verify
- SimHash:      fingerprint → pigeonhole band buckets → equi-join →
  exact Hamming residual (bands chosen so recall is EXACT, not
  probabilistic: d ≤ 3 differing bits over 4 bands forces ≥1
  identical band)

At 100 TB: every step is a bounded-replication shuffle (×bands on the
signature, which is tiny vs. the document payload — signatures are
computed first and documents joined back only for verified pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_expr, simhash_frame

__all__ = [
    "dedup_exact",
    "decontaminate",
    "minhash_signatures",
    "minhash_near_dup_pairs",
    "minhash_incremental_pairs",
    "blocked_self_pairs",
    "connected_components",
    "simhash_near_dup_pairs",
]


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative of each distinct text.
    Hash-groupBy on a 256-bit digest: one shuffle on the digest, never
    on the (much larger) payload; deterministic keeper."""
    return (
        df.withColumn("__h", F.sha2(F.col(text_col), 256))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("__h")
    )




def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perms: int = 32, seed: int = 42
) -> DataFrame:
    """(id, shingles, mh: array<long>[num_perms]) — the MinHash
    signature. Permutation p is an INDEPENDENT seeded string hash:
    mhₚ = min over shingles of xxhash64(lit(seedₚ), shingle) — 64-bit,
    uniform, genuinely independent across permutations, so per-perm
    agreement is an unbiased Broder estimator of Jaccard.

    HISTORY (r13 bug, found by the cross-scale sf0.1 oracle sweep):
    the first implementation hashed each shingle ONCE to a 32-bit
    value and used the affine family x ↦ (aₚ·x + bₚ) mod M61 as the
    permutation (≈5× cheaper). That map is NOT minwise over a domain
    2²⁹× smaller than its modulus: with aₚ < 2³⁰, small 32-bit hashes
    get small images under EVERY permutation (a·x+b never wraps), so
    whichever document shingle had the globally smallest raw hash won
    the min in most permutations — measured 7/32 agreement on a
    TRUE-J=0.92 pair (expected 29/32), i.e. the banding silently
    dropped real near-dups whose duplicate structure wasn't exact.
    A dual-half affine ((a·x₁+b·x₂+c) mod M61 over two 30-bit halves)
    simulates no better (mean |est−J| 0.22 vs 0.05 for seeded
    hashing): one int64 multiply cannot wrap enough to randomize
    order. Perf recovery: each shingle STRING is hashed once to int64,
    and the per-permutation hash is the seeded xxhash64 of that LONG —
    a full-avalanche rehash (unlike the affine map) at fixed 8-byte
    input cost, so the signature build stays ~string-hash-once cheap
    while agreement ≈ J holds (same 0.05 simulated estimator error as
    direct per-perm string hashing; string-level collisions add
    P ≈ n²/2⁶⁴, negligible)."""
    sh = df.select(F.col(id_col), shingles_expr(text_col).alias("shingles"))
    hashed = sh.withColumn(
        "__hs", F.transform("shingles", lambda s: F.xxhash64(s))
    )

    def perm_hash(p: int):
        # NOTE: a closure factory, NOT `lambda x, p=p: ...` —
        # PySpark counts every lambda parameter (defaults included)
        # when building the JVM higher-order function, so extra
        # captured params either error out or silently bind the
        # element-index argument.
        return lambda x: F.xxhash64(F.lit(seed * 1_000_003 + p), x)

    mh = F.array(
        *[
            F.array_min(F.transform("__hs", perm_hash(p)))
            for p in range(num_perms)
        ]
    )
    return hashed.withColumn("mh", mh).drop("__hs")


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perms: int = 32,
    rows_per_band: int = 2,
    salt_hot: int = 0,
    hot_bucket_min: int = 256,
) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id, jaccard ≥ threshold).

    banding: num_perms/rows_per_band bands of rows_per_band minhashes;
    a pair becomes a candidate iff some band agrees — P(candidate) =
    1-(1-J^r)^b ≈ 0.99 at J=0.5 and ≈ 1-3e-12 at J=0.9 for r=2,b=16,
    so vs. a brute-force oracle the miss probability is negligible.
    Candidates are then verified with EXACT shingle Jaccard
    (|∩|/|∪| of distinct shingles — integer ratio, bit-exact across
    engines). Output: (a_id, b_id, jaccard).

    ``salt_hot`` (opt-in, r12): power-law corpora put one hot cluster
    of m near-identical texts into the SAME (band, key) bucket in
    every band, and the self-join then emits C(m, 2) pairs from ONE
    sort-merge task — an OUTPUT skew AQE's skew-join split cannot see
    (its trigger reads input partition bytes; the hot bucket's input
    is small — measured in tools/dedup_skew.py). With ``salt_hot = s``,
    buckets holding > ``hot_bucket_min`` rows are block-decomposed:
    the probe side keeps one deterministic salt u = pmod(hash(id), s),
    the build side replicates hot rows to all s salts, and the join
    key grows to (band, key, salt) — every a<b pair still matches
    EXACTLY once (at the a-row's salt), so the pair set is unchanged
    (tests/test_llm_ops.py asserts set equality), while the hot
    bucket's max task drops from m² to m²/s pair tests. Hot-key
    detection is one wordcount-shape count over the banded frame;
    the hot set is duplicate-cluster-sized, hence broadcastable."""
    bands = num_perms // rows_per_band
    sig = minhash_signatures(df, id_col, text_col, num_perms).cache()
    raw = banded_candidates_raw(
        sig, id_col, rows_per_band, bands, salt_hot, hot_bucket_min
    )
    cand = (
        raw.select("a_id", "b_id")
        .distinct()  # a pair may collide in several bands
    )

    a_sh = sig.select(F.col(id_col).alias("a_id"), F.col("shingles").alias("a_sh"))
    b_sh = sig.select(F.col(id_col).alias("b_id"), F.col("shingles").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a_sh, "a_id")
        .join(b_sh, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def banded_candidates_raw(
    sig: DataFrame,
    id_col: str,
    rows_per_band: int,
    bands: int,
    salt_hot: int = 0,
    hot_bucket_min: int = 256,
) -> DataFrame:
    """The banded LSH candidate self-join BEFORE the distinct —
    (a_id, b_id) with a_id < b_id, one row per colliding band. Split
    out of minhash_near_dup_pairs so tools/dedup_skew.py measures the
    EXACT production join shape (including the opt-in hot-bucket salt
    decomposition documented there)."""

    def banded(side: str) -> DataFrame:
        key = F.concat_ws(
            ",",
            F.transform(
                F.slice("mh", F.col("__band") * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return (
            sig.withColumn(
                "__band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
            )
            .select(
                F.col(id_col).alias(f"{side}_id"),
                F.col("__band").alias(f"{side}_band"),
                key.alias(f"{side}_key"),
            )
        )

    if salt_hot > 1:
        a, b = banded("a"), banded("b")
        hot = F.broadcast(
            a.groupBy("a_band", "a_key")
            .count()
            .filter(F.col("count") > hot_bucket_min)
            .select(
                F.col("a_band").alias("h_band"),
                F.col("a_key").alias("h_key"),
            )
        )
        a_salted = a.join(
            hot,
            (F.col("a_band") == F.col("h_band"))
            & (F.col("a_key") == F.col("h_key")),
            "left",
        ).withColumn(
            "a_salt",
            F.when(
                F.col("h_band").isNotNull(),
                F.pmod(F.hash("a_id"), F.lit(salt_hot)),
            ).otherwise(F.lit(0)),
        ).drop("h_band", "h_key")
        b_salted = (
            b.join(
                hot,
                (F.col("b_band") == F.col("h_band"))
                & (F.col("b_key") == F.col("h_key")),
                "left",
            )
            .withColumn(
                "b_salt",
                F.explode(
                    F.when(
                        F.col("h_band").isNotNull(),
                        F.sequence(F.lit(0), F.lit(salt_hot - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("h_band", "h_key")
        )
        raw = a_salted.join(
            b_salted,
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_salt") == F.col("b_salt"))
            & (F.col("a_id") < F.col("b_id")),
        )
    else:
        raw = banded("a").join(
            banded("b"),
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_id") < F.col("b_id")),
        )
    return raw


def incremental_candidates_raw(
    sig_d: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    rows_per_band: int,
    bands: int,
    salt_hot: int = 0,
    hot_bucket_min: int = 256,
) -> DataFrame:
    """The asymmetric (delta×base) banded LSH candidate join BEFORE
    the distinct — (delta_id, base_id), one row per colliding band.
    Split out of minhash_incremental_pairs so tools/dedup_skew.py
    measures the EXACT production join shape (VERDICT r12 item 5 —
    the banded_candidates_raw pattern for the delta×base skeleton).

    ``salt_hot`` (opt-in): a power-law BASE corpus puts one hot
    cluster's identical signatures in the same (band, key) bucket in
    every band; if the delta also carries copies of that cluster, the
    bucket emits |delta∩cluster|·|base∩cluster| pairs per band into
    ONE task — output skew AQE's byte-based input trigger cannot see.
    With ``salt_hot = s``, BASE rows in buckets holding >
    ``hot_bucket_min`` rows split into s blocks by hash(base_id) and
    the matching DELTA rows replicate across all s blocks, so every
    delta×base pair still meets exactly once per band (pair-set
    equality property-tested) while max task output drops ×s."""

    def banded(sig: DataFrame, side: str) -> DataFrame:
        # band keys only — the shingle arrays stay out of the ×bands
        # explode shuffle and join back on the verified candidate set
        key = F.concat_ws(
            ",",
            F.transform(
                F.slice("mh", F.col("__band") * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return (
            sig.withColumn(
                "__band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
            )
            .select(
                F.col(id_col).alias(f"{side}_id"),
                F.col("__band").alias(f"{side}_band"),
                key.alias(f"{side}_key"),
            )
        )

    d, b = banded(sig_d, "delta"), banded(sig_b, "base")
    if salt_hot > 1:
        hot = F.broadcast(
            b.groupBy("base_band", "base_key")
            .count()
            .filter(F.col("count") > hot_bucket_min)
            .select(
                F.col("base_band").alias("h_band"),
                F.col("base_key").alias("h_key"),
            )
        )
        b_salted = b.join(
            hot,
            (F.col("base_band") == F.col("h_band"))
            & (F.col("base_key") == F.col("h_key")),
            "left",
        ).withColumn(
            "b_salt",
            F.when(
                F.col("h_band").isNotNull(),
                F.pmod(F.hash("base_id"), F.lit(salt_hot)),
            ).otherwise(F.lit(0)),
        ).drop("h_band", "h_key")
        d_salted = (
            d.join(
                hot,
                (F.col("delta_band") == F.col("h_band"))
                & (F.col("delta_key") == F.col("h_key")),
                "left",
            )
            .withColumn(
                "d_salt",
                F.explode(
                    F.when(
                        F.col("h_band").isNotNull(),
                        F.sequence(F.lit(0), F.lit(salt_hot - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("h_band", "h_key")
        )
        return d_salted.join(
            b_salted,
            (F.col("delta_band") == F.col("base_band"))
            & (F.col("delta_key") == F.col("base_key"))
            & (F.col("d_salt") == F.col("b_salt")),
        )
    return d.join(
        b,
        (F.col("delta_band") == F.col("base_band"))
        & (F.col("delta_key") == F.col("base_key")),
    )


def minhash_incremental_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perms: int = 32,
    rows_per_band: int = 2,
    salt_hot: int = 0,
    hot_bucket_min: int = 256,
) -> DataFrame:
    """Incremental-ingest near-dup screen: (delta_id, base_id, jaccard)
    for every DELTA document whose text is a near-dup of some BASE
    document — the "don't re-ingest what the corpus already has" gate
    of a training-data pipeline.

    Same banded MinHash-LSH as ``minhash_near_dup_pairs`` but
    asymmetric: each side builds signatures in the SAME hash space
    (same seed/permutations), bands explode on both sides, candidates
    meet on a (band, key) equi-join restricted to delta×base — so
    base×base pairs, the overwhelming majority at 100 TB, are never
    generated. Cost scales with |delta| × bands + the (tiny) collision
    set, not with the corpus; the base signature frame is computed once
    and is reusable across ingest batches (persist it in production).
    Candidates verify with exact shingle Jaccard before reporting.
    ``salt_hot`` opts in to the hot-bucket block decomposition (see
    incremental_candidates_raw) for power-law duplicate corpora.
    """
    bands = num_perms // rows_per_band
    sig_b = minhash_signatures(base, id_col, text_col, num_perms).cache()
    sig_d = minhash_signatures(delta, id_col, text_col, num_perms).cache()

    cand = (
        incremental_candidates_raw(
            sig_d, sig_b, id_col, rows_per_band, bands, salt_hot,
            hot_bucket_min,
        )
        .select("delta_id", "base_id")
        .distinct()
    )
    d_sh = sig_d.select(
        F.col(id_col).alias("delta_id"), F.col("shingles").alias("d_sh")
    )
    b_sh = sig_b.select(
        F.col(id_col).alias("base_id"), F.col("shingles").alias("b_sh")
    )
    inter = F.size(F.array_intersect("d_sh", "b_sh"))
    union = F.size("d_sh") + F.size("b_sh") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(d_sh, "delta_id")
        .join(b_sh, "base_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("delta_id", "base_id", "jaccard")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str,
    src_col: str,
    dst_col: str,
    max_iterations: int = 25,
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """Minimum-label connected components over a pair list — the step
    that turns near-dup PAIRS into dedup CLUSTERS (one representative
    per component).

    Three-phase round, the contract-and-broadcast scheme distributed
    CC implementations converge on (GraphX/GraphFrames family;
    Kiveris et al. KDD'14 prove the star-contraction variant):

    1. MERGE  — every vertex takes the min label over itself and its
       graph neighbours (one edge⋈label join + grouped min).
    2. UP-REDUCE — every vertex's previous ROOT takes the min over
       its members' merged labels (one grouped min + join). This is
       the step naive label propagation lacks: without it a star
       member that discovers a smaller adjacent component cannot
       inform its siblings, and convergence degrades to
       O(#stars-on-a-path) — measured 20+ stalling rounds on the
       sf0.1 bipartite trade graph vs 6 with it (single lagged
       pointer jumps do NOT halve chains here because phase 1
       re-links vertices deeper each round — the exact pathology the
       two-phase scheme exists for).
    3. DOWN — two path-compression jumps ``l(v) ← l(l(v))`` against
       the current mapping, FUSED LAZILY into the same plan.

    The whole round is ONE plan materialized by ONE eager
    ``localCheckpoint`` plus ONE convergence count — two driver
    actions per round; per-action fixed overhead, not data volume,
    dominates iterative loops at the contracted-label scale.
    After phase 3 components discovered so far are (near-)stars, so
    outer rounds merge whole stars along edges: convergence in
    O(log diameter) outer rounds — measured 6 on the diameter-26
    sf0.1 trade graph, 2-3 on near-dup cliques, ground-truth-checked
    against BFS.

    Every ``barrier_every`` rounds the label table is written to
    parquet and re-read — a HARD lineage/scheduler barrier: long
    same-session iterative chains in local mode otherwise hit a
    super-linear per-round slowdown past ~17 checkpointed rounds
    (measured 0.3 s → 128 s/round, independent of AQE, checkpoint
    mode, and data size); the barrier caps that cost at a ~0.3 s
    write of the tiny contracted frame. At convergence the result is
    re-checkpointed so the temp files are droppable.

    Output: (vertex_col, cluster_rep) for ALL vertices; singletons
    map to themselves without entering the loop. Edges with a NULL
    endpoint are dropped before the edge count that picks the arm:
    NULL is no vertex, so such an edge connects nothing.

    Small-graph fast path (round 8, the dedup_clusters perf-watch
    item): when the symmetrized edge list is at most
    ``local_edge_threshold`` rows, components are solved by a driver
    union-find over the collected pairs — bounded model state exactly
    like the IVF/PQ codebooks (2 longs × 200k default ≈ 3 MB), never
    data-sized: the GATE is what keeps it scale-safe, and past it the
    distributed contract-and-broadcast loop runs unchanged. The edge
    count that decides is the same one that sizes the loop's shuffle
    width, so the gate costs nothing. Rationale: every distributed
    round costs ~6 tiny shuffles + 2 driver actions of pure fixed
    overhead when the frame is a few thousand rows — a local
    union-find with union-by-min + path halving is exact, O(E α(V)),
    and microseconds at the gate size. Pass ``local_edge_threshold=0``
    to force the distributed kernel (the convergence tests do).
    """
    spark = edges.sparkSession
    sym = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("__src"), F.col(src_col).alias("__dst"))
    )
    sym = sym.dropna().localCheckpoint(eager=True)  # edges reused every round
    # In-plan shuffle sizing (the pagerank lesson, VERDICT r6), made
    # DATA-AWARE: the loop below runs ~6 shuffles × O(log diameter)
    # rounds, all materialized INSIDE this function by the eager
    # checkpoint + convergence count. Tiny-task scheduling overhead —
    # not data volume — dominates those rounds, so size the shuffle
    # width from the MEASURED edge count (the count is ~free on the
    # just-checkpointed frame): a near-dup candidate graph of a few
    # thousand edges runs its whole loop in 1-2 partitions, while a
    # 100 TB corpus graph saturates cluster parallelism
    # (defaultParallelism scales with executors). Pin the conf for
    # the duration of the loop (every shuffle here is keyed
    # differently, so one conf pin beats six explicit repartitions
    # per round) and restore on exit; the only post-return lazy work
    # is the one singleton anti-join.
    n_edges = sym.count()
    if n_edges <= local_edge_threshold:
        return _cc_local(spark, vertices, sym, vertex_col)
    p = int(min(n_edges // 500_000 + 1, max(spark.sparkContext.defaultParallelism, 4)))
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(p))
    try:
        return _cc_loop(spark, vertices, sym, vertex_col, max_iterations)
    finally:
        if old_parts is not None:
            spark.conf.set(conf_key, old_parts)


def _cc_local(
    spark, vertices: DataFrame, sym: DataFrame, vertex_col: str
) -> DataFrame:
    """Exact driver union-find over a GATED (≤ local_edge_threshold)
    edge list: union-by-min keeps every root the minimum label of its
    set, so after the final finds each vertex maps to its component
    minimum — identical to the distributed kernel's fixpoint. Path
    halving bounds the walk; the result rides back as a tiny
    DataFrame, and the (usually vastly larger) singleton set joins
    via a broadcast anti-join without ever being collected.

    r15-opt (guide §5/§6 Arrow driver transfers): the edge list rides
    to the driver as ONE Arrow ``toPandas`` batch instead of
    ``toLocalIterator`` — the iterator fetched the checkpointed
    frame's ~64 tiny partitions as SEQUENTIAL jobs and materialized
    every edge as a py4j Row (measured: the 117k-edge multimodal
    graph spent most of its CC wall there). Same gated driver
    footprint (≤ local_edge_threshold × 2 int64 ≈ 3 MB); the labels
    frame rides back through Arrow the same way."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    edges = sym.toPandas()
    # .tolist() yields native Python values (int for int64 columns,
    # str for string vertex ids) — dict keys must not be numpy scalars
    for a, b in zip(edges["__src"].tolist(), edges["__dst"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra  # union by min: root stays the set minimum

    vt = sym.schema["__src"].dataType
    schema = StructType(
        [StructField("__v", vt), StructField("__label", vt)]
    )
    if parent:
        labels = spark.createDataFrame(
            pd.DataFrame(
                {"__v": list(parent), "__label": [find(v) for v in parent]}
            ),
            schema,
        )
    else:
        labels = spark.createDataFrame([], schema)
    singles = vertices.select(F.col(vertex_col).alias("__v")).join(
        F.broadcast(labels.select("__v")), "__v", "left_anti"
    ).withColumn("__label", F.col("__v"))
    return labels.unionByName(singles).select(
        F.col("__v").alias(vertex_col), F.col("__label").alias("cluster_rep")
    )


def _cc_loop(
    spark,
    vertices: DataFrame,
    sym: DataFrame,
    vertex_col: str,
    max_iterations: int,
) -> DataFrame:
    import shutil
    import tempfile
    # only vertices that touch an edge need propagation; the (usually
    # vastly larger) singleton set maps to itself without any work
    touched = sym.select(F.col("__src").alias("__v")).distinct()
    labels = touched.withColumn("__label", F.col("__v"))

    def jump(cur: DataFrame) -> DataFrame:
        l2 = cur.select(F.col("__v").alias("__u"), F.col("__label").alias("__l2"))
        return cur.join(l2, cur["__label"] == l2["__u"], "left").select(
            "__v",
            "__prev",
            F.least(
                F.col("__label"), F.coalesce(F.col("__l2"), F.col("__label"))
            ).alias("__label"),
        )

    barrier_every = 8
    tmpdir: str | None = None
    for rnd in range(1, max_iterations + 1):
        # 1. MERGE: min over graph neighbours
        neighbor_min = (
            sym.join(labels, sym["__dst"] == labels["__v"])
            .groupBy("__src")
            .agg(F.min("__label").alias("__nmin"))
        )
        cur = labels.join(
            neighbor_min, labels["__v"] == neighbor_min["__src"], "left"
        ).select(
            "__v",
            F.col("__label").alias("__prev"),
            F.least(
                F.col("__label"), F.coalesce(F.col("__nmin"), F.col("__label"))
            ).alias("__label"),
        )
        # 2. UP-REDUCE: previous root collects its members' min
        up = cur.groupBy(F.col("__prev").alias("__r")).agg(
            F.min("__label").alias("__upmin")
        )
        cur = cur.join(up, cur["__v"] == up["__r"], "left").select(
            "__v",
            "__prev",
            F.least(
                F.col("__label"), F.coalesce(F.col("__upmin"), F.col("__label"))
            ).alias("__label"),
        )
        # 3. DOWN: two lazy compression jumps, same plan
        cur = jump(jump(cur))
        cur = cur.localCheckpoint(eager=True)
        changed = cur.filter(F.col("__prev") != F.col("__label")).count()
        labels = cur.drop("__prev")
        if changed == 0:
            break
        if rnd % barrier_every == 0:
            if tmpdir is None:
                tmpdir = tempfile.mkdtemp(prefix="cc_barrier_")
            path = f"{tmpdir}/labels_{rnd}"
            labels.write.mode("overwrite").parquet(path)
            labels = spark.read.parquet(path)
    if tmpdir is not None:
        # detach the result from the barrier files, then drop them
        labels = labels.localCheckpoint(eager=True)
        shutil.rmtree(tmpdir, ignore_errors=True)
    singles = vertices.select(F.col(vertex_col).alias("__v")).join(
        touched, "__v", "left_anti"
    ).withColumn("__label", F.col("__v"))
    return labels.unionByName(singles).select(
        F.col("__v").alias(vertex_col), F.col("__label").alias("cluster_rep")
    )


def blocked_self_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    salt_hot: int = 0,
    hot_block_min: int = 256,
) -> DataFrame:
    """Generic BLOCKED self-join candidate pairs — every column of
    ``df`` comes back twice under ``a_``/``b_`` prefixes, one row per
    same-block pair with ``a_<id> < b_<id>``. This is the skeleton
    under entity-resolution blocking ((nation, name-prefix) on a
    master-data dimension): pair mass is sum-of-block-sizes², bounded
    by the key design — UNLESS one block runs hot.

    ``salt_hot`` (opt-in, r14 — VERDICT r13 item 6): the
    banded_candidates_raw hot-bucket decomposition applied to plain
    blocking keys. Blocks whose row count exceeds ``hot_block_min``
    (found by one cheap count-aggregate, broadcast back) are split s
    ways: the a-side picks ONE salt lane by id hash, the b-side
    REPLICATES into all s lanes, so every original pair survives in
    exactly one lane (pair-set equality pinned by
    tests/test_llm_ops.py::test_blocked_er_salt_pair_equality) while
    the hot block's C(m,2) pair mass spreads across s tasks instead
    of serializing one reducer. Cold blocks pay nothing (salt 0, no
    replication). Measured max/median partition loads in
    tools/dedup_skew.py --er; SCALE.md carries the row."""
    a = df.select(*[F.col(x).alias(f"a_{x}") for x in df.columns])
    b = df.select(*[F.col(x).alias(f"b_{x}") for x in df.columns])
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    for k in block_cols:
        cond = (F.col(f"a_{k}") == F.col(f"b_{k}")) & cond
    if salt_hot <= 1:
        return a.join(b, cond)
    hot = F.broadcast(
        a.groupBy(*[f"a_{k}" for k in block_cols])
        .count()
        .filter(F.col("count") > hot_block_min)
        .select(
            *[F.col(f"a_{k}").alias(f"h_{k}") for k in block_cols]
        )
    )

    def hot_match(side: str):
        m = F.lit(True)
        for k in block_cols:
            m = m & (F.col(f"{side}_{k}") == F.col(f"h_{k}"))
        return m

    a_salted = (
        a.join(hot, hot_match("a"), "left")
        .withColumn(
            "a_salt",
            F.when(
                F.col(f"h_{block_cols[0]}").isNotNull(),
                F.pmod(F.hash(f"a_{id_col}"), F.lit(salt_hot)),
            ).otherwise(F.lit(0)),
        )
        .drop(*[f"h_{k}" for k in block_cols])
    )
    b_salted = (
        b.join(hot, hot_match("b"), "left")
        .withColumn(
            "b_salt",
            F.explode(
                F.when(
                    F.col(f"h_{block_cols[0]}").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt_hot - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop(*[f"h_{k}" for k in block_cols])
    )
    return (
        a_salted.join(b_salted, cond & (F.col("a_salt") == F.col("b_salt")))
        .drop("a_salt", "b_salt")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    nbits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole banding gives EXACT recall (not probabilistic): with
    bands > max_hamming, any pair within the distance budget has at
    least one band with zero differing bits, so it MUST collide.
    The residual Hamming check is engine-neutral integer bit math, so
    the whole operator is oracle-checkable.
    Output: (a_id, b_id, hamming).
    """
    assert bands > max_hamming, "pigeonhole recall needs bands > max_hamming"
    width = nbits // bands
    mask = (1 << width) - 1
    sim = simhash_frame(df, id_col, text_col, nbits)

    def banded(side: str) -> DataFrame:
        return sim.withColumn(
            "__band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
        ).select(
            F.col(id_col).alias(f"{side}_id"),
            F.col("simhash").alias(f"{side}_sim"),
            F.col("__band").alias(f"{side}_band"),
            F.expr(f"shiftright(simhash, __band * {width}) & {mask}").alias(
                f"{side}_key"
            ),
        )

    hamming = F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
    return (
        banded("a")
        .join(
            banded("b"),
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id", "a_sim", "b_sim")
        .distinct()
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    ngram_words: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the training-pipeline guard: drop
    every corpus document sharing ANY ``ngram_words``-word shingle
    with the benchmark set (the standard n-gram-overlap test used to
    keep eval data out of training corpora).

    Plan shape: explode both sides to distinct shingles, LEFT SEMI
    join corpus shingles against benchmark shingles to find
    contaminated ids, LEFT ANTI join them away. The shuffles carry
    (id, shingle) pairs — linear in corpus token count; the benchmark
    shingle set is typically small enough that Catalyst broadcasts
    it, making the contamination scan a single map-side pass. At
    100 TB swap the shingle STRING for xxhash64(shingle) to shrink
    the shuffle ~8x (hash joins are engine-internal here, so oracle
    parity is unaffected; kept as strings at fixture scale for
    zero collision risk).
    """
    from ..functions.text import shingles_expr

    bench_grams = (
        benchmark.select(
            F.explode(shingles_expr(text_col, ngram_words)).alias("__g")
        ).distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(shingles_expr(text_col, ngram_words)).alias("__g")
    )
    contaminated = (
        corpus_grams.join(bench_grams, "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")
