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
from .joins import _SALT_COLS, _salt_hot_split

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

    ``salt_hot = s`` (opt-in) splits (band, key) buckets holding more
    than ``hot_bucket_min`` rows ``s`` ways (see
    ``joins._salt_hot_split``): a power-law corpus puts one hot cluster
    of near-identical texts into the same bucket in every band.

    ``sig`` is not cached: the pair plan executes once per action
    (``connected_components`` reads it in one pass), so a cache has no
    second execution to serve and only costs its columnar encoding."""
    bands = num_perms // rows_per_band
    sig = minhash_signatures(df, id_col, text_col, num_perms)
    raw = banded_candidates_raw(
        sig, id_col, rows_per_band, bands, salt_hot, hot_bucket_min
    )
    return _verify_jaccard(raw, sig, sig, id_col, "a_id", "b_id", threshold)


def _band_keys(
    sig: DataFrame, id_col: str, side: str, rows_per_band: int, bands: int
) -> DataFrame:
    """(<side>_id, <side>_band, <side>_key): one row per signature and
    band, keyed by the band's slice of the signature. Band keys only —
    the shingle arrays stay out of the ×bands explode shuffle and join
    back on the candidate set."""
    key = F.concat_ws(
        ",",
        F.transform(
            F.slice("mh", F.col("__band") * rows_per_band + 1, rows_per_band),
            lambda x: x.cast("string"),
        ),
    )
    return sig.withColumn(
        "__band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
    ).select(
        F.col(id_col).alias(f"{side}_id"),
        F.col("__band").alias(f"{side}_band"),
        key.alias(f"{side}_key"),
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
    (a_id, a_band, a_key, b_id, b_band, b_key) with a_id < b_id, one
    row per colliding band, with or without ``salt_hot``."""
    a = _band_keys(sig, id_col, "a", rows_per_band, bands)
    b = _band_keys(sig, id_col, "b", rows_per_band, bands)
    on = (
        (F.col("a_band") == F.col("b_band"))
        & (F.col("a_key") == F.col("b_key"))
        & (F.col("a_id") < F.col("b_id"))
    )
    if salt_hot > 1:
        a, b, salted = _salt_hot_split(
            a, b, ["a_band", "a_key"], ["b_band", "b_key"], ["a_id"],
            salt_hot, hot_bucket_min,
        )
        return a.join(b, on & salted).drop(*_SALT_COLS)
    return a.join(b, on)


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
    the distinct — (delta_id, delta_band, delta_key, base_id,
    base_band, base_key), one row per colliding band. ``salt_hot``
    splits the BASE side's hot buckets (see ``joins._salt_hot_split``)
    and replicates the matching delta rows."""
    d = _band_keys(sig_d, id_col, "delta", rows_per_band, bands)
    b = _band_keys(sig_b, id_col, "base", rows_per_band, bands)
    on = (F.col("delta_band") == F.col("base_band")) & (
        F.col("delta_key") == F.col("base_key")
    )
    if salt_hot > 1:
        b, d, salted = _salt_hot_split(
            b, d, ["base_band", "base_key"], ["delta_band", "delta_key"],
            ["base_id"], salt_hot, hot_bucket_min,
        )
        return d.join(b, on & salted).drop(*_SALT_COLS)
    return d.join(b, on)


def _verify_jaccard(
    raw: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    a_id: str,
    b_id: str,
    threshold: float,
) -> DataFrame:
    """(a_id, b_id, jaccard) for the distinct candidate pairs of
    ``raw`` whose EXACT shingle Jaccard reaches ``threshold``; each
    pair is verified once, however many bands it collided in."""
    cand = raw.select(a_id, b_id).distinct()
    a_sh = sig_a.select(F.col(id_col).alias(a_id), F.col("shingles").alias("__sh_a"))
    b_sh = sig_b.select(F.col(id_col).alias(b_id), F.col("shingles").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a_sh, a_id)
        .join(b_sh, b_id)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(a_id, b_id, "jaccard")
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
    and is reusable across ingest batches.
    Candidates verify with exact shingle Jaccard before reporting.
    ``salt_hot`` opts in to the hot-bucket split (see
    ``joins._salt_hot_split``) for power-law duplicate corpora.
    """
    bands = num_perms // rows_per_band
    sig_b = minhash_signatures(base, id_col, text_col, num_perms)
    sig_d = minhash_signatures(delta, id_col, text_col, num_perms)
    raw = incremental_candidates_raw(
        sig_d, sig_b, id_col, rows_per_band, bands, salt_hot, hot_bucket_min
    )
    return _verify_jaccard(
        raw, sig_d, sig_b, id_col, "delta_id", "base_id", threshold
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

    Output: (vertex_col, cluster_rep) for ALL vertices; singletons
    map to themselves without entering either arm. Edges with a NULL
    endpoint are dropped first: NULL is no vertex, so such an edge
    connects nothing.

    Arm choice. The gate is on the SYMMETRIZED edge count, which is
    exactly twice the number of non-NULL raw edges, so one bounded
    collect of at most ``local_edge_threshold // 2 + 1`` raw
    (src, dst) pairs decides it. If that collect returns at most
    ``local_edge_threshold // 2`` rows it IS the whole edge list, and
    a driver union-find solves it (``_cc_local``; union-find needs
    one direction per edge, so nothing is symmetrized). The collect is
    the local arm's only execution of the upstream edge plan, and the
    gate bounds driver memory (2 values × 100k pairs at the default),
    never the data. Rationale: every distributed round costs ~6 tiny
    shuffles + 2 driver actions of pure fixed overhead on a graph of
    a few thousand edges, while union-by-min with path halving is
    exact and O(E α(V)). Pass ``local_edge_threshold=0`` to force the
    distributed kernel (the convergence tests do).

    Distributed arm (``_cc_loop``). The edges are symmetrized from
    ONE projection (an explode of both directions, so the upstream
    plan runs once, not once per direction) and materialized by one
    eager ``localCheckpoint`` that every round reuses; that frame's
    count sizes the loop's shuffle width. Three-phase round, the
    contract-and-broadcast scheme distributed CC implementations
    converge on (GraphX/GraphFrames family; Kiveris et al. KDD'14
    prove the star-contraction variant):

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

    Each round is ONE plan materialized by ONE eager
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
    """
    spark = edges.sparkSession
    # both endpoints take their wider type, as a union of the two
    # directions would coerce them
    vt = edges.select(F.array(src_col, dst_col)).schema[0].dataType.elementType
    pairs = edges.select(
        F.col(src_col).cast(vt).alias("__src"), F.col(dst_col).cast(vt).alias("__dst")
    ).dropna()
    cap = local_edge_threshold // 2
    local = pairs.limit(max(cap + 1, 0)).toPandas()
    if len(local) <= cap:
        return _cc_local(spark, vertices, local, vt, vertex_col)
    both = F.array(
        F.struct("__src", "__dst"),
        F.struct(F.col("__dst").alias("__src"), F.col("__src").alias("__dst")),
    )
    sym = pairs.select(F.explode(both).alias("__e")).select("__e.*")
    sym = sym.localCheckpoint(eager=True)  # edges reused every round
    # In-plan shuffle sizing (the pagerank lesson, VERDICT r6), made
    # DATA-AWARE: the loop below runs ~6 shuffles × O(log diameter)
    # rounds, all materialized INSIDE this function by the eager
    # checkpoint + convergence count. Tiny-task scheduling overhead —
    # not data volume — dominates those rounds, so size the shuffle
    # width from the MEASURED edge count (the count is ~free on the
    # just-checkpointed frame): a graph of a few hundred thousand
    # edges runs its whole loop in 1-2 partitions, while a 100 TB
    # corpus graph saturates cluster parallelism (defaultParallelism
    # scales with executors). Pin the conf for the duration of the
    # loop (every shuffle here is keyed differently, so one conf pin
    # beats six explicit repartitions per round) and restore on exit;
    # the only post-return lazy work is the one singleton anti-join.
    n_edges = sym.count()
    p = int(min(n_edges // 500_000 + 1, max(spark.sparkContext.defaultParallelism, 4)))
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, str(p))
    try:
        return _cc_loop(spark, vertices, sym, vertex_col, max_iterations)
    finally:
        # the result reads only the final labels' checkpoint
        _drop_checkpoint(sym)
        if old_parts is not None:
            spark.conf.set(conf_key, old_parts)


def _drop_checkpoint(df: DataFrame) -> None:
    """Release the blocks of an eager ``localCheckpoint`` frame (the
    RDD under its LogicalRDD plan); nothing may read ``df`` after."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _checkpoint_round(nxt: DataFrame, prev: DataFrame | None) -> DataFrame:
    """Eagerly ``localCheckpoint`` an iterative loop's next round, then
    release ``prev``, the checkpoint it supersedes (None in the first
    round). The next round is materialized before ``prev`` goes, so it
    may read ``prev``; nothing else may read ``prev`` after."""
    nxt = nxt.localCheckpoint(eager=True)
    if prev is not None:
        _drop_checkpoint(prev)
    return nxt


def _cc_local(
    spark, vertices: DataFrame, edges, vt, vertex_col: str
) -> DataFrame:
    """Exact driver union-find over a GATED (≤ local_edge_threshold / 2)
    pandas frame of (__src, __dst) pairs of type ``vt``, one row per
    edge: union-by-min keeps every root the minimum label of its set,
    so after the final finds each vertex maps to its component
    minimum — identical to the distributed kernel's fixpoint. Path
    halving bounds the walk; the result rides back as a tiny
    DataFrame, and the (usually vastly larger) singleton set joins
    via a broadcast anti-join without ever being collected.

    Both transfers go through Arrow (``toPandas`` in the caller,
    ``createDataFrame`` from pandas here): ``toLocalIterator`` fetched
    partitions as SEQUENTIAL jobs and materialized every edge as a
    py4j Row (measured: the 117k-edge multimodal graph spent most of
    its CC wall there)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

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
    if max_iterations < 1:
        # the result must come from a round's checkpoint, not from sym
        raise ValueError("connected_components: max_iterations must be >= 1")
    # only vertices that touch an edge need propagation; the (usually
    # vastly larger) singleton set maps to itself without any work
    labels = sym.select(F.col("__src").alias("__v")).distinct()
    labels = labels.withColumn("__label", F.col("__v"))
    ckpt = None  # the live round checkpoint; a superseded one is dropped

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
        cur = ckpt = _checkpoint_round(jump(jump(cur)), ckpt)
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
        labels = _checkpoint_round(labels, ckpt)
        shutil.rmtree(tmpdir, ignore_errors=True)
    # the labelled vertices are exactly the edge endpoints
    singles = vertices.select(F.col(vertex_col).alias("__v")).join(
        labels.select("__v"), "__v", "left_anti"
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

    ``salt_hot = s`` (opt-in) splits blocks holding more than
    ``hot_block_min`` rows ``s`` ways (see ``joins._salt_hot_split``).
    """
    a = df.select(*[F.col(x).alias(f"a_{x}") for x in df.columns])
    b = df.select(*[F.col(x).alias(f"b_{x}") for x in df.columns])
    cond = F.col(f"a_{id_col}") < F.col(f"b_{id_col}")
    for k in block_cols:
        cond = (F.col(f"a_{k}") == F.col(f"b_{k}")) & cond
    if salt_hot <= 1:
        return a.join(b, cond)
    a, b, salted = _salt_hot_split(
        a, b, [f"a_{k}" for k in block_cols], [f"b_{k}" for k in block_cols],
        [f"a_{id_col}"], salt_hot, hot_block_min,
    )
    return a.join(b, cond & salted).drop(*_SALT_COLS)


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
