"""Similarity search over embedding columns (SURVEY.md §2.9).

Fixtures: embeddings.embedding is ArrayType(Float), dim=64,
L2-normalized → cosine ≡ dot product.

- knn_cosine_brute: exact all-pairs top-k. O(n²) dot products but
  fully shuffle-parallel; the correctness baseline and the oracle for
  the approximate paths.
- threshold_similarity_join: all pairs with cos ≥ τ through the
  1-Bucket theta rewrite [OR11 §4] — exact answer, load-balanced
  all-pairs work (this is precisely the workload class the reference
  exists for: a similarity join IS a theta join).
- hyperplane_lsh_pairs: the 100 TB scale path — random-hyperplane
  signatures (Charikar 2002) as the bucketing key, exact-dot residual
  verify. Approximate recall → driver records rows-only.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import dot_expr
from .joins import _stat_count, theta_join

__all__ = [
    "knn_cosine",
    "knn_cosine_brute",
    "knn_cosine_blocked",
    "knn_query_table",
    "threshold_similarity_join",
    "threshold_similarity_blocked",
    "auto_band_params",
    "hyperplane_lsh_pairs",
]

# Above this candidate count the exact blocked kernel's ×blocks
# candidate replication becomes the cost driver and knn_cosine routes
# to the IVF approximate path instead (same auto-fallback pattern as
# theta_join's _NAIVE_PAIR_THRESHOLD).
_EXACT_KNN_MAX_CANDIDATES = 200_000


def _fold_matmul(a64, b64):
    """All-pairs dot products with LEFT-FOLD accumulation order.

    NOT ``A @ B.T``: BLAS reorders the reduction (blocked/SIMD), which
    perturbs the last ulp and would break bit-parity with the DuckDB
    oracle and with the Spark higher-order-function fold. Accumulating
    one dimension at a time reproduces exactly
    ``acc = (..(0.0 + x0*y0) + x1*y1 ..)`` per pair — the same FP
    operation sequence as both engines — while staying vectorized
    (64 outer-product updates instead of 4M interpreted folds).
    """
    m, dim = a64.shape
    s = np.zeros((m, b64.shape[0]), dtype=np.float64)
    for d in range(dim):
        s += np.outer(a64[:, d], b64[:, d])
    return s


def _empty_frame(schema: str) -> pd.DataFrame:
    """Zero-row pandas frame typed like the ``long``/``double`` DDL
    ``schema`` — what a kernel returns for an empty group."""
    cols = (f.split() for f in schema.split(","))
    return pd.DataFrame(
        {c: pd.Series(dtype={"long": "int64", "double": "float64"}[t]) for c, t in cols}
    )


def _topk_frame(q_ids, n_ids, s, k, mask=None) -> pd.DataFrame:
    """Per-query top-k of one score block ``s`` (|q_ids| × |n_ids|):
    for query row i, the candidates where ``mask(i)`` holds (all when
    None), ordered by (score desc, n_id asc), first k, ranked 1..k.
    Output: (q_id, n_id, cosine, rank)."""
    out_q, out_n, out_c, out_r = [], [], [], []
    for i in range(len(q_ids)):
        if mask is None:
            cand_n, cand_c = n_ids, s[i]
        else:
            keep = mask(i)
            cand_n, cand_c = n_ids[keep], s[i][keep]
        order = np.lexsort((cand_n, -cand_c))[:k]
        out_q.extend([q_ids[i]] * len(order))
        out_n.extend(cand_n[order])
        out_c.extend(cand_c[order])
        out_r.extend(range(1, len(order) + 1))
    return pd.DataFrame(
        {"q_id": out_q, "n_id": out_n, "cosine": out_c,
         "rank": pd.array(out_r, dtype="int64")}
    )


def _threshold_pairs(a_ids, b_ids, s, tau: float) -> pd.DataFrame:
    """(a_id, b_id, cosine) for every cell of the score block ``s``
    with cosine >= tau and a_id < b_id (each unordered pair once)."""
    ai, bi = np.nonzero((s >= tau) & (a_ids[:, None] < b_ids[None, :]))
    return pd.DataFrame({"a_id": a_ids[ai], "b_id": b_ids[bi], "cosine": s[ai, bi]})


def _top_k_per_query(df: DataFrame, k: int, score) -> DataFrame:
    """Global merge of per-partition top-k lists: ``rank`` =
    row_number over (q_id; ``score``, n_id asc), kept while <= k."""
    w = W.partitionBy("q_id").orderBy(score, F.asc("n_id"))
    return df.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _cogroup_scored(a: DataFrame, b: DataFrame, key: str, kernel, schema: str) -> DataFrame:
    """Cogroup query rows ``a`` (q_id, q_vec, …) with candidate rows
    ``b`` (n_id, n_vec, …) on ``key`` and call ``kernel(adf, bdf, s)``
    per group, ``s`` the fold-exact score matrix (see _fold_matmul). A
    group empty on either side returns a typed empty frame of
    ``schema``."""

    def run(adf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if adf.empty or bdf.empty:
            return _empty_frame(schema)
        a64 = np.stack(adf["q_vec"].to_numpy()).astype(np.float64)
        b64 = np.stack(bdf["n_vec"].to_numpy()).astype(np.float64)
        return kernel(adf, bdf, _fold_matmul(a64, b64))

    return a.groupBy(key).cogroup(b.groupBy(key)).applyInPandas(run, schema=schema)


def _block_grid(a: DataFrame, b: DataFrame, kernel, schema: str) -> DataFrame:
    """The [OR11] replicate-one-side region: the query side ``a`` is
    split into ``shuffle.partitions`` blocks by q_id, the candidate
    side ``b`` is copied to every block, and each block is scored by
    ``kernel`` (see _cogroup_scored)."""
    nb = int(a.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return _cogroup_scored(
        a.withColumn("__blk", F.pmod(F.col("q_id"), F.lit(nb)).cast("int")),
        b.withColumn("__blk", F.explode(F.sequence(F.lit(0), F.lit(nb - 1)))),
        "__blk",
        kernel,
        schema,
    )


def _serving_queries(queries: DataFrame, id_col: str, vec_col: str, max_queries: int):
    """The serving gate: ONE bounded collect of at most
    ``max_queries + 1`` query rows decides the arm and, below the gate,
    is the query matrix. Returns (q_ids int64, q_mat float64), or None
    when the query set exceeds ``max_queries``; an empty set raises."""
    rows = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        .limit(max_queries + 1)
        .collect()
    )
    if not rows:
        raise ValueError("empty query set")
    if len(rows) > max_queries:
        return None
    q_ids = np.array([r.q_id for r in rows], dtype=np.int64)
    return q_ids, np.stack([np.asarray(r.q_vec) for r in rows]).astype(np.float64)


def knn_cosine(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    exact_threshold: int = _EXACT_KNN_MAX_CANDIDATES,
) -> DataFrame:
    """Size-gated k-NN router: the EXACT blocked kernel replicates the
    full candidate side to every block — right answer below
    ``exact_threshold`` candidates, a scale-killer above it. Larger
    inputs route to the IVF cell-probing path (approximate recall,
    documented in operators/ivf.py). The gate reads the memoized
    statistics count, so no extra scan on repeated plan builds."""
    if _stat_count(emb) <= exact_threshold:
        return knn_cosine_blocked(emb, id_col, vec_col, k=k)
    from .ivf import ivf_self_search

    # same output contract: (q_id, n_id, cosine, rank)
    return ivf_self_search(emb, id_col, vec_col, k_neighbors=k)


def knn_cosine_brute(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 5
) -> DataFrame:
    """Exact k nearest neighbours per vector (self, excluding itself).
    Output: (q_id, n_id, cosine, rank), rank 1..k, ties broken by id
    so the result is deterministic across engines."""
    a = emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    b = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cosine", dot_expr("q_vec", "n_vec"))
    )
    return _top_k_per_query(pairs, k, F.desc("cosine")).select(
        "q_id", "n_id", "cosine", "rank"
    )


def knn_query_table(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k over a SMALL query set against a large corpus —
    the ANN *serving* shape (a handful of probe vectors against the
    full embedding table), complementary to the self-join kNN.

    The query vectors are collected into one numpy matrix (driver
    model state, like the IVF centroids — O(|Q|·dim), valid only for
    small |Q|) and scored against every corpus partition in a single
    ``mapInPandas`` pass: NO shuffle of the corpus at all; each Arrow
    batch emits at most |Q|·k candidate rows (its local top-k per
    query, fold-order cosines), and one final window over the
    |Q|·k·num_batches survivors picks the global top-k. At 100 TB the
    corpus is read once, map-side, and the shuffle carries only
    candidates — this is the optimal exact plan for |Q| ≪ |corpus|.

    The collect is GATED: one collect of at most ``max_queries + 1``
    query rows (_serving_queries), and a query set past
    ``max_queries`` routes to the fully distributed IVF cell-probe
    plan (``operators.ivf.ivf_query_search``: corpus hashed to
    centroid cells, queries replicated ×n_probe to their nearest
    cells, per-cell cogroup scoring) — no unbounded driver
    materialization and no |C|·|Q| cross product on ANY path (a
    broadcast cross join would be one). Above the
    gate results are approximate (IVF recall, measured in AUDIT.md);
    below it they are exact. Ids must be an integral type on both
    sides (they travel through int64 numpy kernels); anything else
    raises immediately rather than miscasting.
    """
    for side, name in ((queries, "queries"), (corpus, "corpus")):
        dt = side.schema[id_col].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"{name}.{id_col} must be an integral type (got {dt}); "
                "cast string/decimal ids to long before the join"
            )

    served = _serving_queries(queries, id_col, vec_col, max_queries)
    if served is None:
        # distributed fallback: IVF cell probing. Work per query drops
        # from |C| to ~|C|·n_probe/n_clusters; both sides stay
        # DataFrames. 32 cells / 20 probes: measured recall@5 = 0.932
        # on the (near-random, worst-case-for-IVF) fixture embeddings
        # at LOWER wall-clock than a 16/8 config (2.0 s vs 2.3 s
        # median — finer cells parallelize the per-cell cogroup
        # better, and the 62.5 % probed fraction more than covers the
        # targeting loss); clustered production embeddings recall far
        # higher at the same probe fraction.
        from .ivf import ivf_query_search

        return ivf_query_search(
            corpus.select(
                F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
            ),
            queries.select(
                F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
            ),
            id_col,
            vec_col,
            k_neighbors=k,
            n_clusters=32,
            n_probe=20,
        )
    q_ids, q_mat = served

    out_schema = "q_id long, n_id long, cosine double"

    def scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            c64 = np.stack(pdf["n_vec"].to_numpy()).astype(np.float64)
            n_ids = pdf["n_id"].to_numpy()
            cos = _fold_matmul(q_mat, c64)  # (|Q|, batch)
            kk = min(k, cos.shape[1])
            # per-batch top-k per query: order by (-cosine, n_id)
            order = np.lexsort((n_ids[None, :].repeat(len(q_ids), 0), -cos))
            take = order[:, :kk]
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, kk),
                    "n_id": n_ids[take.ravel()],
                    "cosine": np.take_along_axis(cos, take, axis=1).ravel(),
                }
            )

    cand = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    ).mapInPandas(scan, out_schema)
    return _top_k_per_query(cand, k, F.desc("cosine"))


def knn_cosine_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact k-NN, Arrow-vectorized: partition the query side into
    blocks, replicate the candidate side to every block (the [OR11]
    replicate-one-side pattern with blocks as regions), and compute
    each block's pair scores in one numpy kernel via applyInPandas.
    Identical results to knn_cosine_brute — including bit-identical
    cosines (see _fold_matmul) — at a fraction of the cost: the fold
    moves from per-pair interpreted expressions to vectorized batch
    math. Candidate-side replication is the scale limit; beyond
    ~10⁵ candidates switch to the LSH/IVF path.
    """

    def topk(adf: pd.DataFrame, bdf: pd.DataFrame, s) -> pd.DataFrame:
        q_ids, n_ids = adf["q_id"].to_numpy(), bdf["n_id"].to_numpy()
        return _topk_frame(q_ids, n_ids, s, k, lambda i: n_ids != q_ids[i])

    return _block_grid(
        emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")),
        topk,
        "q_id long, n_id long, cosine double, rank long",
    )


def threshold_similarity_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
) -> DataFrame:
    """Exact threshold self-similarity join with the same blocked
    numpy kernel; each unordered pair is scored once (in the block of
    its lower id) — the [OR11 §4] unique-region property."""

    def pairs(adf: pd.DataFrame, bdf: pd.DataFrame, s) -> pd.DataFrame:
        return _threshold_pairs(adf["q_id"].to_numpy(), bdf["n_id"].to_numpy(), s, tau)

    return _block_grid(
        emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")),
        pairs,
        "a_id long, b_id long, cosine double",
    )


def threshold_similarity_join(
    emb: DataFrame, id_col: str, vec_col: str, tau: float
) -> DataFrame:
    """Exact self-similarity join: pairs (a_id < b_id) with cosine ≥ τ,
    executed through the 1-Bucket-Theta region rewrite so the
    quadratic pair space is balanced across the cluster instead of
    landing in one BNLJ partition pair."""
    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    cond = (F.col("a_id") < F.col("b_id")) & (dot_expr("a_vec", "b_vec") >= tau)
    return (
        theta_join(a, b, cond, strategy="1bucket")
        .withColumn("cosine", dot_expr("a_vec", "b_vec"))
        .select("a_id", "b_id", "cosine")
    )


def _hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 pseudo-random hyperplanes from md5 bits (no
    RNG state, reproducible across runs/sessions/executors)."""
    planes = []
    for p in range(num_planes):
        signs = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()
            signs.append(1.0 if h[0] & 1 else -1.0)
        planes.append(signs)
    return planes


def _band_sigs_udf(num_bands: int, planes_per_band: int, dim: int):
    """Arrow-batched UDF: all band signatures of a vector in ONE numpy
    matmul against the (num_bands·planes_per_band)×dim plane matrix;
    planes are the deterministic md5 ±1 hyperplanes."""
    planes = np.array(
        _hyperplane_signs(num_bands * planes_per_band, dim), dtype=np.float64
    )
    weights = 1 << np.arange(planes_per_band)

    @F.pandas_udf("array<int>")
    def band_sigs(vecs: pd.Series) -> pd.Series:
        v = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (v @ planes.T) > 0  # (n, bands*r)
        sigs = (
            bits.reshape(len(v), num_bands, planes_per_band) * weights
        ).sum(axis=2).astype("int32")
        return pd.Series(list(sigs))

    return band_sigs


def auto_band_params(
    tau: float,
    n: int,
    target_recall: float = 0.95,
    max_bucket_rows: int = 64,
    max_bands: int = 48,
) -> tuple[int, int]:
    """Pick (num_bands b, planes_per_band r) from the data, not by
    hand — the [OR11] statistics step applied to LSH:

    - **r drives selectivity**: a band of r sign bits hashes into 2^r
      buckets, so expected bucket occupancy is n/2^r. Start from the
      smallest r keeping occupancy ≤ ``max_bucket_rows`` (candidate
      work per band ≈ n·occupancy — linear in n once occupancy is a
      constant), capped at 24 bits.
    - **b drives recall**: with per-bit agreement p = 1 − θ/π
      (θ = arccos τ), a τ-similar pair survives with probability
      1 − (1 − p^r)^b, so b = ⌈log(1−recall)/log(1−p^r)⌉. If that
      exceeds ``max_bands`` (replication cost ceiling), r is walked
      down — trading bucket size for fewer bands — before b is
      finally capped (at which point the recall target is
      unreachable and IVF is the better tool; documented shortfall,
      never a silent one: the caller can recompute the achieved
      recall from the same closed form).

    Examples: n=500, τ=0.4 → (r=4, b=18). n=10⁹, τ=0.9 → (r=18,
    b=47): 262k buckets/band, ~4k rows each — subquadratic candidate
    work at corpus scale with ≥95% recall."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, tau))) / math.pi
    r = min(24, max(4, math.ceil(math.log2(max(2.0, n / max_bucket_rows)))))

    def bands_for(r_: int) -> int:
        hit = p**r_
        if hit >= 1.0:
            return 1
        return max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - hit)))

    while r > 4 and bands_for(r) > max_bands:
        r -= 1
    return min(max_bands, bands_for(r)), r


def hyperplane_lsh_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    num_bands: int | None = None,
    planes_per_band: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate threshold similarity join via BANDED random-
    hyperplane LSH (Charikar 2002 signatures + the MinHash-style
    banding of dedup.py): ``num_bands`` independent signatures of
    ``planes_per_band`` sign bits each; a pair is a candidate if ANY
    band matches; residual exact dot ≥ τ.

    Banding fixes the single-signature granularity problem (one fixed
    8-bit signature = 256 buckets ⇒ n²/256 intra-bucket work at
    scale, and recall collapses for moderate τ): with bit-agreement
    probability p = 1 − θ/π, candidate recall is 1 − (1 − p^r)^b.
    When not given, (b, r) are chosen by ``auto_band_params`` from τ
    and the memoized row count — r scales with log n to pin bucket
    occupancy (selectivity), b solves the 95%-recall bound. Measured
    on the fixture (SCALE.md): recall 0.975 @ τ=0.3, 1.000 @ τ=0.4,
    precision 1 (exact residual).

    Exactly-once WITHOUT a dedup shuffle: a candidate pair is emitted
    only in its FIRST matching band ([OR11 §4]'s unique-region rule —
    the earlier-band signature arrays ride along and a pair with any
    earlier matching band is dropped before scoring).

    Execution: the exploded (band, signature) rows are COGROUPED per
    bucket and each bucket is scored by the in-group ``_fold_matmul``
    kernel (exact dots, bit-identical fold order) — so what shuffles
    and crosses the Arrow boundary is bands × n signature rows, never
    candidate PAIRS. (A previous formulation equi-joined pairs first
    and scored per-row: at sf0.1 that moved ~2M pair rows × 128
    floats through Arrow, 47 s; the cogrouped kernel is ~10×
    faster on identical output.)"""
    if num_bands is None or planes_per_band is None:
        auto_b, auto_r = auto_band_params(tau, _stat_count(emb))
        num_bands = num_bands or auto_b
        planes_per_band = planes_per_band or auto_r
    sig = _band_sigs_udf(num_bands, planes_per_band, dim)
    a = emb.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        sig(F.col(vec_col)).alias("a_sigs"),
    ).select(
        "*", F.posexplode("a_sigs").alias("__band", "__sig")
    )
    b = emb.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        sig(F.col(vec_col)).alias("b_sigs"),
    ).select(
        "*", F.posexplode("b_sigs").alias("__band", "__sig")
    )

    def kernel(ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})
        if ldf.empty or rdf.empty:
            return empty
        av = np.stack(ldf["a_vec"].to_numpy()).astype(np.float64)
        bv = np.stack(rdf["b_vec"].to_numpy()).astype(np.float64)
        cos = _fold_matmul(av, bv)
        aid = ldf["a_id"].to_numpy()
        bid = rdf["b_id"].to_numpy()
        keep = (cos >= tau) & (aid[:, None] < bid[None, :])
        band = int(ldf["__band"].iloc[0])
        if band > 0 and keep.any():
            # first-matching-band exactly-once: drop pairs that
            # already collided in an earlier band
            asig = np.stack(ldf["a_sigs"].to_numpy())[:, :band]
            bsig = np.stack(rdf["b_sigs"].to_numpy())[:, :band]
            keep &= ~(asig[:, None, :] == bsig[None, :, :]).any(axis=2)
        li, ri = keep.nonzero()
        if not len(li):
            return empty
        return pd.DataFrame(
            {"a_id": aid[li], "b_id": bid[ri], "cosine": cos[li, ri]}
        )

    return (
        a.groupby("__band", "__sig")
        .cogroup(b.groupby("__band", "__sig"))
        .applyInPandas(kernel, "a_id long, b_id long, cosine double")
    )


def hard_negatives_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact hard-negative mining: for every anchor vector, the k most
    cosine-similar vectors carrying a DIFFERENT label — the contrastive
    -training prep step (the hardest negatives are the informative
    ones). Same blocked [OR11]-region kernel as knn_cosine_blocked —
    anchors partitioned by id into blocks, candidates replicated per
    block, scores from the fold-exact matmul so ranks agree with a
    SQL oracle bit-for-bit — with the self-mask replaced by a
    label-inequality mask. Candidate-side replication is the scale
    limit; past ~10⁵ candidates route through the IVF path with a
    label filter on the probed cells."""

    def topk(adf: pd.DataFrame, bdf: pd.DataFrame, s) -> pd.DataFrame:
        q_labs, n_labs = adf["q_lab"].to_numpy(), bdf["n_lab"].to_numpy()
        return _topk_frame(
            adf["q_id"].to_numpy(), bdf["n_id"].to_numpy(), s, k,
            lambda i: n_labs != q_labs[i],
        )

    return _block_grid(
        emb.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("q_lab"),
        ),
        emb.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("n_vec"),
            F.col(label_col).alias("n_lab"),
        ),
        topk,
        "q_id long, n_id long, cosine double, rank long",
    )


def knn_query_table_biscore(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 20,
    max_queries: int = 10_000,
) -> DataFrame:
    """Bounded-probe serving kernel that ranks the corpus under TWO
    metrics — dot product (descending) and euclidean distance
    (ascending, via the identity ||c||² − 2·q·c with the query norm
    constant per partition) — in ONE map-side corpus pass: per Arrow
    batch each probe emits its local top-k under EACH metric (union,
    ≤ 2k rows/query/batch), and two global windows over the survivors
    pick the true top-k lists (the knn_query_table argument: any
    global top-k element is in its batch top-k). Output:
    (q_id, n_id, a_rank, b_rank) for rows in either top-k; a_rank =
    dot rank, b_rank = L2 rank, NULL where the row is outside that
    metric's top-k. Both scores use LEFT-FOLD accumulation
    (_fold_matmul) so they are bit-identical to DuckDB's
    list_dot_product; ties break by n_id under both metrics.

    The probe collect is knn_query_table's serving gate
    (_serving_queries, ≤ max_queries rows); past the gate this kernel
    refuses rather than degrade — rank-agreement metrics over huge
    query sets should sample probes, not shuffle the corpus."""
    served = _serving_queries(queries, id_col, vec_col, max_queries)
    if served is None:
        raise ValueError(
            f"biscore probe set exceeds max_queries ({max_queries}); "
            "sample the probes instead"
        )
    q_ids, q_mat = served

    out_schema = "q_id long, n_id long, dot double, nn double"

    def scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            c64 = np.stack(pdf["n_vec"].to_numpy()).astype(np.float64)
            n_ids = pdf["n_id"].to_numpy()
            dots = _fold_matmul(q_mat, c64)  # (|Q|, batch)
            nn = np.zeros(c64.shape[0], dtype=np.float64)
            for d in range(c64.shape[1]):  # same left-fold as the oracle
                nn += c64[:, d] * c64[:, d]
            l2 = nn[None, :] - 2.0 * dots
            kk = min(k, dots.shape[1])
            ids_rep = n_ids[None, :].repeat(len(q_ids), 0)
            top_a = np.lexsort((ids_rep, -dots))[:, :kk]
            top_b = np.lexsort((ids_rep, l2))[:, :kk]
            rows = []
            for qi in range(len(q_ids)):
                keep = np.union1d(top_a[qi], top_b[qi])
                rows.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[qi],
                            "n_id": n_ids[keep],
                            "dot": dots[qi, keep],
                            "nn": nn[keep],
                        }
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    cand = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    ).mapInPandas(scan, out_schema)
    wa = W.partitionBy("q_id").orderBy(F.desc("dot"), F.asc("n_id"))
    wb = W.partitionBy("q_id").orderBy(
        (F.col("nn") - 2 * F.col("dot")).asc(), F.asc("n_id")
    )
    ranked = cand.select(
        "q_id",
        "n_id",
        F.row_number().over(wa).cast("long").alias("a_rank"),
        F.row_number().over(wb).cast("long").alias("b_rank"),
    )
    return ranked.filter(
        (F.col("a_rank") <= k) | (F.col("b_rank") <= k)
    ).select(
        "q_id",
        "n_id",
        F.when(F.col("a_rank") <= k, F.col("a_rank")).alias("a_rank"),
        F.when(F.col("b_rank") <= k, F.col("b_rank")).alias("b_rank"),
    )
