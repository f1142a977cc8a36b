"""IVF (inverted-file) approximate nearest-neighbour search — the
clustered scale path for similarity search (north-star: "an IVF or
LSH-bucketed variant as the scale path").

A lightweight Lloyd's k-means (deterministic init, fixed iterations)
partitions the vector space; search probes only the query's nearest
centroid cell(s), turning O(n²) scoring into O(n·n/k·probes). The
centroid model is O(k·dim) floats — model parameters, exchanged with
the driver like any fitted statistic (the [OR11] analogue: the
histogram/statistics step), NOT a data materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "kmeans_lite",
    "assign_clusters",
    "ivf_self_search",
    "ivf_query_search",
]

# Below this many CELLS (rows × dim) the k-means fit collects the
# projected vectors once and runs Lloyd locally (~16 MB of float64 at
# the bound — driver MODEL state, same envelope as the centroids and
# the _cc_local edge gate). Past it the distributed fused
# assign+partial-sum kernel runs unchanged.
_LOCAL_KMEANS_MAX_CELLS = 2_000_000


def _kmeans_local(
    emb: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    k: int,
    iterations: int,
) -> list[list[float]]:
    """Gated local Lloyd fit: ONE Arrow collect of the projected
    vector column, all iterations in numpy. Accumulation is np.add.at
    in collected-row order — the same unbuffered scatter-add the
    distributed kernel uses per task, inside the same summation-order
    envelope (the distributed combine adds task partials in shuffle
    arrival order; every downstream consumer is robust to that order
    by construction and assignment equality is test-pinned)."""
    import numpy as np

    pdf = emb.select(vec_col).toPandas()
    v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    dim = v.shape[1]
    cents = np.array(centroids, dtype=np.float64)
    for _ in range(iterations):
        cl = (v @ cents.T).argmax(axis=1)
        sums = np.zeros((k, dim), dtype=np.float64)
        np.add.at(sums, cl, v)
        counts = np.bincount(cl, minlength=k)
        new = cents.copy()  # empty cluster keeps its seed
        for i in np.nonzero(counts)[0]:
            # same op sequence as the distributed combine(): sum/N,
            # then renormalize with a whole-vector norm
            c = sums[i] / float(counts[i])
            new[i] = c / np.linalg.norm(c)
        cents = new
    return [c.tolist() for c in cents]


def kmeans_lite(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 8, iterations: int = 3
) -> list[list[float]]:
    """Deterministic k-means: init = the k lowest-id vectors; a fixed
    number of Lloyd iterations (assign via max-dot since vectors are
    L2-normalized ⇒ spherical k-means; update via per-cluster mean).

    Two arms, same model. Below ``_LOCAL_KMEANS_MAX_CELLS`` (rows ×
    dim — driver model state, ~16 MB of float64 at the bound) the fit
    collects the projected vector column once through Arrow and runs
    every Lloyd iteration in local numpy (_kmeans_local): the
    distributed fit costs 1 + iterations driver actions of fixed
    overhead, measured 1.7-1.9 s of every IVF-family key at sf0.1 for
    a 1 MB input. Past the gate each iteration is ONE mapInPandas
    pass over the projected vector column that fuses assignment with
    per-cluster SUM + COUNT, emitting ≤ k tiny (cluster, sum, n) rows
    per task; a grouped combine over those tasks×k partial rows (never
    the data) finishes the mean, so nothing the size of the corpus is
    shuffled. Both arms produce the same mean up to float summation
    ORDER (partials combine in arrival order), which every downstream
    consumer is robust to by construction; equality of the resulting
    ASSIGNMENTS across the arms is pinned by
    tests/test_ivf_kernel_equiv.py on every fixture."""
    import numpy as np
    import pandas as pd

    from .joins import _stat_count

    init = (
        emb.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [list(map(float, r[0])) for r in init]
    k = len(centroids)  # fewer than k rows: both arms fit n centroids
    if centroids:
        dim0 = len(centroids[0])
        # gate reads the memoized statistics count (no extra scan on
        # repeated plan builds) and the dim from the init rows
        if dim0 and _stat_count(emb) * dim0 <= _LOCAL_KMEANS_MAX_CELLS:
            return _kmeans_local(emb, vec_col, centroids, k, iterations)
    vecs = emb.select(vec_col)  # project before the opaque pass
    for _ in range(iterations):
        cmat = np.array(centroids, dtype=np.float64)
        dim = cmat.shape[1]

        def partial_sums(batches):
            sums = np.zeros((k, dim), dtype=np.float64)
            counts = np.zeros(k, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                cl = (v @ cmat.T).argmax(axis=1)
                # unbuffered scatter-add: accumulates in row order,
                # one np.add per member — plain summation, no BLAS
                # re-blocking of the reduction
                np.add.at(sums, cl, v)
                counts += np.bincount(cl, minlength=k)
            present = np.nonzero(counts)[0]
            if len(present):  # empty task -> no partial row (an empty
                # list column would lose its Arrow list dtype)
                yield pd.DataFrame(
                    {
                        "__cl": pd.array(present, dtype="int32"),
                        "s": [sums[i].tolist() for i in present],
                        "n": counts[present],
                    }
                )

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            s = np.stack(pdf["s"].to_numpy()).astype(np.float64).sum(axis=0)
            c = s / float(pdf["n"].sum())
            c = c / np.linalg.norm(c)  # re-normalize (spherical k-means)
            return pd.DataFrame(
                {"__cl": [int(pdf["__cl"].iloc[0])], "c": [c.tolist()]}
            )

        new = (
            vecs.mapInPandas(
                partial_sums, schema="__cl int, s array<double>, n long"
            )
            .groupBy("__cl")
            .applyInPandas(combine, schema="__cl int, c array<double>")
            .collect()
        )
        by_cl = {r["__cl"]: r["c"] for r in new}
        centroids = [by_cl.get(i, centroids[i]) for i in range(k)]
    return centroids


def assign_clusters(
    emb: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(…, cluster) — nearest-centroid assignment as one Arrow-batched
    numpy matmul+argmax per partition (k×dim centroid matrix travels
    in the task closure). ~10× the per-row higher-order-function fold
    for k=8; ties broken by first-max like the expression form."""
    import numpy as np
    import pandas as pd

    cmat = np.array(centroids, dtype=np.float64)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in emb.schema
    ) + ", cluster int"

    def assign(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cl = (v @ cmat.T).argmax(axis=1).astype("int32")
            yield pdf.assign(cluster=pd.array(cl, dtype="int32"))

    return emb.mapInPandas(assign, schema=schema)


def _probe_cells(
    queries: DataFrame, id_col: str, vec_col: str, cmat, n_probe: int
) -> DataFrame:
    """Replicate each query row to its ``n_probe`` nearest centroid
    cells (by dot product): (q_id, q_vec, __cell) — the bounded
    ×n_probe small-side replication of the [OR11] rule."""
    import numpy as np
    import pandas as pd

    def probes(batches):
        for pdf in batches:
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            order = np.argsort(-(v @ cmat.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "q_id": np.repeat(
                        pdf[id_col].to_numpy().astype("int64"), n_probe
                    ),
                    "q_vec": [x for x in pdf[vec_col] for _ in range(n_probe)],
                    "__cell": pd.array(order.ravel(), dtype="int32"),
                }
            )

    return queries.mapInPandas(
        probes, schema="q_id long, q_vec array<float>, __cell int"
    )


def ivf_query_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k_neighbors: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate k-NN of each QUERY vector against the CORPUS —
    the fully distributed ANN shape (both sides stay DataFrames; no
    driver materialization of either). Centroids are fitted on the
    corpus; corpus rows hash to their nearest cell, query rows are
    replicated to their ``n_probe`` nearest cells (bounded ×n_probe
    replication of the small side, the [OR11] rule), and candidates
    meet in a per-cell cogroup — candidates per query drop from |C| to
    ~|C|·n_probe/k. ``exclude_self`` masks n_id == q_id for the
    self-search case. Output: (q_id, n_id, cosine, rank)."""
    import numpy as np
    import pandas as pd

    from .similarity import _cogroup_scored, _top_k_per_query, _topk_frame

    centroids = kmeans_lite(corpus, id_col, vec_col, k=n_clusters)
    n_probe = min(n_probe, n_clusters)

    members = assign_clusters(corpus, id_col, vec_col, centroids).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
        F.col("cluster").alias("__cell"),
    )
    queries_rep = _probe_cells(
        queries, id_col, vec_col, np.array(centroids, dtype=np.float64), n_probe
    )

    def cell_topk(qdf: pd.DataFrame, mdf: pd.DataFrame, s) -> pd.DataFrame:
        q_ids, n_ids = qdf["q_id"].to_numpy(), mdf["n_id"].to_numpy()
        mask = (lambda i: n_ids != q_ids[i]) if exclude_self else None
        return _topk_frame(q_ids, n_ids, s, k_neighbors, mask).drop(columns="rank")

    partial = _cogroup_scored(
        queries_rep, members, "__cell", cell_topk, "q_id long, n_id long, cosine double"
    )
    return _top_k_per_query(partial, k_neighbors, F.desc("cosine"))


def ivf_self_search(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k_neighbors: int = 5,
    n_clusters: int = 8,
    n_probe: int = 6,
) -> DataFrame:
    """Approximate self k-NN: each query probes its ``n_probe``
    nearest cells; candidates drop from n to ~n·n_probe/k per query.
    n_probe is the recall/cost dial. Default 6/8: on the fixture
    embeddings — i.i.d.-random vectors, the IVF WORST case, where
    recall tracks the probed corpus fraction — measured recall@5 at
    sf0.01 is 0.920 (6 probes) vs 0.848 (5) vs 0.757 (4), all at
    identical wall-clock because k-means fitting dominates at fixture
    scale (AUDIT.md recall table). On random data probing more cells
    is the ONLY honest recall lever (no residual re-rank can recover
    a neighbour whose cell was never probed); clustered production
    embeddings reach the same recall at a far lower probe fraction,
    which is where the candidate-count savings actually materialize.
    Special case of ``ivf_query_search`` with queries = corpus and
    self-matches masked. Output: (q_id, n_id, cosine, rank)."""
    return ivf_query_search(
        emb,
        emb,
        id_col,
        vec_col,
        k_neighbors=k_neighbors,
        n_clusters=n_clusters,
        n_probe=n_probe,
        exclude_self=True,
    )
