"""Product-quantization (PQ) approximate nearest-neighbour search —
the memory-side scale path for embedding similarity (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
2011). Where IVF (operators/ivf.py) prunes WHICH vectors are scored,
PQ compresses HOW each vector is scored: the 64-dim float vector
(256 B) becomes m=8 uint8 codes (8 B, 32× smaller), and a query is
scored against a candidate with m table lookups instead of a 64-mul
dot product. At 100 TB of embeddings the codes fit where the floats
never could, and the asymmetric-distance (ADC) scan is memory-bound
rather than FLOP-bound — the standard billion-scale ANN recipe
(IVF-ADC) is exactly these two operators composed.

Distributed layout mirrors the engine's model-state rule: codebooks
are O(m·ksub·d_sub) floats fitted by Lloyd iterations whose per-
partition sufficient statistics (count + vector sum per (subspace,
cell)) are the ONLY rows that reach the driver — bounded at
partitions × m × ksub regardless of corpus size, the same contract
as ivf.kmeans_lite's k×dim collect. Encoding and the ADC scan are
single mapInPandas passes: zero shuffles over the corpus, per-batch
top-k so only n_queries × k candidate rows leave each partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pq_train", "pq_search", "ivfpq_search"]


def _sub_sq_dists(X, codebooks, j: int):
    """(n, ksub) squared L2 from each row's j-th subvector of ``X`` to
    the centroids of codebook j (codebooks: m × ksub × d_sub)."""
    d_sub = codebooks.shape[2]
    Xj = X[:, j * d_sub : (j + 1) * d_sub]
    return ((Xj[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)


def _pq_encode(X, codebooks):
    """(n, m) int64 PQ codes: per subspace, the nearest centroid
    (numpy argmin — ties to the lower cell id)."""
    import numpy as np

    return np.stack(
        [_sub_sq_dists(X, codebooks, j).argmin(axis=1) for j in range(len(codebooks))],
        axis=1,
    ).astype(np.int64)


def _adc_tables(Q, codebooks):
    """tables[qi, j, c] = ||Q[qi]_j − centroid_{j,c}||² (nq × m × ksub)."""
    import numpy as np

    return np.stack(
        [_sub_sq_dists(Q, codebooks, j) for j in range(len(codebooks))], axis=1
    )


def _adc_rerank(q_ids, Q, n_ids, X, codes, tables, k, rerank_depth, rerank_frac):
    """Two-stage PQ top-k per query row, self-matches masked: ADC
    scores adc[qi, row] = Σ_j tables[qi, j, codes[row, j]] pick a
    shortlist of ``max(rerank_depth, rerank_frac × candidates)`` rows,
    which are re-scored with the exact squared L2 against the raw
    vectors ``X`` (already in memory — FLOPs on a fixed fraction, not
    a second data pass); the k best by (l2_sq, n_id) are emitted.
    Output: (q_id, n_id, l2_sq)."""
    import numpy as np
    import pandas as pd

    adc = tables[:, np.arange(codes.shape[1])[None, :], codes].sum(axis=2)
    out_q, out_n, out_d = [], [], []
    for qi in range(len(q_ids)):
        mask = n_ids != q_ids[qi]
        cand_n, cand_adc, cand_X = n_ids[mask], adc[qi][mask], X[mask]
        depth = max(rerank_depth, int(rerank_frac * len(cand_n)))
        short = np.lexsort((cand_n, cand_adc))[:depth]
        exact = ((cand_X[short] - Q[qi]) ** 2).sum(axis=1)
        order = np.lexsort((cand_n[short], exact))[:k]
        out_q.extend([q_ids[qi]] * len(order))
        out_n.extend(cand_n[short][order])
        out_d.extend(exact[order])
    return pd.DataFrame({"q_id": out_q, "n_id": out_n, "l2_sq": out_d})


def _global_top_k(partial: DataFrame, k: int) -> DataFrame:
    """Global k best per query by exact squared L2 (rounded to 6 dp)."""
    from .similarity import _top_k_per_query

    return _top_k_per_query(partial, k, F.asc("l2_sq")).select(
        "q_id", "n_id", F.round("l2_sq", 6).alias("l2_sq"), "rank"
    )


def pq_train(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 3,
    dim: int = 64,
):
    """Fit m per-subspace codebooks of ksub centroids each (list of
    m arrays, ksub × dim/m). Deterministic: init = subvectors of the
    ksub lowest-id vectors; fixed Lloyd iterations; numpy argmin
    breaks ties toward the lower cell id. One distributed pass per
    iteration; driver traffic is the (subspace, cell) sufficient
    statistics only."""
    import numpy as np
    import pandas as pd

    d_sub = dim // m
    if d_sub * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")

    init = emb.orderBy(id_col).limit(ksub).select(vec_col).collect()
    V = np.array([list(map(float, r[0])) for r in init], dtype=np.float64)
    codebooks = np.stack(
        [V[:, j * d_sub : (j + 1) * d_sub] for j in range(m)]
    )  # m × ksub × d_sub

    stat_schema = "sub int, cl int, n long, s array<double>"
    for _ in range(iterations):
        cb = codebooks.copy()

        def partials(batches):
            for pdf in batches:
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                codes = _pq_encode(X, cb)
                rows = []
                for j in range(m):
                    Xj = X[:, j * d_sub : (j + 1) * d_sub]
                    for c in range(ksub):
                        mask = codes[:, j] == c
                        if mask.any():
                            rows.append(
                                (j, c, int(mask.sum()), Xj[mask].sum(0).tolist())
                            )
                yield pd.DataFrame(rows, columns=["sub", "cl", "n", "s"])

        stats = emb.select(vec_col).mapInPandas(partials, stat_schema).collect()
        counts = np.zeros((m, ksub))
        sums = np.zeros((m, ksub, d_sub))
        for r in stats:
            counts[r["sub"], r["cl"]] += r["n"]
            sums[r["sub"], r["cl"]] += np.array(r["s"])
        nonzero = counts > 0
        codebooks[nonzero] = sums[nonzero] / counts[nonzero][:, None]
    return codebooks


def pq_search(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k_neighbors: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    rerank_depth: int = 100,
    rerank_frac: float = 0.1,
) -> DataFrame:
    """ADC top-k with exact re-rank — the standard two-stage PQ
    serving recipe (shortlist by table lookups, re-score the short
    list with true distances; Jégou TPAMI 2011 §V). For each query
    (fetched by id — bounded serving state, like knn_query_table's
    gated block) precompute the m × ksub squared-distance table
    query-subvector → centroid; every corpus vector is scored with m
    argmin-encoded table lookups in one mapInPandas pass, the ADC
    top-``rerank_depth`` PER BATCH are re-scored against the exact
    float vectors still resident in the same Arrow batch (no second
    pass, no shuffle), and a final window keeps the global k by exact
    distance. Raw-ADC ranking on i.i.d.-random vectors (the PQ worst
    case: neighbour gaps ≪ quantization error) measures recall ~0.2;
    the re-rank stage lifts it to P(true neighbour ∈ batch ADC
    top-R), ≈1.0 at the fixture scales (recall tests in
    tests/test_llm_ops.py). Self-matches are masked. Output:
    (q_id, n_id, l2_sq, rank) — l2_sq is the EXACT squared L2 of the
    approximately-selected candidate (monotone in cosine for
    L2-normalized inputs).

    The shortlist depth is max(rerank_depth, rerank_frac × batch
    candidates), a constant COVERED FRACTION of each batch: a fixed
    100-row depth shrank the covered fraction with batch size and
    measured recall 0.875 at sf0.01 but 0.725 at sf0.1 (one 10k-row
    batch made the shortlist 1 % of the candidates). With the
    fraction, P(true neighbour in shortlist) is scale-stable on the
    i.i.d.-random worst case, at re-rank cost linear in the same
    fraction (production trades rerank_frac vs latency)."""
    import numpy as np

    codebooks = pq_train(emb, id_col, vec_col, m=m, ksub=ksub, dim=dim)

    q_rows = (
        emb.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = np.array([int(r[0]) for r in q_rows], dtype=np.int64)
    Q = np.array([list(map(float, r[1])) for r in q_rows], dtype=np.float64)
    tables = _adc_tables(Q, codebooks)

    def adc_scan(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield _adc_rerank(
                q_ids, Q, pdf[id_col].to_numpy().astype(np.int64), X,
                _pq_encode(X, codebooks), tables,
                k_neighbors, rerank_depth, rerank_frac,
            )

    partial = emb.select(id_col, vec_col).mapInPandas(
        adc_scan, schema="q_id long, n_id long, l2_sq double"
    )
    return _global_top_k(partial, k_neighbors)


def ivfpq_search(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k_neighbors: int = 5,
    n_clusters: int = 8,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    rerank_depth: int = 50,
    rerank_frac: float = 0.5,
) -> DataFrame:
    """IVF-PQ: the billion-scale ANN architecture (Jégou TPAMI 2011
    §VII / FAISS IVFPQ) — coarse k-means cells prune WHICH vectors are
    scored, residual product-quantization compresses HOW, and an exact
    re-rank of the per-cell ADC shortlist restores precision.

    Index build (all bounded model state / single corpus passes):
    coarse centroids via kmeans_lite (k×dim driver state), PQ
    codebooks fitted on cell RESIDUALS v − c(v) (residuals carry ~1/k
    of the raw variance, so the same ksub codes quantize them far
    more finely — the reason real IVFPQ encodes residuals), members
    encoded once into (cell, m codes, raw vector) in one mapInPandas
    pass. Serving: queries replicate to their n_probe nearest cells
    (bounded small-side replication, the [OR11] rule), candidates
    meet in a per-cell cogroup where the per-(query, cell) ADC table
    is m·ksub·d/m flops, each member costs m int lookups, and only
    the ADC top-``max(rerank_depth, rerank_frac x cell members)`` are
    re-scored exactly against the raw vectors already resident in the
    group. Output: (q_id, n_id, l2_sq, rank) — l2_sq exact for the
    selected rows.

    The per-cell shortlist is a covered FRACTION for the same reason
    as pq_search's (a fixed 50-row depth measured recall 0.900 at
    sf0.01 but 0.450 at sf0.1). Measured ladder at sf0.1 (probes=4):
    frac 0.1 -> 0.475, 0.25 -> 0.50, 0.5 -> 0.80, 1.0 -> 0.95 — i.e.
    on the fixture's i.i.d.-random embeddings (nn-gap << quantization
    error, the documented PQ worst case) the residual-ADC ranking
    carries almost no signal and the RE-RANKED FRACTION is the recall
    dial; the coarse probing itself is fine (probes=4 at frac=1.0
    reaches 0.95). Default frac=0.5: scale-stable 0.80 recall, re-rank
    FLOPs half the probed mass. Clustered production embeddings are
    the opposite regime — ADC discriminates and small fractions
    suffice; tune rerank_frac against latency there.
    """
    import numpy as np
    import pandas as pd

    from .ivf import _probe_cells, assign_clusters, kmeans_lite
    from .similarity import _empty_frame

    if (dim // m) * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    n_probe = min(n_probe, n_clusters)

    centroids = kmeans_lite(emb, id_col, vec_col, k=n_clusters)
    cmat = np.array(centroids, dtype=np.float64)

    members = assign_clusters(emb, id_col, vec_col, centroids)

    def residuals(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = pdf["cluster"].to_numpy().astype(np.int64)
            R = X - cmat[cells]
            yield pd.DataFrame({id_col: pdf[id_col], "res": list(R)})

    res_df = members.mapInPandas(residuals, schema=f"{id_col} long, res array<double>")
    codebooks = pq_train(res_df, id_col, "res", m=m, ksub=ksub, dim=dim)

    def encode(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = pdf["cluster"].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "n_id": pdf[id_col].to_numpy().astype("int64"),
                    "n_vec": pdf[vec_col],
                    "__cell": pd.array(cells, dtype="int32"),
                    "codes": list(_pq_encode(X - cmat[cells], codebooks)),
                }
            )

    members_enc = members.mapInPandas(
        encode, schema="n_id long, n_vec array<float>, __cell int, codes array<long>"
    )
    queries_rep = _probe_cells(
        emb.filter(F.col(id_col).isin([int(q) for q in query_ids])),
        id_col, vec_col, cmat, n_probe,
    )
    schema = "q_id long, n_id long, l2_sq double"

    def cell_adc_topk(qdf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if qdf.empty or mdf.empty:
            return _empty_frame(schema)
        Q = np.stack(qdf["q_vec"].to_numpy()).astype(np.float64)
        return _adc_rerank(
            qdf["q_id"].to_numpy(), Q, mdf["n_id"].to_numpy(),
            np.stack(mdf["n_vec"].to_numpy()).astype(np.float64),
            np.stack(mdf["codes"].to_numpy()).astype(np.int64),
            _adc_tables(Q - cmat[int(qdf["__cell"].iloc[0])], codebooks),
            k_neighbors, rerank_depth, rerank_frac,
        )

    partial = (
        queries_rep.groupBy("__cell")
        .cogroup(members_enc.groupBy("__cell"))
        .applyInPandas(cell_adc_topk, schema=schema)
    )
    return _global_top_k(partial, k_neighbors)
