"""r14-opt regression guard: the fused partial-sum kmeans_lite kernel
must produce the SAME clustering as the original grouped-pandas-mean
kernel (operators/ivf.py HISTORY).

The optimization replaced "assign pass -> full-vector shuffle ->
grouped np.mean -> collect" with "one fused assign+partial-sum pass ->
tiny grouped combine -> collect". The centroid arithmetic changes only
in float summation ORDER (partial sums across tasks vs pandas-group
pairwise mean), the same nondeterminism envelope the old kernel
already had (group rows arrived in shuffle-fetch order). Downstream
consumers (IVF cell routing, SemDeDup cluster scoping, PQ coarse
cells) depend on the argmax ASSIGNMENT, so that is what must match:
random L2-normalized vectors have argmax margins ~1e-2, while
summation-order drift is ~1e-15.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from mapreducenonequijoin_spark.operators.ivf import (
    assign_clusters,
    kmeans_lite,
)
from mapreducenonequijoin_spark.sources.io import load_table


def _kmeans_lite_reference(emb, id_col, vec_col, k=8, iterations=3):
    """The pre-r14-opt kernel, verbatim: per iteration one assign pass
    plus a full shuffle of the vectors into a grouped np.mean."""
    init = emb.orderBy(id_col).limit(k).select(vec_col).collect()
    centroids = [list(map(float, r[0])) for r in init]
    for _ in range(iterations):
        assigned = assign_clusters(
            emb, id_col, vec_col, centroids
        ).withColumnRenamed("cluster", "__cl")

        def mean_vec(pdf):
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            c = mat.mean(axis=0)
            c = c / np.linalg.norm(c)
            return pd.DataFrame(
                {"__cl": [int(pdf["__cl"].iloc[0])], "c": [c.tolist()]}
            )

        new = (
            assigned.groupBy("__cl")
            .applyInPandas(mean_vec, schema="__cl int, c array<double>")
            .collect()
        )
        by_cl = {r["__cl"]: r["c"] for r in new}
        centroids = [by_cl.get(i, centroids[i]) for i in range(k)]
    return centroids


def test_fused_kmeans_matches_reference_kernel(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    for k in (4, 8):
        ref = _kmeans_lite_reference(emb, "vec_id", "embedding", k=k)
        new = kmeans_lite(emb, "vec_id", "embedding", k=k)
        # centroids agree to summation-order noise
        assert np.allclose(np.array(ref), np.array(new), atol=1e-12)
        # and the ASSIGNMENT — what every consumer reads — is identical
        a_ref = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(
                emb, "vec_id", "embedding", ref
            ).collect()
        }
        a_new = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(
                emb, "vec_id", "embedding", new
            ).collect()
        }
        assert a_ref == a_new


def test_local_kmeans_matches_distributed_kernel(spark, sf_dir, monkeypatch):
    """r15-opt: below _LOCAL_KMEANS_MAX_CELLS the fit collects the
    vectors once and runs Lloyd locally. The local accumulation order
    differs from the distributed combine only in float summation
    ORDER (same envelope as r14's fused kernel); the argmax
    ASSIGNMENT every consumer reads must be identical. Force the
    distributed kernel by zeroing the gate and compare."""
    import mapreducenonequijoin_spark.operators.ivf as ivf_mod

    emb = load_table(spark, sf_dir, "embeddings")
    for k in (4, 8):
        local = kmeans_lite(emb, "vec_id", "embedding", k=k)
        monkeypatch.setattr(ivf_mod, "_LOCAL_KMEANS_MAX_CELLS", 0)
        dist = kmeans_lite(emb, "vec_id", "embedding", k=k)
        monkeypatch.undo()
        assert np.allclose(np.array(local), np.array(dist), atol=1e-12)
        a_local = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(emb, "vec_id", "embedding", local).collect()
        }
        a_dist = {
            r["vec_id"]: r["cluster"]
            for r in assign_clusters(emb, "vec_id", "embedding", dist).collect()
        }
        assert a_local == a_dist

    # fewer rows than k: both arms fit the n rows as n centroids
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    local = kmeans_lite(tiny, "vec_id", "embedding", k=8)
    monkeypatch.setattr(ivf_mod, "_LOCAL_KMEANS_MAX_CELLS", 0)
    dist = kmeans_lite(tiny, "vec_id", "embedding", k=8)
    monkeypatch.undo()
    assert len(local) == len(dist) == 3
    assert np.allclose(np.array(local), np.array(dist), atol=1e-12)


def test_fused_kmeans_empty_cluster_keeps_seed(spark):
    """A cluster that captures no member keeps its previous centroid
    (the by_cl.get fallback) — same contract as the old kernel. Two
    IDENTICAL init vectors force it in ITERATION 1: argmax ties break
    to the first centroid, so cluster 1 starts empty and the fallback
    must fire. (From iteration 2 centroid 0 has moved toward the mean
    and the two [1,0,0] vectors strictly prefer centroid 1, whose
    recomputed mean of identical vectors equals the seed — so the
    final assertion holds either way; the fallback itself is what
    iteration 1 exercises. ADVICE r14 item 3.)"""
    v = [1.0, 0.0, 0.0]
    rows = [(0, v), (1, v), (2, [0.8, 0.6, 0.0]), (3, [0.6, 0.8, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lite(emb, "vec_id", "embedding", k=2)
    assert len(cents) == 2
    assert cents[1] == v  # empty cluster kept its init centroid
