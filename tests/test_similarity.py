"""Blocked numpy kernels must reproduce the DataFrame brute-force
plans exactly — including bit-identical cosines (the _fold_matmul
order-preservation property)."""

from __future__ import annotations

from mapreducenonequijoin_spark.operators.similarity import (
    knn_cosine_blocked,
    knn_cosine_brute,
    threshold_similarity_blocked,
    threshold_similarity_join,
)
from mapreducenonequijoin_spark.sources.io import load_table


def test_knn_blocked_equals_brute(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.q_id, r.rank): (r.n_id, r.cosine)
        for r in knn_cosine_blocked(emb, "vec_id", "embedding", k=5).collect()
    }
    want = {
        (r.q_id, r.rank): (r.n_id, r.cosine)
        for r in knn_cosine_brute(emb, "vec_id", "embedding", k=5).collect()
    }
    assert got == want  # exact equality incl. float bits


def test_threshold_blocked_equals_1bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in threshold_similarity_blocked(
            emb, "vec_id", "embedding", 0.3
        ).collect()
    }
    want = {
        (r.a_id, r.b_id): r.cosine
        for r in threshold_similarity_join(emb, "vec_id", "embedding", 0.3).collect()
    }
    assert got == want and len(want) > 0


def test_knn_query_table_large_q_routes_to_ivf(spark):
    """VERDICT r5 item 6: above the max_queries gate, knn_query_table
    must route to the distributed IVF cell-probe plan — same output
    contract, NO cross product / BNLJ at any |Q| — and its recall@k
    against the exact small-|Q| path must clear the IVF floor."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.similarity import knn_query_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)

    # force the fallback with a tiny gate
    approx = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5, max_queries=10
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = approx.collect()
    # output contract: ranks 1..k per query, k rows per query here
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.rank)
    n_queries = queries.count()
    assert len(by_q) == n_queries
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())

    exact = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5
    ).collect()
    truth = {(r.q_id, r.n_id) for r in exact}
    found = {(r.q_id, r.n_id) for r in got}
    recall = len(truth & found) / len(truth)
    # IVF n_probe=2 over 8 cells: empirically ~0.9+ on the fixture;
    # 0.7 is the loud-failure floor, not the expectation
    assert recall >= 0.7, f"IVF recall@5 degraded: {recall:.3f}"


def test_ivf_self_search_recall_floor(spark):
    """Registry-default IVF self-search (8 cells / 6 probes) must hold
    recall@5 >= 0.85 even on the i.i.d.-random fixture vectors (IVF's
    worst case, where recall tracks probed fraction). Measured 0.920
    at sf0.01 (r7); 0.85 is the loud-failure floor the VERDICT gate
    asks for, not the expectation."""
    from mapreducenonequijoin_spark.operators.ivf import ivf_self_search
    from mapreducenonequijoin_spark.operators.similarity import knn_cosine_blocked

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    truth = {
        (r.q_id, r.n_id)
        for r in knn_cosine_blocked(emb, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r.q_id, r.n_id)
        for r in ivf_self_search(emb, "vec_id", "embedding", 5).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.85, f"IVF self-search recall@5 degraded: {recall:.3f}"


def test_hard_negatives_never_same_label(spark, sf_dir):
    """Mined negatives must all carry a different label than their
    anchor, ranks must be dense 1..k, and each anchor's cosines
    non-increasing by rank."""
    from mapreducenonequijoin_spark.operators.similarity import (
        hard_negatives_blocked,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    emb = load_table(spark, str(sf_dir), "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = hard_negatives_blocked(emb, "vec_id", "embedding", "label", k=5).collect()
    per_anchor: dict = {}
    for r in rows:
        assert labels[r.n_id] != labels[r.q_id]
        per_anchor.setdefault(r.q_id, []).append((r.rank, r.cosine))
    for q, rs in per_anchor.items():
        rs.sort()
        assert [rk for rk, _ in rs] == list(range(1, len(rs) + 1))
        cos = [c for _, c in rs]
        assert all(a >= b for a, b in zip(cos, cos[1:]))

    # values: a brute-force masked top-k (cross join, label-inequality
    # filter, (cosine desc, n_id asc) window) picks the same negatives
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.functions.vectors import dot_expr

    a = emb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"),
        F.col("label").alias("q_lab"),
    )
    b = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("nv"),
        F.col("label").alias("n_lab"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    want = {
        (r.q_id, r.rank): r.n_id
        for r in a.crossJoin(b)
        .filter(F.col("q_lab") != F.col("n_lab"))
        .withColumn("cosine", dot_expr("qv", "nv"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .collect()
    }
    assert {(r.q_id, r.rank): r.n_id for r in rows} == want


def test_diversified_topk_one_per_label(spark, sf_dir):
    """Diversity contract: distinct labels, descending scores, and
    each winner is its label's best-scoring candidate."""
    from mapreducenonequijoin_spark.plans.llm import sim_diversified_topk

    rows = sorted(sim_diversified_topk(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    labels = [r.label for r in rows]
    assert len(set(labels)) == len(labels)
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_knn_recall_gate_row_and_determinism(spark, sf_dir):
    """The serving-recall gate row (VERDICT r8 item 8): exactly one
    row, n_queries equals the probe-set size, the boolean claim holds,
    and a second evaluation is identical (deterministic IVF: lowest-id
    k-means init, fixed iterations — no RNG anywhere on the path)."""
    from mapreducenonequijoin_spark.plans.llm import sim_knn_recall_gate

    r1 = sim_knn_recall_gate(spark, sf_dir).collect()
    assert len(r1) == 1
    row = r1[0]
    assert row.n_queries == 64
    assert row.recall_ge_090 is True
    r2 = sim_knn_recall_gate(spark, sf_dir).collect()
    assert r1 == r2
