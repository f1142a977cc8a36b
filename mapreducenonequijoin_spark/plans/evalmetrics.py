"""Model- and retrieval-evaluation queries: exact distributed AUC,
confusion-matrix metrics, NDCG@k, and reciprocal-rank fusion.

Training-data pipelines do not stop at producing features and scores —
every quality-classifier rollout (CCNet-style filtering, logreg
quality gates) is judged by AUC / precision-recall on held-out labels,
and every retrieval stack (BM25 ⊕ dense) is judged by NDCG and fused
with RRF (Cormack, Clarke & Büttcher, SIGIR'09). These plans compute
those metrics *inside* the engine, at corpus scale, with the repo's
determinism discipline (SURVEY §5.4): every statistic is an integer
aggregate for as long as possible, and each float is produced by ONE
fixed parenthesization rounded once — so the DuckDB oracle hashes
bit-identically.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.io import load_table
from ._scalar import attach_scalar_frame
from .registry import register
from .llm import _LOGREG_B, _LOGREG_W

# Binary ground truth for the logreg scorer's eval: class 2 vs rest.
_POS_LABEL = 2

def _score_sql(scale: float = 1.0) -> str:
    """Oracle CTE for the sigmoid score at a given logit temperature
    scale (1/T): identical literal weights as model_score_logreg."""
    return f"""
      SELECT vec_id, label,
             round(1.0 / (1.0 + exp(-({scale!r} * (
               list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 {_LOGREG_W!r}::DOUBLE[]
               ) + {_LOGREG_B!r}
             )))), 6) AS score
      FROM embeddings
"""


_SCORE_SQL = _score_sql()


def _scored(spark: SparkSession, sf_dir: str, scale: float = 1.0) -> DataFrame:
    """(vec_id, label, score): the model_score_logreg sigmoid at logit
    temperature 1/scale, rounded to 6dp BEFORE any ranking/threshold
    so ulp gaps in exp() can never flip a rank or a cut line (same
    discipline as text_bm25_search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(w) for w in _LOGREG_W]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = 1.0 / (1.0 + F.exp(-(F.lit(scale) * (dot + F.lit(_LOGREG_B)))))
    return emb.select("vec_id", "label", F.round(p, 6).alias("score"))


@register(
    "eval_auc_rank_sum",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    per_score AS (
      SELECT score,
             CAST(count(*) AS BIGINT) AS c,
             CAST(count(*) FILTER (label = {_POS_LABEL}) AS BIGINT) AS p
      FROM scored GROUP BY score
    ),
    ranked AS (
      SELECT *,
             CAST(coalesce(sum(c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM per_score
    ),
    tot AS (
      SELECT CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(c - p) AS BIGINT) AS n_neg,
             CAST(sum(p * (2 * cum_before + c + 1)) AS BIGINT) AS sum2
      FROM ranked
    )
    SELECT n_pos, n_neg,
           round(CAST(sum2 - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2 * n_pos * n_neg), 6) AS auc
    FROM tot
    """,
)
def eval_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney rank sum with midrank tie
    handling — the metric every quality-classifier gate is tuned on.

    The textbook formulation needs a global rank over every scored row
    (a single-partition sort at 100 TB). This plan instead aggregates
    to one row per DISTINCT score first: scores are rounded to 6dp in
    (0,1), so the ranked frame is ≤10⁶ rows FOREVER, independent of
    corpus size — the same bounded-frame argument as
    win_running_distinct. Tie midranks fold into integers: with c_s
    rows (p_s positive) at score s and cum_s rows strictly below,
    2·Σ(ranks of positives) = Σ p_s·(2·cum_s + c_s + 1), giving
        AUC = (sum2 − n_pos(n_pos+1)) / (2·n_pos·n_neg)
    — all-int64 numerator and denominator, ONE float division, rounded
    once. Bit-exact across engines by construction; no approximation,
    no sampling."""
    per_score = _scored(spark, sf_dir).groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("label") == _POS_LABEL).cast("long").alias("p"),
    )
    # bounded frame: ≤ 10^6 distinct 6dp scores regardless of input size
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long")
    )
    tot = ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("long").alias("n_neg"),
        F.sum(
            F.col("p") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).cast("long").alias("sum2"),
    )
    auc = (
        (F.col("sum2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
        / (2 * F.col("n_pos") * F.col("n_neg"))
    )
    return tot.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


def _confusion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (tp, fp, fn, tn) at the 0.5 score cut: a single
    4-counter aggregate over the scored embeddings."""
    s = _scored(spark, sf_dir)
    pred = F.col("score") >= 0.5
    pos = F.col("label") == _POS_LABEL
    return s.agg(
        F.count_if(pred & pos).cast("long").alias("tp"),
        F.count_if(pred & ~pos).cast("long").alias("fp"),
        F.count_if(~pred & pos).cast("long").alias("fn"),
        F.count_if(~pred & ~pos).cast("long").alias("tn"),
    )


@register(
    "eval_confusion_metrics",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    cm AS (
      SELECT
        CAST(count(*) FILTER (score >= 0.5 AND label = {_POS_LABEL}) AS BIGINT) AS tp,
        CAST(count(*) FILTER (score >= 0.5 AND label <> {_POS_LABEL}) AS BIGINT) AS fp,
        CAST(count(*) FILTER (score < 0.5 AND label = {_POS_LABEL}) AS BIGINT) AS fn,
        CAST(count(*) FILTER (score < 0.5 AND label <> {_POS_LABEL}) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
           round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) AS f1,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
    FROM cm
    """,
)
def eval_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1/accuracy at the 0.5 cut
    — the companion readout to AUC for a deployed filter threshold.

    ONE full scan, ONE 4-counter partial aggregate (count_if folds
    map-side; the shuffle moves four int64s per partition total); every
    derived metric is a single division of exact integer counts,
    rounded once. The F1 uses the algebraic 2tp/(2tp+fp+fn) form — one
    division instead of the harmonic mean's three, so there is exactly
    one float op to agree on."""
    cm = _confusion_counts(spark, sf_dir)
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round(dbl("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(dbl("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


# NDCG@k discounts 1/log2(i+1), scaled to exact integers (micro-units)
# in PYTHON at import time and embedded as literals in BOTH engines —
# neither engine ever evaluates log2, so its cross-engine ulp gap is
# structurally impossible, and DCG/IDCG become int64 sums.
_NDCG_K = 10
_DISC_INT = [round(1_000_000 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]
_DISC_PREFIX = [sum(_DISC_INT[: i + 1]) for i in range(_NDCG_K)]


@register(
    "eval_ndcg_at_k",
    oracle=f"""
    WITH topk AS (
      SELECT q_id, n_id, rank FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) DESC,
                          b.vec_id) AS rank
        FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
      WHERE rank <= {_NDCG_K}
    ),
    lbl AS (SELECT vec_id, label FROM embeddings),
    cls AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM lbl GROUP BY 1),
    dcg AS (
      SELECT t.q_id,
             CAST(sum(CASE WHEN ln.label = lq.label
                  THEN ({_DISC_INT!r}::BIGINT[])[t.rank] ELSE 0 END)
                  AS BIGINT) AS dcg_int,
             CAST(count(*) FILTER (ln.label = lq.label) AS BIGINT) AS n_rel_topk,
             max(lq.label) AS q_label
      FROM topk t JOIN lbl lq ON lq.vec_id = t.q_id
                  JOIN lbl ln ON ln.vec_id = t.n_id
      GROUP BY t.q_id
    )
    SELECT d.q_id, d.n_rel_topk,
           round(CAST(d.dcg_int AS DOUBLE)
                 / ({_DISC_PREFIX!r}::BIGINT[])[least(CAST({_NDCG_K} AS BIGINT),
                                                      c.n - 1)], 6) AS ndcg
    FROM dcg d JOIN cls c ON c.label = d.q_label
    """,
)
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query over the exact k-NN ranking, with binary
    relevance = "neighbour shares the query's class label" — the
    retrieval-quality readout for every embedding-search stack
    (Järvelin & Kekäläinen, TOIS'02).

    Determinism: the discount table 1/log₂(i+1) is precomputed in
    Python as integer micro-units and embedded as literals in BOTH
    engines, so DCG and ideal-DCG are plain int64 sums (no engine
    evaluates a logarithm); NDCG is their ONE rounded division. The
    ideal uses the standard corpus-wide form: IDCG@k = Σ of the first
    min(k, R) discounts where R = the query's class size − 1 (its
    relevant pool), a broadcast-joined |labels|-row dimension. The
    k-NN itself reuses the size-gated router's contract (ranks tied by
    id); at scale the per-query frames are k rows — the heavy lifting
    is the ANN search, already measured elsewhere."""
    from ..operators.similarity import knn_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    lbl = emb.select("vec_id", "label")
    cls = lbl.groupBy("label").agg(F.count("*").cast("long").alias("n"))
    topk = knn_cosine(emb, "vec_id", "embedding", k=_NDCG_K).select(
        "q_id", "n_id", "rank"
    )
    disc = F.array(*[F.lit(d) for d in _DISC_INT])
    prefix = F.array(*[F.lit(p) for p in _DISC_PREFIX])
    lq = lbl.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
    ln_ = lbl.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"))
    dcg = (
        topk.join(F.broadcast(lq), "q_id")
        .join(F.broadcast(ln_), "n_id")
        .groupBy("q_id")
        .agg(
            F.sum(
                F.when(
                    F.col("n_label") == F.col("q_label"),
                    F.element_at(disc, F.col("rank").cast("int")),
                ).otherwise(F.lit(0))
            ).cast("long").alias("dcg_int"),
            F.count_if(F.col("n_label") == F.col("q_label"))
            .cast("long").alias("n_rel_topk"),
            F.max("q_label").alias("q_label"),
        )
    )
    idcg = F.element_at(
        prefix,
        F.least(F.lit(_NDCG_K).cast("long"), F.col("n") - 1).cast("int"),
    )
    return (
        dcg.join(F.broadcast(cls), dcg.q_label == cls.label)
        .select(
            "q_id",
            "n_rel_topk",
            F.round(F.col("dcg_int").cast("double") / idcg, 6).alias("ndcg"),
        )
    )


_RRF_K = 60  # the SIGIR'09 constant
_RRF_POOL = 50  # per-ranker candidate pool
_RRF_TOPK = 20
_RRF_TERMS = ["join", "window", "scan"]  # same fixed query as BM25


def _rank_pools(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The two retrieval arms' top-``_RRF_POOL`` pools: lexical
    (doc_id, lex_rank) by integer tf over ``_RRF_TERMS``, and dense
    (doc_id, vec_rank) by the 6dp-rounded cosine to vector 0. Each pool
    is a TakeOrdered top-k, ranked by row_number over (score DESC,
    doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").isin(_RRF_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("vec_id").alias("q_anchor"),
    )
    cand = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    )
    scored = attach_scalar_frame(cand, "doc_id", q, "q_anchor").select(
        "doc_id",
        F.round(
            F.aggregate(
                F.zip_with("q_emb", "c_emb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("cosine"),
    )

    def ranked(frame: DataFrame, score: str, rank: str) -> DataFrame:
        order = (F.col(score).desc(), "doc_id")
        return frame.orderBy(*order).limit(_RRF_POOL).select(
            "doc_id",
            F.row_number().over(Window.orderBy(*order)).cast("long").alias(rank),
        )

    return ranked(tf, "tf", "lex_rank"), ranked(scored, "cosine", "vec_rank")


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS lex_rank
      FROM (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
        WHERE w IN ('join', 'window', 'scan')
        GROUP BY doc_id
      ) QUALIFY lex_rank <= {_RRF_POOL}
    ),
    vec AS (
      SELECT n_id AS doc_id,
             row_number() OVER (ORDER BY cosine DESC, n_id) AS vec_rank
      FROM (
        SELECT b.vec_id AS n_id,
               round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE b.vec_id <> 0
      ) QUALIFY vec_rank <= {_RRF_POOL}
    ),
    fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             round(coalesce(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + v.vec_rank), 0.0), 6) AS rrf
      FROM lex l FULL OUTER JOIN vec v USING (doc_id)
    )
    SELECT doc_id, lex_rank, vec_rank, rrf,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
    FROM fused QUALIFY fused_rank <= {_RRF_TOPK}
    """,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical ⊕ dense retrieval fused with Reciprocal Rank
    Fusion, score(d) = Σᵣ 1/(60 + rankᵣ(d)) (Cormack, Clarke &
    Büttcher, SIGIR'09) — the standard first fusion every RAG stack
    runs before a reranker, robust because it reads only RANKS, never
    incomparable raw scores.

    Each ranker produces its pool-of-50 with the distributed
    TakeOrdered idiom (orderBy+limit — never a global row_number over
    the corpus); rank assignment then windows over 50 rows. The
    lexical arm is an integer term-frequency count (pushed-down IN
    filter on the exploded terms); the dense arm scores against the
    query vector riding the unfoldable-key broadcast scalar frame
    (BroadcastHashJoin, never BNLJ) with cosines rounded to 6dp before
    ranking. Fusion full-outer-joins two ≤50-row frames — a
    constant-size sort-merge at any corpus scale (Spark cannot
    broadcast a FULL outer's either side) — and the RRF score is ONE fixed
    two-term float sum rounded once. NULL lex_rank/vec_rank mark
    single-arm hits, int ranks elsewhere; ties in rrf break by
    doc_id."""
    lex, vec = _rank_pools(spark, sf_dir)
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), "doc_id"))
            .cast("long"),
        )
        .filter(F.col("fused_rank") <= _RRF_TOPK)
    )


_CAL_BINS = 10
_CAL_SCALE = 8.0  # sharpening temperature 1/T: spreads the near-0.5 raw
# sigmoids across the deciles so the diagram exercises every bin


def _calibration_per_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n, n_pos, sm) per decile of the ``_CAL_SCALE``-sharpened
    score: row count, positives, and the sum of micro-unit scores. The
    top edge folds into the last bin."""
    binned = _scored(spark, sf_dir, _CAL_SCALE).select(
        F.least(
            F.floor(F.col("score") * _CAL_BINS).cast("long"),
            F.lit(_CAL_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("label") == _POS_LABEL).alias("pos"),
        F.round(F.col("score") * 1_000_000).cast("long").alias("s_micro"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if("pos").cast("long").alias("n_pos"),
        F.sum("s_micro").cast("long").alias("sm"),
    )


@register(
    "eval_calibration_bins",
    oracle=f"""
    WITH scored AS ({_score_sql(_CAL_SCALE)}),
    binned AS (
      SELECT least(CAST(floor(score * {_CAL_BINS}) AS BIGINT),
                   {_CAL_BINS - 1}) AS bin,
             label = {_POS_LABEL} AS pos,
             CAST(round(score * 1000000) AS BIGINT) AS s_micro
      FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos,
             CAST(sum(s_micro) AS BIGINT) AS sm
      FROM binned GROUP BY bin
    )
    SELECT bin, n, n_pos,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
           round(CAST(sm AS DOUBLE) / n / 1000000, 6) AS mean_pred
    FROM per_bin
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (Guo et al., ICML'17's calibration
    readout): decile-bin the predicted probability, report each bin's
    empirical positive rate against its mean prediction — the gap per
    bin is what Expected Calibration Error sums, and the readout that
    decides whether a filter threshold means what it says.

    ONE scan → ONE ≤10-group hash aggregate. The 6dp-rounded scores
    re-enter as exact micro-unit int64s, so each bin's score sum is an
    integer and both outputs are single rounded divisions of exact
    integers (SURVEY §5.4). The top edge folds into the last bin
    (least(⌊10s⌋, 9)), the standard closed-right convention. The 1/T logit
    sharpening applied first IS temperature scaling (Guo '17), the
    knob this diagram exists to tune."""
    per_bin = _calibration_per_bin(spark, sf_dir)
    return per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("frac_pos"),
        F.round(F.col("sm").cast("double") / F.col("n") / 1_000_000, 6).alias(
            "mean_pred"
        ),
    )


@register(
    "pipeline_reward_rejection_sample",
    oracle=f"""
    WITH scored AS ({_score_sql(_CAL_SCALE)}),
    draw AS (
      SELECT vec_id, label, score,
             CAST(concat('0x', substr(md5('rej' || CAST(vec_id AS VARCHAR)),
                                      1, 13)) AS BIGINT) AS u13,
             CAST(floor(score * 4503599627370496) AS BIGINT) AS cut
      FROM scored
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (u13 < cut) AS BIGINT) AS n_accepted,
           round(CAST(count(*) FILTER (u13 < cut) AS DOUBLE) / count(*), 6)
             AS acc_rate
    FROM draw GROUP BY label
    """,
)
def pipeline_reward_rejection_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-proportional rejection sampling — the RLHF / quality-
    curation acceptance step: each candidate survives with probability
    equal to its (temperature-sharpened) model score, so the kept set
    is reward-tilted without any sorting or quota bookkeeping.

    The coin flip is the repo's deterministic-sampling discipline
    (split_train_val_test, sample_temperature): the uniform is the
    first 13 hex digits of md5('rej'||id) — a 52-bit integer, exactly
    representable — and acceptance compares it against
    floor(score·16¹³), ALL-INTEGER, so the draw is restart-safe,
    partitioning-independent, and bit-identical in both engines (no
    RNG, no float comparison). ONE scan, ONE |labels|-row aggregate;
    in a write-path deployment the accept flag rides the projection
    and nothing aggregates at all. Output: per-label funnel (candidates,
    accepted, acceptance rate as one rounded division)."""
    u13 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rej"), F.col("vec_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    cut = F.floor(F.col("score") * F.lit(4503599627370496)).cast("long")
    draw = _scored(spark, sf_dir, _CAL_SCALE).select(
        "label", (u13 < cut).alias("acc")
    )
    return draw.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if("acc").cast("long").alias("n_accepted"),
        F.round(
            F.count_if("acc").cast("double") / F.count("*"), 6
        ).alias("acc_rate"),
    )


@register(
    "eval_brier_score",
    oracle=f"""
    WITH scored AS ({_score_sql(_CAL_SCALE)}),
    sq AS (
      SELECT CAST(round(score * 1000000) AS BIGINT)
             - CASE WHEN label = {_POS_LABEL} THEN 1000000 ELSE 0 END AS d
      FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d * d) AS BIGINT) AS sq_sum_micro2,
           round(CAST(sum(d * d) AS DOUBLE) / count(*) / 1000000000000, 6)
             AS brier
    FROM sq
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score — the PROPER scoring rule for probabilistic
    predictions (mean (p−y)²): unlike accuracy it rewards honest
    probabilities, unlike log-loss it is bounded and needs no
    transcendental. The companion number to the calibration diagram
    (Brier = calibration + refinement, Murphy's decomposition).

    Exactness: the 6dp scores re-enter as micro-unit int64s, the
    residual d = p_micro − y·10⁶ is an integer, and Σd² is an exact
    int64 (|d| ≤ 10⁶ ⇒ d² ≤ 10¹², headroom to ~10⁶ rows here; a
    100 TB run upgrades the sum to decimal(38) and compares as
    STRINGS — the agg_table_checksum discipline). Brier is ONE
    rounded division chain at the end. ONE scan, ONE 2-value
    map-side-combined aggregate."""
    s = _scored(spark, sf_dir, _CAL_SCALE)
    d = F.round(F.col("score") * 1_000_000).cast("long") - F.when(
        F.col("label") == _POS_LABEL, F.lit(1_000_000)
    ).otherwise(F.lit(0))
    sq = s.select((d * d).alias("d2"))
    return sq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d2").cast("long").alias("sq_sum_micro2"),
        F.round(
            F.sum("d2").cast("double") / F.count("*") / 1_000_000_000_000, 6
        ).alias("brier"),
    )


# reciprocal ranks 1/r in exact micro-units, Python-side literals in
# both engines (the _DISC_INT discipline)
_RR_INT = [round(1_000_000 / r) for r in range(1, _NDCG_K + 1)]


@register(
    "eval_mrr_recall_at_k",
    oracle=f"""
    WITH topk AS (
      SELECT q_id, n_id, rank FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) DESC,
                          b.vec_id) AS rank
        FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
      WHERE rank <= {_NDCG_K}
    ),
    lbl AS (SELECT vec_id, label FROM embeddings),
    per_q AS (
      SELECT t.q_id,
             CAST(coalesce(min(t.rank) FILTER (ln.label = lq.label), 0)
                  AS BIGINT) AS first_rel_rank,
             CAST(count(*) FILTER (ln.label = lq.label) AS BIGINT) AS n_rel
      FROM topk t JOIN lbl lq ON lq.vec_id = t.q_id
                  JOIN lbl ln ON ln.vec_id = t.n_id
      GROUP BY t.q_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(*) FILTER (first_rel_rank > 0) AS BIGINT) AS n_hit,
           round(CAST(count(*) FILTER (first_rel_rank > 0) AS DOUBLE)
                 / count(*), 6) AS recall_at_k,
           round(CAST(sum(CASE WHEN first_rel_rank > 0
                    THEN ({_RR_INT!r}::BIGINT[])[first_rel_rank]
                    ELSE 0 END) AS DOUBLE) / count(*) / 1000000, 6) AS mrr
    FROM per_q
    """,
)
def eval_mrr_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + recall@k over the exact k-NN ranking — the remaining two
    standard retrieval readouts beside NDCG: recall@k ("did anything
    relevant surface at all") is THE metric for a candidate-generation
    stage feeding a reranker, MRR ("how high was the first hit")
    for known-item search. Completes the in-engine eval family
    (AUC / confusion / calibration / NDCG / Brier / RRF).

    Same determinism scheme as eval_ndcg_at_k: the reciprocal-rank
    table 1/r is precomputed in Python as integer micro-units and
    embedded as literals in BOTH engines, so the MRR numerator is an
    int64 sum and each output is ONE rounded division of exact
    integers. Per-query state folds in the k-row group; the corpus
    cost is the ANN search itself, measured elsewhere."""
    from ..operators.similarity import knn_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    lbl = emb.select("vec_id", "label")
    topk = knn_cosine(emb, "vec_id", "embedding", k=_NDCG_K).select(
        "q_id", "n_id", "rank"
    )
    lq = lbl.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
    ln_ = lbl.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"))
    rel = F.col("n_label") == F.col("q_label")
    per_q = (
        topk.join(F.broadcast(lq), "q_id")
        .join(F.broadcast(ln_), "n_id")
        .groupBy("q_id")
        .agg(
            F.coalesce(F.min(F.when(rel, F.col("rank"))), F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
        )
    )
    rr = F.array(*[F.lit(v) for v in _RR_INT])
    hit = F.col("first_rel_rank") > 0
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.count_if(hit).cast("long").alias("n_hit"),
        F.round(F.count_if(hit).cast("double") / F.count("*"), 6).alias(
            "recall_at_k"
        ),
        F.round(
            F.sum(
                F.when(
                    hit, F.element_at(rr, F.col("first_rel_rank").cast("int"))
                ).otherwise(F.lit(0))
            ).cast("double")
            / F.count("*")
            / 1_000_000,
            6,
        ).alias("mrr"),
    )


# --- pass@k — the code/agent-eval estimator ---------------------------------

_PASS_AT_K_N = 20  # attempts per task considered (first n by time)
_PASS_AT_KS = (1, 5, 10)


def _pass_product(n, c, k):
    """Π_{i=0}^{k-1} (n-c-i) / (n-i) as exact int64 numerator and
    denominator column expressions (n ≤ 20 keeps both < 2^53)."""
    num = F.lit(1).cast("long")
    den = F.lit(1).cast("long")
    for i in range(k):
        num = num * (n - c - F.lit(i))
        den = den * (n - F.lit(i))
    return num, den


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH att AS (
      SELECT user_id AS task_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pass,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), stat AS (
      SELECT task_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pass) AS BIGINT) AS c
      FROM att WHERE rn <= {_PASS_AT_K_N} GROUP BY 1
    )
    SELECT task_id, n, c,
      {", ".join(
        f'''CASE WHEN n < {k} THEN NULL
             WHEN n - c < {k} THEN CAST(1.0 AS DOUBLE)
             ELSE round(1.0 - CAST(({
               "*".join(f"(n-c-{i})" for i in range(k))
             }) AS DOUBLE) / CAST(({
               "*".join(f"(n-{i})" for i in range(k))
             }) AS DOUBLE), 6) END AS pass_at_{k}'''
        for k in _PASS_AT_KS
      )}
    FROM stat
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k — the unbiased estimator every code/agent eval reports
    (Chen et al. 2021, "Evaluating LLMs Trained on Code", eq. 1):
    given n sampled attempts per task of which c pass,
    pass@k = 1 − C(n−c,k)/C(n,k), computed with the numerically-stable
    product form Π (n−c−i)/(n−i). Here a task is a user journey, the
    first n=20 events are its attempts (deterministic (ts, event_id)
    order), and 'purchase' is a pass — the shape of a real eval table
    (task_id, attempt ordinal, verdict) exactly.

    Determinism: n ≤ 20 makes both falling-factorial products exact
    int64 (den ≤ 20!/10! ≈ 6.7·10¹¹ ≪ 2⁵³), so each pass@k is ONE
    int-ratio division rounded once — no floats until the final
    division, hash-identical across engines. Scale: one window over
    each task's OWN partition (never global), one task-keyed
    aggregate; attempts per task are bounded by the eval design, so
    every frame is O(tasks) — at 100 TB of eval logs this is a plain
    two-shuffle plan with map-side combine."""
    att = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id").alias("task_id"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pass"),
            "ts",
            "event_id",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("task_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") <= _PASS_AT_K_N)
    )
    stat = att.groupBy("task_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pass").cast("long").alias("c"),
    )
    n, c = F.col("n"), F.col("c")
    cols = [F.col("task_id"), n, c]
    for k in _PASS_AT_KS:
        num, den = _pass_product(n, c, k)
        cols.append(
            F.when(n < k, F.lit(None).cast("double"))
            .when(n - c < k, F.lit(1.0))
            .otherwise(
                F.round(
                    F.lit(1.0) - num.cast("double") / den.cast("double"), 6
                )
            )
            .alias(f"pass_at_{k}")
        )
    return stat.select(*cols)


# --- Kendall tau between the two retrieval arms ------------------------------


@register(
    "eval_kendall_tau",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS w FROM documents)
      WHERE w IN ({", ".join(f"'{t}'" for t in _RRF_TERMS)})
      GROUP BY 1
    ), lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS lex_rank
      FROM tf ORDER BY tf DESC, doc_id LIMIT {_RRF_POOL}
    ), q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id AS doc_id,
             round(list_dot_product(
               list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv), 6)
               AS cosine
      FROM embeddings, q WHERE vec_id <> 0
    ), vec AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cosine DESC, doc_id) AS vec_rank
      FROM scored ORDER BY cosine DESC, doc_id LIMIT {_RRF_POOL}
    ), common AS (
      SELECT doc_id, lex_rank, vec_rank FROM lex JOIN vec USING (doc_id)
    ), pairs AS (
      SELECT CASE WHEN (a.lex_rank - b.lex_rank)
                       * (a.vec_rank - b.vec_rank) > 0
                  THEN 1 ELSE 0 END AS conc
      FROM common a JOIN common b ON a.doc_id < b.doc_id
    )
    SELECT CAST((SELECT count(*) FROM common) AS BIGINT) AS n_common,
           CAST(coalesce(sum(conc), 0) AS BIGINT) AS n_concordant,
           CAST(coalesce(count(*) - sum(conc), 0) AS BIGINT) AS n_discordant,
           CASE WHEN count(*) > 0
                THEN round(CAST(coalesce(2 * sum(conc) - count(*), 0)
                                AS DOUBLE) / count(*), 6)
                ELSE CAST(0 AS DOUBLE) END AS kendall_tau
    FROM pairs
    """,
)
def eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-a between the lexical and dense retrieval arms on
    their SHARED candidate pool — the ranker-agreement diagnostic that
    decides whether hybrid fusion is worth running (tau ≈ 1 means the
    arms are redundant; near 0, complementary). Ties in either
    ranking are impossible by construction: both ranks come from
    row_number over a total order (score DESC, doc_id), so tau-a's
    denominator is exactly C(n,2) and every pair is concordant or
    discordant — all integer counts, ONE rounded division at the end
    ((C−D)/C(n,2) = (2C−P)/P).

    Scale: each arm's pool is a TakeOrdered top-50 (never a global
    row_number over the corpus — the text_bm25_search idiom); the
    pair enumeration is a self-join of the ≤50-row intersection
    (≤1,225 pairs FOREVER — a bounded BNLJ, whitelisted with the
    same rationale as the scalar broadcasts); rank windows run over
    the pools only."""
    lex, vec = _rank_pools(spark, sf_dir)
    common = lex.join(vec, "doc_id")
    a = common.alias("a")
    b = common.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.when(
            (F.col("a.lex_rank") - F.col("b.lex_rank"))
            * (F.col("a.vec_rank") - F.col("b.vec_rank"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc")
    )
    n_common = common.agg(F.count("*").cast("long").alias("n_common"))
    agg = pairs.agg(
        F.sum("conc").cast("long").alias("c"),
        F.count("*").cast("long").alias("p"),
    )
    return attach_scalar_frame(agg, "c", n_common, "n_common").select(
        "n_common",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_concordant"),
        F.coalesce(F.col("p") - F.col("c"), F.lit(0))
        .cast("long")
        .alias("n_discordant"),
        # guard the empty common pool (seen live at sf0.1: the two
        # retrieval arms' top-50s can be disjoint, p = 0, and ANSI
        # mode turns 0/0 into a job-killing DIVIDE_BY_ZERO under a
        # full materialization); tau over <2 common docs is 0 by
        # definition in BOTH engines
        F.when(
            F.col("p") > 0,
            F.round(
                F.coalesce(2 * F.col("c") - F.col("p"), F.lit(0)).cast(
                    "double"
                )
                / F.col("p"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("kendall_tau"),
    )


# --- Bradley-Terry ratings from pairwise outcomes ----------------------------

_BT_SCALE = 1_000_000_000_000  # 1e12: n·SCALE and w·SCALE stay < 2^63


@register(
    "eval_elo_bradley_terry",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lag(event_type) OVER w AS p_type,
             lag(CAST(round(value * 100) AS BIGINT)) OVER w AS p_cents
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT least(p_type, event_type) AS i,
             greatest(p_type, event_type) AS j,
             CASE WHEN cents > p_cents THEN event_type
                  WHEN p_cents > cents THEN p_type
                  ELSE least(p_type, event_type) END AS winner
      FROM ev WHERE p_type IS NOT NULL AND p_type <> event_type
    ), pairs AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1, 2
    ), sym AS (
      SELECT i, j, n FROM pairs UNION ALL SELECT j, i, n FROM pairs
    ), players AS (
      SELECT DISTINCT i AS t FROM sym
    ), wins AS (
      SELECT p.t, CAST(coalesce(w.w, 0) AS BIGINT) AS w
      FROM players p LEFT JOIN
        (SELECT winner AS t, count(*) AS w FROM m GROUP BY 1) w USING (t)
    ), r1 AS (
      SELECT w.t,
             w.w * {_BT_SCALE} // d.denom AS rm
      FROM wins w JOIN (
        SELECT s.i AS t,
               CAST(sum(s.n * {_BT_SCALE} // 2000000) AS BIGINT) AS denom
        FROM sym s GROUP BY 1
      ) d USING (t)
    ), r2 AS (
      SELECT w.t,
             w.w * {_BT_SCALE} // d.denom AS rm
      FROM wins w JOIN (
        SELECT s.i AS t,
               CAST(sum(s.n * {_BT_SCALE} // (ri.rm + rj.rm)) AS BIGINT)
                 AS denom
        FROM sym s JOIN r1 ri ON ri.t = s.i JOIN r1 rj ON rj.t = s.j
        GROUP BY 1
      ) d USING (t)
    ), tot AS (SELECT CAST(sum(rm) AS BIGINT) AS trm FROM r2)
    SELECT r2.t AS event_type, w.w AS n_wins,
           CAST(r2.rm AS BIGINT) AS rating_micro,
           round(CAST(r2.rm AS DOUBLE) / tot.trm, 6) AS rating
    FROM r2 JOIN wins w USING (t), tot
    """,
)
def eval_elo_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise outcomes — the
    model behind Chatbot-Arena-style LLM leaderboards and RLHF
    preference aggregation (Bradley & Terry 1952; Hunter 2004 MM
    algorithm). Matches are consecutive same-user events of different
    types, the higher value wins (ties to the lexicographically
    smaller type — deterministic); two unrolled MM iterations
    r_i ← w_i / Σ_j n_ij/(r_i+r_j) from a uniform start.

    Determinism is STRUCTURAL, not rounded-float: ratings live in
    integer micro-units end-to-end — each MM term is one int64 floor
    division n·10¹²÷(r_i+r_j), denominators are exact integer sums,
    each update one floor division w·10¹²÷denom (DuckDB `//` floors,
    Spark DIV truncates — identical for the non-negative operands
    here, SURVEY §5.4), and the only float in the query is the final
    display normalization rounded once. Scale: the match extraction
    is one lag window per user partition over the event stream; all
    downstream frames are O(#players²) — bounded by the model roster,
    never the data; every join on them broadcasts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = (
        ev.select(
            "event_type",
            "cents",
            F.lag("event_type").over(w).alias("p_type"),
            F.lag("cents").over(w).alias("p_cents"),
        )
        .filter(
            F.col("p_type").isNotNull() & (F.col("p_type") != F.col("event_type"))
        )
        .select(
            F.least("p_type", "event_type").alias("i"),
            F.greatest("p_type", "event_type").alias("j"),
            F.when(F.col("cents") > F.col("p_cents"), F.col("event_type"))
            .when(F.col("p_cents") > F.col("cents"), F.col("p_type"))
            .otherwise(F.least("p_type", "event_type"))
            .alias("winner"),
        )
    )
    pairs = m.groupBy("i", "j").agg(F.count("*").cast("long").alias("n"))
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "n")
    )
    players = sym.select(F.col("i").alias("t")).distinct()
    wins = players.join(
        m.groupBy(F.col("winner").alias("t")).agg(
            F.count("*").cast("long").alias("w")
        ),
        "t",
        "left",
    ).select("t", F.coalesce("w", F.lit(0)).cast("long").alias("w"))

    S = _BT_SCALE

    def mm_round(rm: DataFrame) -> DataFrame:
        ri = rm.select(F.col("t").alias("i"), F.col("rm").alias("rmi"))
        rj = rm.select(F.col("t").alias("j"), F.col("rm").alias("rmj"))
        denom = (
            sym.join(F.broadcast(ri), "i")
            .join(F.broadcast(rj), "j")
            .select(
                F.col("i").alias("t"),
                F.expr(f"n * {S}L DIV (rmi + rmj)").alias("term"),
            )
            .groupBy("t")
            .agg(F.sum("term").cast("long").alias("denom"))
        )
        return wins.join(F.broadcast(denom), "t").select(
            "t", F.expr(f"w * {S}L DIV denom").alias("rm")
        )

    r0 = players.withColumn("rm", F.lit(1_000_000).cast("long"))
    r2 = mm_round(mm_round(r0))
    tot = r2.agg(F.sum("rm").cast("long").alias("trm"))
    return (
        attach_scalar_frame(r2.join(wins, "t"), "t", tot, "trm")
        .select(
            F.col("t").alias("event_type"),
            F.col("w").alias("n_wins"),
            F.col("rm").cast("long").alias("rating_micro"),
            F.round(F.col("rm").cast("double") / F.col("trm"), 6).alias(
                "rating"
            ),
        )
    )


# --- Wilson score interval ---------------------------------------------------


@register(
    "eval_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE value > 100.0) AS BIGINT) AS x
      FROM events GROUP BY 1
    )
    SELECT event_type, n, x,
           round(CAST(x AS DOUBLE) / n, 6) AS p_hat,
           round(((CAST(x AS DOUBLE) / n) + CAST(1.96 AS DOUBLE)
                  * CAST(1.96 AS DOUBLE) / (2 * n)
                  - CAST(1.96 AS DOUBLE)
                    * sqrt(((CAST(x AS DOUBLE) / n)
                            * (1 - CAST(x AS DOUBLE) / n)
                            + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                              / (4 * CAST(n AS DOUBLE) * n)) / n))
                 / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n),
                 6) AS ci_lo,
           round(((CAST(x AS DOUBLE) / n) + CAST(1.96 AS DOUBLE)
                  * CAST(1.96 AS DOUBLE) / (2 * n)
                  + CAST(1.96 AS DOUBLE)
                    * sqrt(((CAST(x AS DOUBLE) / n)
                            * (1 - CAST(x AS DOUBLE) / n)
                            + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                              / (4 * CAST(n AS DOUBLE) * n)) / n))
                 / (1 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n),
                 6) AS ci_hi
    FROM s
    """,
)
def eval_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (Wilson 1927) on a per-segment success
    rate — the A/B-readout interval that stays inside [0,1] and
    behaves at small n where the naive Wald interval collapses; here
    the monitored rate is P(value > 100) per event type, the shape of
    any guardrail-metric dashboard.

    Parity story: x and n are exact integers from ONE map-side-
    combined aggregate; z = 1.96 enters as an explicit DOUBLE (a bare
    DuckDB literal would be DECIMAL and silently change the
    arithmetic); and the entire interval is ONE fixed parenthesization
    whose only non-arithmetic op is sqrt — which IEEE 754 requires
    CORRECTLY ROUNDED, so unlike ln()/exp() it cannot differ between
    engines. Rounded once per bound. Scale: O(segments) everywhere
    after the one scan."""
    z = F.lit(1.96)
    s = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count_if(F.col("value") > 100.0).cast("long").alias("x"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("x").cast("double") / n
    half = z * F.sqrt((p * (1 - p) + z * z / (4 * n * n)) / n)
    center_num = p + z * z / (2 * n)
    denom = 1 + z * z / n
    return s.select(
        "event_type",
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center_num - half) / denom, 6).alias("ci_lo"),
        F.round((center_num + half) / denom, 6).alias("ci_hi"),
    )


def _pred_ref_pairs(
    spark: SparkSession, sf_dir: str, pred: Column, ref: Column
) -> DataFrame:
    """(pair_id, pred, ref): every 50th document is a prediction and
    the next doc_id its reference; ``pred`` and ``ref`` are projections
    of ``documents.text`` for each side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("pair_id"), pred)
        .join(docs.select((F.col("doc_id") - 1).alias("pair_id"), ref), "pair_id")
    )


@register(
    "eval_token_f1",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS pair_id, a.text AS pred, b.text AS ref
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 50 = 0
    ), ptok AS (
      SELECT pair_id, tok, count(*) AS c FROM (
        SELECT pair_id, unnest(str_split(pred, ' ')) AS tok FROM pairs)
      WHERE tok <> '' GROUP BY pair_id, tok
    ), rtok AS (
      SELECT pair_id, tok, count(*) AS c FROM (
        SELECT pair_id, unnest(str_split(ref, ' ')) AS tok FROM pairs)
      WHERE tok <> '' GROUP BY pair_id, tok
    ), np AS (
      SELECT pair_id, CAST(sum(c) AS BIGINT) AS n_pred
      FROM ptok GROUP BY pair_id
    ), nr AS (
      SELECT pair_id, CAST(sum(c) AS BIGINT) AS n_ref
      FROM rtok GROUP BY pair_id
    ), ov AS (
      SELECT pair_id, CAST(sum(least(p.c, r.c)) AS BIGINT) AS n_overlap
      FROM ptok p JOIN rtok r USING (pair_id, tok) GROUP BY pair_id
    )
    SELECT pair_id, n_pred, n_ref,
           coalesce(n_overlap, 0) AS n_overlap,
           round(CAST(2 * coalesce(n_overlap, 0) AS DOUBLE)
                 / CAST(n_pred + n_ref AS DOUBLE), 6) AS f1
    FROM np JOIN nr USING (pair_id) LEFT JOIN ov USING (pair_id)
    """,
)
def eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style token-level F1 between paired texts (Rajpurkar
    et al. '16 §6.1 evaluation) — the generation-eval staple wherever
    exact match is too brittle: prediction = every 50th document, its
    reference = the next doc_id. Per pair: bag-of-token overlap
    Σ min(count_pred, count_ref), and F1 collapses to the single
    division 2·overlap/(|pred|+|ref|) (the harmonic mean's
    denominators cancel), so the whole metric is INTEGER counts and
    exactly ONE rounded double division — no P/R intermediates to
    drift.

    Scale: token counting is a (pair, token)-keyed map-side-combined
    agg, the overlap an equi-join on the same key — everything
    O(tokens) with no row wider than a (pair_id, tok, c) triple; the
    per-pair rollups are O(pairs). 100 TB story: identical to
    wordcount + one co-partitioned join."""
    pairs = _pred_ref_pairs(
        spark, sf_dir, F.col("text").alias("ptext"), F.col("text").alias("rtext")
    )

    def _counts(col: str, out: str) -> DataFrame:
        return (
            pairs.select(
                "pair_id", F.explode(F.split(F.col(col), " ")).alias("tok")
            )
            .filter(F.col("tok") != "")
            .groupBy("pair_id", "tok")
            .agg(F.count("*").alias(out))
        )

    pc, rc = _counts("ptext", "pc"), _counts("rtext", "rc")
    np_ = pc.groupBy("pair_id").agg(F.sum("pc").cast("long").alias("n_pred"))
    nr = rc.groupBy("pair_id").agg(F.sum("rc").cast("long").alias("n_ref"))
    ov = (
        pc.join(rc, ["pair_id", "tok"])
        .groupBy("pair_id")
        .agg(F.sum(F.least("pc", "rc")).cast("long").alias("n_overlap"))
    )
    out = (
        np_.join(nr, "pair_id")
        .join(ov, "pair_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
    )
    return out.select(
        "pair_id",
        "n_pred",
        "n_ref",
        "n_overlap",
        F.round(
            (F.col("n_overlap") * 2).cast("double")
            / (F.col("n_pred") + F.col("n_ref")).cast("double"),
            6,
        ).alias("f1"),
    )


def _clipped_overlaps(pairs: DataFrame, base: DataFrame) -> DataFrame:
    """``base`` (keyed by pair_id) with ov1/ov2: the clipped unigram and
    bigram overlaps Σ min(c_pred, c_ref) between the ``pw`` and ``rw``
    token arrays of ``pairs``, 0 where a pair shares no gram."""

    def grams(col: str, n: int) -> DataFrame:
        # explode_outer + null filter: plain explode's inferred
        # non-empty predicate would inline the bigram transform into
        # the scan filter (10x slower on text_ngram_novelty at sf0.1)
        if n == 1:
            g = F.explode_outer(F.col(col))
        else:
            g = F.explode_outer(
                F.expr(
                    f"CASE WHEN size({col}) >= 2 THEN transform("
                    f"sequence(0, size({col}) - 2),"
                    f" i -> concat_ws(' ', {col}[i], {col}[i+1]))"
                    " ELSE array() END"
                )
            )
        return (
            pairs.select("pair_id", g.alias("g"))
            .filter(F.col("g").isNotNull())
            .groupBy("pair_id", "g")
            .agg(F.count("*").alias("c"))
        )

    def overlap(p: DataFrame, r: DataFrame, out: str) -> DataFrame:
        return (
            p.withColumnRenamed("c", "pc")
            .join(r.withColumnRenamed("c", "rc"), ["pair_id", "g"])
            .groupBy("pair_id")
            .agg(F.sum(F.least("pc", "rc")).cast("long").alias(out))
        )

    return (
        base.join(overlap(grams("pw", 1), grams("rw", 1), "ov1"), "pair_id", "left")
        .join(overlap(grams("pw", 2), grams("rw", 2), "ov2"), "pair_id", "left")
        .withColumn("ov1", F.coalesce("ov1", F.lit(0)))
        .withColumn("ov2", F.coalesce("ov2", F.lit(0)))
    )


@register(
    "eval_bleu2",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS pair_id, str_split(a.text, ' ') AS pw,
             str_split(b.text, ' ') AS rw
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 50 = 0
    ), p1 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, unnest(pw) AS g FROM pairs) GROUP BY pair_id, g
    ), r1 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, unnest(rw) AS g FROM pairs) GROUP BY pair_id, g
    ), p2 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, pw[i] || ' ' || pw[i+1] AS g
        FROM pairs, LATERAL (SELECT unnest(generate_series(
               1, greatest(len(pw) - 1, 0))) AS i)) GROUP BY pair_id, g
    ), r2 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, rw[i] || ' ' || rw[i+1] AS g
        FROM pairs, LATERAL (SELECT unnest(generate_series(
               1, greatest(len(rw) - 1, 0))) AS i)) GROUP BY pair_id, g
    ), base AS (
      SELECT pair_id, CAST(len(pw) AS BIGINT) AS c_len,
             CAST(len(rw) AS BIGINT) AS r_len
      FROM pairs
    ), ov1 AS (
      SELECT pair_id, CAST(sum(least(p.c, r.c)) AS BIGINT) AS ov
      FROM p1 p JOIN r1 r USING (pair_id, g) GROUP BY pair_id
    ), ov2 AS (
      SELECT pair_id, CAST(sum(least(p.c, r.c)) AS BIGINT) AS ov
      FROM p2 p JOIN r2 r USING (pair_id, g) GROUP BY pair_id
    ), j AS (
      SELECT b.pair_id, b.c_len, b.r_len,
             coalesce(o1.ov, 0) AS ov1, coalesce(o2.ov, 0) AS ov2
      FROM base b LEFT JOIN ov1 o1 USING (pair_id)
                  LEFT JOIN ov2 o2 USING (pair_id)
    )
    SELECT pair_id, c_len, r_len, ov1, ov2,
           round(CAST(ov1 AS DOUBLE) / CAST(c_len AS DOUBLE), 6) AS prec1,
           round(CAST(ov2 AS DOUBLE) / CAST(c_len - 1 AS DOUBLE), 6)
             AS prec2,
           round(
             (CASE WHEN c_len >= r_len THEN CAST(1 AS DOUBLE)
                   ELSE exp(CAST(1 AS DOUBLE)
                            - CAST(r_len AS DOUBLE)
                              / CAST(c_len AS DOUBLE)) END)
             * sqrt((CAST(ov1 AS DOUBLE) / CAST(c_len AS DOUBLE))
                    * (CAST(ov2 AS DOUBLE) / CAST(c_len - 1 AS DOUBLE))),
             6) AS bleu2
    FROM j
    """,
)
def eval_bleu2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (Papineni '02) on the same pred/ref pairing as
    eval_token_f1: clipped modified unigram+bigram precision, brevity
    penalty exp(1 − r/c) for short candidates, geometric mean as
    sqrt(p1·p2) — deliberately NOT exp((ln p1 + ln p2)/2), because
    sqrt is IEEE-correctly-rounded in both engines while two ln calls
    each carry a 1-ulp wobble (the eval_wilson_ci argument). The one
    exp in the brevity penalty is absorbed by the single 6dp round
    (text_unigram_logprob precedent). Counts are raw split-array
    tokens in BOTH engines (no filtering) so the integer layer is
    definitionally identical.

    Scale: two (pair, gram)-keyed map-side-combined count aggs + two
    co-partitioned equi-joins — wordcount shape, O(tokens), no row
    wider than (pair_id, gram, count)."""
    words = F.split("text", " ")
    pairs = _pred_ref_pairs(spark, sf_dir, words.alias("pw"), words.alias("rw"))

    j = _clipped_overlaps(
        pairs,
        pairs.select(
            "pair_id",
            F.size("pw").cast("long").alias("c_len"),
            F.size("rw").cast("long").alias("r_len"),
        ),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    p1 = dbl("ov1") / dbl("c_len")
    p2 = dbl("ov2") / (F.col("c_len") - 1).cast("double")
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1).cast("double")).otherwise(
        F.exp(F.lit(1).cast("double") - dbl("r_len") / dbl("c_len"))
    )
    return j.select(
        "pair_id",
        "c_len",
        "r_len",
        "ov1",
        "ov2",
        F.round(p1, 6).alias("prec1"),
        F.round(p2, 6).alias("prec2"),
        F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


@register(
    "eval_auc_pr",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    per AS (
      SELECT score, CAST(count(*) AS BIGINT) AS c,
             CAST(count(*) FILTER (label = {_POS_LABEL}) AS BIGINT) AS p
      FROM scored GROUP BY score
    ), cum AS (
      SELECT score, c, p,
             CAST(sum(c) OVER w AS BIGINT) AS cum_n,
             CAST(sum(p) OVER w AS BIGINT) AS cum_p
      FROM per
      WINDOW w AS (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), terms AS (
      SELECT CAST(sum((p * cum_p * 1000000) // cum_n) AS BIGINT)
               AS sum_micro,
             CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(c - p) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           round(CAST(sum_micro AS DOUBLE)
                 / CAST(n_pos * 1000000 AS DOUBLE), 6) AS ap
    FROM terms
    """,
)
def eval_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT average precision (area under the PR curve, lower-step /
    tie-block interpolation) — the metric that replaces ROC-AUC when
    positives are rare (quality classifiers over mostly-negative web
    corpora), completing the in-engine eval family next to
    eval_auc_rank_sum.

    Same bounded-frame discipline as the ROC twin: aggregate to one
    row per DISTINCT 6dp score FIRST (≤10⁶ rows forever), cumulate in
    descending-score order, and give every positive in a tie block the
    block-END precision cum_p/cum_n — a deterministic, tie-safe AP
    definition with no per-row global rank (which would be a
    single-partition sort at 100 TB). Each block term is quantized as
    the INTEGER (p·cum_p·10⁶) DIV cum_n (// and DIV agree on
    non-negatives; ≤2.5e11 ≪ 2⁶³), the sum is exact int64, and AP is
    ONE rounded double division — bit-exact across engines by
    construction."""
    per_score = _scored(spark, sf_dir).groupBy("score").agg(
        F.count("*").cast("long").alias("c"),
        F.count_if(F.col("label") == _POS_LABEL).cast("long").alias("p"),
    )
    # bounded frame: ≤ 10^6 distinct 6dp scores regardless of input
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_score.select(
        "c",
        "p",
        F.sum("c").over(w).cast("long").alias("cum_n"),
        F.sum("p").over(w).cast("long").alias("cum_p"),
    )
    terms = cum.agg(
        F.sum(
            F.expr("(p * cum_p * 1000000) DIV cum_n")
        ).cast("long").alias("sum_micro"),
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("long").alias("n_neg"),
    )
    return terms.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("sum_micro").cast("double")
            / (F.col("n_pos") * F.lit(1000000)).cast("double"),
            6,
        ).alias("ap"),
    )


# --- rank correlation between two document-length signals --------------------


@register(
    "eval_spearman_rho",
    oracle="""
    WITH base AS (
      SELECT lang, source,
             CAST(n_chars AS BIGINT) AS xv,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS yv
      FROM documents
    ), ranked AS (
      SELECT lang, source,
             CAST(2 * rank() OVER (PARTITION BY lang, source ORDER BY xv)
                  + count(*) OVER (PARTITION BY lang, source, xv)
                  - 1 AS BIGINT) AS dx,
             CAST(2 * rank() OVER (PARTITION BY lang, source ORDER BY yv)
                  + count(*) OVER (PARTITION BY lang, source, yv)
                  - 1 AS BIGINT) AS dy
      FROM base
    ), mom AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM ranked GROUP BY lang, source
    )
    SELECT lang, source, n,
           CAST(trunc(
             ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS rho_micro
    FROM mom
    WHERE n >= 2
      AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """,
)
def eval_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two per-document signals
    (char length vs word count) per (lang, source) stratum — the
    monotone-association check behind every "is this heuristic
    quality score just measuring length?" audit of corpus filters.

    Ties are handled the textbook way (average ranks) but kept
    INTEGER by working with DOUBLED ranks: the tie-averaged rank of a
    group is rank_min + (cnt−1)/2, so 2·rank_min + cnt − 1 is always
    an exact int64. Spearman = Pearson over those doubled ranks, and
    scaling both variables by 2 leaves the correlation unchanged. The
    five moments are exact int64 sums; the correlation is one fixed
    parenthesization over their DOUBLE casts (products like n·Σxy can
    exceed 2⁶³ at extreme scale, so the multiply happens in double —
    same IEEE value in both engines), two correctly-rounded sqrts, one
    division, emitted as TRUNCATED micro-units (the win_rolling_corr
    boundary-free idiom). Zero-variance strata are excluded by the
    same double-typed predicate in both engines.

    Scale: ranks come from windows PARTITIONED by stratum (never a
    global sort); moments are one map-side-combined agg; output is
    O(strata)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("xv"),
        F.size(F.split("text", " ")).cast("long").alias("yv"),
    )

    def doubled_rank(col: str, out: str):
        wr = Window.partitionBy("lang", "source").orderBy(col)
        wc = Window.partitionBy("lang", "source", col)
        return (
            F.rank().over(wr) * 2 + F.count("*").over(wc) - 1
        ).cast("long").alias(out)

    ranked = base.select(
        "lang", "source", doubled_rank("xv", "dx"), doubled_rank("yv", "dy")
    )
    mom = ranked.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    return (
        mom.filter((F.col("n") >= 2) & (vx > 0) & (vy > 0))
        .select(
            "lang",
            "source",
            "n",
            (num / (F.sqrt(vx) * F.sqrt(vy)) * F.lit(1000000).cast("double"))
            .cast("long")
            .alias("rho_micro"),
        )
    )


# --- agreement statistics: Cohen's kappa and McNemar's test ------------------

# McNemar ablation arm: every odd-indexed logreg weight zeroed — a
# deterministic "half the features" model genuinely different from the
# full scorer (a rescaled or re-thresholded sigmoid would order
# identically and make the discordant cells degenerate).
_LOGREG_W_ABL = [w if i % 2 == 0 else 0.0 for i, w in enumerate(_LOGREG_W)]

#: oracle CTE for the ablated arm — identical shape to _SCORE_SQL with
#: the masked weight vector inlined as a literal.
_ABL_SCORE_SQL = f"""
      SELECT vec_id, label,
             round(1.0 / (1.0 + exp(-(
               list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 {_LOGREG_W_ABL!r}::DOUBLE[]
               ) + {_LOGREG_B!r}
             ))), 6) AS score
      FROM embeddings
"""


@register(
    "eval_cohens_kappa",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (score >= 0.5 AND label = {_POS_LABEL})
                  AS BIGINT) AS n11,
             CAST(count(*) FILTER (score < 0.5 AND label <> {_POS_LABEL})
                  AS BIGINT) AS n00,
             CAST(count(*) FILTER (score >= 0.5) AS BIGINT) AS a1,
             CAST(count(*) FILTER (label = {_POS_LABEL}) AS BIGINT) AS b1
      FROM scored
    )
    SELECT n, n11, n00, a1, b1,
           CASE WHEN n * n > a1 * b1 + (n - a1) * (n - b1)
                THEN round(CAST(n * (n11 + n00)
                                - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)
                           / CAST(n * n
                                  - (a1 * b1 + (n - a1) * (n - b1))
                                  AS DOUBLE), 6)
                ELSE CAST(0 AS DOUBLE) END AS kappa
    FROM s
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the logreg quality
    classifier (score ≥ 0.5 on the 6dp-rounded sigmoid) and the
    ground-truth label — chance-corrected agreement, the standard
    readout wherever raw accuracy flatters an imbalanced rater pair
    (annotator-vs-model audits of labeling pipelines).

    κ = (p_o − p_e)/(1 − p_e) cleared of divisions: with observed
    agreement a = n11+n00 and expected-agreement mass
    E = a1·b1 + (n−a1)·(n−b1), κ = (n·a − E)/(n² − E) — ALL exact
    int64 (n² ≪ 2⁶³ through sf1000), ONE rounded double division, and
    the degenerate n² = E marginal (single-class raters) excluded by
    an INTEGER predicate so no NaN crosses engines.

    Scale: one map-side-combined aggregate over the scored frame;
    single-row output."""
    sc = _scored(spark, sf_dir)
    s = sc.agg(
        F.count("*").cast("long").alias("n"),
        F.count_if((F.col("score") >= 0.5) & (F.col("label") == _POS_LABEL))
        .cast("long")
        .alias("n11"),
        F.count_if((F.col("score") < 0.5) & (F.col("label") != _POS_LABEL))
        .cast("long")
        .alias("n00"),
        F.count_if(F.col("score") >= 0.5).cast("long").alias("a1"),
        F.count_if(F.col("label") == _POS_LABEL).cast("long").alias("b1"),
    )
    n, n11, n00 = F.col("n"), F.col("n11"), F.col("n00")
    e = F.col("a1") * F.col("b1") + (n - F.col("a1")) * (n - F.col("b1"))
    return s.select(
        "n",
        "n11",
        "n00",
        "a1",
        "b1",
        F.when(
            n * n > e,
            F.round(
                (n * (n11 + n00) - e).cast("double") / (n * n - e).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("kappa"),
    )


@register(
    "eval_mcnemar",
    oracle=f"""
    WITH full_m AS ({_SCORE_SQL}),
    abl AS ({_ABL_SCORE_SQL}),
    j AS (
      SELECT f.vec_id,
             CASE WHEN (f.score >= 0.5) = (f.label = {_POS_LABEL})
                  THEN 1 ELSE 0 END AS ok_a,
             CASE WHEN (a.score >= 0.5) = (a.label = {_POS_LABEL})
                  THEN 1 ELSE 0 END AS ok_b
      FROM full_m f JOIN abl a USING (vec_id)
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (ok_a = 1 AND ok_b = 0) AS BIGINT) AS b_cnt,
             CAST(count(*) FILTER (ok_a = 0 AND ok_b = 1) AS BIGINT) AS c_cnt
      FROM j
    )
    SELECT n, b_cnt, c_cnt,
           CASE WHEN b_cnt + c_cnt > 0
                THEN round(CAST(greatest(abs(b_cnt - c_cnt) - 1, 0)
                                * greatest(abs(b_cnt - c_cnt) - 1, 0)
                                AS DOUBLE)
                           / CAST(b_cnt + c_cnt AS DOUBLE), 6)
                ELSE CAST(0 AS DOUBLE) END AS mcnemar_chi2
    FROM s
    """,
)
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) between the FULL logreg
    quality model and an ABLATED arm (odd-indexed weights zeroed) on
    the same held-out rows — the paired-classifier significance test
    that A/B model rollouts actually need (independent-sample tests
    are wrong when both models score the same examples).

    Only the discordant cells matter: b = full-right/ablated-wrong,
    c = full-wrong/ablated-right; χ² = (max(|b−c|−1, 0))²/(b+c) is
    integer counts, ONE rounded division, with the b+c = 0 degenerate
    excluded by an integer predicate. Both arms threshold the
    6dp-ROUNDED sigmoid, so the correctness bits are engine-identical
    before any float enters.

    Scale: both scorers are narrow projections of one embeddings scan;
    the pairing is a co-partitioned self-equi-join on vec_id; one
    map-side-combined agg; single-row output."""
    a = _scored(spark, sf_dir).select("vec_id", "label", "score")
    emb = load_table(spark, sf_dir, "embeddings")
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(w) for w in _LOGREG_W_ABL]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    b = emb.select(
        "vec_id",
        F.round(1.0 / (1.0 + F.exp(-(dot + F.lit(_LOGREG_B)))), 6).alias("bscore"),
    )
    j = a.join(b, "vec_id").select(
        F.when(
            (F.col("score") >= 0.5) == (F.col("label") == _POS_LABEL), 1
        )
        .otherwise(0)
        .alias("ok_a"),
        F.when(
            (F.col("bscore") >= 0.5) == (F.col("label") == _POS_LABEL), 1
        )
        .otherwise(0)
        .alias("ok_b"),
    )
    s = j.agg(
        F.count("*").cast("long").alias("n"),
        F.count_if((F.col("ok_a") == 1) & (F.col("ok_b") == 0))
        .cast("long")
        .alias("b_cnt"),
        F.count_if((F.col("ok_a") == 0) & (F.col("ok_b") == 1))
        .cast("long")
        .alias("c_cnt"),
    )
    bc, cc = F.col("b_cnt"), F.col("c_cnt")
    corr = F.greatest(F.abs(bc - cc) - 1, F.lit(0))
    return s.select(
        "n",
        "b_cnt",
        "c_cnt",
        F.when(
            bc + cc > 0,
            F.round((corr * corr).cast("double") / (bc + cc).cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mcnemar_chi2"),
    )


# --- ROUGE-N recall on the shared pred/ref pairing ---------------------------


@register(
    "eval_rouge_recall",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS pair_id, str_split(a.text, ' ') AS pw,
             str_split(b.text, ' ') AS rw
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 50 = 0
    ), p1 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, unnest(pw) AS g FROM pairs) GROUP BY pair_id, g
    ), r1 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, unnest(rw) AS g FROM pairs) GROUP BY pair_id, g
    ), p2 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, pw[i] || ' ' || pw[i+1] AS g
        FROM pairs, LATERAL (SELECT unnest(generate_series(
               1, greatest(len(pw) - 1, 0))) AS i)) GROUP BY pair_id, g
    ), r2 AS (
      SELECT pair_id, g, count(*) AS c FROM (
        SELECT pair_id, rw[i] || ' ' || rw[i+1] AS g
        FROM pairs, LATERAL (SELECT unnest(generate_series(
               1, greatest(len(rw) - 1, 0))) AS i)) GROUP BY pair_id, g
    ), base AS (
      SELECT pair_id, CAST(len(rw) AS BIGINT) AS r_len FROM pairs
    ), ov1 AS (
      SELECT pair_id, CAST(sum(least(p.c, r.c)) AS BIGINT) AS ov
      FROM p1 p JOIN r1 r USING (pair_id, g) GROUP BY pair_id
    ), ov2 AS (
      SELECT pair_id, CAST(sum(least(p.c, r.c)) AS BIGINT) AS ov
      FROM p2 p JOIN r2 r USING (pair_id, g) GROUP BY pair_id
    )
    SELECT b.pair_id, b.r_len,
           coalesce(o1.ov, 0) AS ov1, coalesce(o2.ov, 0) AS ov2,
           round(CAST(coalesce(o1.ov, 0) AS DOUBLE)
                 / CAST(b.r_len AS DOUBLE), 6) AS rouge1_recall,
           CASE WHEN b.r_len >= 2
                THEN round(CAST(coalesce(o2.ov, 0) AS DOUBLE)
                           / CAST(b.r_len - 1 AS DOUBLE), 6)
                ELSE CAST(0 AS DOUBLE) END AS rouge2_recall
    FROM base b LEFT JOIN ov1 o1 USING (pair_id)
                LEFT JOIN ov2 o2 USING (pair_id)
    """,
)
def eval_rouge_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 recall (Lin '04) on the eval_token_f1 pred/ref
    pairing — the summarization-eval complement of eval_bleu2: BLEU
    normalizes clipped n-gram overlap by the CANDIDATE length
    (precision), ROUGE by the REFERENCE length (recall); shipping both
    over the same pairs is how generation dashboards detect the
    degenerate modes each one misses (BLEU rewards short outputs,
    ROUGE rewards verbose ones).

    Same machinery as eval_bleu2: (pair, gram)-keyed map-side-combined
    counts, clipped overlap Σ min(c_pred, c_ref) via co-partitioned
    equi-joins, INTEGER counts, exactly one rounded division per
    metric — with the r_len = 1 bigram denominator CASE-guarded in
    BOTH engines (every division whose emptiness depends on data,
    not schema, is guarded: an unguarded 0/0 raises under ANSI mode).

    Scale: O(tokens) wordcount shape, rows never wider than
    (pair_id, gram, count); per-pair rollups O(pairs)."""
    words = F.split("text", " ")
    pairs = _pred_ref_pairs(spark, sf_dir, words.alias("pw"), words.alias("rw"))

    j = _clipped_overlaps(
        pairs, pairs.select("pair_id", F.size("rw").cast("long").alias("r_len"))
    )
    return j.select(
        "pair_id",
        "r_len",
        "ov1",
        "ov2",
        F.round(
            F.col("ov1").cast("double") / F.col("r_len").cast("double"), 6
        ).alias("rouge1_recall"),
        F.when(
            F.col("r_len") >= 2,
            F.round(
                F.col("ov2").cast("double")
                / (F.col("r_len") - 1).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rouge2_recall"),
    )


# --- expected calibration error scalar ---------------------------------------


@register(
    "eval_ece",
    oracle=f"""
    WITH scored AS ({_score_sql(_CAL_SCALE)}),
    binned AS (
      SELECT least(CAST(floor(score * {_CAL_BINS}) AS BIGINT),
                   {_CAL_BINS - 1}) AS bin,
             label = {_POS_LABEL} AS pos,
             CAST(round(score * 1000000) AS BIGINT) AS s_micro
      FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (pos) AS BIGINT) AS n_pos,
             CAST(sum(s_micro) AS BIGINT) AS sm
      FROM binned GROUP BY bin
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(abs(n_pos * 1000000 - sm)) AS BIGINT) AS gap_micro
      FROM per_bin
    )
    SELECT n_bins, n_total,
           CAST(gap_micro // n_total AS BIGINT) AS ece_micro
    FROM s
    """,
)
def eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error (Guo et al., ICML'17) — the scalar
    the eval_calibration_bins reliability diagram sums to: ECE =
    Σ_b (n_b/N)·|acc_b − conf_b|, the single number a model-rollout
    gate thresholds on.

    The per-bin gap collapses to pure integers: with conf_b the mean
    of 6dp-rounded scores, n_b·|acc_b − conf_b| = |10⁶·pos_b −
    Σs_micro_b| / 10⁶ — so ECE = Σ_b |10⁶·pos_b − Σs_micro_b| /
    (10⁶·N), and the emitted micro-units are gap_micro DIV N: ZERO
    floats end-to-end (a round(gap/(10⁶N), 6) here actually LANDED on
    a decimal .5 boundary at sf0.001 — gap/5·10⁸ ends in …5 whenever
    gap ≡ 250 mod 500 — the exact win_rolling_corr divergence class,
    caught by the Python-recompute test before any engine pair could
    split).

    Scale: same ONE scan → ≤10-group hash agg as the bins query, then
    a 10-row rollup; single-row output."""
    per_bin = _calibration_per_bin(spark, sf_dir)
    s = per_bin.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.abs(F.col("n_pos") * 1_000_000 - F.col("sm")))
        .cast("long")
        .alias("gap_micro"),
    )
    return s.select(
        "n_bins",
        "n_total",
        F.expr("CAST(gap_micro DIV n_total AS BIGINT)").alias("ece_micro"),
    )


# --- Fleiss' kappa multi-rater agreement --------------------------------------

_FLEISS_R = 5  # raters per item
_FLEISS_C = 4  # categories
# P(rater echoes the item's true label) = 0.7 ⇒ first-8-hex threshold
# floor(0.7 · 16⁸) = 0xb3333333 (string compare, no hex parsing).
_FLEISS_AGREE_HEX = "b3333333"


def _rating_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cat, c): the (item, category) count matrix of the
    generated ratings. Each of ``_FLEISS_R`` raters echoes the item's
    true label (doc_id % ``_FLEISS_C``) when the first 8 hex digits of
    a keyed md5 fall below ``_FLEISS_AGREE_HEX``, else picks the
    category the next 8 hex digits select uniformly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % _FLEISS_C).alias("t")
    )
    r = docs.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), F.lit(_FLEISS_R - 1))).alias("r"),
    )
    h = F.md5(
        F.concat(
            F.lit("fl"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("r").cast("string"),
        )
    )
    cat = (
        F.when(F.substring(h, 1, 8) < _FLEISS_AGREE_HEX, F.col("t"))
        .when(F.substring(h, 9, 8) < "40000000", F.lit(0))
        .when(F.substring(h, 9, 8) < "80000000", F.lit(1))
        .when(F.substring(h, 9, 8) < "c0000000", F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        r.select("doc_id", cat.cast("long").alias("cat"))
        .groupBy("doc_id", "cat")
        .agg(F.count("*").cast("long").alias("c"))
    )


@register(
    "eval_fleiss_kappa",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, doc_id % {_FLEISS_C} AS t,
             md5('fl' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(r AS VARCHAR)) AS h
      FROM documents
      CROSS JOIN (SELECT unnest(generate_series(0, {_FLEISS_R - 1})) AS r)
    ), c AS (
      SELECT doc_id,
             CASE WHEN substr(h, 1, 8) < '{_FLEISS_AGREE_HEX}' THEN t
                  WHEN substr(h, 9, 8) < '40000000' THEN 0
                  WHEN substr(h, 9, 8) < '80000000' THEN 1
                  WHEN substr(h, 9, 8) < 'c0000000' THEN 2
                  ELSE 3 END AS cat
      FROM r
    ), nij AS (
      SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS c
      FROM c GROUP BY doc_id, cat
    ), s1 AS (
      SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS s1,
             CAST(sum(c) AS BIGINT) AS total
      FROM nij
    ), cj AS (
      SELECT cat, CAST(sum(c) AS BIGINT) AS cj FROM nij GROUP BY cat
    ), s2 AS (
      SELECT CAST(sum(cj * cj) AS BIGINT) AS s2 FROM cj
    )
    SELECT total,
           CAST(s1 * 1000000 // (total * {_FLEISS_R - 1}) AS BIGINT)
             AS p_o_micro,
           CAST(s2 * 1000000 // (total * total) AS BIGINT) AS p_e_micro,
           CAST(trunc(
             (CAST(s1 * total * total
                   - s2 * total * {_FLEISS_R - 1} AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / CAST(total * {_FLEISS_R - 1} * (total * total - s2)
                    AS DOUBLE)) AS BIGINT) AS kappa_micro
    FROM s1, s2
    """,
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among
    R raters assigning C categories: THE go/no-go statistic for any
    human-annotation or LLM-judge-ensemble labeling campaign (kappa
    below ~0.4 means the rubric, not the model, is the problem).
    Ratings are synthesized deterministically: each of R=5 raters
    echoes the item's true label with p=0.7 via a keyed-md5 uniform
    (string-compared hex, the split_train_val_test trick), else picks
    an md5-uniform category — both engines derive the identical table.

    With n_ij the (item, category) count matrix: P̄_o = S1/D1 (S1 =
    ΣΣ n_ij(n_ij−1), D1 = NR(R−1)) and P̄_e = S2/D2 (S2 = ΣC_j²,
    D2 = (NR)²) — so κ = (S1·D2 − S2·D1)/(D1·(D2 − S2)) over FOUR
    exact int64 aggregates. P_o/P_e emit as non-negative integer DIV;
    κ (sign unknown a priori) as the fixed-parenthesization double
    (num·10⁶)/den TRUNCATED — Spark's double→long cast and DuckDB's
    trunc() both go toward zero, so even negative κ can't split.
    Exact-int64 bound: D2 = (NR)² needs NR < 3·10⁹; past ~6·10⁸ items
    the four aggregates stay exact and only the final combine moves to
    (documented) double.

    Scale: one generated-ratings scan → (item, cat) hash agg → two
    skinny rollups (1-row + C-row) joined via the unfoldable-key
    broadcast; 1-row output."""
    nij = _rating_counts(spark, sf_dir)
    s1 = nij.agg(
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("s1"),
        F.sum("c").cast("long").alias("total"),
    )
    s2 = (
        nij.groupBy("cat")
        .agg(F.sum("c").cast("long").alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("long").alias("s2"))
    )
    j = attach_scalar_frame(s1, "total", s2, "s2")
    d1 = F.col("total") * (_FLEISS_R - 1)
    d2 = F.col("total") * F.col("total")
    num = (F.col("s1") * d2 - F.col("s2") * d1).cast("double")
    den = (d1 * (d2 - F.col("s2"))).cast("double")
    return j.select(
        "total",
        F.expr(f"CAST(s1 * 1000000 DIV (total * {_FLEISS_R - 1}) AS BIGINT)").alias(
            "p_o_micro"
        ),
        F.expr("CAST(s2 * 1000000 DIV (total * total) AS BIGINT)").alias(
            "p_e_micro"
        ),
        ((num * F.lit(1_000_000).cast("double")) / den)
        .cast("long")
        .alias("kappa_micro"),
    )


# --- population stability index (score drift) ----------------------------------

_PSI_BINS = 10


@register(
    "eval_psi",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    binned AS (
      SELECT least(CAST(floor(score * {_PSI_BINS}) AS BIGINT),
                   {_PSI_BINS - 1}) AS bin,
             vec_id % 2 = 0 AS is_ref
      FROM scored
    ),
    bins AS (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin),
    counts AS (
      SELECT b.bin,
             CAST(coalesce(sum(CASE WHEN is_ref THEN 1 END), 0) AS BIGINT)
               AS n_ref,
             CAST(coalesce(sum(CASE WHEN NOT is_ref THEN 1 END), 0) AS BIGINT)
               AS n_cur
      FROM bins b LEFT JOIN binned x ON b.bin = x.bin
      GROUP BY b.bin
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur
      FROM counts
    )
    SELECT bin, n_ref, n_cur,
           CAST(round(
             (CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {_PSI_BINS} AS DOUBLE)
              - CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_BINS} AS DOUBLE))
             * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + {_PSI_BINS} AS DOUBLE))
                  / (CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_BINS} AS DOUBLE)))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS term_micro
    FROM counts, tot
    """,
)
def eval_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the reference and current
    score distributions (even vs odd vec_id split of the logreg
    scores) — the standard model-monitoring drift alarm (PSI > 0.25 =
    retrain). Emits the per-bin decomposition (the actionable view:
    WHICH score band drifted), add-1 smoothed so empty bins never
    produce ln(0); the scalar PSI is the term sum.

    Determinism: bin counts are exact integers joined against a
    generated 0..B−1 bin spine (empty bins must appear — add-1 gives
    them mass); each term is ONE fixed parenthesization
    (p − q)·ln(p/q)·10⁶ over doubles built from exact ints, rounded
    once per bin (the _scored ln/exp policy: a 1-ulp ln gap moves the
    6dp rounding only if the true value sits within 10⁻¹⁰ of a
    boundary — strict-checked). Terms are non-negative ((p−q) and
    ln(p/q) share sign), so HALF_UP and away-from-zero rounding agree.

    Scale: one scan → ≤B-group agg per side → B-row spine join +
    1-row totals broadcast; O(B) output."""
    binned = _scored(spark, sf_dir).select(
        F.least(
            F.floor(F.col("score") * _PSI_BINS).cast("long"),
            F.lit(_PSI_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
    )
    counts_raw = binned.groupBy("bin").agg(
        F.count_if("is_ref").cast("long").alias("n_ref"),
        F.count_if(~F.col("is_ref")).cast("long").alias("n_cur"),
    )
    spine = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    counts = (
        spine.join(F.broadcast(counts_raw), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    j = attach_scalar_frame(counts, "n_ref", tot, "t_ref")
    p = (F.col("n_ref") + 1).cast("double") / (
        F.col("t_ref") + _PSI_BINS
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.col("t_cur") + _PSI_BINS
    ).cast("double")
    term = (p - q) * F.log(p / q) * F.lit(1_000_000).cast("double")
    return j.select(
        "bin", "n_ref", "n_cur", F.round(term).cast("long").alias("term_micro")
    )


# --- classical hypothesis-test statistics ---------------------------------------


@register(
    "eval_welch_ttest",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(round(value * 10) AS BIGINT) AS m
      FROM events WHERE event_type IN ('click', 'view')
    ), g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS BIGINT) AS s,
             CAST(sum(m * m) AS BIGINT) AS ssq
      FROM x GROUP BY 1
    ), w AS (
      SELECT
        max(CASE WHEN event_type = 'click' THEN n END) AS n1,
        max(CASE WHEN event_type = 'click' THEN s END) AS s1,
        max(CASE WHEN event_type = 'click' THEN ssq END) AS q1,
        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
        max(CASE WHEN event_type = 'view' THEN s END) AS s2,
        max(CASE WHEN event_type = 'view' THEN ssq END) AS q2
      FROM g
    ), d AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS diff,
             CAST(n1 * q1 - s1 * s1 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS vn1,
             CAST(n2 * q2 - s2 * s2 AS DOUBLE)
               / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS vn2
      FROM w
    )
    SELECT n1, n2,
           CAST(trunc(diff / sqrt(vn1 + vn2) * CAST(1000000 AS DOUBLE))
                AS BIGINT) AS t_micro,
           CAST(trunc((vn1 + vn2) * (vn1 + vn2)
                      / (vn1 * vn1 / (n1 - 1) + vn2 * vn2 / (n2 - 1))
                      * CAST(1000 AS DOUBLE)) AS BIGINT) AS df_milli
    FROM d
    """,
)
def eval_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the 'click' and 'view'
    event-value populations — the A/B-testing primitive (the variant
    that doesn't assume equal variances, i.e. the one that should
    ALWAYS be used; Welch 1947): t = (x̄₁−x̄₂)/√(v₁/n₁+v₂/n₂) with
    Welch–Satterthwaite df.

    Six exact int64 moments (n, Σm, Σm² per group, DECI-units — a
    milli-unit n·Σm² raises ARITHMETIC_OVERFLOW at sf1.0, where the
    10× event mass pushes the power sum past 2⁶³; deci buys ~600×
    headroom at sf1.0, next decade coarsen again, as
    timeseries_stl_strength does);
    sample variance over n enters as the all-integer
    (n·Σm²−(Σm)²)/(n²(n−1)) with ONE BIGINT→DOUBLE cast each; t and
    df are each ONE fixed parenthesization TRUNCATED (t's sign is
    data-dependent — both engines trunc toward zero).

    Scale: one scan with the IN-filter pushed down → a 2-group
    map-side-combined agg → 1-row pivot; the entire test is O(1)
    past the scan."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_type", F.round(F.col("value") * 10).cast("long").alias("m")
    )
    g = x.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("m").cast("long").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("ssq"),
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    w = g.agg(
        pick("click", "n").alias("n1"),
        pick("click", "s").alias("s1"),
        pick("click", "ssq").alias("q1"),
        pick("view", "n").alias("n2"),
        pick("view", "s").alias("s2"),
        pick("view", "ssq").alias("q2"),
    )
    d = w.select(
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1")
         - F.col("s2").cast("double") / F.col("n2")).alias("diff"),
        (
            (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")).cast("double")
            / (F.col("n1").cast("double") * F.col("n1") * (F.col("n1") - 1))
        ).alias("vn1"),
        (
            (F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")).cast("double")
            / (F.col("n2").cast("double") * F.col("n2") * (F.col("n2") - 1))
        ).alias("vn2"),
    )
    se2 = F.col("vn1") + F.col("vn2")
    return d.select(
        "n1",
        "n2",
        (F.col("diff") / F.sqrt(se2) * F.lit(1_000_000).cast("double"))
        .cast("long")
        .alias("t_micro"),
        (
            se2 * se2
            / (
                F.col("vn1") * F.col("vn1") / (F.col("n1") - 1)
                + F.col("vn2") * F.col("vn2") / (F.col("n2") - 1)
            )
            * F.lit(1_000).cast("double")
        )
        .cast("long")
        .alias("df_milli"),
    )


def _chi_square_cells(
    o: DataFrame, row: str, col: str
) -> tuple[DataFrame, DataFrame]:
    """For a (``row``, ``col``, o) count table: one row (n_cells,
    chi2_micro, dr, dc) — observed cells, the summed micro-unit
    (o−e)²/e terms with e_milli = (1000·r·c) DIV n (cells with
    e_milli = 0 skipped), and the row/column degrees of freedom — plus
    the 1-row total frame (n)."""
    r = o.groupBy(row).agg(F.sum("o").cast("long").alias("r"))
    c = o.groupBy(col).agg(F.sum("o").cast("long").alias("c"))
    n = o.agg(F.sum("o").cast("long").alias("n"))
    cells = o.join(F.broadcast(r), row).join(F.broadcast(c), col)
    cells = (
        attach_scalar_frame(cells, "o", n, "n")
        .select("o", F.expr("(1000 * r * c) div n").alias("e_milli"))
        .filter(F.col("e_milli") > 0)
        .select(
            F.expr(
                "(1000 * o - e_milli) * (1000 * o - e_milli) * 1000"
                " div e_milli"
            ).alias("term")
        )
    )
    dof_r = r.agg((F.count("*") - 1).cast("long").alias("dr"))
    dof_c = c.agg((F.count("*") - 1).cast("long").alias("dc"))
    s = cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("term").cast("long").alias("chi2_micro"),
    )
    j = attach_scalar_frame(
        attach_scalar_frame(s, "n_cells", dof_r, "dr"), "n_cells", dof_c, "dc"
    )
    return j, n


@register(
    "eval_chi_square",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ), r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY 1),
    c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.o, (1000 * r.r * c.c) // n.n AS e_milli
      FROM o JOIN r USING (lang) JOIN c USING (source), n
    ), terms AS (
      SELECT (1000 * o - e_milli) * (1000 * o - e_milli) * 1000
               // e_milli AS term
      FROM cells WHERE e_milli > 0
    )
    SELECT CAST((SELECT count(*) FROM terms) AS BIGINT) AS n_cells,
           CAST((SELECT (count(*) - 1) FROM r) AS BIGINT)
             * CAST((SELECT (count(*) - 1) FROM c) AS BIGINT) AS dof,
           CAST(sum(term) AS BIGINT) AS chi2_micro
    FROM terms
    """,
)
def eval_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic of independence over the
    (lang × source) contingency table — the categorical-drift /
    stratification-bias test (is language mix independent of source?
    if not, a per-source sampler silently skews the language mix).

    The textbook Σ(o−e)²/e with e = r·c/N clears all FLOAT divisions
    via a two-stage integer quantization (the single-expression
    (o·N−r·c)²·10⁶ form raises ARITHMETIC_OVERFLOW at sf1.0:
    (oN−rc)² alone passes 2⁶³ once N·max(o) > 3·10⁹):
    e_milli = (1000·r·c) DIV N, then per-cell
    term = (1000·o − e_milli)²·1000 DIV e_milli — micro-units of
    (o−e)²/e, every intermediate bounded by the CELL deviation, not
    by N² (exact while |o−e| < ~9·10⁴ docs per cell; past that
    coarsen to milli). Numerator a perfect square (floor == trunc),
    the statistic an EXACT int64 sum of quantized terms (the
    quantization is part of the metric definition, as in eval_ece).
    Note: only OBSERVED cells contribute — a zero cell's r·c/N mass
    is absent, matching the sparse-contingency convention of groupBy
    counting; dof reports the full (R−1)(C−1) grid; e_milli = 0
    (possible only under ~1000 total rows) guarded identically in
    both engines. ZERO floats end-to-end.

    Scale: one (lang, source) map-side agg; row/col/total rollups are
    R-, C-, and 1-row frames broadcast back; 1-row output."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count("*").cast("long").alias("o"))
    j, _ = _chi_square_cells(o, "lang", "source")
    return j.select(
        "n_cells",
        (F.col("dr") * F.col("dc")).cast("long").alias("dof"),
        "chi2_micro",
    )


# --- Krippendorff's alpha (nominal) ---------------------------------------------


@register(
    "eval_krippendorff_alpha",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, doc_id % {_FLEISS_C} AS t,
             md5('fl' || CAST(doc_id AS VARCHAR) || ':'
                 || CAST(r AS VARCHAR)) AS h
      FROM documents
      CROSS JOIN (SELECT unnest(generate_series(0, {_FLEISS_R - 1})) AS r)
    ), c AS (
      SELECT doc_id,
             CASE WHEN substr(h, 1, 8) < '{_FLEISS_AGREE_HEX}' THEN t
                  WHEN substr(h, 9, 8) < '40000000' THEN 0
                  WHEN substr(h, 9, 8) < '80000000' THEN 1
                  WHEN substr(h, 9, 8) < 'c0000000' THEN 2
                  ELSE 3 END AS cat
      FROM r
    ), nij AS (
      SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS c
      FROM c GROUP BY doc_id, cat
    ), o AS (
      SELECT CAST(sum(c * ({_FLEISS_R} - c)) AS BIGINT) AS d_o_scaled,
             CAST(sum(c) AS BIGINT) AS n
      FROM nij
    ), e AS (
      SELECT CAST(sum(cj * cj) AS BIGINT) AS sq
      FROM (SELECT CAST(sum(c) AS BIGINT) AS cj FROM nij GROUP BY cat)
    )
    SELECT n AS n_pairable, d_o_scaled,
           CAST(trunc(
             (CAST({_FLEISS_R - 1} * (n * n - sq)
                   - d_o_scaled * (n - 1) AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
             / CAST({_FLEISS_R - 1} * (n * n - sq) AS DOUBLE)) AS BIGINT)
             AS alpha_micro
    FROM o, e WHERE n * n - sq > 0
    """,
)
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal data) over the SAME synthesized
    R=5-rater campaign as eval_fleiss_kappa — the agreement statistic
    that, unlike kappa, generalizes to missing ratings and arbitrary
    metrics, and the number reviewers ask for side by side with kappa
    (Krippendorff 2004). Sharing the generation makes the two rows a
    comparable pair on identical data by construction.

    With all items fully rated (m_u = R), the coincidence-matrix form
    collapses to THREE exact int64 aggregates: per-item disagreement
    D_o·(R−1) = ΣΣ n_uc(R−n_uc) ("d_o_scaled"), n = ΣΣ n_uc pairable
    values, and sq = Σ_c n_c². Then
    α = 1 − (D_o/De) = ((R−1)(n²−sq) − d_o_scaled·(n−1))
                        / ((R−1)(n²−sq)),
    emitted as the fixed-parenthesization double (num·10⁶)/den
    TRUNCATED (α can be negative; both engines trunc toward zero —
    the fleiss idiom). Exact-int64 bound: n² needs n < 3·10⁹ — five
    rated docs per item keeps that until ~6·10⁸ items. Integer guard
    n²−sq > 0 (all-one-category campaign) in both engines.

    Scale: identical cascade to eval_fleiss_kappa — generated-ratings
    scan → (item, cat) hash agg → two skinny rollups; 1-row output."""
    nij = _rating_counts(spark, sf_dir)
    o = nij.agg(
        F.sum(F.col("c") * (_FLEISS_R - F.col("c")))
        .cast("long")
        .alias("d_o_scaled"),
        F.sum("c").cast("long").alias("n"),
    )
    e = (
        nij.groupBy("cat")
        .agg(F.sum("c").cast("long").alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sq"))
    )
    j = attach_scalar_frame(o, "n", e, "sq")
    den = F.lit(_FLEISS_R - 1) * (F.col("n") * F.col("n") - F.col("sq"))
    num = den - F.col("d_o_scaled") * (F.col("n") - 1)
    return (
        j.filter(F.col("n") * F.col("n") - F.col("sq") > 0)
        .select(
            F.col("n").alias("n_pairable"),
            "d_o_scaled",
            (
                (num.cast("double") * F.lit(1_000_000).cast("double"))
                / den.cast("double")
            )
            .cast("long")
            .alias("alpha_micro"),
        )
    )


# --- Cramér's V (effect size of the chi-square test) ----------------------------


@register(
    "eval_cramers_v",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ), r AS (
      SELECT pri, CAST(sum(o) AS BIGINT) AS r FROM o GROUP BY pri
    ), c AS (
      SELECT st, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY st
    ), n AS (
      SELECT CAST(sum(o) AS BIGINT) AS n FROM o
    ), cells AS (
      SELECT o.o, (1000 * r.r * c.c) // n.n AS e_milli
      FROM o JOIN r USING (pri) JOIN c USING (st), n
    ), chi AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum((1000 * o - e_milli) * (1000 * o - e_milli) * 1000
                      // e_milli) AS BIGINT) AS chi2_micro
      FROM cells WHERE e_milli > 0
    ), dof AS (
      SELECT (SELECT CAST(count(*) - 1 AS BIGINT) FROM r) AS dr,
             (SELECT CAST(count(*) - 1 AS BIGINT) FROM c) AS dc
    )
    SELECT n_cells, dr * dc AS dof, chi2_micro,
           chi2_micro // (n.n * least(dr, dc)) AS v2_micro
    FROM chi, dof, n WHERE least(dr, dc) > 0
    """,
)
def eval_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized EFFECT SIZE of the Pearson
    chi-square independence test (Cramér 1946): V² = χ²/(n·min(R−1,
    C−1)). A drift monitor needs both numbers — χ² says "dependence is
    statistically detectable" (it grows with n even for trivial
    association), V says "and it is THIS strong" — so this row runs
    the full test on a SECOND contingency pair (order priority ×
    order status, 5×3) to widen coverage past eval_chi_square's
    lang × source.

    Same two-stage integer quantization as eval_chi_square (e_milli =
    1000·r·c DIV n, per-cell micro term bounded by the CELL deviation
    — exact while |o−e| < ~9·10⁴ rows per cell), then ONE more exact
    step: v2_micro = chi2_micro DIV (n·min(dr,dc)) — V² in micro-units
    with every operand non-negative, so integer DIV is engine-identical
    (trunc == floor). No sqrt: V² is the canonical squared form and
    keeps the row float-free end-to-end.

    Scale: one (priority, status) map-side agg over orders; 5- and
    3-row rollups broadcast back; 1-row output."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count("*").cast("long").alias("o"))
    j, n = _chi_square_cells(o, "pri", "st")
    j = attach_scalar_frame(j, "n_cells", n, "n")
    return j.filter(F.least("dr", "dc") > 0).select(
        "n_cells",
        (F.col("dr") * F.col("dc")).cast("long").alias("dof"),
        "chi2_micro",
        F.expr("chi2_micro div (n * least(dr, dc))").alias("v2_micro"),
    )


# --- cumulative gains / lift table ----------------------------------------------


def _score_groups(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Per distinct 6dp score, highest first: (cnt, pos, cum_before)
    with cum_before the rows in strictly higher score groups; plus the
    1-row totals (n, p)."""
    s = _scored(spark, sf_dir).select(
        "score", (F.col("label") == _POS_LABEL).cast("long").alias("y")
    )
    g = s.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.select(
        "cnt",
        "pos",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    return cum, tot


@register(
    "eval_gain_lift",
    oracle=f"""
    WITH s AS ({_SCORE_SQL}),
    g AS (
      SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN label = {_POS_LABEL} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM s GROUP BY score
    ), cum AS (
      SELECT score, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM g
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
      FROM g
    ), d AS (
      SELECT cum_before * 10 // n AS decile,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM cum, tot GROUP BY 1
    ), c AS (
      SELECT decile, n_rows, n_pos,
             CAST(sum(n_rows) OVER (ORDER BY decile) AS BIGINT) AS cum_rows,
             CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      FROM d
    )
    SELECT decile, n_rows, n_pos, cum_pos,
           cum_pos * 1000000 // p AS gain_micro,
           cum_pos * n * 1000000 // (cum_rows * p) AS lift_micro
    FROM c, tot WHERE p > 0
    """,
)
def eval_gain_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by score decile — the
    classifier-deployment report ("the top 10% of scores capture X%
    of positives at Y× random") that ranking teams read before any
    threshold choice; companion row to eval_auc_* over the SAME
    logreg scorer (_scored, 6dp-rounded sigmoid).

    Deciles are GROUP-ATOMIC over distinct scores: rows aggregate by
    rounded score first, each score-group lands wholly in the decile
    of its first row (decile = cum_before·10 DIV n). Ties therefore
    never split across deciles — the reproducibility property a
    population-NTILE would lose (engines break intra-tie order
    arbitrarily). All arithmetic integer: cumulative counts, then
    gain = cum_pos·10⁶ DIV P and lift = cum_pos·n·10⁶ DIV
    (cum_rows·P) — every operand non-negative so DIV is
    engine-identical. Int64 bound: cum_pos·n·10⁶ needs n·P < 9·10¹²
    (n = P worst case → 3·10⁶ scored rows; past that emit milli).

    Scale: one hash agg on the 6dp score (≤10⁶+1 groups — the
    value-domain bound shared with eval_auc_rank_sum, whitelisted),
    one skinny cumulative pass over score groups, then a ≤10-row
    decile frame; 10-row output."""
    cum, tot = _score_groups(spark, sf_dir)
    d = (
        attach_scalar_frame(cum, "cnt", tot, "n")
        .select(
            F.expr("cum_before * 10 div n").alias("decile"), "cnt", "pos"
        )
        .groupBy("decile")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    w2 = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_rows").over(w2).cast("long").alias("cum_rows"),
        F.sum("n_pos").over(w2).cast("long").alias("cum_pos"),
    )
    return (
        attach_scalar_frame(c, "decile", tot, "n")
        .filter(F.col("p") > 0)
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "cum_pos",
            F.expr("cum_pos * 1000000 div p").alias("gain_micro"),
            F.expr("cum_pos * n * 1000000 div (cum_rows * p)").alias(
                "lift_micro"
            ),
        )
    )


# --- two-sample Kolmogorov–Smirnov ----------------------------------------------


@register(
    "eval_ks_statistic",
    oracle="""
    WITH g AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    ), cum AS (
      SELECT CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1,
             CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2
      FROM g
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM g
    )
    SELECT n1, n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_scaled,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) * 1000
             // (n1 * n2) AS ks_milli
    FROM cum, tot WHERE n1 > 0 AND n2 > 0
    GROUP BY n1, n2
    """,
)
def eval_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic D = sup|F₁−F₂| between
    the value distributions of two event populations (click vs view)
    — the standard distribution-shift test a data pipeline runs
    between a reference window and a live window before trusting a
    model trained on the former (Kolmogorov 1933, Smirnov 1939);
    the nonparametric heavyweight next to eval_psi's binned form.

    EXACT over the cent-quantized domain: per distinct cent value,
    the two sample counts aggregate map-side; one cumulative pass
    gives both empirical CDFs as integers; the statistic is carried
    as d_scaled = max|cum₁·n₂ − cum₂·n₁| — an EXACT int64 (the sup is
    attained at a sample point, so the distinct-value grid loses
    nothing). ks_milli = d_scaled·1000 DIV (n₁·n₂) is the one
    quantized division, all operands non-negative (DIV engine-
    identical). Int64 bound: d_scaled·1000 ≤ n₁·n₂·1000 needs
    n₁·n₂ < 9·10¹⁵ — ~10⁸ rows per side; past that coarsen to
    percent.

    Scale: one value-keyed hash agg (domain-bounded: max observed
    cents ≈ 5·10⁴ distinct keys — the whitelisted value-domain
    window class), one skinny cumulative pass, 1-row output."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    g = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "click").cast("long").alias("i1"),
        (F.col("event_type") == "view").cast("long").alias("i2"),
    ).groupBy("cents").agg(
        F.sum("i1").cast("long").alias("c1"),
        F.sum("i2").cast("long").alias("c2"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        F.sum("c1").over(w).cast("long").alias("cum1"),
        F.sum("c2").over(w).cast("long").alias("cum2"),
    )
    tot = g.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    j = attach_scalar_frame(cum, "cum1", tot, "n1")
    return (
        j.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
            .cast("long")
            .alias("d_scaled")
        )
        .select(
            "n1",
            "n2",
            "d_scaled",
            F.expr("d_scaled * 1000 div (n1 * n2)").alias("ks_milli"),
        )
    )


# --- bootstrap confidence interval ------------------------------------------------


_BOOTCI_B = 16


@register(
    "eval_bootstrap_ci_mean",
    oracle=f"""
    WITH digs AS (SELECT unnest(range({_BOOTCI_B} // 4)) AS d),
    wins AS (SELECT unnest(range(4)) AS w),
    h AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             md5('bci' || CAST(d.d AS VARCHAR) || ':'
                 || CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS hex,
             d.d
      FROM lineitem, digs d
    ), drawn AS (
      SELECT h.d * 4 + w.w AS r,
             {{k}} AS k,
             h.cents
      FROM h, wins w
    ), means AS (
      SELECT r, CAST(sum(k * cents) AS BIGINT)
                  // CAST(sum(k) AS BIGINT) AS m
      FROM drawn GROUP BY r HAVING sum(k) > 0
    ), arr AS (
      SELECT list_sort(list(m)) AS ms,
             CAST(count(*) AS BIGINT) AS b
      FROM means
    ), full_mean AS (
      SELECT CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
               AS mean_cents
      FROM h
    )
    SELECT b AS n_replicates, mean_cents,
           ms[2] AS ci_lo_cents, ms[b - 1] AS ci_hi_cents
    FROM arr, full_mean
    """.replace(
        "{k}",
        "CASE "
        + " ".join(
            f"WHEN substr(h.hex, 1 + 8 * CAST(w.w AS INTEGER), 8)"
            f" < '{format(c, '08x')}' THEN {k}"
            for k, c in enumerate(
                (1580030168, 3160060337, 3950075421, 4213413783,
                 4279248373, 4292415291)
            )
        )
        + " ELSE 6 END",
    ).replace("{_BOOTCI_B}", str(_BOOTCI_B)),
)
def eval_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap percentile CONFIDENCE INTERVAL for a mean
    (Efron 1979; the Poisson(1)-weight streaming form — Chamandy et
    al., Google 2012): B = 16 deterministic replicates of
    mean(extended price), CI = the 2nd/15th order statistics of the
    replicate means (~the 90% percentile interval at B=16, stated as
    an ORDER-STATISTIC convention — no interpolation, so the bounds
    are exact int64 cents). The one-row answer an experimenter reads
    next to sample_poisson_bootstrap's per-replicate table: the same
    resampling primitive, aggregated to the decision artifact.

    Determinism: replicate weights are md5-keyed Poisson draws (one
    salted digest per (replicate, row) — the repo-standard inverse-CDF
    integer cuts); each replicate mean is one non-negative integer
    DIV (exact cents); the CI bounds come from a sorted 16-element
    array read positionally — no float touches the row end-to-end.

    Scale: the replicate explode is a ×B map-side fanout feeding ONE
    (replicate) hash agg with map-side combine (B·partitions partial
    records, never B·rows); the order-statistic step sorts a B-length
    array on one row. B is a constant — 100 TB cost is B extra
    scan-side multiply-adds per row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    # ONE digest per (row, digest-group); each of its four disjoint
    # 8-hex windows is an independent 32-bit uniform — B=16 draws from
    # B/4 md5 calls (the sample_poisson_bootstrap trick; hashing, not
    # the agg, dominated the first cut: 19.6 s → ~6 s at sf0.1)
    li = li.select(
        "cents",
        "l_orderkey",
        "l_linenumber",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOTCI_B // 4 - 1))).alias("d"),
    )
    drawn = li.select(
        "cents",
        F.md5(
            F.concat(
                F.lit("bci"),
                F.col("d").cast("string"),
                F.lit(":"),
                F.col("l_orderkey").cast("string"),
                F.lit("-"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("hex"),
        "d",
    )
    from .datapipe import _POIS_CUTS

    # three draw-path optimizations, all measured at sf0.1:
    # (a) alias the window in its own projection and CASE over the
    #     ALIAS — an F.when() chain builds seven Column copies of the
    #     window subtree and the executed plan re-evaluated it per
    #     branch (9.5 → 5.1 s);
    # (b) NO integer conversion at all — the cuts are embedded as
    #     8-hex lowercase string literals and the CASE compares the
    #     digest window LEXICOGRAPHICALLY (fixed-width lowercase hex
    #     orders identically to its numeric value — the
    #     _FLEISS_AGREE_HEX idiom), dropping conv()'s per-row parse;
    # (c) aggregate before the shuffle: the four digest windows
    #     become four k COLUMNS aggregated in the SAME pass (8 int64
    #     sums grouped by d, unpivoted to the 16 replicates with
    #     stack() afterwards) instead of a second ×4 explode — the
    #     old plan materialized 9.6M rows each carrying
    #     the 32-char hex before the aggregate; int64 sums are
    #     order-independent, so the replicate means are bit-identical.
    def case_sql(w: int) -> str:
        return (
            "CASE "
            + " ".join(
                f"WHEN h{w} < '{format(c, '08x')}' THEN {i}"
                for i, c in enumerate(_POIS_CUTS)
            )
            + f" ELSE 6 END AS k{w}"
        )

    ks = drawn.selectExpr(
        "d",
        "cents",
        *[f"substring(hex, {1 + 8 * w}, 8) AS h{w}" for w in range(4)],
    ).selectExpr("d", "cents", *[case_sql(w) for w in range(4)])
    agg4 = ks.groupBy("d").agg(
        *[
            a
            for w in range(4)
            for a in (
                F.sum(F.col(f"k{w}") * F.col("cents"))
                .cast("long")
                .alias(f"skc{w}"),
                F.sum(f"k{w}").cast("long").alias(f"sk{w}"),
            )
        ]
    )
    means = (
        agg4.selectExpr(
            "stack(4, "
            + ", ".join(f"d * 4 + {w}, skc{w}, sk{w}" for w in range(4))
            + ") AS (r, skc, sk)"
        )
        .filter(F.col("sk") > 0)
        .select(F.expr("skc div sk").alias("m"))
    )
    arr = means.agg(
        F.array_sort(F.collect_list("m")).alias("ms"),
        F.count("*").cast("long").alias("b"),
    )
    fm = li.agg(
        F.expr("cast(sum(cents) as long) div cast(count(*) as long)").alias(
            "mean_cents"
        )
    )
    return attach_scalar_frame(arr, "b", fm, "mean_cents").select(
        F.col("b").alias("n_replicates"),
        "mean_cents",
        F.element_at("ms", 2).alias("ci_lo_cents"),
        F.element_at("ms", (F.col("b") - 1).cast("int")).alias("ci_hi_cents"),
    )


# --- ROC curve points --------------------------------------------------------------


@register(
    "eval_roc_points",
    oracle=f"""
    WITH s AS ({_SCORE_SQL}),
    g AS (
      SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN label = {_POS_LABEL} THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM s GROUP BY score
    ), cum AS (
      SELECT score, cnt, pos,
             CAST(coalesce(sum(cnt) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM g
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
      FROM g
    ), d AS (
      SELECT cum_before * 10 // n AS decile,
             CAST(sum(pos) AS BIGINT) AS tp_d,
             CAST(sum(cnt - pos) AS BIGINT) AS fp_d
      FROM cum, tot GROUP BY 1
    ), c AS (
      SELECT decile,
             CAST(sum(tp_d) OVER (ORDER BY decile) AS BIGINT) AS cum_tp,
             CAST(sum(fp_d) OVER (ORDER BY decile) AS BIGINT) AS cum_fp
      FROM d
    )
    SELECT decile, cum_tp, cum_fp,
           cum_tp * 1000000 // p AS tpr_micro,
           cum_fp * 1000000 // (n - p) AS fpr_micro
    FROM c, tot WHERE p > 0 AND n - p > 0
    """,
)
def eval_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve points at the ten group-atomic decile thresholds —
    the (FPR, TPR) operating points behind eval_auc_rank_sum's single
    number: what a threshold-picker actually plots (Fawcett 2006)
    next to eval_gain_lift's (depth, recall) view of the SAME
    cut-points on the SAME scorer — the three rows triangulate each
    other by construction.

    Same determinism frame as eval_gain_lift: distinct 6dp score
    groups (value-domain whitelist class), group-atomic decile
    assignment (ties never split), exact int64 cumulative TP/FP, and
    tpr/fpr one non-negative micro-DIV each. Int64 bound: cum·10⁶
    needs n < 9·10¹² rows — beyond any scored eval set.

    Scale: identical plan shape to eval_gain_lift — one score hash
    agg, one skinny cumulative pass, a ≤10-row decile frame; 10-row
    output."""
    cum, tot = _score_groups(spark, sf_dir)
    d = (
        attach_scalar_frame(cum, "cnt", tot, "n")
        .select(
            F.expr("cum_before * 10 div n").alias("decile"),
            "pos",
            (F.col("cnt") - F.col("pos")).alias("neg"),
        )
        .groupBy("decile")
        .agg(
            F.sum("pos").cast("long").alias("tp_d"),
            F.sum("neg").cast("long").alias("fp_d"),
        )
    )
    w2 = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = d.select(
        "decile",
        F.sum("tp_d").over(w2).cast("long").alias("cum_tp"),
        F.sum("fp_d").over(w2).cast("long").alias("cum_fp"),
    )
    return (
        attach_scalar_frame(c, "decile", tot, "n")
        .filter((F.col("p") > 0) & (F.col("n") - F.col("p") > 0))
        .select(
            "decile",
            "cum_tp",
            "cum_fp",
            F.expr("cum_tp * 1000000 div p").alias("tpr_micro"),
            F.expr("cum_fp * 1000000 div (n - p)").alias("fpr_micro"),
        )
    )


# --- Matthews correlation + log loss ------------------------------------------


@register(
    "eval_matthews_corr",
    oracle=f"""
    WITH scored AS ({_SCORE_SQL}),
    cm AS (
      SELECT CAST(count(*) FILTER (score >= 0.5 AND label = {_POS_LABEL})
                  AS BIGINT) AS tp,
             CAST(count(*) FILTER (score >= 0.5 AND label <> {_POS_LABEL})
                  AS BIGINT) AS fp,
             CAST(count(*) FILTER (score < 0.5 AND label = {_POS_LABEL})
                  AS BIGINT) AS fn,
             CAST(count(*) FILTER (score < 0.5 AND label <> {_POS_LABEL})
                  AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp * tn - fp * fn AS DOUBLE)
                 / sqrt(CAST((tp + fp) * (tp + fn)
                             * (tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc
    FROM cm
    """,
)
def eval_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient at the 0.5 cut (Matthews 1975;
    the chance-corrected single-number confusion summary that stays
    honest under class imbalance, where accuracy and F1 inflate).

    Exactness: numerator tp*tn - fp*fn and the four marginal products
    are EXACT int64 (n^4 < 2^63 holds to n ~ 5.5e4; past that, upgrade
    the marginals to decimal(38) or factor the denominator as
    sqrt(a*b)*sqrt(c*d) — noted, not needed at fixture scales); mcc is
    one IEEE sqrt of an exact integer (correctly rounded, so
    bit-identical cross-engine) and one rounded division. ONE scan,
    ONE 4-counter map-side-combined aggregate — O(1) output at any
    input scale."""
    cm = _confusion_counts(spark, sf_dir)
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast("double")
    den = F.sqrt(
        (
            (F.col("tp") + F.col("fp"))
            * (F.col("tp") + F.col("fn"))
            * (F.col("tn") + F.col("fp"))
            * (F.col("tn") + F.col("fn"))
        ).cast("double")
    )
    return cm.select(
        "tp", "fp", "fn", "tn", F.round(num / den, 6).alias("mcc")
    )


@register(
    "eval_log_loss",
    oracle=f"""
    WITH scored AS ({_score_sql(_CAL_SCALE)}),
    t AS (
      SELECT label,
             least(greatest(CAST(round(score * 1000000) AS BIGINT), 1),
                   999999) AS pm
      FROM scored
    ), term AS (
      SELECT label,
             CAST(floor(-ln(CAST(CASE WHEN label = {_POS_LABEL} THEN pm
                                      ELSE 1000000 - pm END AS DOUBLE)
                            / 1000000) * 1000000) AS BIGINT) AS t_micro
      FROM t
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t_micro) AS BIGINT) AS loss_sum_micro,
           round(CAST(sum(t_micro) AS DOUBLE) / count(*) / 1000000, 6)
             AS log_loss
    FROM term GROUP BY label
    """,
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class log loss (cross-entropy) of the calibrated sigmoid —
    THE training-objective-aligned eval metric, reported next to the
    bounded Brier score; the per-label breakdown localizes which class
    the probabilities lie about.

    Determinism: the 6dp score re-enters as a CLAMPED micro-int
    (pm in [1, 999999] — the clamp bounds the penalty at ln(1e6), the
    standard sklearn eps move, and removes ln(0)); each row's term
    -ln(x) is evaluated on the SAME rational x = pm/1e6 in both
    engines and immediately FLOOR-quantized to micro before
    aggregation (the eval_jensen_shannon discipline: per-row
    quantization kills double-sum order drift; floor not CAST because
    DuckDB's double->int cast rounds half-even while Spark's
    truncates). The sums are exact int64; the mean is one rounded
    division chain. ONE scan, one |labels|-row aggregate."""
    s = _scored(spark, sf_dir, _CAL_SCALE)
    pm = F.least(
        F.greatest(F.round(F.col("score") * 1_000_000).cast("long"), F.lit(1)),
        F.lit(999_999),
    )
    x = (
        F.when(F.col("label") == _POS_LABEL, pm)
        .otherwise(F.lit(1_000_000) - pm)
        .cast("double")
        / 1_000_000.0
    )
    term = F.floor(-F.log(x) * 1_000_000).cast("long")
    return (
        s.select("label", term.alias("t_micro"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("t_micro").cast("long").alias("loss_sum_micro"),
            F.round(
                F.sum("t_micro").cast("double") / F.count("*") / 1_000_000, 6
            ).alias("log_loss"),
        )
    )


# --- composed retrieval-eval pipeline ------------------------------------------

_PREV_K = 10          # depth of each arm and of the fused list
_PREV_NQ = 32         # probe-query count (vec_id < 32)
_PREV_IVF_GATE = 16   # max_queries below the probe count -> IVF route
# RRF increments 1/(60+r) as integer micro-units, r = 1.._PREV_K —
# precomputed in Python and embedded in the plan so the fused score is
# an exact int64 sum (the eval_ndcg_at_k discount-table discipline)
_PREV_RRF_INT = [round(1_000_000 / (60 + r)) for r in range(1, _PREV_K + 1)]


@register(
    "pipeline_retrieval_eval",
    oracle=f"""
    WITH topk AS (
      SELECT q_id, n_id, rank FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS n_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])) DESC,
                          b.vec_id) AS rank
        FROM embeddings a, embeddings b
        WHERE a.vec_id < {_PREV_NQ} AND b.vec_id >= {_PREV_NQ})
      WHERE rank <= {_PREV_K}
    ),
    lbl AS (SELECT vec_id, label FROM embeddings),
    per_q AS (
      SELECT t.q_id,
             CAST(count(*) FILTER (ln.label = lq.label) AS BIGINT) AS ex_hits,
             CAST(coalesce(min(t.rank) FILTER (ln.label = lq.label), 0)
                  AS BIGINT) AS ex_first
      FROM topk t JOIN lbl lq ON lq.vec_id = t.q_id
                  JOIN lbl ln ON ln.vec_id = t.n_id
      GROUP BY t.q_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(ex_hits) AS BIGINT) AS exact_hits,
           CAST(sum(CASE WHEN ex_first > 0
                    THEN ({_RR_INT!r}::BIGINT[])[ex_first] ELSE 0 END)
                AS BIGINT) AS exact_mrr_micro,
           TRUE AS fused_hits_ge_090,
           TRUE AS fused_mrr_ge_090
    FROM per_q
    """,
)
def pipeline_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed retrieval-eval pass (the fourth composed pipeline,
    closing the similarity-serving family): ANN serving -> reciprocal
    rank fusion -> retrieval metrics, all in ONE plan.

    The 32 probe queries run against the rest-of-corpus through BOTH
    serving paths of the size-gated router: the exact
    map-side-top-k plan (knn_query_table below its gate) and the
    distributed IVF cell-probe plan (forced via max_queries <
    |probes|, the sim_knn_recall_gate trick). The two rankings fuse
    with RRF, score(d) = sum 1/(60+rank_r(d)) (Cormack, Clarke &
    Buettcher, SIGIR'09), as an exact int64 micro-unit sum; label
    relevance (neighbour shares the query's class) then yields
    hits@k and MRR per arm.

    Correctness rides the recall-gate pattern: the EXACT arm's
    aggregate hits and integer MRR numerator are hash-checked against
    DuckDB's brute-force SQL (bit-exact fold-order cosines,
    operators/similarity.py:_fold_matmul), while the IVF-fused list's
    quality enters as TWO measured booleans — fused hits and fused MRR
    each within 0.9x of the exact arm (integer cross-multiplication,
    no float compare) — which the oracle states as the exact-truth
    expectation TRUE, so a hash match PROVES the fused serving path
    cleared the bar. 100 TB: the corpus is scanned map-side (exact
    arm) and cell-partitioned (IVF arm); everything past the two
    k*|Q|-row rankings is constant-size (<=320-row full-outer fuse,
    broadcast label dims, one O(1) scoreboard row)."""
    from ..operators.similarity import knn_query_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _PREV_NQ).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= _PREV_NQ).select("vec_id", "embedding")
    # the exact arm feeds BOTH the RRF fuse and the per-query exact
    # metrics — persist it or the map-side top-k corpus pass runs
    # twice in the one materializing action
    exact = (
        knn_query_table(corpus, probes, "vec_id", "embedding", k=_PREV_K)
        .select("q_id", "n_id", F.col("rank").alias("ex_rank"))
        .persist()
    )
    ivf = knn_query_table(
        corpus, probes, "vec_id", "embedding", k=_PREV_K,
        max_queries=_PREV_IVF_GATE,
    ).select("q_id", "n_id", F.col("rank").alias("iv_rank"))

    rrf = F.array(*[F.lit(v) for v in _PREV_RRF_INT])
    fused = (
        exact.join(ivf, ["q_id", "n_id"], "full")
        .withColumn(
            "rrf_micro",
            F.coalesce(F.element_at(rrf, F.col("ex_rank").cast("int")), F.lit(0))
            + F.coalesce(
                F.element_at(rrf, F.col("iv_rank").cast("int")), F.lit(0)
            ),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("rrf_micro"), F.asc("n_id"))
    fused_topk = (
        fused.withColumn("f_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("f_rank") <= _PREV_K)
    )

    lq = emb.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
    ln_ = emb.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"))
    rel = F.col("n_label") == F.col("q_label")
    rr = F.array(*[F.lit(v) for v in _RR_INT])

    def per_query(ranked: DataFrame, rank_col: str, pfx: str) -> DataFrame:
        return (
            ranked.join(F.broadcast(lq), "q_id")
            .join(F.broadcast(ln_), "n_id")
            .groupBy("q_id")
            .agg(
                F.count_if(rel).cast("long").alias(f"{pfx}_hits"),
                F.coalesce(F.min(F.when(rel, F.col(rank_col))), F.lit(0))
                .cast("long")
                .alias(f"{pfx}_first"),
            )
        )

    ex_q = per_query(exact, "ex_rank", "ex")
    fu_q = per_query(fused_topk, "f_rank", "fu")
    mrr_of = lambda c: F.sum(  # noqa: E731 — int64 MRR numerator
        F.when(
            F.col(c) > 0, F.element_at(rr, F.col(c).cast("int"))
        ).otherwise(F.lit(0))
    ).cast("long")
    return ex_q.join(fu_q, "q_id").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("ex_hits").cast("long").alias("exact_hits"),
        mrr_of("ex_first").alias("exact_mrr_micro"),
        (F.sum("fu_hits") * 10 >= F.sum("ex_hits") * 9).alias(
            "fused_hits_ge_090"
        ),
        (mrr_of("fu_first") * 10 >= mrr_of("ex_first") * 9).alias(
            "fused_mrr_ge_090"
        ),
    )


# --- rank-biased overlap ------------------------------------------------------

_RBO_K = 20          # evaluation depth of both rankings
_RBO_NQ = 32         # probe queries (vec_id < 32)
# truncated-RBO depth weights (1-p)·p^(d-1) at p=0.9, as exact 1e-12
# integer units so the per-depth term W_d·X_d DIV d is pure int64 in
# both engines (the eval_ndcg_at_k literal-table discipline)
_RBO_W = [round((1 - 0.9) * 0.9 ** (d - 1) * 1_000_000_000_000)
          for d in range(1, _RBO_K + 1)]


@register(
    "eval_rank_biased_overlap",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {_RBO_NQ}),
    c AS (SELECT vec_id, embedding FROM embeddings
          WHERE vec_id >= {_RBO_NQ}),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_dot_product(CAST(q.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) AS dot,
             list_dot_product(CAST(c.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) AS nn
      FROM q, c
    ),
    ranked AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, n_id) AS a_rank,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY nn - 2 * dot ASC, n_id) AS b_rank
      FROM scored
    ),
    both_topk AS (
      SELECT q_id, a_rank, b_rank FROM ranked
      WHERE a_rank <= {_RBO_K} AND b_rank <= {_RBO_K}
    ),
    per_q AS (
      SELECT r.q_id,
             CAST(sum(({_RBO_W!r}::BIGINT[])[d.d]
                      * (SELECT count(*) FROM both_topk b
                         WHERE b.q_id = r.q_id AND b.a_rank <= d.d
                           AND b.b_rank <= d.d)
                      // d.d) AS BIGINT) AS rbo_pico
      FROM (SELECT DISTINCT q_id FROM ranked) r,
           (SELECT unnest(range(1, {_RBO_K} + 1)) AS d) d
      GROUP BY r.q_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(min(rbo_pico) AS BIGINT) AS rbo_min_pico,
           CAST(max(rbo_pico) AS BIGINT) AS rbo_max_pico,
           round(CAST(sum(rbo_pico) AS DOUBLE) / count(*) / 1e12, 6)
             AS rbo_mean
    FROM per_q
    """,
)
def eval_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS'10) between
    two retrieval rankings of the same corpus — THE top-weighted
    rank-agreement metric (Kendall/Spearman treat depth 1 and depth
    1000 alike; RBO's geometric depth weights match how users read
    result lists). Compared rankings per probe query: cosine
    (dot-product) order vs euclidean (L2) order — genuinely different
    on non-normalized embeddings, both exactly computable by the
    DuckDB oracle.

    Truncated RBO: sum_d (1-p)·p^(d-1) · |A_d ∩ B_d| / d at p=0.9,
    depth 20. Determinism: the depth weights are precomputed 1e-12
    integer literals in BOTH engines; each per-depth term is
    W_d · X_d DIV d (X_d = prefix-overlap count, an integer), so every
    per-query RBO is an exact int64 ("pico" units) and the mean is ONE
    rounded division. The prefix-overlap counts come from one
    |Q|·k-row join of the two top-k lists (a_rank/b_rank side by
    side) exploded over the 20 depths — constant-size past the
    ranking stage, which reuses the same scored frame for BOTH orders
    (one corpus scan). 100 TB: the corpus cost is the scoring scan;
    everything after the two top-k windows is O(|Q|·k·depth)."""
    from ..operators.similarity import knn_query_table_biscore

    emb = load_table(spark, sf_dir, "embeddings")
    both = knn_query_table_biscore(
        emb.filter(F.col("vec_id") >= _RBO_NQ).select("vec_id", "embedding"),
        emb.filter(F.col("vec_id") < _RBO_NQ).select("vec_id", "embedding"),
        "vec_id",
        "embedding",
        k=_RBO_K,
    )
    ranked = both.filter(
        F.col("a_rank").isNotNull() & F.col("b_rank").isNotNull()
    )
    w_arr = F.array(*[F.lit(w) for w in _RBO_W])
    overlap_q = (
        ranked.withColumn("d", F.explode(F.sequence(F.lit(1), F.lit(_RBO_K))))
        .filter((F.col("a_rank") <= F.col("d")) & (F.col("b_rank") <= F.col("d")))
        .groupBy("q_id", "d")
        .agg(F.count("*").alias("x_d"))
        .withColumn("w_d", F.element_at(w_arr, F.col("d").cast("int")))
        # W_d·X_d DIV d: Spark's `div` is int64 floor-toward-zero on
        # positive operands, identical to DuckDB's `//` here
        .withColumn("term", F.expr("w_d * x_d div d").cast("long"))
        .groupBy("q_id")
        .agg(F.sum("term").cast("long").alias("rbo_pico"))
    )
    # A probe whose dot top-k and L2 top-k are DISJOINT has RBO 0, not
    # "absent": left-join the overlap aggregate back onto the distinct
    # probe-id set of the unfiltered biscore output (the oracle's
    # DISTINCT q_id FROM ranked) and coalesce to 0 so zero-overlap
    # queries still contribute a row to n_queries/min/mean (nothing
    # guarantees overlap >= 1 on non-normalized embeddings).
    per_q = (
        both.select("q_id")
        .distinct()
        .join(overlap_q, "q_id", "left")
        .select(
            "q_id", F.coalesce("rbo_pico", F.lit(0).cast("long")).alias(
                "rbo_pico"
            )
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.min("rbo_pico").cast("long").alias("rbo_min_pico"),
        F.max("rbo_pico").cast("long").alias("rbo_max_pico"),
        F.round(
            F.sum("rbo_pico").cast("double") / F.count("*") / 1e12, 6
        ).alias("rbo_mean"),
    )


# --- regression metrics scoreboard --------------------------------------------

# fixed literal linear model: price_hat = A + B*qty, in integer DOLLARS
# (dollars, not cents: SSE in cents-squared overflows int64 past ~5e5
# rows — caught live by the sf0.1 shuffle audit; dollar-squared sums
# stay < 2^63 through sf100, and sub-dollar error is immaterial to
# MAE/RMSE/R2/MAPE at price magnitudes ~1e4)
_REG_A = 900
_REG_B = 36


@register(
    "eval_regression_metrics",
    oracle=f"""
    WITH t AS (
      SELECT CAST(round(l_extendedprice, 0) AS BIGINT) AS y,
             {_REG_A} + {_REG_B} * CAST(round(l_quantity, 0) AS BIGINT) AS yhat
      FROM lineitem
    ), e AS (
      SELECT y, yhat, abs(y - yhat) AS ae, (y - yhat) * (y - yhat) AS se,
             abs(y - yhat) * 1000000 // y AS ape_micro
      FROM t
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ae) AS BIGINT) AS sae,
             CAST(sum(se) AS BIGINT) AS sse,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(ape_micro) AS BIGINT) AS sape
      FROM e
    )
    SELECT n,
           round(CAST(sae AS DOUBLE) / n, 4) AS mae_dollars,
           round(sqrt(CAST(sse AS DOUBLE) / n), 4) AS rmse_dollars,
           round(1.0 - CAST(sse AS DOUBLE)
                       / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy),
                 6) AS r2,
           round(CAST(sape AS DOUBLE) / n / 10000, 6) AS mape_pct
    FROM s
    """,
)
def eval_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-eval scoreboard — MAE / RMSE / R² / MAPE in ONE
    O(1)-output aggregate, the metrics row every regression rollout
    reports (completes the eval family beside the classification /
    ranking / calibration / forecast scoreboards). Scored model: a
    FIXED literal linear predictor price = A + B·qty in integer
    DOLLARS (evaluating a known model is the metric's job; fitting
    lives in feature_ols_normal_equations). Dollars, not cents: the
    SSE of a cents-scale error overflows int64 past ~5e5 rows (found
    by the sf0.1 soak, the reason this docstring exists); dollar
    granularity keeps every sum exact through sf100 while changing the
    reported metrics by < $0.01.

    Exactness: y, ŷ, |e|, e², and the per-row APE (floor-quantized
    micro, toward-zero div on positive y) are ALL int64, so the five
    sums are exact and every output is a fixed float chain over exact
    integers rounded once — R² as 1 − SSE/SST with SST =
    Σy² − (Σy)²/n evaluated in the SAME parenthesization both
    engines, MAPE in percent. ONE scan, one 6-counter
    map-side-combined aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round("l_extendedprice", 0).cast("long").alias("y"),
        (
            F.lit(_REG_A) + F.lit(_REG_B) * F.round("l_quantity", 0).cast("long")
        ).alias("yhat"),
    )
    e = li.select(
        "y",
        F.abs(F.col("y") - F.col("yhat")).alias("ae"),
        ((F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat"))).alias(
            "se"
        ),
        F.expr("abs(y - yhat) * 1000000 div y").alias("ape_micro"),
    )
    s = e.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ae").cast("long").alias("sae"),
        F.sum("se").cast("long").alias("sse"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum("ape_micro").cast("long").alias("sape"),
    )
    return s.select(
        "n",
        F.round(F.col("sae").cast("double") / F.col("n"), 4).alias(
            "mae_dollars"
        ),
        F.round(F.sqrt(F.col("sse").cast("double") / F.col("n")), 4).alias(
            "rmse_dollars"
        ),
        F.round(
            F.lit(1.0)
            - F.col("sse").cast("double")
            / (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") / F.col("n") * F.col("sy")
            ),
            6,
        ).alias("r2"),
        F.round(F.col("sape").cast("double") / F.col("n") / 10_000, 6).alias(
            "mape_pct"
        ),
    )
