"""LLM-data-pipeline queries (SURVEY.md §2.9): dedup, similarity
search, text analysis, multimodal columns — the north-star extensions
over the documents/embeddings fixtures. Each reuses the reference's
core trick (all-pairs → derived-bucket equi-join [OR11 §4]) where an
all-pairs problem appears.
"""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, duckdb_shingles, duckdb_simhash_cte
from ..operators.dedup import (
    banded_candidates_raw,
    dedup_exact as _dedup_exact,
    minhash_incremental_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash_near_dup_pairs,
)
from ..operators.multimodal import (
    decode_ppm_features,
    resize_ppm_features,
    decode_wav_features,
    frame_sample,
    with_binary_payload,
    with_ppm_payload,
    with_wav_payload,
)
from ..operators.similarity import (
    hyperplane_lsh_pairs,
    knn_cosine,
    threshold_similarity_blocked,
)
from ..sources.io import load_table
from .registry import register


# --- deduplication -----------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _dedup_exact(docs, "doc_id", "text")


_MINHASH_ORACLE = f"""
WITH sh AS (SELECT doc_id, {duckdb_shingles('text')} AS shingles FROM documents)
SELECT a_id, b_id, jaccard FROM (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
         CAST(len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
"""


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection; the oracle is the brute-force
    exact-Jaccard join (oracle-feasible at sf0.01; the LSH path is the
    one that scales). Banding r=2,b=16 → miss prob ≤ ~1e-11 at the
    fixture's J≥0.9 near-dups."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5)


_SIMHASH_ORACLE = f"""
WITH {duckdb_simhash_cte(32)}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sims a, sims b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) with pigeonhole banding —
    EXACT recall, so the brute-force oracle must match identically."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)


# --- similarity search -------------------------------------------------------


@register(
    "sim_knn_cosine",
    oracle="""
    SELECT q_id, n_id, cosine, rank FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) DESC,
                        b.vec_id) AS rank
      FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id)
    WHERE rank <= 5
    """,
)
def sim_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN per vector (cosine ≡ dot on the L2-normalized fixtures)
    through the SIZE-GATED router: exact blocked Arrow/numpy kernel at
    oracle scale (dot products bit-identical across engines — the
    kernel reproduces the left-to-right fold, so ranks agree exactly),
    IVF cell probing above the candidate threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_cosine(emb, "vec_id", "embedding", k=5)


@register(
    "sim_join_threshold",
    oracle="""
    SELECT a_id, b_id, cosine FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cosine
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    WHERE cosine >= 0.4
    """,
)
def sim_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact self-similarity join (cos ≥ 0.4) — a similarity join IS a
    theta join, the reference's own workload class; executed with the
    blocked kernel ([OR11]-style block regions + vectorized scoring).
    The 1-Bucket DataFrame rewrite remains available as
    operators.similarity.threshold_similarity_join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return threshold_similarity_blocked(emb, "vec_id", "embedding", tau=0.4)


@register("sim_lsh_hyperplane")  # approximate recall → rows-only check
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed similarity join — the 100 TB
    scale path (O(n²) → bucket join + residual). Approximate recall by
    construction, hence no exact oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs(emb, "vec_id", "embedding", tau=0.4)


@register("sim_pq_search")  # approximate (PQ-quantized) → rows-only check
def sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou TPAMI 2011): corpus
    vectors compressed 32× to m=8 uint8 codes, queries scored with
    per-subspace table lookups in ONE mapInPandas corpus pass —
    the memory-bound billion-scale ANN recipe (recall measured vs the
    exact twin in tests/test_llm_ops.py; approximate by construction,
    hence rows-only). Codebook fitting ships only (subspace, cell)
    sufficient statistics to the driver — bounded model state."""
    from ..operators.pq import pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_search(
        emb, "vec_id", "embedding", query_ids=list(range(8)), k_neighbors=5
    )


# --- text analysis -----------------------------------------------------------


@register(
    "text_tokenize_wordcount",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
    GROUP BY 1
    """,
)
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce job, DataFrame-style."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           avg(CAST(n_chars AS DOUBLE)) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY 1, 2
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           len(str_split(text, ' '))                                    AS n_words,
           len(list_distinct(str_split(text, ' ')))                     AS n_unique,
           len(regexp_extract_all(text, '\\w+'))                        AS n_tokens,
           CAST(list_sum(list_transform(str_split(text, ' '),
                                        w -> length(w))) AS DOUBLE)
             / len(str_split(text, ' '))                                AS avg_wlen,
           CAST(len(list_filter(str_split(text, ' '),
                                w -> list_contains({_STOP_SQL}, w))) AS DOUBLE)
             / len(str_split(text, ' '))                                AS stop_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: size, lexical diversity, token count
    (regex tokenizer), mean word length, function-word ratio. All
    integer-exact or exact-ratio → bit-level oracle parity, unrounded."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n_words = F.size(w)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_unique"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).cast("long").alias("n_tokens"),
        (
            F.aggregate(F.transform(w, F.length), F.lit(0), lambda a, x: a + x).cast(
                "double"
            )
            / n_words.cast("double")
        ).alias("avg_wlen"),
        (
            F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast("double")
            / n_words.cast("double")
        ).alias("stop_ratio"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN CAST(len(list_filter(str_split(text, ' '),
                             w -> list_contains({_STOP_SQL}, w))) AS DOUBLE)
                     / len(str_split(text, ' ')) > 0.05
                THEN 'en' ELSE 'unk' END AS guessed_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word-ratio language-ID heuristic. (The fixture corpus
    shares one vocabulary across its lang labels — verified: no word is
    lang-specific — so content-based ID cannot beat this heuristic
    here; the operator is the real n-gram-scoring skeleton.)"""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(w).cast("double")
    return docs.select(
        "doc_id", F.when(ratio > 0.05, "en").otherwise("unk").alias("guessed_lang")
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp, md5(substr(text, 1, 50)) AS prefix_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + prefix fingerprints (md5 = cross-engine spec); the
    prefix fingerprint groups the fixture's seeded near-dup families."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.substring("text", 1, 50)).alias("prefix_fp"),
    )


# --- UDF / UDAF surface (§2.11) ----------------------------------------------


@register(
    "udf_pandas_tokens",
    oracle="""
    SELECT doc_id, len(regexp_extract_all(text, '\\w+')) AS n_tokens
    FROM documents
    """,
)
def udf_pandas_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow-batched) pandas scalar UDF — the sanctioned
    slow path when built-ins can't express a transform. Token counting
    here doubles as its oracle check vs. the JVM regex engine."""

    @F.pandas_udf("long")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.str.count(r"\w+").astype("int64")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", n_tokens("text").alias("n_tokens"))


@register(
    "udaf_centroid",
    oracle="""
    SELECT label, count(*) AS n,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c0
    FROM embeddings GROUP BY label
    """,
)
def udaf_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDAF: per-label embedding centroid (the
    custom-aggregate surface; output projected to the first component
    so the oracle can check it)."""

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n": [len(pdf)],
                "c0": [round(float(mat[:, 0].mean()), 6)],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").applyInPandas(centroid, schema="label int, n long, c0 double")


# --- multimodal --------------------------------------------------------------


@register(
    "multimodal_join",
    oracle="""
    SELECT doc_id, lang, source, n_chars, label, len(embedding) AS dim
    FROM documents JOIN embeddings ON doc_id = vec_id
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + vector + label in one frame (inner join: at sf0.1 only a
    subset of documents has embeddings — FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "lang", "source", "n_chars", "label",
        F.size("embedding").cast("long").alias("dim"),
    )


@register(
    "multimodal_decode",
    # closed-form oracle for the DECODED image stats: the fixture image
    # for doc_id has width 8+id%9, height 8+(id*7)%5, pixel byte i =
    # (id*31+7i)%256, and a "P6\n{w} {h}\n255\n" header — so DuckDB can
    # recompute dims, serialized byte length, exact int pixel sum and
    # the (single-IEEE-division, hence bit-identical) mean without ever
    # seeing the binary payload.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + (doc_id * 7) % 5 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, w, h,
             CAST(list_sum(list_transform(generate_series(0, 3*w*h - 1),
                           i -> (doc_id * 31 + 7 * i) % 256)) AS BIGINT) AS ps
      FROM base
    )
    SELECT doc_id, w AS width, h AS height,
           9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
             + 3 * w * h AS byte_len,
           ps AS pixel_sum,
           ps / (3.0 * w * h) AS pixel_mean
    FROM px
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal plumbing: synthesize a
    binary PPM (P6) per document (stands in for the blob read), ship
    it as a binary column through Arrow, parse the header and decode
    the raw pixel buffer in numpy inside mapInPandas, emit per-image
    stats (dims, byte length, pixel sum/mean). A PIL/ffmpeg deployment
    swaps only the codec call (operators/multimodal.decode_ppm)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_ppm_features(with_ppm_payload(docs), "doc_id")


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS (SELECT doc_id, {duckdb_shingles('text')} AS shingles FROM documents),
pairs AS (
  SELECT a_id, b_id FROM (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
           CAST(len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
    FROM sh a, sh b WHERE a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5),
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, min(dst) AS cluster_rep FROM reach GROUP BY src
"""


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components
    (iterative min-label propagation) → one representative per
    component; singletons map to themselves. The oracle computes the
    same components with a recursive transitive-closure CTE."""
    from ..operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    return connected_components(
        docs.select("doc_id"), pairs, "doc_id", "a_id", "b_id"
    )


@register(
    "udf_scalar",
    oracle="""
    SELECT doc_id,
           CAST(floor(n_chars / 100) * 100 AS BIGINT) AS chars_bucket
    FROM documents
    """,
)
def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (Arrow-optimized in Spark 4) — exposed
    for §2.11 completeness; the engine's hot paths never use this form
    (pandas UDFs or built-ins only)."""

    @F.udf("long", useArrow=True)
    def chars_bucket(n: int) -> int:
        return (n // 100) * 100

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", chars_bucket("n_chars").alias("chars_bucket"))


@register(
    "udtf_explode_tokens",
    oracle="""
    SELECT doc_id, pos, word FROM (
      SELECT doc_id, unnest(str_split(text, ' ')) AS word,
             generate_subscripts(str_split(text, ' '), 1) AS pos
      FROM documents)
    WHERE pos <= 5
    """,
)
def udtf_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): each document expands to
    its first 5 (position, token) rows — the table-generating UDF
    surface with a lateral join."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, word string")
    class FirstTokens:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")[:5], start=1):
                yield i, w

    spark.udtf.register("mrnej_first_tokens", FirstTokens)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("mrnej_docs_udtf")
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.word
        FROM mrnej_docs_udtf, LATERAL mrnej_first_tokens(text) t
        """
    )


@register("dedup_ngram_jaccard", oracle=_MINHASH_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING
    (AllPairs, Bayardo+ WWW'07 / Chaudhuri+ ICDE'06) — no LSH, no
    approximation, and no full inverted-index blowup.

    Pigeonhole guarantee: J(A,B) ≥ τ implies |A∩B| ≥ τ·|A|, so A and B
    must share a shingle among each one's first |X| − ⌈τ·|X|⌉ + 1
    shingles under ANY fixed global order. Ordering by ascending
    document frequency makes those prefix shingles the RAREST ones,
    so inverted lists stay short (hot shingles never generate
    candidates). Candidates are then verified with the exact
    array-intersection Jaccard. Shares the brute-force oracle with the
    MinHash path: two independent algorithms, one answer."""
    from ..functions.text import shingles_expr

    tau = 0.5
    docs = load_table(spark, sf_dir, "documents")
    # Shingle each document ONCE, 64-bit-hash immediately, and persist:
    # every downstream stage (doc-frequency agg, prefix index, both
    # sides of the verify join) consumes this frame, so without the
    # persist Catalyst re-shingles the corpus per branch (~6 scans —
    # the round-3 bench regression). Hashes also cut the shuffle
    # payload ~8x vs string shingles; the prefix-filter guarantee only
    # needs SOME fixed global shingle order, so it holds unchanged
    # under the hashed domain (collision P ~ 1e-10 corpus-wide).
    hsh = docs.select(
        "doc_id",
        F.transform(shingles_expr("text"), lambda s: F.xxhash64(s)).alias("hs"),
    ).persist()
    inv = hsh.select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("shingle")
    )
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("__df"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("__df", "shingle")
    prefix_len = F.col("n_sh") - F.ceil(F.lit(tau) * F.col("n_sh")) + 1
    index_n = (
        inv.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .select("doc_id", "n_sh", "shingle", "__rk")
    )
    # Positional filter (PPJoin, Xiao+ WWW'08): a prefix match at
    # global-order ranks (i, j) bounds the total overlap by
    # min(i-1, j-1) + 1 + min(|A|-i, |B|-j) — tokens before the match
    # can only pair below both ranks, tokens after only above. J >= tau
    # needs overlap >= tau/(1+tau)·(|A|+|B|); pairs whose tightest
    # per-match bound misses it never reach the verify join (cuts the
    # candidate set ~20x on the fixtures — the verify join ships full
    # hashed-shingle arrays, so this is the stage worth starving).
    m = index_n.select(
        F.col("doc_id").alias("a_id"), F.col("n_sh").alias("__na"),
        "shingle", F.col("__rk").alias("__ra"),
    ).join(
        index_n.select(
            F.col("doc_id").alias("b_id"), F.col("n_sh").alias("__nb"),
            "shingle", F.col("__rk").alias("__rb"),
        ),
        ["shingle"],
    ).filter(
        (F.col("a_id") < F.col("b_id"))
        # size filter: J >= tau forces |B| >= tau|A| and |A| >= tau|B|
        & (F.col("__nb") >= F.lit(tau) * F.col("__na"))
        & (F.col("__na") >= F.lit(tau) * F.col("__nb"))
    )
    ub = (
        F.least(F.col("__ra") - 1, F.col("__rb") - 1) + 1
        + F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb"))
    )
    cand = (
        m.groupBy("a_id", "b_id", "__na", "__nb")
        .agg(F.min(ub).alias("__ub"))
        .filter(
            F.col("__ub")
            >= F.lit(tau / (1 + tau)) * (F.col("__na") + F.col("__nb"))
        )
        .select("a_id", "b_id")
    )
    # verify against the SAME persisted hashed-shingle frame
    a_sh = hsh.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("a_sh"))
    b_sh = hsh.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = inter.cast("double") / (
        F.size("a_sh") + F.size("b_sh") - inter
    ).cast("double")
    return (
        cand.join(a_sh, "a_id")
        .join(b_sh, "b_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= tau)
        .select("a_id", "b_id", "jaccard")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a_id, b_id FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cosine
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    WHERE cosine >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (semantic dedup): document
    pairs whose embeddings exceed a cosine threshold — the blocked
    exact kernel at a dedup-grade threshold."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = threshold_similarity_blocked(emb, "vec_id", "embedding", tau=0.35)
    return pairs.select("a_id", "b_id")


@register("sim_ivf_search")  # approximate recall (cell boundaries) → rows-only
def sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate k-NN: spherical k-means cells
    (deterministic init, 3 Lloyd iterations), probe the query's own
    cell — the clustered scale path beside hyperplane LSH.

    Measured recall@5 vs exact on the fixture: 0.920 at the 6/8
    default probe budget (0.848 at 5, 0.757 at 4; identical
    wall-clock — k-means fitting dominates at fixture scale). The
    fixture embeddings are near-random (max pairwise cosine ≈ 0.51,
    no cluster structure), IVF's worst case, where recall tracks the
    probed corpus fraction; on real embedding corpora cells align
    with semantic clusters and the same recall costs a far smaller
    probe fraction. Rows-only check by design."""
    from ..operators.ivf import ivf_self_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_self_search(emb, "vec_id", "embedding", k_neighbors=5, n_clusters=8)


_DECON_ORACLE = f"""
WITH bench AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
     corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
     bg AS (SELECT DISTINCT unnest({duckdb_shingles('text', 8)}) AS __g
            FROM bench),
     cg AS (SELECT doc_id, unnest({duckdb_shingles('text', 8)}) AS __g
            FROM corpus)
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (__g))
"""


@register("dedup_decontaminate", oracle=_DECON_ORACLE)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: treat ~1% of documents (doc_id %
    97 = 0) as the held-out benchmark and drop every remaining
    document that shares an 8-word shingle with it — the n-gram
    overlap guard a training pipeline runs before every corpus
    release."""
    from ..operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", ngram_words=8).select(
        "doc_id"
    )


@register(
    "sim_ann_query",
    oracle="""
    SELECT q_id, n_id, cosine, rank FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             list_dot_product(CAST(q.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < 10 AND c.vec_id >= 10)
    WHERE rank <= 5
    """,
)
def sim_ann_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity SERVING shape: 10 probe vectors against the rest of
    the corpus, exact top-5 via one shuffle-free mapInPandas corpus
    scan (query matrix broadcast as driver state) + a final top-k
    window over per-batch survivors."""
    from ..operators.similarity import knn_query_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return knn_query_table(corpus, queries, "vec_id", "embedding", k=5)


@register(
    "sim_knn_recall_gate",
    oracle="""
    SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_090
    FROM embeddings WHERE vec_id < 64
    """,
)
def sim_knn_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving-path recall as a HASH-CHECKABLE row (VERDICT r8
    item 8): the approximate IVF cell-probe path (forced via a low
    ``max_queries`` gate) is compared against the exact mapInPandas
    top-k on the same 64-query / rest-of-corpus split, and the claim
    "micro recall@5 ≥ 0.9" is emitted as a boolean next to the query
    count. The DuckDB oracle states the exact-truth expectation
    (recall of exact truth vs itself is 1 ≥ 0.9 → TRUE), so a
    hash-match PROVES the measured ANN recall actually cleared the
    gate — the serving path gets the same green/red row as every
    deterministic operator instead of living only in AUDIT.md.

    Determinism: IVF k-means init is the k lowest-id corpus vectors
    with fixed iteration count (operators/ivf.py:29), cosines fold in
    ascending n_id order, and the ≥0.9 test is integer arithmetic
    (hits·10 ≥ truth·9) — no float compare crosses engines."""
    from ..operators.similarity import knn_query_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 64)
    corpus = emb.filter(F.col("vec_id") >= 64)
    # max_queries=32 < 64 probes → routes to the distributed IVF path
    ann = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5, max_queries=32
    ).select("q_id", "n_id")
    exact = knn_query_table(
        corpus, queries, "vec_id", "embedding", k=5
    ).select("q_id", "n_id")
    marked = exact.join(
        ann.withColumn("hit", F.lit(1)), ["q_id", "n_id"], "left"
    )
    return marked.agg(
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) * F.lit(10)
            >= F.count(F.lit(1)) * F.lit(9)
        ).alias("recall_ge_090"),
    )


@register(
    "pipeline_corpus_clean",
    oracle="""
    WITH kept AS (
      SELECT min(doc_id) AS doc_id, min_by(source, doc_id) AS source,
             any_value(len(str_split(text, ' '))) AS n_words
      FROM documents
      WHERE lang = 'en' AND len(str_split(text, ' ')) >= 20
      GROUP BY text)
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words
    FROM kept GROUP BY source
    """,
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus prep in ONE declarative plan:
    language filter -> length/quality filter -> exact dedup (lowest-id
    keeper per text) -> per-source corpus stats. Each stage is an
    operator this engine ships individually; composing them stays one
    Catalyst plan, so the lang/length predicates push into the scan
    and the dedup shuffle carries only (digest, id, source, n_words)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    kept = (
        docs.filter((F.col("lang") == "en") & (F.size(w) >= 20))
        .withColumn("__h", F.sha2(F.col("text"), 256))
        .withColumn("n_words", F.size(w).cast("long"))
        .groupBy("__h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            # keeper's own source, not an arbitrary group member's —
            # any_value would let Spark and the oracle disagree when a
            # duplicated text spans two sources
            F.min_by("source", "doc_id").alias("source"),
            F.any_value("n_words").alias("n_words"),  # function of the
            # group key (text), so deterministic
        )
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_words").alias("total_words")
    )


_INCREMENTAL_ORACLE = f"""
WITH sh AS (SELECT doc_id, {duckdb_shingles('text')} AS shingles FROM documents)
SELECT d.doc_id AS delta_id, b.doc_id AS base_id,
       CAST(len(list_intersect(d.shingles, b.shingles)) AS DOUBLE) /
       CAST(len(d.shingles) + len(b.shingles)
            - len(list_intersect(d.shingles, b.shingles)) AS DOUBLE) AS jaccard
FROM sh d, sh b
WHERE d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  AND CAST(len(list_intersect(d.shingles, b.shingles)) AS DOUBLE) /
      CAST(len(d.shingles) + len(b.shingles)
           - len(list_intersect(d.shingles, b.shingles)) AS DOUBLE) >= 0.5
"""


@register("dedup_incremental", oracle=_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dup screen (round 5): treat doc_id % 10
    == 0 as the incoming batch and the rest as the existing corpus;
    report every batch document that is a near-dup (J ≥ 0.5) of a
    corpus document. Asymmetric banded MinHash-LSH
    (operators/dedup.py:minhash_incremental_pairs) — base×base pairs
    are never generated, so the cost scales with the BATCH, not the
    corpus; the oracle is the brute-force delta×base exact-Jaccard
    join (feasible at sf0.01)."""
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_incremental_pairs(base, delta, "doc_id", "text", threshold=0.5)


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, i AS frame_idx,
           substr(text, CAST(i*64 + 1 AS INT), 16) AS frame_text,
           array_to_string([substr(text, CAST(i*64 + 1 + j*4 AS INT), 1)
                            FOR j IN range(0, 4)], '') AS thumb_text
    FROM documents,
         unnest(range(0, CASE WHEN length(text) >= 16
                              THEN (length(text)-16)//64 + 1 ELSE 0 END)) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling (round 5, SURVEY §2.9): every 64-byte
    stride of the binary payload yields one 16-byte frame row plus a
    4-byte byte-strided thumbnail (the resize analogue) — mapInPandas
    with rows-out > rows-in, the video frame-sampler batch shape
    (operators/multimodal.py:frame_sample; real ffmpeg/PIL decode slots
    in at the marked line). The fixture payload is utf-8 text bytes
    (ascii), so the DuckDB oracle reproduces the byte windows with
    substr arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(with_binary_payload(docs), "doc_id")


@register("sim_ivfpq_search")  # approximate (IVF pruning + PQ codes) → rows-only
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving path (FAISS IVFPQ; Jégou TPAMI 2011 §VII):
    coarse cells prune candidates, residual PQ codes score them with
    table lookups, exact re-rank restores precision — the composition
    of sim_ivf_search's pruning and sim_pq_search's compression, and
    the architecture that actually serves billion-vector corpora.
    Recall vs the exact twin is measured in tests/test_llm_ops.py;
    approximate by construction, hence rows-only."""
    from ..operators.pq import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_search(
        emb, "vec_id", "embedding", query_ids=list(range(8)), k_neighbors=5
    )


# deterministic 64-dim logreg weights (model state as plan literals,
# generated identically in the Spark plan and the oracle SQL)
_LOGREG_W = [((j * 37) % 21 - 10) / 100.0 for j in range(64)]
_LOGREG_B = 0.05


@register(
    "model_score_logreg",
    oracle=f"""
    WITH scored AS (
      SELECT vec_id,
             1.0 / (1.0 + exp(-(
               list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 {_LOGREG_W!r}::DOUBLE[]
               ) + {_LOGREG_B!r}
             ))) AS p
      FROM embeddings
    )
    SELECT vec_id, round(p, 6) AS score, round(p, 6) >= 0.5 AS keep
    FROM scored
    """,
)
def model_score_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference scoring pass: a logistic-regression quality
    classifier applied to every embedding — the fastText/CCNet-style
    filter step every training-data pipeline runs at full-corpus
    scale (the TRAINING of such a model is sample-sized and external;
    inference is the part that must scale). Weights are bounded model
    state shipped as plan literals, the dot product + sigmoid are
    pure JVM column expressions (zip_with + aggregate fold — no UDF,
    no Python), so the whole pass is a narrow projection:
    embarrassingly parallel, zero shuffles. The keep flag compares
    the ROUNDED score so the exp() ulp gap can't flip a row across
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(x) for x in _LOGREG_W])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), w, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(_LOGREG_B))))
    return emb.select(
        "vec_id",
        F.round(p, 6).alias("score"),
        (F.round(p, 6) >= 0.5).alias("keep"),
    )


@register(
    "multimodal_audio_decode",
    # closed-form oracle over the DECODED audio stats: fixture clip for
    # doc_id is mono 16-bit 8 kHz PCM, n = 400 + (id%23)*40 samples,
    # sample i = (id*131 + 17i) % 4096 - 2048, in a canonical 44-byte
    # RIFF/WAVE header — DuckDB recomputes every statistic without
    # seeing a byte of the container.
    oracle="""
    WITH base AS (
      SELECT doc_id, 400 + (doc_id % 23) * 40 AS n FROM documents
    ), px AS (
      SELECT doc_id, n,
             CAST(list_sum(list_transform(generate_series(0, n - 1),
                   i -> (doc_id * 131 + 17 * i) % 4096 - 2048)) AS BIGINT)
               AS pcm_sum,
             CAST(list_max(list_transform(generate_series(0, n - 1),
                   i -> abs((doc_id * 131 + 17 * i) % 4096 - 2048))) AS BIGINT)
               AS peak
      FROM base
    )
    SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(44 + 2 * n AS BIGINT) AS byte_len,
           CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
           pcm_sum, peak
    FROM px
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the multimodal plumbing: synthesize a
    RIFF/WAV (PCM mono 16-bit) clip per document, ship it as a binary
    column through Arrow, walk the RIFF chunk structure and decode the
    PCM buffer in numpy inside mapInPandas, emit per-clip stats
    (sample rate, counts, duration, exact int PCM sum, peak). With
    decode_ppm (images) and frame_sample (video-frame plumbing) this
    completes the image/audio/video multimodal decode trio; an ffmpeg
    deployment swaps only the codec call
    (operators/multimodal.decode_wav)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_wav_features(with_wav_payload(docs), "doc_id")


@register(
    "sample_hard_negatives",
    oracle="""
    SELECT q_id, n_id, cosine, rank FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cosine,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) DESC,
                        b.vec_id) AS rank
      FROM embeddings a, embeddings b WHERE a.label <> b.label)
    WHERE rank <= 5
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    5 most cosine-similar vectors with a DIFFERENT label — nearest
    wrong-class examples are the negatives that actually move an
    embedding model. Exact blocked kernel (fold-identical dot
    products, so ranks match the SQL oracle bit-for-bit); the
    label-inequality mask replaces the self-mask of plain k-NN."""
    from ..operators.similarity import hard_negatives_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives_blocked(emb, "vec_id", "embedding", "label", k=5)


@register(
    "dedup_substring_spans",
    oracle="""
    WITH g AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 40) AS gram
      FROM documents
      CROSS JOIN unnest(range(1, CAST(n_chars AS BIGINT) - 38)) AS t(i)
      WHERE n_chars >= 40
    ), shared AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_positions
    FROM g WHERE gram IN (SELECT gram FROM shared)
    GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication detection (Lee et al. ACL'22,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, count character positions whose 40-gram window
    also occurs in ANOTHER document — the suffix-array ExactSubstr
    criterion re-expressed for a shuffle engine. The plan explodes
    each doc into its |text|−39 overlapping 40-grams (one narrow
    projection, no Python), marks grams seen in ≥2 distinct docs with
    a grouped distinct-count, and semi-joins the positions back. At
    100 TB the gram shuffle is Θ(corpus × window) bytes — the same
    I/O class as the suffix-array build the paper shards across
    machines — and the distinct-count aggregate map-side-combines
    because duplicate grams inside ONE doc collapse locally. Docs
    with zero shared windows emit nothing (pure-unique corpus →
    empty result), matching the paper's sparse duplication profile."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 40)
        .select("doc_id", "text", "n_chars")
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), (F.col("n_chars") - 39).cast("int"))
        ).alias("i"),
        "text",
    ).select("doc_id", F.expr("substring(text, i, 40)").alias("gram"))
    # single linear pipeline — the explode runs ONCE: collapse to
    # per-(gram, doc) position counts (map-side combine kills within-
    # doc repeats), count docs per gram with a window (gram groups are
    # tiny — the doc-frequency of one 40-gram), keep shared grams,
    # roll up per doc. The earlier join-back formulation recomputed
    # the gram explode on both join inputs (2 scans) and shuffled the
    # gram stream twice — measured 6.8 s → 2.5 s at sf0.1.
    g2 = grams.groupBy("gram", "doc_id").agg(F.count("*").alias("c"))
    nd = F.count("*").over(Window.partitionBy("gram"))
    return (
        g2.withColumn("nd", nd)
        .filter(F.col("nd") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_positions"))
    )


@register(
    "multimodal_image_resize",
    # closed-form oracle for the RESIZED image: nearest-neighbor 2×
    # downsample keeps pixels at even (row, col); out dims are
    # ceil(w/2) × ceil(h/2) (stride slicing rounds UP); output sample
    # j maps to input flat index (2·(j DIV (3·w2))·w + 2·((j % (3·w2))
    # DIV 3))·3 + j % 3 with pixel byte (id·31 + 7·idx) % 256.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + (doc_id * 7) % 5 AS h,
             (8 + doc_id % 9 + 1) // 2 AS w2,
             (8 + (doc_id * 7) % 5 + 1) // 2 AS h2
      FROM documents
    ), px AS (
      SELECT doc_id, w2, h2,
             CAST(list_sum(list_transform(
               generate_series(0, 3*w2*h2 - 1),
               j -> (doc_id * 31
                     + 7 * ((2 * (j // (3 * w2)) * w
                             + 2 * ((j % (3 * w2)) // 3)) * 3 + j % 3))
                    % 256)) AS BIGINT) AS ps
      FROM base
    )
    SELECT doc_id, w2 AS width2, h2 AS height2,
           9 + length(CAST(w2 AS VARCHAR)) + length(CAST(h2 AS VARCHAR))
             + 3 * w2 * h2 AS byte_len2,
           ps AS pixel_sum2,
           ps / (3.0 * w2 * h2) AS pixel_mean2
    FROM px
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE through the real codec path (the thumbnail stage
    of a multimodal training pipeline): decode each P6 payload,
    nearest-neighbor 2× downsample via stride slicing, re-encode,
    decode again and emit the resized stats — certifying the full
    decode → transform → encode → decode roundtrip against a
    closed-form oracle that recomputes every surviving pixel byte
    from the fixture formula. Same Arrow/mapInPandas plumbing and
    scale shape as multimodal_decode: narrow map, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return resize_ppm_features(with_ppm_payload(docs), "doc_id")


@register(
    "sim_diversified_topk",
    oracle="""
    WITH s AS (
      SELECT c.vec_id AS n_id, c.label,
             list_dot_product(CAST(q.embedding AS DOUBLE[]),
                              CAST(c.embedding AS DOUBLE[])) AS cosine
      FROM embeddings q, embeddings c
      WHERE q.vec_id = 0 AND c.vec_id >= 10
    ), best AS (
      SELECT n_id, label, cosine,
             row_number() OVER (PARTITION BY label
                                ORDER BY cosine DESC, n_id) AS rn
      FROM s
    )
    SELECT n_id, label, cosine,
           row_number() OVER (ORDER BY cosine DESC, n_id) AS rank
    FROM best WHERE rn = 1
    QUALIFY rank <= 3
    """,
)
def sim_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-constrained retrieval: top-k nearest neighbours with
    AT MOST ONE result per label group — the dedup-by-source /
    result-diversification step RAG retrievers run after ANN scoring
    (the cheap deterministic stand-in for MMR, whose greedy chain is
    inherently sequential). The query vector rides in on the
    unfoldable-key broadcast scalar frame (BroadcastHashJoin, never
    BNLJ — plans/_scalar), scoring is a pure JVM fold (zip_with +
    left-to-right aggregate, bit-identical to the oracle's
    list_dot_product), and the per-label best is a rows-bounded
    window: at 100 TB the shuffle carries one row per (label) group
    after the map-side WindowGroupLimit, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q_emb"),
        F.col("vec_id").alias("q_anchor"),
    )
    cand = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("n_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("c_emb"),
    )
    from ._scalar import attach_scalar_frame

    scored = attach_scalar_frame(cand, "n_id", q, "q_anchor").select(
        "n_id",
        "label",
        F.aggregate(
            F.zip_with("q_emb", "c_emb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("cosine"),
    )
    w_label = Window.partitionBy("label").orderBy(
        F.col("cosine").desc(), F.col("n_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w_label)).filter(
        F.col("rn") == 1
    )
    w_all = Window.orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        best.withColumn("rank", F.row_number().over(w_all).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("n_id", "label", "cosine", "rank")
    )


_PHASH_BITS_CTE = """
    WITH base AS (
      SELECT doc_id,
             doc_id % 250 AS s,
             doc_id // 250 AS br,
             8 + (doc_id % 250) % 9 AS w,
             8 + ((doc_id % 250) * 7) % 5 AS h
      FROM documents
    ), cells AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 63), k ->
               list_sum(list_transform(
                 generate_series(0,
                   ((((k // 8) + 1) * h // 8) - ((k // 8) * h // 8))
                   * ((((k % 8) + 1) * w // 8) - ((k % 8) * w // 8)) * 3 - 1),
                 j -> least(((s * 31 + 7 * (3 * ((((k // 8) * h // 8)
                        + j // (((((k % 8) + 1) * w // 8)
                                 - ((k % 8) * w // 8)) * 3)) * w
                        + (((k % 8) * w // 8)
                           + (j % (((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)) // 3))
                        + j % 3)) % 256) + br, 255)))) AS cs
      FROM base
    ), tots AS (
      SELECT doc_id, w, h, cs,
             CAST(list_sum(cs) AS BIGINT) AS ts,
             3 * w * h AS tn
      FROM cells
    ), bits AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 31), k ->
               CASE WHEN list_extract(cs, k + 1) * tn
                         > ts * (((((k // 8) + 1) * h // 8)
                                  - ((k // 8) * h // 8))
                                 * ((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)
                    THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
               AS BIGINT) AS phash_lo,
             CAST(list_sum(list_transform(generate_series(32, 63), k ->
               CASE WHEN list_extract(cs, k + 1) * tn
                         > ts * (((((k // 8) + 1) * h // 8)
                                  - ((k // 8) * h // 8))
                                 * ((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)
                    THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END))
               AS BIGINT) AS phash_hi
      FROM tots
    )
"""


@register(
    "multimodal_image_phash",
    # closed-form oracle: re-generates every clipped pixel byte from
    # the fixture formula (seed = doc_id mod 250, brightness =
    # doc_id div 250), computes the 8x8 cell/total INT sums, and sets
    # bit k via the cross-multiplied integer comparison — the same
    # arithmetic the decode-path kernel runs on the DECODED buffer.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             doc_id % 250 AS s,
             doc_id // 250 AS br,
             8 + (doc_id % 250) % 9 AS w,
             8 + ((doc_id % 250) * 7) % 5 AS h
      FROM documents
    ), cells AS (
      SELECT doc_id, w, h,
             list_transform(generate_series(0, 63), k ->
               list_sum(list_transform(
                 generate_series(0,
                   ((((k // 8) + 1) * h // 8) - ((k // 8) * h // 8))
                   * ((((k % 8) + 1) * w // 8) - ((k % 8) * w // 8)) * 3 - 1),
                 j -> least(((s * 31 + 7 * (3 * ((((k // 8) * h // 8)
                        + j // (((((k % 8) + 1) * w // 8)
                                 - ((k % 8) * w // 8)) * 3)) * w
                        + (((k % 8) * w // 8)
                           + (j % (((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)) // 3))
                        + j % 3)) % 256) + br, 255)))) AS cs
      FROM base
    ), tots AS (
      SELECT doc_id, w, h, cs,
             CAST(list_sum(cs) AS BIGINT) AS ts,
             3 * w * h AS tn
      FROM cells
    ), bits AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 31), k ->
               CASE WHEN list_extract(cs, k + 1) * tn
                         > ts * (((((k // 8) + 1) * h // 8)
                                  - ((k // 8) * h // 8))
                                 * ((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)
                    THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))
               AS BIGINT) AS phash_lo,
             CAST(list_sum(list_transform(generate_series(32, 63), k ->
               CASE WHEN list_extract(cs, k + 1) * tn
                         > ts * (((((k // 8) + 1) * h // 8)
                                  - ((k // 8) * h // 8))
                                 * ((((k % 8) + 1) * w // 8)
                                    - ((k % 8) * w // 8)) * 3)
                    THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END))
               AS BIGINT) AS phash_hi
      FROM tots
    )
    SELECT phash_hi, phash_lo, count(*) AS n_images,
           min(doc_id) AS keeper_doc_id
    FROM bits GROUP BY 1, 2
    """,
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection by perceptual AVERAGE-HASH — the
    multimodal analogue of dedup_exact and the first pass an
    image-corpus pipeline runs (brightness/re-encode variants of the
    same picture must collapse BEFORE any embedding model sees them).
    The fixture plants exactly that: each base raster (seed =
    doc_id mod 250) appears twice, once brightness-shifted and
    clipped; aHash's threshold-against-the-mean design makes the two
    variants hash identically, which the oracle proves end-to-end by
    recomputing the hash from the closed-form pixel formula while the
    kernel computes it from the DECODED payload bytes
    (operators/multimodal.ahash_ppm). Scale shape: narrow Arrow map
    (zero shuffle) then ONE groupBy on the 16-byte hash key — at
    100 TB the shuffle carries 16 bytes + id per image, never pixel
    data."""
    from ..operators.multimodal import ahash_ppm, with_ppm_variant_payload

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 250).cast("long").alias("seed"),
        (F.col("doc_id") / 250).cast("long").alias("bright"),
    )
    hashed = ahash_ppm(
        with_ppm_variant_payload(docs, "seed", "bright"), "doc_id"
    )
    return hashed.groupBy("phash_hi", "phash_lo").agg(
        F.count("*").alias("n_images"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


_CONTAIN_ORACLE = f"""
WITH sh AS (SELECT doc_id, {duckdb_shingles('text')} AS shingles FROM documents)
SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(a.shingles), 6) AS containment
FROM sh a, sh b
WHERE a.doc_id <> b.doc_id
  AND len(list_intersect(a.shingles, b.shingles)) >= 0.8 * len(a.shingles)
"""


@register("dedup_containment", oracle=_CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup C(A,B) = |A∩B| / |A| ≥ 0.8 — what
    Jaccard misses: a short document quoted wholesale inside a longer
    one scores high containment but low Jaccard (the union is big),
    and excerpt/quote duplication is rampant in web corpora. Same
    AllPairs prefix-filter family as dedup_ngram_jaccard, but the
    pigeonhole bound needs only the CONTAINED side's size
    (C ≥ τ ⇒ A shares a shingle among its ⌊(1−τ)·|A|⌋+1 rarest), so
    only A-prefixes enter the inverted index while B sides post full
    lists — candidate volume scales with the rare-shingle lists, not
    the corpus square. Verification is the exact hashed-shingle
    intersection (same 1e-10 collision caveat as the Jaccard path,
    shared brute-force-oracle discipline)."""
    from ..functions.text import shingles_expr

    tau = 0.8
    docs = load_table(spark, sf_dir, "documents")
    hsh = docs.select(
        "doc_id",
        F.transform(shingles_expr("text"), lambda s: F.xxhash64(s)).alias("hs"),
    ).persist()
    inv = hsh.select(
        "doc_id", F.size("hs").alias("n_sh"), F.explode("hs").alias("shingle")
    )
    dfreq = inv.groupBy("shingle").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    # containment prefix: |A| - ceil(tau*|A|) + 1 rarest shingles of A
    prefix_len = F.col("n_sh") - F.ceil(F.lit(tau) * F.col("n_sh")) + 1
    a_prefix = (
        inv.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= prefix_len)
        .select(F.col("doc_id").alias("a_id"), "shingle")
    )
    b_post = inv.select(F.col("doc_id").alias("b_id"), "shingle")
    cand = (
        a_prefix.join(b_post, "shingle")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    a_side = hsh.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("a_hs"))
    b_side = hsh.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("b_hs"))
    verified = (
        cand.join(a_side, "a_id")
        .join(b_side, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a_hs", "b_hs")).alias("inter"),
            F.size("a_hs").alias("na"),
        )
        .filter(F.col("inter") >= tau * F.col("na"))
    )
    return verified.select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        F.round(F.col("inter") / F.col("na"), 6).alias("containment"),
    )


@register(
    "multimodal_audio_frame_energy",
    # closed-form oracle: sample i of doc_id is (id*131+17i)%4096-2048,
    # n = 400 + (id%23)*40 samples; frame f covers [80f, 80f+80).
    # active := energy·n_frames >= total_energy — an INTEGER compare
    # equivalent to energy >= mean, no division anywhere.
    oracle="""
    WITH base AS (
      SELECT doc_id, 400 + (doc_id % 23) * 40 AS n
      FROM documents WHERE doc_id % 25 = 0
    ), fr AS (
      SELECT doc_id, unnest(generate_series(0, n // 80 - 1)) AS frame_no, n
      FROM base
    ), en AS (
      SELECT doc_id, frame_no,
             CAST(list_sum(list_transform(generate_series(80*frame_no, 80*frame_no + 79),
                   i -> ((doc_id * 131 + 17 * i) % 4096 - 2048)
                        * ((doc_id * 131 + 17 * i) % 4096 - 2048)))
                  AS BIGINT) AS energy
      FROM fr
    ), doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(energy) AS BIGINT) AS tot
      FROM en GROUP BY 1
    )
    SELECT e.doc_id, e.frame_no, e.energy,
           e.energy * d.n_frames >= d.tot AS active
    FROM en e JOIN doc d USING (doc_id)
    """,
)
def multimodal_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy + activity flag through the REAL WAV
    decode path — the voice-activity-detection primitive every speech
    pipeline runs before transcription (silence trimming, speech
    segmentation, duration budgeting). 10 ms frames (80 samples at
    8 kHz), energy = Σ s² per frame as an EXACT int64 from the decoded
    int16 buffer; a frame is 'active' when its energy reaches the
    doc's mean, tested as energy·n_frames ≥ total — an all-integer
    comparison, so the oracle (which recomputes every sample from the
    closed-form synthesis without seeing a byte of RIFF) matches
    bit-for-bit. Scale shape: narrow Arrow map emits |frames| rows,
    ONE doc-key aggregate for the mean, broadcast back; payload bytes
    never shuffle."""
    from ..operators.multimodal import decode_wav_frame_energies, with_wav_payload

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    ).select("doc_id")
    en = decode_wav_frame_energies(with_wav_payload(docs), "doc_id")
    doc = en.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("tot"),
    )
    return en.join(F.broadcast(doc), "doc_id").select(
        "doc_id",
        "frame_no",
        "energy",
        (F.col("energy") * F.col("n_frames") >= F.col("tot")).alias("active"),
    )


@register(
    "multimodal_video_scene_cut",
    oracle="""
    WITH fr AS (
      SELECT doc_id, i AS frame_idx,
             CAST(list_sum([ascii(substr(text, CAST(i*64 + 1 + j AS INT), 1))
                            FOR j IN range(0, 16)]) AS BIGINT) AS energy
      FROM documents,
           unnest(range(0, CASE WHEN length(text) >= 16
                                THEN (length(text)-16)//64 + 1
                                ELSE 0 END)) AS t(i)
    ), lagd AS (
      SELECT doc_id, frame_idx, energy,
             lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)
               AS prev
      FROM fr
    )
    SELECT doc_id, frame_idx, energy,
           abs(energy - prev) AS delta
    FROM lagd
    WHERE prev IS NOT NULL AND abs(energy - prev) > 120
    """,
)
def multimodal_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection — the temporal-segmentation primitive
    of every video training-data pipeline (shot boundaries gate clip
    extraction, caption alignment, and frame-dedup): sampled frames'
    energies are compared to their predecessor and a boundary is
    declared where the jump exceeds a fixed threshold. The decode +
    feature-extract runs in operators/multimodal.frame_energy_scan
    (Arrow-batched mapInPandas, zero shuffle, one marked line where
    ffmpeg/luma-histogram slots in); the temporal logic is a lag
    window PARTITIONED BY doc — per-video state only, never global.
    All-integer energies and deltas, so the closed-form oracle (ASCII
    byte sums via substr) hashes bit-for-bit.

    Scale: rows = sampled frames (payload bytes / 64); the only
    shuffle is the doc-keyed window sort, O(frames) with per-doc
    bounded partitions — the 100 TB shape is 'decode where the bytes
    live, shuffle only (id, idx, energy) triples'."""
    from ..operators.multimodal import frame_energy_scan, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    fr = frame_energy_scan(with_binary_payload(docs), "doc_id")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lagd = fr.withColumn("prev", F.lag("energy").over(w))
    return (
        lagd.filter(
            F.col("prev").isNotNull()
            & (F.abs(F.col("energy") - F.col("prev")) > 120)
        )
        .select(
            "doc_id",
            "frame_idx",
            "energy",
            F.abs(F.col("energy") - F.col("prev")).alias("delta"),
        )
    )


@register(
    "multimodal_image_histogram",
    # closed-form oracle over the fixture image family (pixel byte i =
    # (id*31+7i)%256, dims 8+id%9 × 8+(id*7)%5): DuckDB enumerates the
    # pixel indices and bins them without seeing the binary payload.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             8 + doc_id % 9 AS w,
             8 + (doc_id * 7) % 5 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, ((doc_id * 31 + 7 * i) % 256) // 32 AS bin
      FROM base, LATERAL (SELECT unnest(generate_series(
             0, 3 * w * h - 1)) AS i)
    )
    SELECT doc_id, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_px
    FROM px GROUP BY doc_id, bin
    """,
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 8-bin pixel-byte histogram through the REAL decode
    path: synthesize the binary PPM payload, ship it through Arrow,
    decode in numpy inside mapInPandas, np.bincount the pixel buffer —
    the histogram feature behind image dedup, exposure QA, and
    thumbnail-similarity pipelines (multimodal_image_phash's
    continuous-valued sibling). All counts integer, so the oracle —
    which recomputes the fixture's closed-form pixel bytes in SQL —
    hashes bit-for-bit.

    Scale: a narrow Arrow map with zero shuffle; payloads never leave
    the partition that synthesized (in production: scanned) them; the
    output is O(images · bins) skinny long rows."""
    from ..operators.multimodal import histogram_ppm_features, with_ppm_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return histogram_ppm_features(with_ppm_payload(docs), "doc_id")


@register(
    "udf_arrow_map",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) - strlen(replace(text, ' ', '')) AS BIGINT)
             AS n_spaces
    FROM documents
    """,
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` mechanism demo — the fourth quadrant of the §2.11
    UDF surface (scalar UDF / pandas UDF / applyInPandas UDTF /
    mapInPandas already demoed): batches arrive as *Arrow RecordBatch*
    objects with ZERO pandas materialization, and the kernels are
    pyarrow.compute (C++ SIMD) — the lowest-overhead Python extension
    point Spark 4 offers, the one to pick when the logic is expressible
    in Arrow kernels but not in Catalyst expressions.

    Computes per-doc byte length and space count with pc.binary_length
    / pc.count_substring — integer outputs, so the SQL oracle (strlen
    / replace-diff) hashes exactly.

    Scale: narrow map, zero shuffle, zero Python-object row handling —
    batch-columnar end-to-end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                ["doc_id", "n_bytes", "n_spaces"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        kernel, schema="doc_id long, n_bytes long, n_spaces long"
    )


@register(
    "sim_ann_recall_matrix",
    oracle="""
    SELECT 'ivf' AS method,
           CAST(5 * (SELECT count(*) FROM embeddings) AS BIGINT) AS n_truth,
           TRUE AS recall_pass
    UNION ALL
    SELECT 'pq', CAST(40 AS BIGINT), TRUE
    UNION ALL
    SELECT 'ivfpq', CAST(40 AS BIGINT), TRUE
    """,
)
def sim_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gates for ALL THREE rows-only ANN methods in one
    hash-checkable frame (the sim_knn_recall_gate promotion, VERDICT
    r8 item 8, extended to the rest of the approximate family): each
    method's top-5 lists are compared IN-PLAN against the exact
    blocked-kernel twin over the same queries, and the claim "recall
    ≥ gate" is emitted as an integer-arithmetic boolean — IVF at 0.9
    (measured 0.920), PQ at 0.8 (0.875), IVF-PQ at 0.8 (0.900), the
    AUDIT.md measurements now standing behind a driver-green row.
    The DuckDB oracle states the expectations (n_truth = 5 per query
    — every query has ≥5 true neighbours in the fixture — and TRUE
    per gate), so a hash match PROVES the measured recalls cleared.

    Determinism: exact twin ranks on (−cosine, n_id) total order;
    each gate is hits·D ≥ truth·N integer arithmetic — no float
    compare crosses engines.

    Scale: one exact pass (blocked kernel at fixture scale; itself
    IVF-routed past the gate) + the three candidate passes, each
    already O(probed fraction) by construction; 3-row output."""
    from ..operators.ivf import ivf_self_search
    from ..operators.pq import ivfpq_search, pq_search
    from ..operators.similarity import knn_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    # the exact-truth ranking feeds all THREE gates (full set for IVF,
    # the q_id<8 slice twice for PQ/IVF-PQ) — persist it or the
    # blocked O(n²) kernel re-runs once per gate branch (measured: 3
    # full exact passes in one action, the dominant cost of this row)
    exact = (
        knn_cosine(emb, "vec_id", "embedding", k=5)
        .select("q_id", "n_id")
        .persist()
    )
    q8 = list(range(8))

    def gate(method: str, approx: DataFrame, truth: DataFrame, num: int, den: int):
        marked = truth.join(
            approx.select("q_id", "n_id").withColumn("hit", F.lit(1)),
            ["q_id", "n_id"],
            "left",
        )
        return marked.agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) * F.lit(den)
                >= F.count(F.lit(1)) * F.lit(num)
            ).alias("recall_pass"),
        ).select(F.lit(method).alias("method"), "n_truth", "recall_pass")

    ivf = ivf_self_search(emb, "vec_id", "embedding", k_neighbors=5, n_clusters=8)
    pq = pq_search(emb, "vec_id", "embedding", query_ids=q8, k_neighbors=5)
    ivfpq = ivfpq_search(emb, "vec_id", "embedding", query_ids=q8, k_neighbors=5)
    exact8 = exact.filter(F.col("q_id") < 8)
    return (
        gate("ivf", ivf, exact, 9, 10)
        .unionByName(gate("pq", pq, exact8, 4, 5))
        .unionByName(gate("ivfpq", ivfpq, exact8, 4, 5))
    )


# --- MinHash signature-quality gate -----------------------------------------------


@register(
    "dedup_minhash_estimate_gate",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {duckdb_shingles('text')} AS shingles
                FROM documents),
    p AS (
      SELECT 1 AS one
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
        AND len(list_intersect(a.shingles, b.shingles)) * 2
            >= len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS mae_le_150
    FROM p
    """,
)
def dedup_minhash_estimate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash SIGNATURE-quality gate — the sim_knn_recall_gate move
    applied to the dedup family: dedup_near_minhash's oracle proves
    the VERIFIED pair set exact, but says nothing about the signature
    estimates the banding decisions ride on (a broken permutation
    family would still pass it whenever the exact-verify step saves
    the output). This row compares, per verified near-dup pair, the
    32-perm signature agreement fraction (the MinHash Jaccard
    ESTIMATOR, Broder '97) against exact shingle Jaccard, and emits
    "mean |est − exact| ≤ 0.150" as an integer boolean: sum of
    per-pair |est_milli − exact_milli| ≤ 150·n_pairs, all int64. The
    DuckDB oracle recomputes the SAME pair set brute-force (integer
    cross-multiplied threshold 2·∩ ≥ ∪, no float compare) and states
    the expected gate literal — a hash match proves both the pair set
    AND that the measured estimator error cleared the bound (binomial
    σ at 32 perms ≈ 0.088 worst-case, so a sound signature family
    passes with ~3σ headroom on the MEAN; a broken one fails by
    ~0.9). Signatures are engine-internal (xxhash64 affine family) —
    exactly what this gate exists to check from the outside.

    Scale: the banded-LSH candidate derivation (bucketed, never
    all-pairs) runs against ONE cached signature frame shared with
    the estimate/verify joins — calling the verified-pair kernel as a
    black box instead would rebuild signatures a second time (warm
    sf0.1 wall ~3 s, within 1.5× of dedup_near_minhash itself);
    1-row output."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "doc_id", "text").cache()
    cand = banded_candidates_raw(sig, "doc_id", 2, 16).select("a_id", "b_id").distinct()
    a = sig.select(
        F.col("doc_id").alias("a_id"),
        F.col("shingles").alias("a_sh"),
        F.col("mh").alias("a_mh"),
    )
    b = sig.select(
        F.col("doc_id").alias("b_id"),
        F.col("shingles").alias("b_sh"),
        F.col("mh").alias("b_mh"),
    )
    j = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .filter(
            F.expr(
                "size(array_intersect(a_sh, b_sh)) * 2 >= size(a_sh)"
                " + size(b_sh) - size(array_intersect(a_sh, b_sh))"
            )
        )
    )
    est_milli = F.expr(
        "size(filter(zip_with(a_mh, b_mh, (x, y) -> x = y), v -> v))"
        " * 1000L div 32"
    )
    exact_milli = F.expr(
        "size(array_intersect(a_sh, b_sh)) * 1000L div"
        " (size(a_sh) + size(b_sh) - size(array_intersect(a_sh, b_sh)))"
    )
    terms = j.select(F.abs(est_milli - exact_milli).alias("err_milli"))
    return terms.agg(
        F.count("*").cast("long").alias("n_pairs"),
        (F.sum("err_milli") <= F.lit(150) * F.count("*")).alias("mae_le_150"),
    )


# --- ViT patchify ------------------------------------------------------------------


@register(
    "multimodal_image_tiles",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(8 + doc_id % 9 AS BIGINT) AS w,
             CAST(8 + (doc_id * 7) % 5 AS BIGINT) AS h
      FROM documents WHERE doc_id < 256
    ), px AS (
      SELECT doc_id, w, h, y, x, c,
             (doc_id * 31 + 7 * (3 * (y * w + x) + c)) % 256 AS v
      FROM d,
           LATERAL (SELECT unnest(range(h)) AS y) yy,
           LATERAL (SELECT unnest(range(w)) AS x) xx,
           LATERAL (SELECT unnest(range(3)) AS c) cc
    )
    SELECT doc_id, y // 4 AS tile_row, x // 4 AS tile_col,
           least(4, h - 4 * (y // 4)) AS tile_h,
           least(4, w - 4 * (x // 4)) AS tile_w,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, h, w, y // 4, x // 4
    """,
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style PATCHIFY (Dosovitskiy et al., ICLR'21's step zero):
    decode each image and emit one row per 4×4 pixel patch with its
    exact int64 pixel sum — the patch-embedding precursor of every
    vision-transformer ingest, run as engine plumbing (decode where
    the bytes live, ship only skinny patch rows). Partial edge tiles
    are kept with their true dims — silently dropping remainders is
    the classic patchify bug this row's oracle would catch, because
    the DuckDB side recomputes every patch CLOSED-FORM from the
    fixture's pixel formula ((id·31 + 7k) mod 256) without touching a
    byte of the payload: a hash match proves the decode+tile walk
    agrees with the arithmetic ground truth.

    Scale: mapInPandas over the payload column — frames never
    shuffle, output is O(images · patches/image); the doc_id < 256
    predicate bounds the demo's fixture staging, pushed to the scan
    BEFORE payload synthesis so unstaged blobs are never built."""
    from ..operators.multimodal import tile_ppm_features, with_ppm_payload

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 256)
    )
    return tile_ppm_features(with_ppm_payload(docs), "doc_id")


@register(
    "dedup_phash_hamming",
    oracle=_PHASH_BITS_CTE.replace(
        "doc_id // 250 AS br", "(doc_id // 250) % 200 AS br"
    ) + """
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                + bit_count(xor(a.phash_lo, b.phash_lo)) AS BIGINT)
             AS hamming
    FROM bits a, bits b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.phash_hi, b.phash_hi))
          + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3
    """,
)
def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup pairs by perceptual-hash Hamming distance <= 3 —
    the multimodal twin of `dedup_simhash` (text), completing the
    near-dup matrix: exact text / MinHash-LSH text / SimHash text /
    embedding-cosine / exact image aHash / and now NEAR image. A
    re-encoded or slightly-retouched picture moves a few aHash bits;
    grouping on the exact hash (multimodal_image_phash) misses it,
    a Hamming band join catches it.

    Pigeonhole banding over the 64-bit hash (4 bands x 16 bits,
    bands > max_hamming so a qualifying pair MUST collide in some
    band — EXACT recall, the dedup_simhash structural argument, so
    the brute-force oracle must match identically). Candidates
    equi-join on (band, 16-bit key); the residual check is integer
    bit math. At 100 TB: hashes ride a narrow Arrow map off the
    payload bytes (zero pixel shuffle), the band join shuffles
    4 x 16-byte keys per image, and candidate fanout tracks TRUE
    near-dup density, never all-pairs (measured: candidates and true
    pairs both grow x104 on the 10x synthetic scale-up — zero
    overhead beyond output mass; SCALE.md). A corpus whose near-dup
    mass is itself quadratic (many variants of few base images)
    should use the cluster-representative form —
    multimodal_image_phash's keeper per hash group — instead of pair
    enumeration.

    Oracle reuses the SAME closed-form pixel CTE as
    multimodal_image_phash (hash recomputed from the fixture formula,
    never from bytes) + a brute-force Hamming pair join."""
    from ..operators.multimodal import ahash_ppm, with_ppm_variant_payload

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 250).cast("long").alias("seed"),
        # mod 200 keeps brightness below the 255 clip ceiling: identical
        # to doc_id/250 at every shipped fixture scale (max 20 there),
        # but prevents key-offset synthetic scales (doc_id ~ 1e7) from
        # saturating every raster to all-white - which would be ONE
        # giant hamming-0 cluster and a quadratic TRUE pair set, a
        # statement about that input, not this plan
        (F.col("doc_id") / 250 % 200).cast("long").alias("bright"),
    )
    hashed = ahash_ppm(
        with_ppm_variant_payload(docs, "seed", "bright"), "doc_id"
    ).select(
        "doc_id",
        "phash_hi",
        "phash_lo",
        # hi/lo are 32-bit non-negative halves: recombine so the four
        # 16-bit pigeonhole bands slice one 64-bit value
        (
            F.shiftleft(F.col("phash_hi").cast("long"), 32)
            + F.col("phash_lo").cast("long")
        ).alias("ph"),
    ).persist()  # both band-join sides reuse ONE decode+hash pass
    # (16 bytes + id per image — the skinny frame the banding shuffles
    # anyway; without it each side re-runs the Arrow map)

    def banded(side: str) -> DataFrame:
        return hashed.withColumn(
            "__band", F.explode(F.sequence(F.lit(0), F.lit(3)))
        ).select(
            F.col("doc_id").alias(f"{side}_id"),
            F.col("ph").alias(f"{side}_ph"),
            F.col("__band").alias(f"{side}_band"),
            F.expr("shiftright(ph, __band * 16) & 65535").alias(
                f"{side}_key"
            ),
        )

    hamming = F.bit_count(F.col("a_ph").bitwiseXOR(F.col("b_ph")))
    return (
        banded("a")
        .join(
            banded("b"),
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_key") == F.col("b_key"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select("a_id", "b_id", "a_ph", "b_ph")
        .distinct()
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("a_id", "b_id", "hamming")
    )


# --- Bloom-prescreen ingest dedup gate (round 12) -----------------------------

_BLOOM_K = 3            # hash functions
_BLOOM_M = 1 << 21      # bit-domain (2,097,152); see docstring on sizing


@register(
    "dedup_bloom_prescreen",
    oracle="""
    WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
    base AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0)
    SELECT CAST((SELECT count(*) FROM delta) AS BIGINT) AS n_delta,
           CAST((SELECT count(*) FROM delta d
                 WHERE EXISTS (SELECT 1 FROM base b WHERE b.text = d.text))
                AS BIGINT) AS n_true_dup,
           TRUE AS no_false_negatives,
           TRUE AS fp_rate_le_5pct
    """,
)
def dedup_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time Bloom prescreen for exact dedup — the "is this batch
    document possibly already in the corpus" gate every large-scale
    ingest runs BEFORE paying the full digest anti-join (the classic
    two-tier dedup: a cheap membership structure screens out the
    overwhelmingly-new mass; only prescreen survivors reach the exact
    check). Batch = doc_id % 10 == 0, corpus = the rest (the
    dedup_incremental split).

    DISTRIBUTED form — the filter is never a driver-side bitset: each
    corpus digest emits its k=3 bit positions pos_i = pmod(
    xxhash64(digest, i), m) as a (i, pos) table (≤ k·|corpus| rows,
    capped by the m·k domain); a batch document passes the prescreen
    iff ALL k of its positions hit — one (i, pos) equi-semi-join and a
    HAVING count = k, the join-shaped equivalent of testing k bits.
    Engine-internal hashing is fine under the gate-row pattern: the
    oracle hash-checks the EXACT quantities (n_delta, the true-dup
    count the prescreen must fully contain) and states the two
    measured claims as TRUE — no false negatives (Bloom's structural
    guarantee: every true dup's positions were all inserted) and a
    ≤ 5 % false-positive rate among true negatives (binomial: at
    sf0.1's ~45k-doc corpus the fill ratio is ~0.06, fp ≈ (1-e^{-kn/m})^k
    ≈ 2e-4). Sizing note: m is a constant here for oracle stability;
    production sizes m at ~14 bits/key for 1 % fp and shards the
    position table by pos range — the semi-join form scales either
    way (positions shuffle, payloads never).

    At 100 TB the position table is the small side: broadcast it when
    k·|corpus| bits fit (AQE decides), else it's a shuffle semi-join
    keyed by (i, pos) — both strictly cheaper than the full-text
    anti-join the prescreen saves."""
    docs = load_table(spark, sf_dir, "documents")
    digest = F.xxhash64("text")
    delta = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", digest.alias("dg"), "text"
    )
    base = docs.filter(F.col("doc_id") % 10 != 0).select(digest.alias("dg"))

    def positions(df: DataFrame) -> DataFrame:
        return df.select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i"),
        ).withColumn(
            "pos", F.pmod(F.xxhash64("dg", "i"), F.lit(_BLOOM_M)).cast("long")
        )

    base_pos = positions(base).select("i", "pos").distinct()
    passed = (
        positions(delta)
        .join(base_pos, ["i", "pos"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("k_hits"))
        .filter(F.col("k_hits") == _BLOOM_K)
        .select("doc_id")
    )
    base_texts = docs.filter(F.col("doc_id") % 10 != 0).select("text").distinct()
    true_dup = (
        delta.join(base_texts, "text", "left_semi").select("doc_id")
    )
    # scoreboard: exact counts + the two measured gate booleans
    stats = (
        delta.select("doc_id")
        .join(passed.withColumn("p", F.lit(1)), "doc_id", "left")
        .join(true_dup.withColumn("t", F.lit(1)), "doc_id", "left")
        .agg(
            F.count("*").cast("long").alias("n_delta"),
            F.sum(F.coalesce(F.col("t"), F.lit(0))).cast("long").alias(
                "n_true_dup"
            ),
            (
                F.count_if(F.col("t").isNotNull() & F.col("p").isNull()) == 0
            ).alias("no_false_negatives"),
            (
                F.count_if(F.col("p").isNotNull() & F.col("t").isNull()) * 20
                <= F.count_if(F.col("t").isNull())
            ).alias("fp_rate_le_5pct"),
        )
    )
    return stats


@register(
    "multimodal_image_normalize",
    # closed-form oracle over the fixture PPM family (pixel byte i =
    # (id*31+7i)%256 interleaved RGB, dims 8+id%9 x 8+(id*7)%5):
    # DuckDB re-enumerates each channel's bytes and reproduces the
    # z-score as one division of exact-integer doubles by sqrt
    oracle="""
    WITH base AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id * 7) % 5 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, i % 3 AS channel,
             CAST((doc_id * 31 + 7 * i) % 256 AS BIGINT) AS b,
             i
      FROM base, LATERAL (SELECT unnest(generate_series(
             0, 3 * w * h - 1)) AS i)
    ), ch AS (
      SELECT doc_id, channel,
             CAST(count(*) AS BIGINT) AS n_px,
             CAST(sum(b) AS BIGINT) AS ch_sum,
             CAST(sum(b * b) AS BIGINT) AS ch_sumsq,
             CAST(min_by(b, i) AS BIGINT) AS p0
      FROM px GROUP BY doc_id, channel
    )
    SELECT doc_id, channel, n_px, ch_sum, ch_sumsq,
           CASE WHEN n_px * ch_sumsq - ch_sum * ch_sum > 0
                THEN round(CAST(p0 * n_px - ch_sum AS DOUBLE)
                           / sqrt(CAST(n_px * ch_sumsq - ch_sum * ch_sum
                                       AS DOUBLE)), 6)
                ELSE 0.0 END AS znorm_p0
    FROM ch
    """,
)
def multimodal_image_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel-wise image normalization statistics through the REAL
    decode path (synthesize PPM -> Arrow -> numpy in mapInPandas):
    per (image, RGB channel), exact int64 count / sum / sum-of-squares
    — the mean/std pass a vision ingest runs before patchify
    (multimodal_image_tiles consumes what this op computes) — plus the
    z-score of the channel's first pixel as the hash-checked
    normalized-output witness. The z-score is (p0*n - sum) /
    sqrt(n*sumsq - sum^2): one division of exact-integer doubles by a
    correctly-rounded IEEE sqrt, bit-identical cross-engine (the
    eval_matthews_corr discipline). A PIL deployment swaps only the
    decode call at operators/multimodal.py:decode_ppm.

    Scale: narrow Arrow map, ZERO shuffle — payload bytes never leave
    the partition; output is O(images x 3) skinny rows."""
    from ..operators.multimodal import normalize_ppm_features, with_ppm_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = normalize_ppm_features(with_ppm_payload(docs), "doc_id")
    # decimal rounding lives HERE, not in the Arrow map: Spark's
    # F.round is HALF_UP like DuckDB's round, while Python's round()
    # is half-even (ADVICE r12 item 2 — the one divergence point)
    return feats.withColumn("znorm_p0", F.round("znorm_p0", 6))


# --- entity resolution (round 13) ----------------------------------------------


@register(
    "dedup_entity_resolution",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_name,
             CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
             substr(c_name, 1, 16) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev_dist,
           CAST(CASE WHEN a.bal_cents > b.bal_cents THEN a.c_custkey
                     WHEN b.bal_cents > a.bal_cents THEN b.c_custkey
                     ELSE a.c_custkey END AS BIGINT) AS keep_custkey
    FROM c a JOIN c b
      ON a.blk = b.blk AND a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy ENTITY RESOLUTION — the master-data dedup every
    warehouse runs on customer/supplier dimensions: candidate pairs
    from a cheap blocking key, verified by edit distance, resolved by
    a survivorship rule (keep the higher-balance record; key tiebreak).
    Blocking here is (nation, 16-char name prefix) — the standard
    recall/cost trade (pairs differing inside the blocked prefix are
    not compared; the oracle replays the SAME blocking, so the
    contract is exact). Distance is levenshtein(), evaluated by the
    built-in JVM expression in Spark and the identical-definition
    function in DuckDB — integer, engine-neutral.

    100 TB: the self-join keys on the blocking key, so pair mass is
    sum-of-block-sizes-squared, bounded by design of the key; the
    distance UDF-free residual runs inside the join's
    whole-stage-codegen. Survivorship is a pure projection. If one
    (nation, prefix) block runs hot (placeholder names, franchise
    naming), operators.dedup.blocked_self_pairs carries the
    IMPLEMENTED salt_hot decomposition (r14, VERDICT r13 item 6 —
    the band_join pattern, no longer just cited): hot blocks found by
    a broadcast count-aggregate, a-side lane by id hash, b-side
    replicated s ways, pair set provably unchanged
    (tests/test_llm_ops.py::test_blocked_er_salt_pair_equality) with
    measured max/median partition-load collapse recorded in SCALE.md
    (the dedup_skew.py --er study, in git history). The registry form keeps
    salt_hot=0 — at fixture scale the join broadcasts and no block
    nears hot_block_min."""
    from ..operators.dedup import blocked_self_pairs

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.substring("c_name", 1, 16).alias("blk"),
    )
    pairs = blocked_self_pairs(
        c, "c_custkey", ["blk", "c_nationkey"]
    ).withColumn(
        "lev_dist", F.levenshtein("a_c_name", "b_c_name").cast("long")
    ).filter(F.col("lev_dist") <= 2)
    return pairs.select(
        F.col("a_c_custkey").alias("a_custkey"),
        F.col("b_c_custkey").alias("b_custkey"),
        "lev_dist",
        F.when(
            F.col("a_bal_cents") > F.col("b_bal_cents"), F.col("a_c_custkey")
        )
        .when(
            F.col("b_bal_cents") > F.col("a_bal_cents"), F.col("b_c_custkey")
        )
        .otherwise(F.col("a_c_custkey"))
        .cast("long")
        .alias("keep_custkey"),
    )


@register(
    "dedup_semdedup",
    oracle="""
    WITH p AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cosine
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
           CAST(count(*) FILTER (cosine >= 0.4) AS BIGINT) AS n_true_pairs,
           CAST(greatest(8, (SELECT count(*) FROM embeddings) // 250)
                AS BIGINT) AS n_clusters,
           TRUE AS found_subset_of_true,
           TRUE AS no_dup_pair_survives
    FROM p
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — CLUSTER-SCOPED
    semantic dedup, the published scale recipe the global
    dedup_embedding_cosine row can't follow to 100 TB: k-means the
    embeddings (kmeans_lite, k×dim driver state; k = max(8, n/250) so
    CLUSTER SIZE stays ~constant and pair mass stays LINEAR — a fixed
    k would leave it n²/k, measured ×322 at the 20k-vector synthetic
    before this rule), generate-and-verify candidate pairs ONLY within
    each cluster (one grouped-by-cluster Arrow pass running the exact
    left-fold numpy kernel — bit-identical cosines to the brute-force
    twin and to DuckDB's list_dot_product; r14-opt: this replaced a
    pair-join + per-pair JVM zip_with fold that shuffled both
    embeddings per candidate pair), and drop the higher id of every
    verified pair (deterministic keep-lowest survivorship). Pair mass
    falls from C(n,2) to Σ cluster² — the entire point of the paper.

    Gate row (the bloom/CMS pattern — k-means cells are engine
    state DuckDB cannot replay): n_vectors and the BRUTE-FORCE global
    pair count are hash-exact (the latter recomputed in-plan by the
    blocked exact kernel, so this row also re-proves kernel ≡ DuckDB
    list_dot_product); the booleans are measured by anti-joins —
    every found pair is a true global pair (precision 1.0: cluster
    scoping can only RESTRICT candidates), and NO found dup pair
    survives with both endpoints kept (survivorship checked end-to-end
    against an independently derived kept set). COVERAGE
    (found/true) is deliberately NOT a gate: on the fixture's
    i.i.d.-random embeddings tau=0.4 "dups" are weakly correlated
    with cells (measured 0.35-0.49 co-location, the IVF-caveat
    regime, recorded in the recall audit); production semantic dups
    (cos >= 0.9, near-identical vectors) share their nearest cell
    almost surely, which is the regime the paper reports ~100%
    coverage in."""
    from ..operators.ivf import assign_clusters, kmeans_lite
    from ..operators.similarity import threshold_similarity_blocked

    tau = 0.4
    emb = load_table(spark, sf_dir, "embeddings")
    # k scales with the corpus (target ~250 vectors/cluster): FIXED k
    # makes cluster-scoped pair mass n²/k — still quadratic. Constant
    # CLUSTER SIZE makes it n·size/2 — linear, the paper's regime
    # (SemDeDup uses 50k clusters on LAION). n is one O(1) count.
    n_vec = emb.count()
    k = max(8, n_vec // 250)
    cents = kmeans_lite(emb, "vec_id", "embedding", k=k)
    clustered = assign_clusters(emb, "vec_id", "embedding", cents).select(
        "vec_id", "embedding", "cluster"
    )
    # Cluster-scoped candidate scoring runs the SAME numpy left-fold
    # kernel as the brute-force twin (operators/similarity
    # ._fold_matmul — bit-identical to the previous per-pair JVM
    # zip_with/aggregate fold AND to DuckDB's list_dot_product), one
    # cogroup per cluster: the pair stream never materializes the
    # duplicated (a_embedding, b_embedding) arrays the join-based
    # kernel shuffled (~2×64 doubles per candidate pair), and the
    # per-pair interpreted fold leaves the plan entirely.
    import pandas as pd  # noqa: PLC0415

    from ..operators.similarity import _fold_matmul, _threshold_pairs

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy().astype("int64")
        return _threshold_pairs(ids, ids, _fold_matmul(v, v), tau)[["a_id", "b_id"]]

    found = (
        clustered.groupBy("cluster")
        .applyInPandas(cluster_pairs, schema="a_id long, b_id long")
        .persist()
    )
    true_pairs = threshold_similarity_blocked(
        emb, "vec_id", "embedding", tau
    ).select("a_id", "b_id").persist()
    # precision + survivorship probes as IN-PLAN aggregates crossJoined
    # into the gate row: the previous two standalone .count() actions
    # each re-ran scheduling round-trips; one action now materializes
    # everything (the persisted found/true_pairs frames fill on first
    # use inside it)
    nf = found.join(true_pairs, ["a_id", "b_id"], "left_anti").agg(
        F.count("*").alias("__nf")
    )
    # independent survivorship check: kept = vectors minus dropped; no
    # found dup pair may survive with BOTH endpoints kept (catches a
    # drop-set derivation bug end-to-end, not by construction)
    kept = emb.select(F.col("vec_id").alias("k_id")).join(
        found.select(F.col("b_id").alias("k_id")).distinct(),
        "k_id",
        "left_anti",
    )
    ns = (
        found.join(kept.withColumnRenamed("k_id", "a_id"), "a_id", "left_semi")
        .join(kept.withColumnRenamed("k_id", "b_id"), "b_id", "left_semi")
        .agg(F.count("*").alias("__ns"))
    )
    return (
        emb.agg(F.count("*").cast("long").alias("n_vectors"))
        .crossJoin(
            true_pairs.agg(
                F.count("*").cast("long").alias("n_true_pairs")
            )
        )
        .crossJoin(nf)
        .crossJoin(ns)
        .select(
            "n_vectors",
            "n_true_pairs",
            F.lit(k).cast("long").alias("n_clusters"),
            (F.col("__nf") == 0).alias("found_subset_of_true"),
            (F.col("__ns") == 0).alias("no_dup_pair_survives"),
        )
    )


# --- composed row #8: multimodal dedup pipeline (round 13) ---------------------


@register(
    "pipeline_multimodal_dedup",
    # the dedup_phash_hamming closed-form bits CTE (br mod 200) + a
    # brute-force hamming pair join + recursive min-label components
    # over the pair endpoints + closed-form raster dims
    oracle=_PHASH_BITS_CTE.replace(
        "WITH base", "WITH RECURSIVE base"
    ).replace("doc_id // 250 AS br", "(doc_id // 250) % 200 AS br")
    + """
    , pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bits a, bits b
      WHERE a.doc_id < b.doc_id
        AND bit_count(xor(a.phash_hi, b.phash_hi))
            + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach(v, lab) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.v
    ), comp AS (
      SELECT v AS doc_id, min(lab) AS rep FROM reach GROUP BY v
    ), dims AS (
      SELECT doc_id,
             8 + (doc_id % 250) % 9 AS w,
             8 + ((doc_id % 250) * 7) % 5 AS h
      FROM documents
    )
    SELECT CAST(c.rep AS BIGINT) AS rep_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN c.doc_id <> c.rep
                         THEN 3 * d.w * d.h ELSE 0 END) AS BIGINT)
             AS px_bytes_saved
    FROM comp c JOIN dims d ON c.doc_id = d.doc_id
    GROUP BY c.rep
    """,
)
def pipeline_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed row #8, on the MULTIMODAL axis — the image-corpus
    dedup pass end to end in ONE plan: decode (real PPM parse through
    Arrow) → perceptual hash → pigeonhole Hamming band join (≤ 3 bits)
    → connected components → per-cluster representative election with
    the storage-savings accounting a dedup job reports (pixel bytes of
    every evicted non-representative member). Chains the SAME kernels
    the standalone rows prove (dedup_phash_hamming's exact-recall
    banding, connected_components' min-label propagation,
    decode_ppm_features' payload walk), which is the point: a user
    runs THIS; the standalone rows exist to localize a failure.

    Scale: hashes ride the narrow Arrow map (no pixel shuffle); the
    band join shuffles 4×16-bit keys per image; components iterate
    over the near-dup pair graph only (dup-mass-sized, never corpus-
    sized); and the decode for the byte accounting runs ONLY on
    cluster members — the semi-join lands BEFORE payload synthesis,
    so untouched images never materialize bytes. Output is one exact
    int64 row per duplicate cluster."""
    from ..operators.dedup import connected_components
    from ..operators.multimodal import (
        decode_ppm_features,
        with_ppm_variant_payload,
    )

    # materialize the pair list ONCE: members, the CC edge checkpoint,
    # and the decode semi-join all reuse it — without this the banding
    # join re-evaluates three times (measured 10.0 s → 6.1 s at sf0.1)
    pairs = dedup_phash_hamming(spark, sf_dir).localCheckpoint(eager=True)
    members = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(members, pairs, "doc_id", "a_id", "b_id")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % 250).cast("long").alias("seed"),
            (F.col("doc_id") / 250 % 200).cast("long").alias("bright"),
        )
        .join(members, "doc_id", "semi")  # decode members only
    )
    dims = decode_ppm_features(
        with_ppm_variant_payload(docs, "seed", "bright"), "doc_id"
    ).select("doc_id", "width", "height")
    return (
        comp.join(dims, "doc_id")
        .groupBy(F.col("cluster_rep").alias("rep_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("cluster_rep"),
                    3 * F.col("width") * F.col("height"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("px_bytes_saved"),
        )
    )
