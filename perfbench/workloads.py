"""The benchmark workloads. Each one generates its inputs from the seed,
computes reference fingerprints from a plain plan once, and then runs
one iteration of the engine's public call chain at a time.

An iteration returns the fingerprints it produced; the runner compares
them with the reference. Every call into the engine runs inside a
tracer span named after the layer it enters, so the traced run can
split the iteration wall by layer."""

from __future__ import annotations

import os
import random
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreducenonequijoin_spark.operators import joins
from mapreducenonequijoin_spark.operators.dedup import (
    banded_candidates_raw,
    connected_components,
    dedup_exact,
    minhash_near_dup_pairs,
    minhash_signatures,
)
from mapreducenonequijoin_spark.operators.table_format import (
    compact,
    create_table,
    manifest_entries,
    merge_commit,
    pruned_file_count,
    read_snapshot,
)
from mapreducenonequijoin_spark.sources import load_table, sink_parquet


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, sum of pmod(xxhash64(row), 2^31)) in one aggregate.
    Columns are hashed in name order, so the fingerprint does not
    depend on column order. pmod keeps every term below 2^31, so the
    sum cannot overflow under ANSI arithmetic."""
    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def noop_write_s(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def clear_join_memos() -> None:
    """Empty the join statistics memos, as a fresh user job finds them."""
    joins._COUNT_CACHE.clear()
    joins._QUANTILE_CACHE.clear()


class Workload:
    name = ""
    input_rows = 0
    # Iterations run and checked before the measured ones, so that those
    # start past the steep part of the JIT warm-up curve; and the number
    # of measured iterations. Both are sized so that the measured ones
    # take longer than --seconds, which is then only a lower bound.
    warmup_iters = 1
    min_iters = 2

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = None
        self.reference: dict = {}

    def generate(self, rep: int) -> None:
        """Write the seeded inputs under a fresh directory."""
        old = self.data_dir
        self.data_dir = os.path.join(self.work_dir, f"inputs-{rep}")
        self._generate()
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def after_iteration(self) -> None:
        """Remove what one iteration wrote."""

    def traced_extras(self, it: int) -> dict:
        """Per-layer numbers that need work outside the iteration."""
        return {}


# ---------------------------------------------------------------- theta-join

THETA_ROWS = 6000  # rows per side
THETA_HOT = 0.5  # share of rows on the hot user key
THETA_USERS = 2000
THETA_GROUPS = 64
THETA_SPAN_S = 30 * 24 * 3600
BAND_S = 3600


class ThetaJoin(Workload):
    """1-Bucket theta, M-Bucket-I inequality and band join over one
    seeded skewed pair read back from parquet."""

    name = "theta-join"
    input_rows = 2 * THETA_ROWS
    # walls fall from ~4.5 s to ~2.5 s over the first four iterations and
    # then slowly, to ~1.6 s by the 25th, as the JIT compiles Spark's code
    # paths. How fast they fall differs from JVM to JVM, so runs agree
    # best late on the curve. A run measures a fixed number of iterations,
    # so every run's median sits at the same place on it; a window of
    # fixed length would hold fewer iterations on a slow host and take its
    # median from higher up the curve.
    warmup_iters = 8
    min_iters = 8
    join_names = ("theta", "ineq", "band")

    def _side(self, p: str, salt: int) -> DataFrame:
        h = lambda k: F.xxhash64(F.col("id"), F.lit(self.seed * 7919 + salt * 31 + k))  # noqa: E731
        return self.spark.range(THETA_ROWS).select(
            F.col("id").alias(f"{p}_id"),
            F.when(F.pmod(h(0), 100) < int(THETA_HOT * 100), F.lit(0))
            .otherwise(F.pmod(h(1), THETA_USERS))
            .alias(f"{p}_user"),
            F.pmod(h(2), THETA_GROUPS).alias(f"{p}_grp"),
            F.pmod(h(3), THETA_SPAN_S).alias(f"{p}_ts"),
        )

    def _generate(self) -> None:
        sink_parquet(self._side("l", 1), f"{self.data_dir}/left.parquet")
        sink_parquet(self._side("r", 2), f"{self.data_dir}/right.parquet")

    def _inputs(self):
        return (
            load_table(self.spark, self.data_dir, "left"),
            load_table(self.spark, self.data_dir, "right"),
        )

    @staticmethod
    def _theta_cond():
        d = F.col("r_ts") - F.col("l_ts")
        return (d >= -BAND_S) & (d <= 0)

    def _build(self, name: str, left: DataFrame, right: DataFrame) -> DataFrame:
        if name == "theta":
            return joins.theta_join(left, right, self._theta_cond())
        if name == "ineq":
            return joins.inequality_join(
                left, right, "l_ts", "r_ts", "<", extra_equi=[("l_grp", "r_grp")]
            )
        return joins.band_join(
            left, right, "l_ts", "r_ts", -BAND_S, 0, extra_equi=[("l_user", "r_user")]
        )

    def compute_reference(self) -> None:
        left, right = self._inputs()
        self.reference = {
            "theta": fingerprint(joins.naive_theta_join(left, right, self._theta_cond())),
            "ineq": fingerprint(
                left.join(
                    right,
                    (F.col("l_grp") == F.col("r_grp")) & (F.col("l_ts") < F.col("r_ts")),
                )
            ),
            "band": fingerprint(
                left.join(
                    right, (F.col("l_user") == F.col("r_user")) & self._theta_cond()
                )
            ),
        }

    def iterate(self, it: int) -> dict:
        span = self.tracer.span
        with span("sources.read", it):
            left, right = self._inputs()
        out = {}
        for name in self.join_names:
            with span(f"joins.{name}.build", it):
                df = self._build(name, left, right)
            with span(f"joins.{name}.exec", it):
                out[name] = fingerprint(df)
        return out

    def traced_extras(self, it: int) -> dict:
        # plan build again with the memos the iteration just filled
        left, right = self._inputs()
        res = {}
        for name in self.join_names:
            t0 = time.perf_counter()
            self._build(name, left, right)
            res[f"joins.{name}.build_warm_s"] = time.perf_counter() - t0
        return res


# -------------------------------------------------------------- corpus-dedup

CORPUS_DOCS = 1500
CORPUS_VOCAB = 20000
CORPUS_DOC_WORDS = (40, 60)
CORPUS_MUTATE = 0.08  # share of a member's tokens replaced, as one run
CORPUS_EXACT_COPY = 0.05  # share of members that copy an earlier member
CORPUS_MAX_CLUSTER = 80
CC_LOCAL_GATE = 200_000  # connected_components' default local_edge_threshold


def _shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    if len(w) < k:
        return {text}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


class CorpusDedup(Workload):
    """Exact dedup, MinHash near-dup pairs and connected components over
    a corpus of power-law near-duplicate clusters."""
    input_rows = CORPUS_DOCS

    def _docs(self) -> list[tuple[int, str]]:
        """Clusters of power-law size. Each member copies a random
        earlier member and replaces one run of ~8% of its tokens, so
        parent-child Jaccard is about 0.8 while more distant relatives
        fall through 0.5; a few members are exact copies."""
        rng = random.Random(self.seed)
        word = lambda: f"w{rng.randrange(CORPUS_VOCAB)}"  # noqa: E731
        texts: list[str] = []
        while len(texts) < CORPUS_DOCS:
            size = min(CORPUS_MAX_CLUSTER, int(rng.paretovariate(1.3)))
            members = [[word() for _ in range(rng.randint(*CORPUS_DOC_WORDS))]]
            for _ in range(size - 1):
                toks = list(rng.choice(members))
                if rng.random() >= CORPUS_EXACT_COPY:
                    run = max(1, round(CORPUS_MUTATE * len(toks)))
                    at = rng.randrange(len(toks) - run + 1)
                    toks[at : at + run] = [word() for _ in range(run)]
                members.append(toks)
            texts.extend(" ".join(t) for t in members)
        texts = texts[:CORPUS_DOCS]
        ids = rng.sample(range(10 * CORPUS_DOCS), CORPUS_DOCS)
        return list(zip(ids, texts))

    def _generate(self) -> None:
        self.rows = self._docs()
        df = self.spark.createDataFrame(pd.DataFrame(self.rows, columns=["doc_id", "text"]))
        sink_parquet(df, f"{self.data_dir}/documents.parquet")

    def compute_reference(self) -> None:
        """Plain-Python plan: exact dedup by text, exact Jaccard over
        every pair that shares a shingle (no pair with Jaccard > 0 is
        missed), union-find by minimum id."""
        keep: dict[str, int] = {}
        for i, t in self.rows:
            keep[t] = min(i, keep.get(t, i))
        sh = {i: _shingles(t) for t, i in keep.items()}
        postings: dict[str, list[int]] = {}
        for i, s in sh.items():
            for g in s:
                postings.setdefault(g, []).append(i)
        shared: dict[tuple[int, int], int] = {}
        for ids in postings.values():
            ids.sort()
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    key = (ids[a], ids[b])
                    shared[key] = shared.get(key, 0) + 1
        parent = {i: i for i in sh}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for (a, b), n in shared.items():
            if n / (len(sh[a]) + len(sh[b]) - n) >= 0.5:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        labels = [(v, find(v)) for v in sh]
        self.reference = {
            "clusters": fingerprint(
                self.spark.createDataFrame(pd.DataFrame(labels, columns=["doc_id", "cluster_rep"]))
            )
        }

    def iterate(self, it: int) -> dict:
        span = self.tracer.span
        with span("dedup.exact", it):
            docs = load_table(self.spark, self.data_dir, "documents")
            kept = dedup_exact(docs, "doc_id", "text")
            kept_docs = kept.select("doc_id").join(docs, "doc_id")
        with span("dedup.pairs", it):
            pairs = minhash_near_dup_pairs(kept_docs, "doc_id", "text")
        with span("dedup.cc", it):
            labels = connected_components(
                kept.select("doc_id"), pairs, "doc_id", "a_id", "b_id"
            )
        with span("dedup.exec", it):
            fp = fingerprint(labels)
        self._last = (kept_docs, pairs, labels)
        return {"clusters": fp}

    def traced_extras(self, it: int) -> dict:
        """Stage-isolated materialization times: each includes the
        stages above it (exact ⊂ signatures ⊂ pairs)."""
        kept_docs, pairs, labels = self._last
        sig = minhash_signatures(kept_docs, "doc_id", "text")
        cand = banded_candidates_raw(sig, "doc_id", 2, 16).select("a_id", "b_id").distinct()
        n_cand = cand.count()
        n_pairs = pairs.count()
        return {
            "dedup.exact_s": noop_write_s(kept_docs),
            "dedup.signatures_s": noop_write_s(sig),
            "dedup.pairs_s": noop_write_s(pairs),
            "dedup.candidates": n_cand,
            "dedup.pairs": n_pairs,
            "dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
            "dedup.cc_edges": 2 * n_pairs,
            "dedup.cc_local_arm": 1.0 if 2 * n_pairs <= CC_LOCAL_GATE else 0.0,
            "dedup.clusters": labels.select("cluster_rep").distinct().count(),
        }


# -------------------------------------------------------------- table-upsert

TABLE_ROWS = 20000
TABLE_FILES = 8
TABLE_DELTAS = 1
TABLE_DELTA_ROWS = 500
TABLE_MERGE_FILES = 4


class TableUpsert(Workload):
    """create_table, merge_commit deltas, compact, and two snapshot
    reads (latest, and the first version pruned to a key range)."""
    input_rows = TABLE_ROWS + TABLE_DELTAS * TABLE_DELTA_ROWS

    def _generate(self) -> None:
        rng = random.Random(self.seed)
        key_span = 2 * TABLE_ROWS
        base = self.spark.range(TABLE_ROWS).select(
            (F.col("id") * 2).alias("k"),
            F.pmod(F.xxhash64("id", F.lit(self.seed)), 1_000_000).alias("v"),
            F.concat(F.lit("s"), F.pmod(F.xxhash64("id", F.lit(self.seed + 1)), 997)).alias("s"),
        )
        sink_parquet(base, f"{self.data_dir}/base.parquet")
        for d in range(TABLE_DELTAS):
            # each delta hits one key window, so pruning keeps few files
            lo = rng.randrange(key_span - 4 * TABLE_DELTA_ROWS)
            keys = rng.sample(range(lo, lo + 4 * TABLE_DELTA_ROWS), TABLE_DELTA_ROWS)
            rows = []
            for k in keys:
                op = "D" if rng.random() < 0.15 and k % 2 == 0 else "U"
                rows.append((k, rng.randrange(1_000_000), f"d{d}-{k % 97}", op))
            df = self.spark.createDataFrame(pd.DataFrame(rows, columns=["k", "v", "s", "op"]))
            sink_parquet(df, f"{self.data_dir}/delta{d}.parquet")
        self.travel_range = (key_span // 4, key_span // 4 + key_span // 8)

    def _inputs(self):
        base = load_table(self.spark, self.data_dir, "base")
        deltas = [load_table(self.spark, self.data_dir, f"delta{d}") for d in range(TABLE_DELTAS)]
        return base, deltas

    def _in_range(self, df: DataFrame) -> DataFrame:
        lo, hi = self.travel_range
        return df.filter(F.col("k").between(lo, hi))

    def compute_reference(self) -> None:
        """Plain DataFrame full-outer merge of each delta into the state."""
        base, deltas = self._inputs()
        state = base
        for delta in deltas:
            d = delta.select(
                F.col("k").alias("dk"), F.col("v").alias("dv"),
                F.col("s").alias("ds"), "op",
            )
            j = state.join(d, state["k"] == d["dk"], "full_outer")
            upd = F.col("op") == "U"
            state = j.filter(F.col("op").isNull() | upd).select(
                F.when(upd, F.col("dk")).otherwise(F.col("k")).alias("k"),
                F.when(upd, F.col("dv")).otherwise(F.col("v")).alias("v"),
                F.when(upd, F.col("ds")).otherwise(F.col("s")).alias("s"),
            )
        self.reference = {
            "latest": fingerprint(state),
            "travel": fingerprint(self._in_range(base)),
        }

    def iterate(self, it: int) -> dict:
        span = self.tracer.span
        spark = self.spark
        table = os.path.join(self.work_dir, f"table-{it}")
        with span("sources.read", it):
            base, deltas = self._inputs()
        with span("table.create", it):
            create_table(spark, base, table, "k", n_files=TABLE_FILES)
        for delta in deltas:
            with span("table.merge", it):
                merge_commit(spark, table, delta, "k", "op", n_files=TABLE_MERGE_FILES)
        with span("table.compact", it):
            compact(spark, table, "k", small_rows=TABLE_ROWS // TABLE_FILES,
                    target_rows=TABLE_ROWS // TABLE_FILES)
        with span("table.read_latest", it):
            latest = fingerprint(read_snapshot(spark, table))
        with span("table.read_travel", it):
            travel = fingerprint(
                self._in_range(read_snapshot(spark, table, 0, self.travel_range))
            )
        self._last_table = table
        return {"latest": latest, "travel": travel}

    def after_iteration(self) -> None:
        shutil.rmtree(self._last_table, ignore_errors=True)

    def traced_extras(self, it: int) -> dict:
        table = self._last_table
        touched = rewritten = before = 0
        for v in range(TABLE_DELTAS):
            old = {e["path"] for e in manifest_entries(table, v)}
            new = manifest_entries(table, v + 1)
            before += len(old)
            touched += len(old - {e["path"] for e in new})
            rewritten += sum(e["rows"] for e in new if e["path"] not in old)
        kept, total = pruned_file_count(table, 0, self.travel_range)
        return {
            "table.files_touched_frac": touched / before,
            "table.rows_rewritten_per_delta_row": rewritten / (TABLE_DELTAS * TABLE_DELTA_ROWS),
            "table.read_pruned_frac": 1.0 - kept / total,
        }


# ------------------------------------------------------------- dedup-upsert


class DedupUpsert(Workload):
    """The corpus-dedup chain, then the table-upsert chain, in each
    iteration. The two share a workload so that a run pays JVM start
    and warm-up once for both layers."""

    name = "dedup-upsert"
    input_rows = CorpusDedup.input_rows + TableUpsert.input_rows
    # the default single warm-up: walls fall from ~14 s to ~8 s after the
    # first iteration and then slowly for ten more, which no run has time for

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        super().__init__(spark, tracer, seed, work_dir)
        self.parts = [
            CorpusDedup(spark, tracer, seed, os.path.join(work_dir, "corpus")),
            TableUpsert(spark, tracer, seed, os.path.join(work_dir, "table")),
        ]

    def generate(self, rep: int) -> None:
        for p in self.parts:
            p.generate(rep)

    def compute_reference(self) -> None:
        for p in self.parts:
            p.compute_reference()
            self.reference.update(p.reference)

    def iterate(self, it: int) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.iterate(it))
        return out

    def after_iteration(self) -> None:
        for p in self.parts:
            p.after_iteration()

    def traced_extras(self, it: int) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.traced_extras(it))
        return out


WORKLOADS = {w.name: w for w in (ThetaJoin, DedupUpsert)}
