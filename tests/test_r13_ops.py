"""Round-13 operator tests: the sketch-only HLL intersection
production form (VERDICT r12 item 7) and other r13 additions."""

from __future__ import annotations


def test_hll_intersection_default_is_sketch_only(spark, sf_dir):
    """The production form (exact_truth=False, the default) must not
    shuffle custkeys: no sort-merge/shuffled-hash join and no distinct
    aggregate in the plan — only the two map-side sketches and the
    1-row scalar attach. Its est_inter must still clear the gate
    bound against a Python set replay."""
    from mapreducenonequijoin_spark.plans.relational import (
        hll_intersection_estimate,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    df = hll_intersection_estimate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the exact arm's distinct() would plan as HashAggregate over
    # o_custkey keys; the sketch form's only aggregates are the two
    # hll_sketch_agg objects
    assert "distinct" not in plan.lower()

    row = df.collect()[0]
    assert row.est_inter == row.est_a + row.est_b - row.est_u

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_custkey"
    ).collect()
    a = {r.o_custkey for r in orders if r.o_orderstatus == "O"}
    b = {r.o_custkey for r in orders if r.o_orderstatus == "F"}
    assert abs(row.est_inter - len(a & b)) * 10 <= row.est_u


def test_hll_intersection_gate_row_uses_exact_arm(spark, sf_dir):
    """The registered gate row is the exact_truth=True form of the
    same kernel — its columns and oracle are unchanged by the r13
    split."""
    from mapreducenonequijoin_spark.plans import QUERIES

    df = QUERIES["agg_hll_intersection_gate"].fn(spark, sf_dir)
    assert df.columns == [
        "n_a",
        "n_b",
        "n_inter_exact",
        "inter_within_10pct_of_union",
    ]


def test_mor_lifecycle_dv_commit_never_rewrites_v1(spark, sf_dir):
    """The MOR lifecycle contract: committing dv2 must leave every v1
    data file byte-identical (names + sizes + mtimes), and the four
    stage rows must be internally consistent (v1 = v2 + deleted) and
    match a Python replay of the merge + delete predicates."""
    import os
    import shutil

    from mapreducenonequijoin_spark.operators.table_format import (
        manifest_entries,
    )
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.warehouse import (
        _mor_build_dv2,
        _mor_dv2_dir,
        _vt_build,
    )
    from mapreducenonequijoin_spark.sources.io import load_table
    from pyspark.sql import functions as F

    d = _vt_build(spark, sf_dir)
    paths = [e["path"] for e in manifest_entries(d, 1)]

    def v1_state():
        out = {}
        for p in paths:
            for root, _, files in os.walk(p):
                for f in files:
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    out[fp] = (st.st_size, st.st_mtime_ns)
        return out

    before = v1_state()
    dvp = _mor_dv2_dir(sf_dir)
    if os.path.exists(dvp):
        shutil.rmtree(dvp)  # force a fresh DV commit
    _mor_build_dv2(spark, sf_dir)
    assert v1_state() == before  # zero v1 rewrites: MOR's whole point

    rows = QUERIES["pipeline_warehouse_mor_lifecycle"].fn(
        spark, sf_dir
    ).collect()
    got = {r.stage: (r.n_rows, r.cents) for r in rows}
    assert len(got) == 4
    assert got["v1_cow_merge"][0] == (
        got["v2_mor_delete"][0] + got["v2_deleted_rows"][0]
    )
    assert got["v1_cow_merge"][1] == (
        got["v2_mor_delete"][1] + got["v2_deleted_rows"][1]
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("cents")
    ).collect()
    t = {r.o_orderkey: r.cents for r in orders}
    v1 = {}
    for k, c in t.items():
        if k % 13 == 1 and k % 7 != 0:
            continue
        v1[k] = c * 105 // 100 if k % 7 == 0 else c
    for k, c in t.items():
        if k % 97 == 3:
            v1[k + 600_000_000] = c
    assert got["v0_write"] == (len(t), sum(t.values()))
    assert got["v1_cow_merge"] == (len(v1), sum(v1.values()))
    dead = {k: c for k, c in v1.items() if k % 11 == 5}
    assert got["v2_deleted_rows"] == (len(dead), sum(dead.values()))
    assert got["v2_mor_delete"] == (
        len(v1) - len(dead),
        sum(v1.values()) - sum(dead.values()),
    )


def test_incremental_salt_hot_pairs_unchanged(spark, sf_dir):
    """The delta×base hot-bucket decomposition must not change the
    reported near-dup pair set (only its task distribution)."""
    from mapreducenonequijoin_spark.operators.dedup import (
        minhash_incremental_pairs,
    )
    from mapreducenonequijoin_spark.sources.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)

    def pairs(salt):
        rows = minhash_incremental_pairs(
            base, delta, "doc_id", "text", threshold=0.5,
            salt_hot=salt, hot_bucket_min=2,
        ).collect()
        return {(r.delta_id, r.base_id, round(r.jaccard, 9)) for r in rows}

    plain = pairs(0)
    assert pairs(16) == plain
    assert plain  # the fixture must actually exercise the path

    # the raw candidates (before any distinct) agree too: same schema,
    # no salt column, and every (pair, band) row exactly once
    from mapreducenonequijoin_spark.operators.dedup import (
        incremental_candidates_raw,
        minhash_signatures,
    )

    sig_d = minhash_signatures(delta, "doc_id", "text")
    sig_b = minhash_signatures(base, "doc_id", "text")

    def raw(salt):
        return incremental_candidates_raw(
            sig_d, sig_b, "doc_id", 2, 16, salt_hot=salt, hot_bucket_min=2
        )

    plain_raw, salted_raw = raw(0), raw(16)
    assert salted_raw.columns == plain_raw.columns
    assert sorted(map(tuple, salted_raw.collect())) == sorted(
        map(tuple, plain_raw.collect())
    )


def test_band_join_salt_hot_pairs_unchanged(spark):
    """band_join's tied-value decomposition must not change the pair
    set: every pair still meets exactly once (no dup, no loss)."""
    from mapreducenonequijoin_spark.operators.joins import band_join
    from pyspark.sql import functions as F

    # 60 uniform values + a hot tie of 25 rows at value 7
    rows = [(i, i % 20) for i in range(60)]
    rows += [(100 + i, 7) for i in range(25)]
    df = spark.createDataFrame(rows, "id long, v long")
    a = df.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"))
    b = df.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"))

    def pairs(salt):
        out = band_join(
            a, b, "a_v", "b_v", lower=-1.0, upper=1.0,
            salt_hot=salt, hot_bucket_min=4,
        ).filter(F.col("a_id") < F.col("b_id")).collect()
        got = [(r.a_id, r.b_id) for r in out]
        assert len(got) == len(set(got))  # exactly-once, even salted
        return set(got)

    plain = pairs(0)
    assert pairs(8) == plain
    # brute-force twin
    vals = dict(rows)
    brute = {
        (x, y)
        for x in vals
        for y in vals
        if x < y and abs(vals[x] - vals[y]) <= 1
    }
    assert plain == brute


def test_count_min_sketch_python_replay(spark, sf_dir):
    """Counters, estimates, and overestimates must equal an exact
    integer Python replay of the affine hash rows."""
    from collections import Counter

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.relational import (
        _CMS_A,
        _CMS_B,
        _CMS_P,
        _CMS_TOPK,
        _CMS_W,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    ks = [
        r.o_custkey
        for r in load_table(spark, sf_dir, "orders").select("o_custkey")
        .collect()
    ]
    counters = Counter()
    for k in ks:
        for d in range(4):
            counters[(d, ((k * _CMS_A[d] + _CMS_B[d]) % _CMS_P) % _CMS_W)] += 1
    exact = Counter(ks)
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:_CMS_TOPK]
    want = {}
    for k, n in top:
        est = min(
            counters[(d, ((k * _CMS_A[d] + _CMS_B[d]) % _CMS_P) % _CMS_W)]
            for d in range(4)
        )
        want[k] = (n, est, est - n)
    rows = QUERIES["agg_count_min_sketch"].fn(spark, sf_dir).collect()
    got = {r.custkey: (r.n_exact, r.n_cms, r.overestimate) for r in rows}
    assert got == want
    assert all(o >= 0 for _, _, o in got.values())  # CMS never undershoots


def test_quantile_binning_python_replay(spark, sf_dir):
    """Bin populations must match a Python replay of the rank
    arithmetic + boundary comparisons, and each group's bins must
    partition the group."""
    from collections import Counter, defaultdict

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity", 0).cast("long").alias("qty"),
    ).collect()
    groups = defaultdict(list)
    for r in li:
        groups[r.grp].append(r.qty)
    want = Counter()
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        q = [vals[(n * p + 99) // 100 - 1] for p in (25, 50, 75)]
        for v in vals:
            b = 0 if v <= q[0] else 1 if v <= q[1] else 2 if v <= q[2] else 3
            want[(g, b)] += 1
    rows = QUERIES["feature_quantile_binning"].fn(spark, sf_dir).collect()
    got = {(r.grp, r.bin_no): r.n_rows for r in rows}
    assert got == dict(want)
    for g, vals in groups.items():
        assert sum(v for (gg, _), v in got.items() if gg == g) == len(vals)


def test_entity_resolution_python_replay(spark, sf_dir):
    """Matched pairs and survivorship must equal a Python replay of
    the blocking + Levenshtein + keep-best rule."""
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table
    from pyspark.sql import functions as F

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    ).collect()
    blocks = defaultdict(list)
    for r in cust:
        blocks[(r.c_name[:16], r.c_nationkey)].append(r)
    want = {}
    for members in blocks.values():
        members.sort(key=lambda r: r.c_custkey)
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                d = lev(a.c_name, b.c_name)
                if d <= 2:
                    keep = (
                        a.c_custkey
                        if a.bal > b.bal
                        else b.c_custkey if b.bal > a.bal else a.c_custkey
                    )
                    want[(a.c_custkey, b.c_custkey)] = (d, keep)
    rows = QUERIES["dedup_entity_resolution"].fn(spark, sf_dir).collect()
    got = {(r.a_custkey, r.b_custkey): (r.lev_dist, r.keep_custkey)
           for r in rows}
    assert got == want
    assert want  # the fixture must exercise the match path


def test_multimodal_dedup_cluster_consistency(spark, sf_dir):
    """Cluster rows must union-find-replay the phash Hamming pair
    graph, and the byte accounting must equal the closed-form raster
    dims of evicted members."""
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.llm import dedup_phash_hamming

    pairs = [(r.a_id, r.b_id)
             for r in dedup_phash_hamming(spark, sf_dir).collect()]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    px = lambda d: 3 * (8 + (d % 250) % 9) * (8 + ((d % 250) * 7) % 5)
    want = {
        rep: (len(vs), sum(px(v) for v in vs if v != rep))
        for rep, vs in comp.items()
    }
    rows = QUERIES["pipeline_multimodal_dedup"].fn(spark, sf_dir).collect()
    got = {r.rep_id: (r.n_members, r.px_bytes_saved) for r in rows}
    assert got == want
    assert all(n >= 2 for n, _ in got.values())  # singletons never emit


def test_tokenize_pack_shard_python_replay(spark, sf_dir):
    """Per-shard accounting must equal a Python replay of the packing
    prefix sum + md5 HRW argmax, and totals must conserve."""
    import hashlib
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.datapipe import (
        _CTX_WINDOW,
        _HRW_SHARDS,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in docs:
        by_src[r.source].append((r.doc_id, len(r.text.split(" "))))
    seqs = defaultdict(lambda: [0, 0])  # (src, seq) -> [docs, toks]
    for src, rows_ in by_src.items():
        rows_.sort()
        off = 0
        for _, n in rows_:
            s = seqs[(src, off // _CTX_WINDOW)]
            s[0] += 1
            s[1] += n
            off += n
    want = defaultdict(lambda: [0, 0, 0])
    for (src, sid), (nd, tk) in seqs.items():
        shard = max(
            range(_HRW_SHARDS),
            key=lambda i: (
                hashlib.md5(f"{src}/{sid}#{i}".encode()).hexdigest(), -i
            ),
        )
        w = want[shard]
        w[0] += 1
        w[1] += nd
        w[2] += tk
    rows = QUERIES["pipeline_tokenize_pack_shard"].fn(spark, sf_dir).collect()
    got = {r.shard: [r.n_sequences, r.n_docs, r.tok_sum] for r in rows}
    assert got == dict(want)
    assert sum(v[1] for v in got.values()) == len(docs)  # doc conservation
