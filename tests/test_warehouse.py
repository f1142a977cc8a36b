"""Invariant tests for the warehouse-maintenance plans (round 6):
properties the DuckDB oracle can't express — interval consistency,
probability-mass conservation, merge-count arithmetic."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_scd2_intervals_chain(spark):
    from mapreducenonequijoin_spark.plans.warehouse import scd2_dimension

    rows = scd2_dimension(spark, SF_DIR).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, versions in by_user.items():
        versions.sort(key=lambda r: r.version)
        # versions are 1..n dense; each interval closes where the next opens
        assert [v.version for v in versions] == list(range(1, len(versions) + 1))
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type
        assert versions[-1].valid_to is None  # current version is open


def test_pagerank_mass_and_bounds(spark):
    from mapreducenonequijoin_spark.plans.warehouse import graph_pagerank

    rows = graph_pagerank(spark, SF_DIR).collect()
    assert len(rows) == 25
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # undirected graph, no dangling mass: every rank ≥ teleport floor
    assert all(r > 0 for r in ranks)


def test_merge_upsert_counts_consistent(spark):
    from mapreducenonequijoin_spark.plans.warehouse import sink_merge_upsert
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = {r.merge_action: r for r in sink_merge_upsert(spark, SF_DIR).collect()}
    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert set(rows) <= {"updated", "inserted", "unchanged"}
    n_upd = rows["updated"].n_rows if "updated" in rows else 0
    n_unc = rows["unchanged"].n_rows if "unchanged" in rows else 0
    # every target row survives the merge exactly once
    assert n_upd + n_unc == n_orders


def test_feature_bucketize_partitions_rows(spark):
    from mapreducenonequijoin_spark.plans.warehouse import feature_bucketize
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = feature_bucketize(spark, SF_DIR).collect()
    n_orders = load_table(spark, SF_DIR, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders
    assert {r.bucket_no for r in rows} <= set(range(10))
    los = [r.bucket_lo for r in sorted(rows, key=lambda r: r.bucket_no)]
    assert los == sorted(los)


def test_gapfill_dense_and_conserves_counts(spark):
    from mapreducenonequijoin_spark.plans.analytics import timeseries_gapfill
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = timeseries_gapfill(spark, SF_DIR).collect()
    hours = sorted({r.epoch_hour for r in rows})
    # dense spine: every hour between min and max present for every type
    assert hours == list(range(hours[0], hours[-1] + 1))
    types = {r.event_type for r in rows}
    assert len(rows) == len(hours) * len(types)
    n_total = sum(r.n_events for r in rows)
    assert n_total == load_table(spark, SF_DIR, "events").count()


def test_kmeans_assign_partitions_all_vectors(spark):
    from mapreducenonequijoin_spark.plans.warehouse import cluster_kmeans_assign
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = cluster_kmeans_assign(spark, SF_DIR).collect()
    assert sum(r.n_points for r in rows) == load_table(
        spark, SF_DIR, "embeddings"
    ).count()
    assert {r.cluster_id for r in rows} <= {0, 1, 2, 3}


def test_pagerank_empty_graph(spark, tmp_path):
    """Empty inputs must yield an empty, correctly-typed result, not a
    1/0 at plan-build time."""
    from mapreducenonequijoin_spark.plans.warehouse import graph_pagerank

    d = str(tmp_path / "sf_empty")
    for t in ("orders", "lineitem"):
        full = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        full.limit(0).write.parquet(f"{d}/{t}.parquet")
    out = graph_pagerank(spark, d)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node_id", "rank"]


def test_versioned_merge_shares_untouched_files_and_prunes(spark, tmp_path):
    """The copy-on-write contract: a keyed MERGE must rewrite ONLY the
    files whose key envelope the delta touches — the v1 manifest
    shares the untouched v0 files BY PATH, byte-identical — and time
    travel to v0 returns the exact pre-merge table."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        current_version,
        manifest_entries,
        merge_commit,
        read_snapshot,
    )

    d = str(tmp_path / "vt")
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    create_table(spark, base, d, "k", n_files=8)
    v0 = manifest_entries(d, 0)
    assert len(v0) == 8

    # delta touches only keys 0..99 → at most ~1-2 of the 8 range files
    # (updates and deletes on DISJOINT keys: real MERGE rejects
    # multiple source rows per key, and so does merge_commit)
    delta = (
        spark.range(0, 100)
        .filter(~((F.col("id") >= 50) & (F.col("id") < 60)))
        .select(F.col("id").alias("k"), (F.col("id") + 10_000).alias("v"),
                F.lit("U").alias("op"))
        .union(
            spark.range(50, 60).select(
                F.col("id").alias("k"), F.lit(None).cast("long").alias("v"),
                F.lit("D").alias("op"),
            )
        )
    )
    assert merge_commit(spark, d, delta, "k", n_files=2) == 1
    v1 = manifest_entries(d, 1)
    v0_paths, v1_paths = {e["path"] for e in v0}, {e["path"] for e in v1}
    shared = v0_paths & v1_paths
    assert len(shared) >= 5, f"only {len(shared)} of 8 v0 files survived"
    assert len(v1_paths - v0_paths) >= 1  # rewritten files exist

    # merged semantics: deletes gone, updates applied, rest untouched
    got = {(r.k, r.v) for r in read_snapshot(spark, d).collect()}
    want = {
        (k, k + 10_000) for k in range(0, 100) if not (50 <= k < 60)
    } | {(k, 3 * k) for k in range(100, 1000)}
    assert got == want

    # time travel: v0 unchanged after the commit
    tt = {(r.k, r.v) for r in read_snapshot(spark, d, version=0).collect()}
    assert tt == {(k, 3 * k) for k in range(1000)}
    assert current_version(d) == 1


def test_versioned_merge_insert_outside_all_ranges(spark, tmp_path):
    """An insert whose key is beyond every file envelope must land in
    a new file without touching any existing one."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        manifest_entries,
        merge_commit,
        read_snapshot,
    )

    d = str(tmp_path / "vt2")
    base = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    create_table(spark, base, d, "k", n_files=4)
    delta = spark.createDataFrame([(5_000, 9, "U")], "k long, v long, op string")
    merge_commit(spark, d, delta, "k", n_files=1)
    v0p = {e["path"] for e in manifest_entries(d, 0)}
    v1p = {e["path"] for e in manifest_entries(d, 1)}
    assert v0p <= v1p  # every v0 file shared
    assert read_snapshot(spark, d).count() == 101


def test_versioned_merge_rejects_duplicate_delta_keys(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        merge_commit,
    )

    d = str(tmp_path / "vt3")
    create_table(
        spark,
        spark.range(10).select(F.col("id").alias("k"), F.lit(0).alias("v")),
        d, "k", n_files=2,
    )
    dup = spark.createDataFrame(
        [(1, 5, "U"), (1, None, "D")], "k long, v long, op string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_commit(spark, d, dup, "k")


def _file_stats(spark, path, key_col):
    from pyspark.sql import functions as F

    r = spark.read.parquet(path).agg(
        F.min(key_col).alias("min"), F.max(key_col).alias("max"),
        F.count("*").alias("rows"),
    ).first()
    return r.asDict()


def test_versioned_chain_metadata_matches_spark(spark, tmp_path):
    """create -> merge (updates, deletes and an insert beyond every
    envelope) -> merge (one key in a gap between envelopes, touching
    no file) -> compact: every version's stored schema equals Spark's
    inferred schema of its files, and every manifest entry's footer
    min/max/rows equals a Spark aggregate over that file."""
    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        compact,
        create_table,
        manifest_entries,
        merge_commit,
        read_snapshot,
        stored_schema,
    )

    d = str(tmp_path / "chain")
    base = spark.range(0, 1000).select(
        (F.col("id") * 2).alias("k"),
        (F.col("id") * 0.5).alias("x"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        F.array(F.col("id")).alias("tags"),
    )
    create_table(spark, base, d, "k", n_files=8)
    cols = "k long, x double, s string, tags array<long>, op string"
    d1 = spark.createDataFrame(
        [(k, -1.0, "u", [k], "U") for k in range(0, 100, 4)]
        + [(k, None, None, None, "D") for k in range(2, 100, 4)]
        + [(5_001, 7.0, "new", [1], "U")],
        cols,
    )
    assert merge_commit(spark, d, d1, "k", n_files=2) == 1
    v1 = manifest_entries(d, 1)
    # keys are even, so max + 1 of some file is in no envelope
    gap = next(
        e["max"] + 1 for e in v1
        if not any(o["min"] <= e["max"] + 1 <= o["max"] for o in v1)
    )
    d2 = spark.createDataFrame([(gap, 9.0, "gap", [2], "U")], cols)
    assert merge_commit(spark, d, d2, "k", n_files=1) == 2
    v2 = manifest_entries(d, 2)
    assert {e["path"] for e in v1} <= {e["path"] for e in v2}
    assert compact(spark, d, "k", small_rows=100, target_rows=200)[0] == 3

    for v in range(4):
        entries = manifest_entries(d, v)
        paths = [e["path"] for e in entries]
        assert stored_schema(d, v) == spark.read.parquet(*paths).schema, v
        for e in entries:
            assert _file_stats(spark, e["path"], "k") == {
                "min": e["min"], "max": e["max"], "rows": e["rows"]
            }, (v, e)
    want = {2 * i for i in range(1000)} - set(range(2, 100, 4)) | {5_001, gap}
    assert {r.k for r in read_snapshot(spark, d).collect()} == want


def test_versioned_table_reads_without_schema_files(spark, tmp_path):
    """A table whose schema files are missing (written before they
    existed) reads back identically through schema inference: latest,
    time travel, pruned and fully pruned scans; its next commit stores
    a schema again."""
    import glob
    import os

    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        merge_commit,
        read_snapshot,
        stored_schema,
    )

    d = str(tmp_path / "legacy")
    base = spark.range(0, 400).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    create_table(spark, base, d, "k", n_files=4)
    delta = spark.createDataFrame([(3, "w", "U"), (7, None, "D")], "k long, v string, op string")
    merge_commit(spark, d, delta, "k", n_files=1)

    def reads():
        frames = [
            read_snapshot(spark, d),
            read_snapshot(spark, d, version=0),
            read_snapshot(spark, d, key_range=(0, 50)),
            read_snapshot(spark, d, key_range=(10_000, 20_000)),
        ]
        return [(f.schema, sorted(f.collect())) for f in frames]

    with_schema = reads()
    removed = glob.glob(f"{d}/_manifests/schema-v*.json")
    assert len(removed) == 2
    for p in removed:
        os.remove(p)
    assert stored_schema(d, 1) is None
    assert reads() == with_schema
    assert with_schema[3][1] == []
    merge_commit(spark, d, delta.filter("op = 'U'"), "k", n_files=1)
    assert stored_schema(d, 2) == with_schema[0][0]


def test_empty_snapshot_reads_with_stored_schema(spark, tmp_path):
    """A zero-file version reads as an empty frame of its stored
    schema, and merging into it works (the streaming-sink bootstrap)."""
    from mapreducenonequijoin_spark.operators.table_format import (
        create_table,
        manifest_entries,
        merge_commit,
        read_snapshot,
    )

    d = str(tmp_path / "empty")
    seed = spark.createDataFrame([(-1, -1.0)], "k long, x double").filter("k > 0")
    create_table(spark, seed, d, "k", n_files=1)
    assert manifest_entries(d, 0) == []
    v0 = read_snapshot(spark, d)
    assert v0.collect() == [] and v0.dtypes == [("k", "bigint"), ("x", "double")]
    delta = spark.createDataFrame([(5, 1.5, "U")], "k long, x double, op string")
    assert merge_commit(spark, d, delta, "k", n_files=1) == 1
    assert [tuple(r) for r in read_snapshot(spark, d).collect()] == [(5, 1.5)]
    assert read_snapshot(spark, d, version=0).collect() == []


def test_load_table_reinfers_after_overwrite(spark, tmp_path):
    """load_table's schema memo is keyed on the files: overwriting the
    same path with a different schema is read with the new schema."""
    from mapreducenonequijoin_spark.sources.io import load_table, sink_parquet

    path = str(tmp_path / "t.parquet")
    sink_parquet(spark.createDataFrame([(1,)], "a long"), path)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    sink_parquet(spark.createDataFrame([("x", 2)], "a string, b int"), path)
    got = load_table(spark, str(tmp_path), "t")
    assert got.dtypes == [("a", "string"), ("b", "int")]
    assert [tuple(r) for r in got.collect()] == [("x", 2)]


def test_branch_commit_stores_its_schema(spark, tmp_path):
    """A branch commit stores its read schema beside its manifest, out
    of the main chain's version scan; read_ref reads with it and gets
    what inference gets, and a branch commit without a schema file
    falls back to inference."""
    import json
    import os

    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators.table_format import (
        _branch_manifest_path,
        _branch_schema_path,
        branch_commit,
        create_table,
        current_version,
        read_ref,
    )

    d = str(tmp_path / "branched")
    base = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("int").alias("v")
    )
    create_table(spark, base, d, "k", n_files=3)
    fork = base.filter("k % 3 = 0").withColumn("tag", F.lit("exp"))
    assert branch_commit(spark, d, "exp", fork, "k", from_version=0, n_files=2) == 0
    assert current_version(d) == 0
    assert os.path.exists(_branch_schema_path(d, "exp", 0))
    with open(_branch_manifest_path(d, "exp", 0)) as fh:
        branch_paths = [e["path"] for e in json.load(fh)]
    inferred = spark.read.parquet(*branch_paths)
    got = read_ref(spark, d, "exp")
    assert got.schema == inferred.schema
    assert sorted(got.collect()) == sorted(inferred.collect())
    os.remove(_branch_schema_path(d, "exp", 0))
    legacy = read_ref(spark, d, "exp")
    assert legacy.schema == inferred.schema
    assert sorted(legacy.collect()) == sorted(inferred.collect())


def test_fresh_versioned_table_has_every_schema_file(spark, tmp_path, monkeypatch):
    """Every version _vt_build writes has its schema file, equal to the
    schema Spark infers for that version's files."""
    from mapreducenonequijoin_spark.operators.table_format import (
        current_version,
        manifest_entries,
        stored_schema,
    )
    from mapreducenonequijoin_spark.plans import warehouse

    monkeypatch.setattr(warehouse, "_vt_dir", lambda sf: str(tmp_path / "vt"))
    d = warehouse._vt_build(spark, SF_DIR)
    assert current_version(d) == 1
    for v in (0, 1):
        paths = [e["path"] for e in manifest_entries(d, v)]
        assert stored_schema(d, v) == spark.read.parquet(*paths).schema


def test_snapshot_scan_prunes_files(spark):
    """A 10k-wide key-range scan over the sf0.01 versioned table must
    open strictly fewer files than the manifest lists (the min/max
    envelopes are range-disjoint, so most files can't intersect)."""
    from mapreducenonequijoin_spark.operators.table_format import (
        current_version,
        pruned_file_count,
    )
    from mapreducenonequijoin_spark.plans.warehouse import _vt_build

    d = _vt_build(spark, SF_DIR)
    kept, total = pruned_file_count(d, current_version(d), (10_000, 20_000))
    assert kept >= 1 and kept < total, (kept, total)


def test_temporal_validity_join_covers_every_event_once(spark):
    """Half-open SCD2 intervals partition each user's timeline, so the
    temporal lookup must resolve EVERY event to EXACTLY one dimension
    version."""
    from mapreducenonequijoin_spark.plans.warehouse import join_temporal_validity
    from mapreducenonequijoin_spark.sources.io import load_table

    out = join_temporal_validity(spark, SF_DIR)
    n_events = load_table(spark, SF_DIR, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_connected_components_structure(spark):
    """The congruence restriction must produce MANY components (mod-10
    classes can't connect), every component label must be a member of
    its own component, and labels must be the component minimum (the
    min-label propagation contract)."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        graph_connected_components,
    )

    rows = graph_connected_components(spark, "/root/testdata/sf0.01").collect()
    comps: dict[str, set] = {}
    for r in rows:
        comps.setdefault(r.component, set()).add(r.node_id)
    assert len(comps) >= 10  # at least the 10 congruence classes
    for rep, members in comps.items():
        assert rep in members  # representative belongs to its component


def test_triangle_count_third_of_corner_sum(spark):
    """Σ per-node triangle counts must equal 3 × (total triangles) —
    each triangle has exactly three corners — and every count must be
    positive (zero-triangle nodes emit no row)."""
    from mapreducenonequijoin_spark.plans.warehouse import graph_triangle_count

    rows = graph_triangle_count(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    assert all(r.n_triangles > 0 for r in rows)
    assert sum(r.n_triangles for r in rows) % 3 == 0


def test_bfs_distance_triangle_inequality_on_edges(spark):
    """BFS sanity: seeds are at distance 0; every non-seed reachable
    node's distance is 1 + min over neighbors (level-synchronous
    consistency); horizon cap 4 respected."""
    from mapreducenonequijoin_spark.plans.warehouse import graph_bfs_distance

    rows = graph_bfs_distance(spark, "/root/testdata/sf0.01").collect()
    dist = {r.node_id: r.dist for r in rows}
    assert rows and max(dist.values()) <= 4
    seeds = {n for n, d in dist.items() if d == 0}
    assert seeds and all(n.startswith("c") for n in seeds)
    assert all(int(n[1:]) % 7 == 0 for n in seeds)


def test_continuous_aggregate_matches_direct_daily(spark):
    """Rolling up hourly partials must give the SAME daily figures as
    aggregating raw events straight to days (mergeability contract)."""
    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import (
        rollup_continuous_aggregate,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.day: (r.n_events, r.total_value) for r in
           rollup_continuous_aggregate(spark, sf).collect()}
    direct = (
        load_table(spark, sf, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").cast("string").alias("day"))
        .agg(F.count("*").alias("n"),
             (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("tv"))
        .collect()
    )
    assert got == {r.day: (r.n, r.tv) for r in direct}


def test_jaccard_neighbors_bounds_and_symmetric_support(spark):
    """Jaccard must lie in (0, 1], n_common >= 3, and pairs are
    oriented a < b exactly once."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        graph_jaccard_neighbors,
    )

    rows = graph_jaccard_neighbors(spark, "/root/testdata/sf0.01").collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.a < r.b and (r.a, r.b) not in seen
        seen.add((r.a, r.b))
        assert r.n_common >= 3
        assert 0.0 < r.jaccard <= 1.0


def test_yoy_growth_null_first_year(spark):
    """Every priority's first 12 months must have NULL growth; any
    month with a 12-back sibling must be non-null."""
    from mapreducenonequijoin_spark.plans.analytics import timeseries_yoy_growth

    rows = timeseries_yoy_growth(spark, "/root/testdata/sf0.001").collect()
    by_pri: dict = {}
    for r in rows:
        by_pri.setdefault(r.priority, []).append(r)
    for pri, ms in by_pri.items():
        ms.sort(key=lambda r: r.month)
        for i, r in enumerate(ms):
            if i < 12:
                assert r.yoy_growth is None
            else:
                assert r.yoy_growth is not None


def test_label_propagation_within_components(spark, sf_dir):
    """A propagated label can only travel along edges, so no LPA
    community may span two connected components; and after 3 rounds
    every vertex's label is some vertex of its own component."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        graph_connected_components,
        graph_label_propagation,
    )

    cc = {r.node_id: r.component for r in graph_connected_components(spark, sf_dir).collect()}
    lpa = graph_label_propagation(spark, sf_dir).collect()
    assert len(lpa) == len(cc)
    comm_to_comp = {}
    for r in lpa:
        assert cc[r.community] == cc[r.node_id], (r, "label crossed a component")
        comm_to_comp.setdefault(r.community, cc[r.node_id])


def test_accumulating_snapshot_milestone_order(spark, sf_dir):
    """Milestones must be internally consistent: first_ship <=
    last_ship, the lag equals the recomputed date difference, and
    every sampled order's line count matches a direct recount."""
    from datetime import date

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.warehouse import warehouse_accumulating_snapshot
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = warehouse_accumulating_snapshot(spark, sf_dir).collect()
    assert rows
    recount = {
        r.l_orderkey: r.n
        for r in load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 25 == 0)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        first, last, placed = (
            date.fromisoformat(r.first_ship_day),
            date.fromisoformat(r.last_ship_day),
            date.fromisoformat(r.placed_day),
        )
        assert first <= last
        assert r.days_to_first_ship == (first - placed).days
        assert r.n_lines == recount[r.o_orderkey] >= 1


def test_interpolate_linear_contract(spark, sf_dir):
    """Observed rows reproduce the exact per-hour mean; interpolated
    rows sit on the straight line between their observed anchors (and
    strictly between them in value when anchors differ); edges are
    null; each series' spine is dense from first to last observed
    hour."""
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans.analytics import timeseries_interpolate_linear
    from mapreducenonequijoin_spark.sources.io import load_table

    import pyspark.sql.functions as F

    rows = timeseries_interpolate_linear(spark, sf_dir).collect()
    by_type = defaultdict(dict)
    for r in rows:
        by_type[r.event_type][r.epoch_hour] = r

    raw = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 13 == 0)
        .select(
            "event_type",
            (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("eh"),
            F.round(F.col("value") * 1_000_000).cast("long").alias("v"),
        )
        .collect()
    )
    sums = defaultdict(lambda: [0, 0])
    for r in raw:
        acc = sums[(r.event_type, r.eh)]
        acc[0] += r.v
        acc[1] += 1

    for et, series in by_type.items():
        hours = sorted(series)
        assert hours == list(range(hours[0], hours[-1] + 1)), "spine not dense"
        obs_hours = [h for h in hours if series[h].src == "observed"]
        assert obs_hours, et
        for h in hours:
            r = series[h]
            if r.src == "observed":
                s, c = sums[(et, h)]
                assert r.value == round((s / c) / 1_000_000, 6)
            elif r.src == "edge":
                assert r.value is None
                assert h < obs_hours[0] or h > obs_hours[-1]
            else:
                prev = max(o for o in obs_hours if o < h)
                nxt = min(o for o in obs_hours if o > h)
                ps, pc = sums[(et, prev)]
                ns, nc = sums[(et, nxt)]
                pm, nm = ps / pc, ns / nc
                want = pm + ((nm - pm) * (h - prev)) / (nxt - prev)
                assert r.value == round(want / 1_000_000, 6)
                lo, hi = sorted((round(pm / 1e6, 6), round(nm / 1e6, 6)))
                assert lo - 1e-6 <= r.value <= hi + 1e-6


def test_entropy_gini_recompute(spark, sf_dir):
    """Per-user entropy/Gini must match the Python reference; both are
    0 for single-type users and bounded by ln(k) / (1 - 1/k)."""
    import math
    from collections import Counter

    from mapreducenonequijoin_spark.plans.analytics import agg_entropy_gini
    from mapreducenonequijoin_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type").collect()
    per_user = Counter()
    counts = Counter()
    for r in ev:
        counts[(r.user_id, r.event_type)] += 1
    users = {}
    for (u, _t), c in counts.items():
        users.setdefault(u, []).append(c)
    for r in agg_entropy_gini(spark, sf_dir).collect():
        cs = users[r.user_id]
        n = sum(cs)
        assert (r.n, r.n_types) == (n, len(cs))
        ent = round(math.log(n) - sum(c * math.log(c) for c in cs) / n, 6)
        gini = round((n * n - sum(c * c for c in cs)) / (n * n), 6)
        # hash-agg float fold order may differ from Python's list order
        # by 1 ulp pre-round; allow the last digit to wobble
        assert abs(r.entropy - ent) <= 1e-6
        assert r.gini == gini
        assert -1e-6 <= r.entropy <= math.log(len(cs)) + 1e-6
        assert 0 <= r.gini <= 1 - 1 / len(cs) + 1e-9


def test_k_core_is_converged_fixpoint(spark, sf_dir):
    """The 4 unrolled rounds must reach the true k-core at this SF:
    every surviving node has core-degree >= k, the result equals a
    Python peel-to-fixpoint on the same edge set, and fixpoint arrives
    by round 3 (so round 4 is a no-op — the convergence margin the
    docstring claims)."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.warehouse import _KCORE_K, graph_k_core
    from mapreducenonequijoin_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    rows = li.filter(F.col("l_orderkey") % 23 == 0).collect()
    per_order = defaultdict(set)
    for r in rows:
        per_order[r.l_orderkey].add(r.l_suppkey)
    edges = set()
    for sup in per_order.values():
        ss = sorted(sup)
        for i, a in enumerate(ss):
            for b in ss[i + 1 :]:
                if b - a <= 15:
                    edges.add((a, b))
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    rounds_needed = 0
    alive = set(adj)
    while True:
        drop = {v for v in alive if sum(1 for u in adj[v] if u in alive) < _KCORE_K}
        if not drop:
            break
        alive -= drop
        rounds_needed += 1
    assert rounds_needed <= 3, f"fixture needs {rounds_needed} rounds; raise _KCORE_ROUNDS"
    want = {
        v: sum(1 for u in adj[v] if u in alive) for v in alive
    }
    got = {r.node_id: r.core_degree for r in graph_k_core(spark, sf_dir).collect()}
    assert got == want
    assert all(d >= _KCORE_K for d in got.values())


def test_max_drawdown_reference(spark, sf_dir):
    """Max drawdown per series must equal the running peak-minus-equity
    recompute; drawdown is within [0,1] and 0 iff the curve is
    monotone nondecreasing."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import win_max_drawdown
    from mapreducenonequijoin_spark.sources.io import load_table

    daily = defaultdict(dict)
    for r in (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 100 == 0)
        .select(
            F.col("o_custkey").alias("s"),
            F.col("o_orderdate").cast("date").cast("string").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
        .collect()
    ):
        daily[r.s][r.day] = daily[r.s].get(r.day, 0) + r.pc
    for r in win_max_drawdown(spark, sf_dir).collect():
        eq, peak, dd = 0, 0, 0
        for day in sorted(daily[r.series]):
            eq += daily[r.series][day]
            peak = max(peak, eq)
            dd = max(dd, peak - eq)
        assert r.n_days == len(daily[r.series])
        assert (r.peak_cents, r.max_dd_cents) == (peak, dd)
        assert r.max_drawdown == round(dd / peak, 6)
        assert 0 <= r.max_drawdown <= 1


def test_cusum_changepoint_reference(spark, sf_dir):
    """The reported hour must be the argmax of |n·Σv − k·total| over
    each series' hourly sums (earlier hour on ties)."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import timeseries_cusum_changepoint
    from mapreducenonequijoin_spark.sources.io import load_table

    hourly = defaultdict(dict)
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("eh"),
            F.round(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
        .groupBy("event_type", "eh")
        .agg(F.sum("vm").alias("v"))
        .collect()
    ):
        hourly[r.event_type][r.eh] = r.v
    got = {r.event_type: (r.change_eh, r.max_abs_cusum) for r in
           timeseries_cusum_changepoint(spark, sf_dir).collect()}
    assert set(got) == set(hourly)
    for et, series in hourly.items():
        n = len(series)
        tot = sum(series.values())
        best = None
        run = 0
        for k, eh in enumerate(sorted(series), start=1):
            run += series[eh] * n
            c = abs(run - k * tot)
            if best is None or c > best[1]:
                best = (eh, c)
        assert got[et] == best


def test_holt_linear_reference_recurrence(spark, sf_dir):
    """Level/trend must follow the Holt recurrences exactly (same op
    order as the plan); forecast is level+trend; first step inits
    l=x, b=0."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import timeseries_holt_linear
    from mapreducenonequijoin_spark.sources.io import load_table

    series = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 25 == 3)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        series[r.user_id].append((r.ts, r.event_id, float(r.value)))
    got = defaultdict(dict)
    for r in timeseries_holt_linear(spark, sf_dir).collect():
        got[r.user_id][r.rn] = (r.level_micro, r.trend_micro, r.forecast1_micro)
    assert set(got) == set(series)
    for uid, rows in series.items():
        rows.sort()
        lvl = trend = None
        for rn, (_, _, x) in enumerate(rows, start=1):
            if lvl is None:
                lvl, trend = x, 0.0
            else:
                new_lvl = 0.5 * x + 0.5 * (lvl + trend)
                trend = 0.3 * ((0.5 * x + 0.5 * (lvl + trend)) - lvl) + 0.7 * trend
                lvl = new_lvl
            g = got[uid][rn]
            # truncated micros (r14 boundary-free display)
            assert g == (
                int(lvl * 1000000.0),
                int(trend * 1000000.0),
                int((lvl + trend) * 1000000.0),
            )


def test_last_touch_attribution_reference(spark, sf_dir):
    """Channel assignment must match a sequential per-user replay:
    latest strictly-preceding click/view within 7 days, else organic;
    totals partition the purchase set."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import attribution_last_touch
    from mapreducenonequijoin_spark.sources.io import load_table

    events = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id", "value",
                F.unix_micros("ts").alias("us"))
        .collect()
    ):
        events[r.user_id].append((r.us, r.event_id, r.event_type, r.value))
    want = defaultdict(lambda: [0, 0])
    for rows in events.values():
        rows.sort()
        touch = None
        for us, _eid, etype, value in rows:
            if etype == "purchase":
                ch = (
                    touch[1]
                    if touch is not None and us - touch[0] <= 604_800_000_000
                    else "organic"
                )
                want[ch][0] += 1
                want[ch][1] += round(value * 100)
            if etype in ("click", "view"):
                touch = (us, etype)
    got = {r.channel: (r.n_purchases, r.value_cents)
           for r in attribution_last_touch(spark, sf_dir).collect()}
    assert got == {k: tuple(v) for k, v in want.items()}
    assert sum(n for n, _ in got.values()) == sum(
        1 for rows in events.values() for _, _, t, _ in rows if t == "purchase"
    )


def test_time_weighted_avg_reference(spark, sf_dir):
    """TWA must equal the sequential LOCF integral; span is the sum of
    holding intervals; the TWA lies within [min, max] of the series."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import timeseries_time_weighted_avg
    from mapreducenonequijoin_spark.sources.io import load_table

    series = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id",
                F.unix_micros("ts").alias("us"),
                F.round(F.col("value") * 100).cast("long").alias("cents"))
        .collect()
    ):
        series[r.event_type].append((r.us, r.event_id, r.cents))
    got = {r.event_type: r for r in timeseries_time_weighted_avg(spark, sf_dir).collect()}
    assert set(got) == set(series)
    for et, rows in series.items():
        rows.sort()
        num = span = 0
        for (us, _e, c), (nus, _e2, _c2) in zip(rows, rows[1:]):
            num += c * (nus - us)
            span += nus - us
        r = got[et]
        assert r.n_intervals == len(rows) - 1
        assert r.span_us == span
        assert r.twa == round(num / span / 100, 6)
        cs = [c for _, _, c in rows]
        assert min(cs) / 100 - 1e-6 <= r.twa <= max(cs) / 100 + 1e-6


def test_degree_distribution_conserves_nodes_and_edges(spark, sf_dir):
    """Σ n_nodes = node count, Σ degree·n_nodes = 2·|edges| (handshake
    lemma), histogram matches the k-core edge set's degrees."""
    from collections import Counter, defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.warehouse import graph_degree_distribution
    from mapreducenonequijoin_spark.sources.io import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 23 == 0)
        .select("l_orderkey", "l_suppkey")
        .collect()
    )
    per_order = defaultdict(set)
    for r in li:
        per_order[r.l_orderkey].add(r.l_suppkey)
    edges = set()
    for sup in per_order.values():
        ss = sorted(sup)
        for i, x in enumerate(ss):
            for y in ss[i + 1 :]:
                if y - x <= 15:
                    edges.add((x, y))
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    want = Counter(deg.values())
    got = {r.degree: r.n_nodes for r in graph_degree_distribution(spark, sf_dir).collect()}
    assert got == dict(want)
    assert sum(d * n for d, n in got.items()) == 2 * len(edges)


def test_covariance_pairs_numpy_reference(spark, sf_dir):
    """Sampled covariances must match numpy over the milli-quantized
    matrix; diagonal entries equal the population variance and every
    correlation implied is within [-1, 1]."""
    import numpy as np

    from mapreducenonequijoin_spark.plans.warehouse import agg_covariance_pairs
    from mapreducenonequijoin_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    mat = np.stack([
        np.round(np.array(r.embedding, dtype=np.float64) * 1000)
        for r in sorted(emb, key=lambda r: r.vec_id)
    ])
    n = mat.shape[0]
    got = {(r.d1, r.d2): r.cov for r in agg_covariance_pairs(spark, sf_dir).collect()}
    assert set(got) == {(i, j) for i in range(0, 64, 8) for j in range(0, 64, 8) if i <= j}
    for (i, j), cov in got.items():
        x, y = mat[:, i], mat[:, j]
        want = (n * (x * y).sum() - x.sum() * y.sum()) / (n * n) / 1e6
        assert abs(cov - round(want, 6)) <= 2e-6
        if i == j:
            assert cov >= 0
    for (i, j), cov in got.items():
        if i != j:
            rho = cov / (got[(i, i)] * got[(j, j)]) ** 0.5
            assert -1.001 <= rho <= 1.001


def test_ltob_picks_max_area_per_bucket(spark, sf_dir):
    """Each bucket's survivor must carry the maximum doubled triangle
    area among the bucket's interior points (event-id tiebreak),
    recomputed sequentially in Python; one survivor per non-empty
    bucket."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from mapreducenonequijoin_spark.plans.analytics import (
        _LTOB_BUCKETS,
        timeseries_downsample_ltob,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    series = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 9 == 0)
        .select("event_type", "event_id", F.unix_micros("ts").alias("x"),
                F.round(F.col("value") * 100).cast("long").alias("y"), "ts")
        .collect()
    ):
        series[r.event_type].append((r.ts, r.event_id, r.x, r.y))
    want = {}
    for et, pts in series.items():
        pts.sort()
        n = len(pts)
        # ntile bucket boundaries (SQL semantics: first n%k buckets one larger)
        k = _LTOB_BUCKETS
        base, extra = divmod(n, k)
        bucket_of = {}
        idx = 0
        for b in range(1, k + 1):
            size = base + (1 if b <= extra else 0)
            for _ in range(size):
                bucket_of[idx] = b
                idx += 1
        best = {}
        for i in range(1, n - 1):
            _, eid, x, y = pts[i]
            _, _, px, py = pts[i - 1]
            _, _, nx, ny = pts[i + 1]
            a2 = abs((px - nx) * (y - py) - (px - x) * (ny - py))
            b = bucket_of[i]
            key = (-a2, eid)
            if b not in best or key < best[b][0]:
                best[b] = (key, eid, x, y, a2)
        for b, (_, eid, x, y, a2) in best.items():
            want[(et, b)] = (eid, x, y, a2)
    got = {
        (r.event_type, r.bucket): (r.event_id, r.x_us, r.y_cents, r.area2)
        for r in timeseries_downsample_ltob(spark, sf_dir).collect()
    }
    assert got == want


def test_versioned_merge_crash_between_data_write_and_publish(
    spark, tmp_path, monkeypatch
):
    """Crash-safety of the two-phase commit (VERDICT r7 item 7): kill
    the committer AFTER the merged data files and the manifest TEMP
    file are written but BEFORE the atomic rename publishes the
    manifest. Readers must keep seeing exactly the pre-crash snapshot
    (the stale temp and the orphan data dir are invisible), and a
    RETRIED commit must converge to the same post-merge table."""
    import os

    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.operators import table_format as tf

    d = str(tmp_path / "vt")
    base = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    tf.create_table(spark, base, d, "k", n_files=4)
    before = sorted(tf.read_snapshot(spark, d).collect())

    delta = spark.range(0, 20).select(
        F.col("id").alias("k"),
        (F.col("id") + 7_000).alias("v"),
        F.lit("U").alias("op"),
    )

    real_commit = tf._commit

    def crashing_commit(table_dir, version, entries):
        # phase 1 happened (temp manifest on disk), crash before rename
        os.makedirs(f"{table_dir}/{tf._MANIFESTS}", exist_ok=True)
        tmp = tf._manifest_path(table_dir, version) + ".tmp-crash"
        with open(tmp, "w") as fh:
            fh.write("[]")
        raise OSError("simulated crash before manifest publish")

    monkeypatch.setattr(tf, "_commit", crashing_commit)
    import pytest as _pytest

    with _pytest.raises(OSError, match="simulated crash"):
        tf.merge_commit(spark, d, delta, "k", n_files=2)
    monkeypatch.setattr(tf, "_commit", real_commit)

    # stale temp present, manifest absent — readers see ONLY v0
    mdir = f"{d}/{tf._MANIFESTS}"
    assert any(".tmp-" in f for f in os.listdir(mdir))
    assert tf.current_version(d) == 0
    assert sorted(tf.read_snapshot(spark, d).collect()) == before

    # retried commit converges: v1 exists and equals the merged table
    assert tf.merge_commit(spark, d, delta, "k", n_files=2) == 1
    got = {r.k: r.v for r in tf.read_snapshot(spark, d).collect()}
    assert len(got) == 500
    for k in range(500):
        assert got[k] == (k + 7_000 if k < 20 else k * 3), k
    # and v0 time travel still returns the pre-merge table exactly
    assert sorted(tf.read_snapshot(spark, d, version=0).collect()) == before


def test_hdr_histogram_buckets_and_markers(spark, sf_dir):
    """Bucket = bit length of cents (Python recompute); per event_type
    the counts sum to the event count, cum is a prefix sum, and
    exactly one bucket carries each percentile marker."""
    from collections import Counter

    from mapreducenonequijoin_spark.plans.analytics import agg_hdr_histogram
    from mapreducenonequijoin_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    want = Counter(
        (r.event_type, int(round(r.value * 100)).bit_length()) for r in ev
    )
    rows = agg_hdr_histogram(spark, sf_dir).collect()
    got = {(r.event_type, r.bucket): r.n for r in rows}
    assert got == dict(want)
    by_type = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.bucket)):
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        cum = 0
        for r in rs:
            cum += r.n
            assert r.cum_n == cum, (et, r.bucket)
            assert r.lo_cents == 2 ** (r.bucket - 1)
            assert r.hi_cents == 2 ** r.bucket - 1
        for flag in ("is_p50", "is_p95", "is_p99"):
            assert sum(getattr(r, flag) for r in rs) == 1, (et, flag)
        # p99 bucket is at or above the p50 bucket
        b50 = next(r.bucket for r in rs if r.is_p50)
        b99 = next(r.bucket for r in rs if r.is_p99)
        assert b99 >= b50


def test_cc_incremental_equals_full_recompute(spark, sf_dir):
    """The contracted delta merge must reproduce the from-scratch
    components exactly — same (node, component) set as the full CC
    query over the identical edge definition."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        graph_cc_incremental,
        graph_connected_components,
    )

    inc = {(r.node_id, r.component)
           for r in graph_cc_incremental(spark, sf_dir).collect()}
    full = {(r.node_id, r.component)
            for r in graph_connected_components(spark, sf_dir).collect()}
    assert inc == full


def test_table_history_balances(spark, sf_dir):
    """v1 totals must reflect the CDC delta exactly: rows = v0 -
    deletes + inserts; the cents delta equals the sum of +5% updates
    minus deleted cents plus inserted cents (recomputed from orders)."""
    from mapreducenonequijoin_spark.plans.warehouse import warehouse_table_history
    from mapreducenonequijoin_spark.sources.io import load_table

    hist = {r.version: r for r in warehouse_table_history(spark, sf_dir).collect()}
    assert set(hist) == {0, 1}
    orders = [
        (r.o_orderkey, int(round(r.o_totalprice * 100)))
        for r in load_table(spark, sf_dir, "orders").collect()
    ]
    v0_rows = len(orders)
    v0_cents = sum(c for _, c in orders)
    deletes = [(k, c) for k, c in orders if k % 13 == 1 and k % 7 != 0]
    inserts = [(k, c) for k, c in orders if k % 97 == 3]
    upd_delta = sum((c * 105) // 100 - c for k, c in orders if k % 7 == 0)
    assert hist[0].n_rows == v0_rows
    assert hist[0].total_cents == v0_cents
    assert hist[1].n_rows == v0_rows - len(deletes) + len(inserts)
    assert hist[1].total_cents == (
        v0_cents + upd_delta - sum(c for _, c in deletes)
        + sum(c for _, c in inserts)
    )
    assert hist[1].max_key > 600_000_000 > hist[0].max_key


def test_vacuum_retains_exactly_live_files(spark, sf_dir):
    """After vacuum(keep_latest=1): the data files on disk are
    EXACTLY the v1 manifest's paths (no live file deleted, no dead
    file kept), v1 reads identical rows to pre-vacuum, and v0 raises.
    The expired v0's schema file goes with its manifest; a tagged v0
    keeps both."""
    import os
    import shutil

    import pytest

    from mapreducenonequijoin_spark.operators import table_format as tf
    from mapreducenonequijoin_spark.operators.table_format import (
        clone_table,
        current_version,
        manifest_entries,
        read_snapshot,
        set_tag,
        vacuum,
    )
    from mapreducenonequijoin_spark.plans.warehouse import _vt_build

    src = _vt_build(spark, sf_dir)
    dst = src.rstrip("/") + "_vacuumtest"
    clone_table(src, dst)
    # the clone must be self-contained: every manifest path under dst
    for v in range(current_version(dst) + 1):
        for e in manifest_entries(dst, v):
            assert e["path"].startswith(dst), e["path"]
        # a table cached before schema files existed gets them here
        if tf.stored_schema(dst, v) is None:
            tf._write_schema(dst, v, read_snapshot(spark, dst, version=v).schema)
    tagged = dst + "_tagged"
    clone_table(dst, tagged)
    set_tag(tagged, "keep-v0", 0)
    before = sorted(
        (r.k, r.cents) for r in read_snapshot(spark, dst).collect()
    )
    removed_data, removed_manifests = vacuum(dst, keep_latest=1)
    assert removed_data > 0 and removed_manifests > 0
    live = {e["path"] for e in manifest_entries(dst, current_version(dst))}
    on_disk = set()
    for sub in os.listdir(dst):
        subdir = os.path.join(dst, sub)
        if sub.startswith("data-") and os.path.isdir(subdir):
            on_disk.update(
                f"{subdir}/{fn}"
                for fn in os.listdir(subdir)
                if fn.endswith(".parquet")
            )
    assert on_disk == live
    after = sorted(
        (r.k, r.cents) for r in read_snapshot(spark, dst).collect()
    )
    assert after == before
    with pytest.raises(Exception):
        read_snapshot(spark, dst, version=0)
    assert not os.path.exists(tf._schema_path(dst, 0))
    assert tf.stored_schema(dst, 1) is not None
    shutil.rmtree(dst, ignore_errors=True)

    assert vacuum(tagged, keep_latest=1)[1] == 0
    assert os.path.exists(tf._manifest_path(tagged, 0))
    assert tf.stored_schema(tagged, 0) is not None
    shutil.rmtree(tagged, ignore_errors=True)


def test_clustering_coefficient_vs_triangle_count(spark, sf_dir):
    """c(v) must be consistent with graph_triangle_count's T(v) on the
    same graph, bounded in [0, 1], and exactly the integer
    (2·T·10⁶) DIV (d·(d−1))."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        graph_clustering_coefficient,
        graph_triangle_count,
    )

    tri = {r.node: r.n_triangles for r in graph_triangle_count(spark, sf_dir).collect()}
    rows = graph_clustering_coefficient(spark, sf_dir).collect()
    assert rows, "fixture graph produced no degree>=2 nodes"
    for r in rows:
        assert r.degree >= 2
        assert r.n_triangles == tri.get(r.node, 0)
        assert r.cc_micro == (2 * r.n_triangles * 1_000_000) // (
            r.degree * (r.degree - 1)
        )
        assert 0 <= r.cc_micro <= 1_000_000
    # every triangle-bearing node has degree >= 2, so none were dropped
    assert set(tri) <= {r.node for r in rows}


def test_target_encode_shrinks_toward_global_mean(spark, sf_dir):
    """Every encoded value must lie between the raw category mean and
    the global mean (shrinkage property), and match the closed form."""
    from mapreducenonequijoin_spark.plans.warehouse import (
        _TENC_M,
        feature_target_encode,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice").collect()
    cust = {
        r.c_custkey: r.c_nationkey
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    per: dict[int, list[int]] = {}
    for r in orders:
        per.setdefault(cust[r.o_custkey], []).append(int(round(r.o_totalprice * 100)))
    big_n = sum(len(v) for v in per.values())
    total_c = sum(sum(v) for v in per.values())
    mu = total_c / big_n
    got = {r.nation: r for r in feature_target_encode(spark, sf_dir).collect()}
    assert set(got) == set(per)
    for nation, cents in per.items():
        n, s = len(cents), sum(cents)
        want = int(
            ((float(s) * float(big_n) + float(_TENC_M) * float(total_c))
             / (float(big_n) * (float(n) + float(_TENC_M)))) * 1000.0
        )
        assert got[nation].enc_millicents == want
        raw_mean = s / n
        lo, hi = sorted([raw_mean, mu])
        assert lo * 1000 - 1 <= got[nation].enc_millicents <= hi * 1000 + 1


def test_robust_scale_matches_python_recompute(spark, sf_dir):
    """Scaled values must equal trunc((cents − med)·1e6 / IQR) with
    med/IQR recomputed in Python (R-7 interpolation over all orders)."""
    import math

    from mapreducenonequijoin_spark.plans.warehouse import feature_robust_scale
    from mapreducenonequijoin_spark.sources.io import load_table

    cents = sorted(
        round(r.o_totalprice * 100)
        for r in load_table(spark, sf_dir, "orders").collect()
    )

    def q(p: float) -> float:
        pos = (len(cents) - 1) * p
        lo = math.floor(pos)
        frac = pos - lo
        hi = min(lo + 1, len(cents) - 1)
        return cents[lo] + frac * (cents[hi] - cents[lo])

    med, iqr = q(0.5), q(0.75) - q(0.25)
    got = {r.o_orderkey: r.robust_z_micro for r in feature_robust_scale(spark, sf_dir).collect()}
    assert got
    by_key = {
        r.o_orderkey: round(r.o_totalprice * 100)
        for r in load_table(spark, sf_dir, "orders").collect()
        if r.o_orderkey % 20 == 0
    }
    assert set(got) == set(by_key)
    for k, c in by_key.items():
        assert got[k] == int((c - med) * 1_000_000 / iqr)


def test_constraint_audit_matches_python_recompute(spark, sf_dir):
    """Every constraint row's (n_checked, n_violations) must match a
    Python recompute over the collected fixture tables."""
    from collections import Counter

    from mapreducenonequijoin_spark.plans.warehouse import warehouse_constraint_audit
    from mapreducenonequijoin_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders").collect()
    cust_keys = {r.c_custkey for r in load_table(spark, sf_dir, "customer").collect()}
    li = load_table(spark, sf_dir, "lineitem").collect()
    order_keys = {r.o_orderkey for r in orders}

    pk_dups = sum(c - 1 for c in Counter(r.o_orderkey for r in orders).values())
    want = {
        "orders_pk_unique": (len(orders), pk_dups),
        "orders_fk_customer": (
            len(orders),
            sum(1 for r in orders if r.o_custkey not in cust_keys),
        ),
        "lineitem_fk_orders": (
            len(li),
            sum(1 for r in li if r.l_orderkey not in order_keys),
        ),
        "orders_totalprice_positive": (
            len(orders),
            sum(1 for r in orders if r.o_totalprice is None or r.o_totalprice <= 0),
        ),
        "lineitem_discount_range": (
            len(li),
            sum(
                1
                for r in li
                if r.l_discount is None or r.l_discount < 0 or r.l_discount > 1
            ),
        ),
    }
    got = {
        r.constraint_name: (r.n_checked, r.n_violations)
        for r in warehouse_constraint_audit(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.slow
def test_modularity_matches_python_recompute(spark, sf_dir):
    """Q must equal the Newman formula recomputed in Python from the
    SAME LPA labels and edges, and sit in [-0.5, 1]."""
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans.warehouse import (
        _lpa_frames,
        graph_modularity,
    )

    e0, sym, labels = _lpa_frames(spark, sf_dir)
    edges = [(r.src, r.dst) for r in e0.collect()]
    lab = {r.v: r.label for r in labels.collect()}
    deg: dict[int, int] = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    m = len(edges)
    e_in = sum(1 for u, v in edges if lab[u] == lab[v])
    dc: dict[int, int] = defaultdict(int)
    for v, d in deg.items():
        dc[lab[v]] += d
    dc2 = sum(d * d for d in dc.values())
    got = graph_modularity(spark, sf_dir).collect()[0]
    assert (got.m, got.e_in, got.dc2_sum) == (m, e_in, dc2)
    assert got.n_comm == len(dc)
    assert got.q_micro == int((4 * m * e_in - dc2) * 1_000_000 / (4 * m * m))
    assert -500_000 <= got.q_micro <= 1_000_000


def test_assortativity_matches_python_recompute(spark, sf_dir):
    """r must equal the Pearson-over-edges recompute and sit in
    [-1, 1] micro-units (bipartite trade graph ⇒ expect r ≤ 0-ish)."""
    import math
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans.warehouse import (
        _lpa_frames,
        graph_assortativity,
    )

    _, sym, _ = _lpa_frames(spark, sf_dir)
    directed = [(r.src, r.dst) for r in sym.collect()]
    deg: dict[int, int] = defaultdict(int)
    for u, _v in directed:
        deg[u] += 1
    xs = [(deg[u], deg[v]) for u, v in directed]
    big_m = len(xs)
    sxy = sum(x * y for x, y in xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    num = big_m * sxy - sx * sy
    den = math.sqrt(big_m * sxx - sx * sx) * math.sqrt(big_m * syy - sy * sy)
    got = graph_assortativity(spark, sf_dir).collect()[0]
    assert (got.big_m, got.sxy, got.sx, got.sxx) == (big_m, sxy, sx, sxx)
    assert got.r_micro == int(num * 1_000_000 / den)
    assert -1_000_000 <= got.r_micro <= 1_000_000


def test_orphan_audit_finds_planted_only_and_reads_hold(spark, sf_dir):
    """The audit must count exactly the planted artifact, identify it,
    and the post-plant snapshot must equal the pre-plant one."""
    from mapreducenonequijoin_spark.operators.table_format import read_snapshot
    from mapreducenonequijoin_spark.plans.warehouse import (
        _vt_build,
        warehouse_orphan_file_audit,
    )

    got = warehouse_orphan_file_audit(spark, sf_dir).collect()[0]
    assert got.n_orphans == 1
    assert got.found_planted
    src = _vt_build(spark, sf_dir)
    from pyspark.sql import functions as F

    want = read_snapshot(spark, src).agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    ).collect()[0]
    assert (got.n_rows, got.total_cents) == (want.n, want.c)


def test_vacuum_path_spelling_never_deletes_live_files(spark, sf_dir):
    """ADVICE r9 (medium): vacuum is a destructive op guarded by path
    membership — a trailing-slash or relative spelling of the SAME
    table dir must not make live files miss the live set. Both vacuum
    and orphan_files normalize both sides now; a clone vacuumed via a
    messy spelling must keep every manifest-referenced file."""
    import os

    from mapreducenonequijoin_spark.operators.table_format import (
        clone_table,
        current_version,
        manifest_entries,
        orphan_files,
        read_snapshot,
        vacuum,
    )
    from mapreducenonequijoin_spark.plans.warehouse import _vt_build

    src = _vt_build(spark, sf_dir)
    dst = src.rstrip("/") + "_vacuumspell"
    clone_table(src, dst)
    before = sorted(
        (r.k, r.cents) for r in read_snapshot(spark, dst).collect()
    )
    # messy spellings of the same directory
    trailing = dst + "/"
    rel = os.path.relpath(dst)
    assert orphan_files(trailing) == orphan_files(dst)
    removed_data, _ = vacuum(rel, keep_latest=1)
    assert removed_data > 0
    live = {
        e["path"] for e in manifest_entries(dst, current_version(dst))
    }
    for p in live:
        assert os.path.exists(p), f"live file deleted: {p}"
    after = sorted(
        (r.k, r.cents) for r in read_snapshot(spark, dst).collect()
    )
    assert after == before


def test_ols_normal_equations_matches_numpy(spark, sf_dir):
    """Per-month betas must agree with numpy lstsq on the identically
    quantized (x1, x2, y) design — within 1 micro-unit (the trunc)."""
    import math
    from collections import defaultdict

    import numpy as np

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "lineitem").collect()
    by_m = defaultdict(list)
    for r in rows:
        m = r.l_shipdate.replace(
            day=1, hour=0, minute=0, second=0, microsecond=0
        )
        y = math.floor(r.l_extendedprice * 100 + 0.5) // 100
        by_m[m].append((int(r.l_quantity), round(r.l_discount * 100), y))
    got = {
        r.ship_month: (r.n, r.beta_qty_micro, r.beta_disc_micro)
        for r in QUERIES["feature_ols_normal_equations"].fn(spark, sf_dir).collect()
    }
    assert set(got) <= set(by_m)
    for m, (n, b1, b2) in got.items():
        pts = by_m[m]
        assert n == len(pts)
        X = np.array([[1.0, x1, x2] for x1, x2, _ in pts])
        yv = np.array([float(y) for _, _, y in pts])
        beta = np.linalg.lstsq(X, yv, rcond=None)[0]
        assert abs(b1 - beta[1] * 1e6) <= 2, (m, b1, beta[1] * 1e6)
        assert abs(b2 - beta[2] * 1e6) <= 2, (m, b2, beta[2] * 1e6)
    # the fit is not degenerate: betas vary and are non-trivial
    assert len({b1 for _, b1, _ in got.values()}) > 1


def test_katz_centrality_matches_python_recompute(spark, sf_dir):
    """Top-25 Katz scores must match a 3-round integer recompute over
    the symmetrized trade graph."""
    from collections import defaultdict

    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table

    orders = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    edges = set()
    for r in load_table(spark, sf_dir, "lineitem").collect():
        ck = orders.get(r.l_orderkey)
        if ck is not None:
            edges.add((ck + 1, -(r.l_suppkey + 1)))
    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
        adj[d].append(s)
    x = {v: 1_000_000 for v in adj}
    for _ in range(3):
        x = {
            v: 1_000_000 + sum(x[u] for u in adj[v]) // 8 for v in adj
        }
    want = sorted(x.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    want_rows = [
        (f"c{v - 1}" if v > 0 else f"s{-v - 1}", sc) for v, sc in want
    ]
    got = [
        (r.node_id, r.katz_micro)
        for r in QUERIES["graph_katz_centrality"].fn(spark, sf_dir).collect()
    ]
    assert got == want_rows


def test_graph_hits_matches_python_recompute(spark, sf_dir):
    """Three normalized half-rounds replayed in exact ints."""
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.sources.io import load_table

    o = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    edges = set()
    for r in load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).collect():
        if r.l_orderkey in o:
            edges.add((o[r.l_orderkey], r.l_suppkey))

    def norm(d):
        t = sum(d.values())
        return {k: v * 1_000_000 // t for k, v in d.items()}

    a: dict = {}
    for _, s in edges:
        a[s] = a.get(s, 0) + 1_000_000
    a = norm(a)
    h: dict = {}
    for c, s in edges:
        h[c] = h.get(c, 0) + a[s]
    h = norm(h)
    a2: dict = {}
    for c, s in edges:
        a2[s] = a2.get(s, 0) + h[c]
    a2 = norm(a2)
    exp = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    exp = [(f"s{k}", v) for k, v in exp]
    got = [
        (r.node_id, r.auth_micro)
        for r in QUERIES["graph_hits"].fn(spark, sf_dir).collect()
    ]
    assert got == exp


def test_branch_refs_isolation_and_vacuum_retention(spark, sf_dir):
    """Refs properties beyond the oracle row: branch files are not
    orphans, the tag keeps v0 readable after vacuum(keep_latest=1),
    and main's head equals the un-branched merge state."""
    from mapreducenonequijoin_spark.operators.table_format import (
        orphan_files,
        read_ref,
        read_snapshot,
        table_refs,
    )
    from mapreducenonequijoin_spark.plans import QUERIES
    from mapreducenonequijoin_spark.plans.warehouse import _vt_build

    QUERIES["warehouse_branch_refs"].fn(spark, sf_dir).collect()
    dst = _vt_build(spark, sf_dir).rstrip("/") + "_refs"
    refs = table_refs(dst)
    assert refs["v0-audit"] == {"kind": "tag", "version": 0}
    assert refs["exp"]["kind"] == "branch"
    # tag retention: v0 readable although keep_latest=1 was vacuumed
    v0 = read_snapshot(spark, dst, version=0)
    main = read_snapshot(spark, dst)
    assert v0.count() > main.count()  # deletes shrank main's head
    # branch data files are ref-reachable, hence not orphans
    assert orphan_files(dst) == []
    # isolation: branch head differs from main head, same row count as v0
    assert read_ref(spark, dst, "exp").count() == v0.count()


def test_pca_gramian_matches_numpy(spark, sf_dir):
    """Gramian/sums/count must equal a numpy recompute on the same
    JVM-quantized matrix, and the implied covariance must be PSD
    (eigenvalues >= -tolerance) — the driver-side eigen step works."""
    import numpy as np

    from pyspark.sql import functions as F

    from mapreducenonequijoin_spark.plans.warehouse import (
        _PCA_D,
        feature_pca_gramian,
    )
    from mapreducenonequijoin_spark.sources.io import load_table

    q = (
        load_table(spark, str(sf_dir), "embeddings")
        .select(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * 1_000_000).cast("long"),
            ).alias("q")
        )
        .collect()
    )
    x = np.array([r.q for r in q], dtype=np.int64)
    want_g = x.T @ x
    want_s = x.sum(axis=0)
    rows = feature_pca_gramian(spark, str(sf_dir)).collect()
    got = {(r.i, r.j): r.val for r in rows}
    assert got[(-1, -1)] == len(x)
    for i in range(_PCA_D):
        assert got[(i, -1)] == want_s[i]
        for j in range(i, _PCA_D):
            assert got[(i, j)] == want_g[i, j], (i, j)
    # driver-side step: covariance from the three exact pieces is PSD
    n = len(x)
    g = np.zeros((_PCA_D, _PCA_D), dtype=np.float64)
    for (i, j), v in got.items():
        if i >= 0 and j >= 0:
            g[i, j] = g[j, i] = v
    s = np.array([got[(i, -1)] for i in range(_PCA_D)], dtype=np.float64)
    cov = (g - np.outer(s, s) / n) / (n - 1)
    ev = np.linalg.eigvalsh(cov)
    assert ev.min() > -1e-6 * max(1.0, ev.max())
