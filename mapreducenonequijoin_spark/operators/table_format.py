"""Snapshot-versioned Parquet table with a manifest-tracked file set —
a dependency-free COPY-ON-WRITE table format implementing the core of
the Delta/Iceberg commit protocol (SURVEY.md §2, ACID-gap closure r7):

- a **manifest** per version lists the data files that make up that
  snapshot, each with its key min/max envelope and row count (the
  Iceberg manifest-entry statistics);
- **MERGE commits copy-on-write**: file-level pruning picks only the
  data files whose key envelope intersects the delta's keys, rewrites
  those files merged with the delta (upserts + deletes + inserts), and
  the new manifest = untouched entries (SHARED with the previous
  version, byte-identical files) + rewritten entries;
- **time travel** is reading an older manifest — old versions stay
  valid because commits never mutate or delete referenced files;
- a **schema file** per version (``_manifests/schema-v<N>.json``, the
  Spark schema JSON with every field nullable, as Spark infers it on
  read) is written before the manifest commits. Reads pass it to
  ``spark.read.schema`` so no schema-inference job runs; a version
  without one (written before schema files existed) falls back to
  inference.

Commit statistics (rows, key min/max) come from the parquet footers
the commit just wrote, read with pyarrow; schemas come from the schema
file. Neither takes a Spark job.

What the real formats add beyond this miniature: optimistic-
concurrency conflict detection between simultaneous committers, a
transaction log for atomic multi-file swaps (here: manifest rename),
and deletion vectors for merge-on-read. The FILE layout, pruning
statistics, and snapshot-isolation read semantics are the same.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

__all__ = [
    "compact",
    "create_table",
    "merge_commit",
    "read_snapshot",
    "current_version",
    "manifest_entries",
    "stored_schema",
]

_MANIFESTS = "_manifests"


def _manifest_path(table_dir: str, version: int) -> str:
    return f"{table_dir}/{_MANIFESTS}/v{version}.json"


def _schema_path(table_dir: str, version: int) -> str:
    # not "v*.json": current_version() reads every v<N>.json as a version
    return f"{table_dir}/{_MANIFESTS}/schema-v{version}.json"


def current_version(table_dir: str) -> int | None:
    mdir = f"{table_dir}/{_MANIFESTS}"
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def manifest_entries(table_dir: str, version: int) -> list[dict]:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _nullable(dt: DataType) -> DataType:
    """Spark's ``asNullable``: the type a parquet read infers for data
    written as ``dt`` (every field, array element and map value
    nullable)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _write_schema(table_dir: str, version: int, schema: StructType) -> None:
    """Store a version's read schema; written before ``_commit``, so a
    published manifest always finds its schema (temp file + rename)."""
    os.makedirs(f"{table_dir}/{_MANIFESTS}", exist_ok=True)
    path = _schema_path(table_dir, version)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(_nullable(schema).json())
    os.rename(tmp, path)


def stored_schema(table_dir: str, version: int) -> StructType | None:
    """The schema stored with ``version``, or None for a version
    written before schema files existed."""
    try:
        with open(_schema_path(table_dir, version)) as fh:
            return StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return None


def _read_files(
    spark: SparkSession, schema: StructType | None, paths: list[str]
) -> DataFrame:
    """Read data files with the stored schema (no inference job); an
    empty file list reads as an empty frame of that schema. Without a
    stored schema Spark infers one, as it always did."""
    if schema is None:
        return spark.read.parquet(*paths)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _footer_stats(path: str, key_col: str) -> dict:
    """Key min/max and row count of one parquet file, from its footer
    (the key column is read only if a row group holding non-null keys
    carries no min/max statistics)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    col = next(
        i for i in range(md.num_columns) if md.schema.column(i).path == key_col
    )
    mins, maxs = [], []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if st is not None and st.has_min_max:
            mins.append(st.min)
            maxs.append(st.max)
        elif st is None or st.null_count != rg.num_rows:
            mm = pc.min_max(pq.read_table(path, columns=[key_col])[key_col]).as_py()
            mins, maxs = [mm["min"]], [mm["max"]]
            break
    return {
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        "rows": md.num_rows,
    }


def _write_files_with_stats(
    df: DataFrame, table_dir: str, key_col: str, n_files: int
) -> list[dict]:
    """Write df as n_files range-partitioned parquet files and return
    manifest entries (path, key min/max envelope, rows). Range
    partitioning gives each file a DISJOINT key envelope — that is
    what makes file-level pruning selective (a hash layout would give
    every file the full key range). As in a real format, the per-file
    stats come from the write itself: each part's row count and key
    min/max are read from its parquet footer with pyarrow, a
    metadata-sized read with no Spark job."""
    data_dir = f"{table_dir}/data-{uuid.uuid4().hex[:12]}"
    df.repartitionByRange(n_files, key_col).write.parquet(data_dir)
    entries = []
    for fname in sorted(os.listdir(data_dir)):
        if not fname.endswith(".parquet"):
            continue
        path = f"{data_dir}/{fname}"
        stats = _footer_stats(path, key_col)
        if stats["rows"] == 0:
            # an unreferenced-but-on-disk empty part is indistinguishable
            # from a crash orphan to orphan_files()/vacuum(), so remove
            # it rather than leave phantom orphans behind
            os.remove(path)
            continue
        entries.append({"path": path, **stats})
    return entries


def _commit(table_dir: str, version: int, entries: list[dict]) -> None:
    """Manifest write is the COMMIT POINT: temp file + atomic rename,
    the single-filesystem analogue of the Delta log append."""
    os.makedirs(f"{table_dir}/{_MANIFESTS}", exist_ok=True)
    tmp = _manifest_path(table_dir, version) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(entries, fh)
    os.rename(tmp, _manifest_path(table_dir, version))


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    key_col: str,
    n_files: int = 8,
) -> int:
    """Create snapshot v0 from df. Returns the committed version."""
    os.makedirs(table_dir, exist_ok=True)
    entries = _write_files_with_stats(df, table_dir, key_col, n_files)
    _write_schema(table_dir, 0, df.schema)
    _commit(table_dir, 0, entries)
    return 0


def merge_commit(
    spark: SparkSession,
    table_dir: str,
    delta: DataFrame,
    key_col: str,
    op_col: str = "op",
    n_files: int = 4,
) -> int:
    """MERGE the delta into the latest snapshot, copy-on-write.

    delta rows: (key, payload..., op) with op ∈ {'U','D'} — 'U'
    upserts (update if the key exists anywhere, insert otherwise),
    'D' deletes. Steps:

    1. file-level pruning: join the delta's per-key counts to the
       (tiny, broadcast) manifest-envelope frame — a file is TOUCHED
       iff some delta key falls inside its [min,max]. ONE action
       returns one row: the largest per-key count (the duplicate-key
       check) and the touched file list (bounded by file count).
    2. rewrite touched files ⟕⟖ delta (one equi-join on the key):
       delete marks drop the row, upserts take the delta payload,
       untouched target rows pass through, unmatched 'U' rows insert.
    3. commit manifest v(N+1) = untouched entries (file paths SHARED
       with vN) + the rewritten files' entries.

    At 100 TB this is exactly the Delta/Iceberg MERGE cost model: work
    scales with touched-file bytes + delta size, never table size, and
    the better clustered the table (range/Z-order), the fewer files a
    keyed delta touches.
    """
    ver = current_version(table_dir)
    if ver is None:
        raise ValueError(f"no table at {table_dir}")
    entries = manifest_entries(table_dir, ver)

    ranges = spark.createDataFrame(
        [(e["path"], e["min"], e["max"]) for e in entries],
        "path string, mn long, mx long",
    )
    dk = F.col("__dk").cast("long")
    probe = (
        delta.groupBy(F.col(key_col).alias("__dk"))
        .agg(F.count("*").alias("__n"))
        .join(F.broadcast(ranges), (dk >= F.col("mn")) & (dk <= F.col("mx")), "left")
        .agg(F.max("__n").alias("n"), F.collect_set("path").alias("touched"))
        .first()
    )
    # real MERGE semantics: more than one source row per target key is
    # an error (Delta: "multiple source rows matched"), not a silent
    # nondeterministic pick
    if probe.n is not None and probe.n > 1:
        raise ValueError("merge_commit: delta contains duplicate keys")
    touched = set(probe.touched)
    untouched = [e for e in entries if e["path"] not in touched]

    target_cols = [c for c in delta.columns if c != op_col]
    if touched:
        target = _read_files(
            spark, stored_schema(table_dir, ver), sorted(touched)
        )
    else:
        target = spark.createDataFrame([], delta.drop(op_col).schema)
    d = delta.select(
        *[F.col(c).alias(f"__d_{c}") for c in target_cols], F.col(op_col).alias("__op")
    )
    joined = target.join(
        d, target[key_col] == d[f"__d_{key_col}"], "full_outer"
    )
    merged = joined.filter(
        # delete: key present in delta with op 'D' → drop
        ~(F.col("__op") == F.lit("D")) | F.col("__op").isNull()
    ).select(
        *[
            F.when(F.col("__op") == "U", F.col(f"__d_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in target_cols
        ]
    )
    new_entries = _write_files_with_stats(merged, table_dir, key_col, n_files)
    _write_schema(table_dir, ver + 1, merged.schema)
    _commit(table_dir, ver + 1, untouched + new_entries)
    return ver + 1


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    key_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Read the table AS OF a version (time travel); latest if None.
    Old snapshots remain readable forever: commits only ADD files.

    ``key_range=(lo, hi)`` enables MANIFEST PRUNING: only files whose
    [min,max] envelope intersects [lo,hi] are opened — the Iceberg
    scan-planning step, done driver-side over metadata (never a data
    pass), with the residual predicate still applied to the surviving
    files' rows. Returns an empty frame with the stored schema when the
    version has no files or every file prunes away."""
    ver = current_version(table_dir) if version is None else version
    if ver is None:
        raise ValueError(f"no table at {table_dir}")
    entries = manifest_entries(table_dir, ver)
    schema = stored_schema(table_dir, ver)
    if key_range is not None:
        lo, hi = key_range
        kept = [e for e in entries if e["max"] >= lo and e["min"] <= hi]
        if not kept and entries and schema is None:
            # a version written before schema files existed
            schema = spark.read.parquet(entries[0]["path"]).schema
        entries = kept
    return _read_files(spark, schema, [e["path"] for e in entries])


def pruned_file_count(
    table_dir: str, version: int, key_range: tuple[int, int]
) -> tuple[int, int]:
    """(files read, files total) for a key-range scan — the pruning
    effectiveness statistic a format's EXPLAIN reports."""
    entries = manifest_entries(table_dir, version)
    lo, hi = key_range
    kept = sum(1 for e in entries if e["max"] >= lo and e["min"] <= hi)
    return kept, len(entries)


def vacuum(table_dir: str, keep_latest: int = 1) -> tuple[int, int]:
    """Physically delete data files unreferenced by the newest
    ``keep_latest`` manifests, plus the expired manifests themselves
    and their schema files — Delta's VACUUM / Iceberg's
    expire_snapshots, the storage-lifecycle op that bounds a
    copy-on-write table's footprint. Returns
    (data files removed, manifests removed).

    Everything here is METADATA-SIZED: the live set is the union of
    the kept manifests' path lists (O(#files)), the delete set a
    directory listing minus that union. No data file is ever read.
    Shared files (untouched by any kept-window merge) are retained by
    construction — the union is over manifests, not diffs — so time
    travel within the kept window stays exact; older versions become
    unreadable, which is the documented contract of vacuuming past
    the retention horizon."""
    ver = current_version(table_dir)
    if ver is None:
        raise ValueError(f"no table at {table_dir}")
    # Destructive op guarded by path membership: normalize BOTH sides
    # (manifest entries may be abspath-rebased by clone_table; the
    # caller may spell table_dir relative or with a trailing slash) so
    # a spelling difference can never make a live file miss the live
    # set and get deleted.
    table_dir = os.path.abspath(table_dir)
    keep_from = max(0, ver - keep_latest + 1)
    live: set = set()
    for v in range(keep_from, ver + 1):
        live.update(
            os.path.abspath(e["path"]) for e in manifest_entries(table_dir, v)
        )
    # a file is live while ANY ref can reach it (Iceberg
    # expire_snapshots): tagged versions and branch chains survive
    # the main-chain retention window
    live.update(ref_live_paths(table_dir))
    tagged = {
        r["version"]
        for r in table_refs(table_dir).values()
        if r["kind"] == "tag"
    }
    removed_data = 0
    for sub in sorted(os.listdir(table_dir)):
        subdir = os.path.join(table_dir, sub)
        if not (sub.startswith("data-") and os.path.isdir(subdir)):
            continue
        for fn in sorted(os.listdir(subdir)):
            p = os.path.abspath(f"{subdir}/{fn}")
            if fn.endswith(".parquet") and p not in live:
                os.remove(p)
                removed_data += 1
    removed_manifests = 0
    for v in range(keep_from):
        if v in tagged:  # a tag pins its manifest, not just its files
            continue
        mp = _manifest_path(table_dir, v)
        if os.path.exists(mp):
            os.remove(mp)
            removed_manifests += 1
        if os.path.exists(_schema_path(table_dir, v)):
            os.remove(_schema_path(table_dir, v))
    return removed_data, removed_manifests


def compact(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    small_rows: int,
    target_rows: int,
) -> tuple[int, int, int, int]:
    """OPTIMIZE / rewrite_data_files: bin-pack the latest snapshot's
    SMALL files (rows < ``small_rows``) into files of ≈``target_rows``
    and commit the result as a new version — Delta OPTIMIZE /
    Iceberg's rewrite_data_files, the maintenance op that undoes
    streaming/merge write fragmentation (every small file costs a
    task + an open + a footer per scan forever).

    Mechanics: files above the threshold are carried into the new
    manifest UNTOUCHED (same paths — byte identity, the COW sharing
    rule); small files are sorted by their min-key envelope and
    greedily grouped into bins of ≥ target_rows, and each bin is
    rewritten as ONE file. Because the snapshot's files carry disjoint
    key envelopes (range layout) and bins take them in key order, the
    compacted files' envelopes stay disjoint — compaction PRESERVES
    the clustering that makes manifest pruning selective. Content is
    unchanged by construction (a pure concatenation rewrite); the
    registry row additionally proves it with a two-way anti-join.

    Cost model at 100 TB: reads/writes ONLY the small-file bytes
    (the fragmented tail, typically ≪ table size); the decision pass
    is manifest-metadata-sized. Returns (new_version, files_before,
    files_after, files_rewritten)."""
    ver = current_version(table_dir)
    if ver is None:
        raise ValueError(f"no table at {table_dir}")
    entries = manifest_entries(table_dir, ver)
    small = sorted(
        (e for e in entries if e["rows"] < small_rows), key=lambda e: e["min"]
    )
    keep = [e for e in entries if e["rows"] >= small_rows]
    if len(small) <= 1:
        # nothing to pack (0 or 1 fragment): no-op, no commit — the
        # idempotence a scheduled OPTIMIZE needs
        return ver, len(entries), len(entries), 0
    bins: list[list[dict]] = []
    cur: list[dict] = []
    cur_rows = 0
    for e in small:
        cur.append(e)
        cur_rows += e["rows"]
        if cur_rows >= target_rows:
            bins.append(cur)
            cur, cur_rows = [], 0
    if cur:
        bins.append(cur)
    data_dir = f"{table_dir}/data-{uuid.uuid4().hex[:12]}"
    # ONE read+shuffle+write job for ALL bins (the original loop ran a
    # sequential read→coalesce(1)→write Spark job per bin, so a k%97
    # CDC tail at sf0.1 paid ~15 serialized job launches). Rows route
    # to their bin by key: snapshot envelopes are disjoint and bins
    # take files in min-key order, so "first bin whose max-envelope
    # covers the key" is exactly the file→bin assignment. A dynamic
    # partitionBy write on the bin id then lands ONE file per bin
    # (rows of a bin meet in one task via the hash repartition; the
    # writer starts a new file per partition value), each sorted by
    # key, identical to the per-bin sort+coalesce(1) output.
    bin_envs = [
        (min(e["min"] for e in b), max(e["max"] for e in b), sum(e["rows"] for e in b))
        for b in bins
    ]
    bin_expr = F.lit(len(bins) - 1)
    for i in range(len(bins) - 2, -1, -1):
        bin_expr = F.when(F.col(key_col) <= bin_envs[i][1], F.lit(i)).otherwise(
            bin_expr
        )
    small_df = _read_files(
        spark, stored_schema(table_dir, ver), [e["path"] for e in small]
    )
    src = small_df.withColumn("__mrnej_bin", bin_expr)
    (
        src.repartition(len(bins), "__mrnej_bin")
        .sortWithinPartitions("__mrnej_bin", key_col)
        .write.partitionBy("__mrnej_bin")
        .parquet(data_dir)
    )
    new_entries: list[dict] = []
    for i, (mn, mx, rows) in enumerate(bin_envs):
        part_dir = f"{data_dir}/__mrnej_bin={i}"
        path = next(
            f"{part_dir}/{f}"
            for f in sorted(os.listdir(part_dir))
            if f.endswith(".parquet")
        )
        new_entries.append({"path": path, "min": mn, "max": mx, "rows": rows})
    _write_schema(table_dir, ver + 1, small_df.schema)
    _commit(table_dir, ver + 1, keep + new_entries)
    return ver + 1, len(entries), len(keep) + len(new_entries), len(small)


def clone_table(src_dir: str, dst_dir: str) -> None:
    """Copy a versioned table to a new directory AND rebase every
    manifest entry's absolute path onto the destination — manifests
    store absolute file paths (as Delta's log stores table-relative
    ones), so a bare copytree leaves the clone reading the SOURCE's
    data files: its vacuum would then delete every file in the clone
    (nothing matches the live set) while the snapshot reads keep
    silently passing against the original. Caught live by
    tests/test_warehouse.py::test_vacuum_retains_exactly_live_files."""
    import shutil

    src = os.path.abspath(src_dir)
    dst = os.path.abspath(dst_dir)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    ver = current_version(dst)
    if ver is None:
        return
    for v in range(ver + 1):
        mp = _manifest_path(dst, v)
        if not os.path.exists(mp):
            continue
        with open(mp) as fh:
            entries = json.load(fh)
        for e in entries:
            p = os.path.abspath(e["path"])
            if p.startswith(src + os.sep):
                e["path"] = dst + p[len(src):]
        with open(mp, "w") as fh:
            json.dump(entries, fh)


def orphan_files(table_dir: str) -> list[str]:
    """Data files present on disk but referenced by NO manifest of any
    retained version — the inverse of ``vacuum``'s live-set: Delta's
    FSCK / Iceberg's remove_orphan_files janitor view. Orphans appear
    when a writer dies between data-file write and manifest commit
    (the two-phase gap ``_commit`` makes atomic for the manifest but
    cannot make atomic for the data files) — they are safe to delete
    and cost storage until someone does. METADATA-SIZED: manifest
    union + directory listing, no data file is read."""
    ver = current_version(table_dir)
    if ver is None:
        raise ValueError(f"no table at {table_dir}")
    # same normalization contract as vacuum(): spelling differences
    # (relative vs absolute, trailing slash) must never create
    # phantom orphans
    table_dir = os.path.abspath(table_dir)
    live: set = set()
    for v in range(ver + 1):
        if os.path.exists(_manifest_path(table_dir, v)):
            live.update(
                os.path.abspath(e["path"]) for e in manifest_entries(table_dir, v)
            )
    # branch/tag-reachable files are live, not orphans
    live.update(ref_live_paths(table_dir))
    orphans = []
    for sub in sorted(os.listdir(table_dir)):
        subdir = os.path.join(table_dir, sub)
        if not (sub.startswith("data-") and os.path.isdir(subdir)):
            continue
        for fn in sorted(os.listdir(subdir)):
            p = os.path.abspath(f"{subdir}/{fn}")
            if fn.endswith(".parquet") and p not in live:
                orphans.append(p)
    return orphans


# --- named refs: tags and branches ---------------------------------------------

_REFS = "refs.json"


def table_refs(table_dir: str) -> dict:
    """{name: {"kind": "tag"|"branch", ...}} — Iceberg-style named
    refs over the manifest chain. Empty dict when none exist."""
    p = f"{table_dir}/{_REFS}"
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _write_refs(table_dir: str, refs: dict) -> None:
    """Atomic temp+rename, same commit discipline as _commit."""
    tmp = f"{table_dir}/{_REFS}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(refs, fh)
    os.rename(tmp, f"{table_dir}/{_REFS}")


def set_tag(table_dir: str, name: str, version: int) -> None:
    """TAG: an immutable named pointer to a main-chain version
    (Iceberg `create_tag`). A tagged version stays readable across
    vacuum regardless of the retention window."""
    refs = table_refs(table_dir)
    refs[name] = {"kind": "tag", "version": version}
    _write_refs(table_dir, refs)


def _branch_manifest_path(table_dir: str, name: str, k: int) -> str:
    return f"{table_dir}/{_MANIFESTS}/branch-{name}-v{k}.json"


def branch_commit(
    spark: SparkSession,
    table_dir: str,
    name: str,
    df: DataFrame,
    key_col: str,
    from_version: int | None = None,
    n_files: int = 8,
) -> int:
    """BRANCH: a writable fork (Iceberg `create_branch` + a commit on
    it). The branch gets its own manifest chain
    (_manifests/branch-<name>-v<k>.json) and its own data files; the
    main chain is never touched, so main readers see snapshot
    isolation from branch writers by construction. Returns the new
    branch-chain version."""
    refs = table_refs(table_dir)
    ref = refs.get(name)
    k = 0 if ref is None else ref["tip"] + 1
    entries = _write_files_with_stats(df, table_dir, key_col, n_files)
    tmp = _branch_manifest_path(table_dir, name, k) + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(f"{table_dir}/{_MANIFESTS}", exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(entries, fh)
    os.rename(tmp, _branch_manifest_path(table_dir, name, k))
    refs[name] = {
        "kind": "branch",
        "tip": k,
        "base_version": (
            from_version if ref is None else ref.get("base_version")
        ),
    }
    _write_refs(table_dir, refs)
    return k


def read_ref(spark: SparkSession, table_dir: str, name: str) -> DataFrame:
    """Read the snapshot a named ref points at: tag → main-chain
    version; branch → the branch chain's tip manifest."""
    ref = table_refs(table_dir).get(name)
    if ref is None:
        raise ValueError(f"no ref {name!r} at {table_dir}")
    if ref["kind"] == "tag":
        return read_snapshot(spark, table_dir, version=ref["version"])
    with open(_branch_manifest_path(table_dir, name, ref["tip"])) as fh:
        entries = json.load(fh)
    return spark.read.parquet(*[e["path"] for e in entries])


def ref_live_paths(table_dir: str) -> set:
    """abspath set of every data file referenced by ANY named ref —
    tagged main versions and all branch-chain manifests. Vacuum's
    retention must union this in (Iceberg expire_snapshots semantics:
    a file is live while any ref can reach it)."""
    table_dir = os.path.abspath(table_dir)
    live: set = set()
    for name, ref in table_refs(table_dir).items():
        if ref["kind"] == "tag":
            for e in manifest_entries(table_dir, ref["version"]):
                live.add(os.path.abspath(e["path"]))
        else:
            for k in range(ref["tip"] + 1):
                with open(_branch_manifest_path(table_dir, name, k)) as fh:
                    for e in json.load(fh):
                        live.add(os.path.abspath(e["path"]))
    return live
