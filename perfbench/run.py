"""Closed-loop benchmark of the engine: one client, one driver process,
sequential iterations on local[<cores>].

    python3 perfbench/run.py --workload theta-join --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object {correct, attempted, failed, metrics}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics (see
perfbench/README.md). Everything the run writes (Spark local dirs, JVM
and Python temp files, inputs, tables, the span file) lives under
.perfbench/ in the checkout; temp data is removed on exit and the span
file of a traced run is kept in .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
GEN_REPS = 3  # seeded generations per run; setup_s uses their median
# The heap is committed at its full size but not pre-touched, so
# peak_rss_mb counts the heap pages the program touches. A fixed heap and
# young generation leave G1 no timing-dependent resizing (heap expansion
# follows GC time, which CPU steal inflates): with them, dedup-upsert
# RSS stayed within 1.5% over six seeds; without, single runs read 20%
# above the median.
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"

END_TO_END = [
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
    ("ok_frac", "ratio"),
]

PER_LAYER = [("session.start_s", "s"), ("sources.gen_s", "s")]
for _j in ("theta", "ineq", "band"):
    PER_LAYER += [
        (f"joins.{_j}.build_s", "s"),
        (f"joins.{_j}.build_warm_s", "s"),
        (f"joins.{_j}.exec_s", "s"),
        (f"joins.{_j}.out_rows", "count"),
        (f"joins.{_j}.shuffle_mb", "MB"),
        (f"joins.{_j}.spill_mb", "MB"),
        (f"joins.{_j}.replication", "ratio"),
    ]
PER_LAYER += [
    ("dedup.exact_s", "s"),
    ("dedup.signatures_s", "s"),
    ("dedup.pairs_s", "s"),
    ("dedup.candidates", "count"),
    ("dedup.pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("dedup.cc_s", "s"),
    ("dedup.cc_edges", "count"),
    ("dedup.cc_local_arm", "count"),
    ("dedup.clusters", "count"),
    ("table.create_s", "s"),
    ("table.merge_s", "s"),
    ("table.compact_s", "s"),
    ("table.files_touched_frac", "ratio"),
    ("table.rows_rewritten_per_delta_row", "ratio"),
    ("table.read_latest_s", "s"),
    ("table.read_travel_s", "s"),
    ("table.read_pruned_frac", "ratio"),
    ("spark.sql_execs", "count"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.gc_s", "s"),
    ("spark.leaked_rdds", "count"),
    ("spark.tmp_dirs_left", "count"),
    ("trace.wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _prepare_env(work: Path) -> None:
    """Pin the session to this host and keep every temp file inside
    ``work``. Must run before the JVM starts."""
    tmp = work / "tmp"
    (tmp / "spark-local").mkdir(parents=True)
    # compiler threads are kept for the JVM's lifetime, so the CPU time
    # of every one of them can be read (tree_cpu_s leaves it out)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            # every JVM, spark-submit's launcher too, would otherwise
            # write /tmp/hsperfdata_<user>/<pid>
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            # the default of 32 was chosen for a 32-core host; two tasks
            # per core keep a stage balanced when one vCPU is descheduled
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
            "TMPDIR": str(tmp),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options", shlex.quote(java_opts),
                    "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
                    "--conf", "spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _dir_entries(tmp: Path) -> int:
    """Directories up to two levels under the temp root, not counting
    the block manager's hashed sub-directories."""
    n = 0
    for top in tmp.iterdir():
        if top.is_dir():
            n += 1
            if not top.name.startswith("blockmgr-"):
                n += sum(1 for p in top.iterdir() if p.is_dir())
    return n


def _stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from harness import tree_pids

    others = [p for p in tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for p in others:
        while _alive(p):
            if time.time() > deadline:
                os.kill(p, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work: Path) -> dict:
    from mapreducenonequijoin_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        return _measure(args, work, spark, start_s)
    finally:
        _stop_session(spark)


def _measure(args, work: Path, spark, start_s: float) -> dict:
    from harness import SparkCounters, Tracer, host_steal_ticks, tree_cpu_s, tree_peak_rss_mb
    from workloads import WORKLOADS, clear_join_memos

    spark.sparkContext.setLogLevel("ERROR")
    tmp = work / "tmp"
    counters = SparkCounters(spark)
    tracer = Tracer(spark.sparkContext, args.workload, enabled=False)
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, str(work / "data"))

    # ---- set-up: seeded generation (several times; the first one runs
    # on a cold JVM), then the reference fingerprints
    gen_s = []
    for rep in range(GEN_REPS):
        t0 = time.perf_counter()
        wl.generate(rep)
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.compute_reference()
    ref_s = time.perf_counter() - t0
    base_rdds = counters.persistent_rdd_ids()

    def one_iteration(it: int, traced: bool) -> dict:
        tracer.enabled = traced
        clear_join_memos()
        dirs0, execs0, gc0 = _dir_entries(tmp), counters.sql_execs(), counters.gc_s()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("iteration", it):
            out = wl.iterate(it)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        execs, gc = counters.sql_execs() - execs0, counters.gc_s() - gc0
        tracer.enabled = False
        rec = {"wall": wall, "cpu": cpu, "ok": out == wl.reference, "traced": traced}
        if not rec["ok"]:
            print(f"iteration {it}: {out} != reference {wl.reference}", file=sys.stderr)
        if traced:
            rec.update(_span_counters(tracer, counters, it))
            rec["sql_execs"], rec["gc_s"] = execs, gc
            rec["extras"] = wl.traced_extras(it)
        rec["leaked_rdds"] = len(counters.persistent_rdd_ids() - base_rdds)
        counters.unpersist_except(base_rdds)
        wl.after_iteration()
        rec["tmp_dirs_left"] = _dir_entries(tmp) - dirs0
        return rec

    # The inputs stand in for tables too large to broadcast: keep the
    # engine's joins on the shuffle path, where replication is defined.
    # (The reference plans above may broadcast.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    warm = [one_iteration(-1 - i, False) for i in range(wl.warmup_iters)]
    setup_s = start_s + _median(gen_s) + ref_s + warm[0]["wall"]
    print(f"setup: start {start_s:.2f}s gen {[round(g, 2) for g in gen_s]} ref {ref_s:.2f}s"
          f" warm-up {[round(r['wall'], 2) for r in warm]}", file=sys.stderr)

    # ---- measured closed loop
    iters = []
    # a traced run needs one full U T T U round (below)
    min_iters = max(wl.min_iters, 4) if args.trace else wl.min_iters
    steal0 = host_steal_ticks()
    t_begin = time.perf_counter()
    while len(iters) < min_iters or time.perf_counter() - t_begin < args.seconds:
        # traced run: untraced and traced iterations alternate, so the
        # difference of their medians is the tracing overhead
        # (in U T T U order, which cancels a linear warm-up trend)
        iters.append(one_iteration(len(iters), bool(args.trace) and len(iters) % 4 in (1, 2)))

    steal1 = host_steal_ticks()
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print("walls", [round(r["wall"], 3) for r in iters], f"host steal {steal:.1%}",
          file=sys.stderr)
    attempted = len(warm) + len(iters)
    failed = sum(not r["ok"] for r in warm + iters)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if args.trace:
        traced = [r for r in iters if r["traced"]]
        plain = [r for r in iters if not r["traced"]]
        m = _layer_metrics(traced, wl)
        m["session.start_s"] = start_s
        m["sources.gen_s"] = _median(gen_s)
        m["trace.overhead_s"] = m["trace.wall_s"] - _median(r["wall"] for r in plain)
        units = dict(PER_LAYER)
        result["metrics"] = {
            k: {"value": float(m.get(k, 0.0)), "unit": units[k]} for k, _ in PER_LAYER
        }
        _write_spans(tracer, args)
    else:
        wall = _median(r["wall"] for r in iters)
        m = {
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            "cpu_s": _median(r["cpu"] for r in iters),
            "peak_rss_mb": tree_peak_rss_mb(),
            "setup_s": setup_s,
            "ok_frac": (attempted - failed) / attempted,
        }
        result["metrics"] = {k: {"value": m[k], "unit": u} for k, u in END_TO_END}
    return result


def _span_counters(tracer, counters, it: int) -> dict:
    """Spark counters of one traced iteration, per layer span."""
    spans = tracer.of(it)
    root = next(s for s in spans if s["name"] == "iteration")
    rec = {"spans": spans, "jobs": 0, "tasks": 0, "layers": {}}
    for s in spans:
        c = counters.group_counters(s["group"])
        rec["jobs"] += c["jobs"]
        rec["tasks"] += c["tasks"]
        rec["layers"][s["id"]] = c
    children = sum(s["end"] - s["start"] for s in spans if s["parent"] == root["id"])
    rec["coverage"] = children / (root["end"] - root["start"])
    rec["traced_wall"] = root["end"] - root["start"]
    return rec


def _layer_metrics(traced: list[dict], wl) -> dict:
    """Per-layer medians over the traced iterations."""
    from workloads import ThetaJoin

    durations: dict[str, list[float]] = {}
    per_iter: dict[str, list[dict]] = {}
    for r in traced:
        for s in r["spans"]:
            durations.setdefault(s["name"], []).append(s["end"] - s["start"])
            per_iter.setdefault(s["name"], []).append(r["layers"][s["id"]])
    m = {
        "trace.wall_s": _median(r["traced_wall"] for r in traced),
        "trace.coverage": _median(r["coverage"] for r in traced),
        "spark.sql_execs": _median(r["sql_execs"] for r in traced),
        "spark.jobs": _median(r["jobs"] for r in traced),
        "spark.tasks": _median(r["tasks"] for r in traced),
        "spark.gc_s": _median(r["gc_s"] for r in traced),
        "spark.leaked_rdds": _median(r["leaked_rdds"] for r in traced),
        "spark.tmp_dirs_left": _median(r["tmp_dirs_left"] for r in traced),
    }
    span_metric = {
        "dedup.cc": "dedup.cc_s",
        "table.create": "table.create_s",
        "table.merge": "table.merge_s",
        "table.compact": "table.compact_s",
        "table.read_latest": "table.read_latest_s",
        "table.read_travel": "table.read_travel_s",
    }
    for name, key in span_metric.items():
        if name in durations:
            m[key] = _median(durations[name])
    if isinstance(wl, ThetaJoin):
        for j in wl.join_names:
            m[f"joins.{j}.build_s"] = _median(durations[f"joins.{j}.build"])
            m[f"joins.{j}.exec_s"] = _median(durations[f"joins.{j}.exec"])
            m[f"joins.{j}.out_rows"] = wl.reference[j][0]
            ex = per_iter[f"joins.{j}.exec"]
            build = per_iter[f"joins.{j}.build"]
            m[f"joins.{j}.shuffle_mb"] = _median(c["shuffle_write_mb"] for c in ex)
            m[f"joins.{j}.spill_mb"] = _median(
                a["spill_mb"] + b["spill_mb"] for a, b in zip(ex, build)
            )
            m[f"joins.{j}.replication"] = _median(
                c["shuffle_write_records"] / wl.input_rows for c in ex
            )
    extras: dict[str, list[float]] = {}
    for r in traced:
        for k, v in r["extras"].items():
            extras.setdefault(k, []).append(v)
    m.update({k: _median(v) for k, v in extras.items()})
    return m


def _write_spans(tracer, args) -> None:
    out = ROOT / ".perfbench" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps(tracer.spans, indent=0))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["theta-join", "dedup-upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "mapreducenonequijoin_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        _prepare_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
