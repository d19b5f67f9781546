"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload keyed_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. Human-readable metric lines go to
stdout first; the last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). Every file the run
writes stays under `.graftbench/` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from .tracing import LAYERS

PKG = "howto_mongo_bulk_update_from_parquet_spark"
SETUP_REPS = 3
WORKLOADS = ("keyed_mix", "catalog_mix")
FS_FUNCS = ("listdir", "exists", "read_text", "listdir_sizes", "dir_size",
            "rename")


class Run:
    """Everything one benchmark run shares between harness and workload."""

    def __init__(self, args, root: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.corrupt = args.corrupt
        self.trace = bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".graftbench", f"run-{os.getpid()}")
        self.check_dir = os.path.join(self.work, "check")
        self.units = 1
        self.spark = None
        self.loop = None


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one output row before the correctness check "
                         "(the check must then fail)")
    return ap.parse_args(argv)


def _start_spark(run: Run):
    """Session from the package's own factory (its confs and driver
    memory) on local[<cores>], with every temporary file kept under the
    run directory.

    The JVM compiles with C1 only (`TieredStopAtLevel=1`): a run lasts
    under a minute, so the C2 tier would still be compiling during the
    timed loop and its progress, not the program, would set the
    run-to-run spread. C1 reaches its steady state within the warm-up.
    In local mode this JVM also runs every task, so all of Spark's hot
    code runs without C2 and execution weighs more against planning
    than in a deployment; the README lists this as a known limit."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp      # would override spark.local.dir
    # no hsperfdata files: the JVM writes them to /tmp whatever the tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYTHONWARNINGS", "ignore")
    from howto_mongo_bulk_update_from_parquet_spark.session import get_spark
    return get_spark("graftbench", cpus=os.cpu_count(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def _make_workload(name: str, run: Run):
    from . import catalog_mix, keyed_mix
    return {"keyed_mix": keyed_mix.KeyedMix,
            "catalog_mix": catalog_mix.CatalogMix}[name](run)


def _layer_metrics(loop, tracer, kinds=None) -> dict[str, tuple[float, str]]:
    """Per-operation averages over the traced operations (of `kinds`
    only, when given)."""
    traced = [o for o in loop.ops if o.traced
              and (kinds is None or o.kind in kinds)]
    n = max(len(traced), 1)
    ids = {o.op_id for o in traced}
    m: dict[str, tuple[float, str]] = {}

    def avg(key):
        return sum(o.layer.get(key, 0.0) for o in traced) / n

    def avg_info(key):
        return sum(o.info.get(key, 0) for o in traced) / n

    build = [o.info for o in traced if "build_s" in o.info]
    m["plans.build_s"] = (sum(b["build_s"] for b in build) / n, "s/op")
    m["plans.build_jobs"] = (sum(b.get("build_jobs", 0) for b in build) / n, "jobs/op")
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.{phase}_s"] = (avg(f"spark.{phase}_s"), "s/op")
    m["spark.jobs"] = (avg("spark.jobs"), "jobs/op")
    m["spark.stages"] = (avg("spark.stages"), "stages/op")
    m["spark.tasks"] = (avg("spark.tasks"), "tasks/op")
    m["spark.executor_run_s"] = (avg("spark.executor_run_s"), "s/op")
    m["spark.executor_cpu_s"] = (avg("spark.executor_cpu_s"), "s/op")
    for k in ("input", "output", "shuffle_read", "shuffle_write", "spill"):
        m[f"spark.{k}_bytes"] = (avg(f"spark.{k}_bytes"), "B/op")
    m["spark.core_busy_share"] = (avg("spark.core_busy_share"), "ratio")
    m["operators.python_rows"] = (avg("operators.python_rows"), "rows/op")
    m["operators.python_bytes_sent"] = (avg("operators.python_bytes_sent"), "B/op")

    spans = [(s, st) for s, st in tracer.self_times() if s.op_id in ids]
    calls, secs = defaultdict(int), defaultdict(float)
    self_s = defaultdict(float)
    for s, st in spans:
        calls[s.name] += 1
        secs[s.name] += s.dur
        self_s[s.layer] += st
    for f in FS_FUNCS:
        m[f"fs.{f}.calls"] = (calls[f"fs.{f}"] / n, "calls/op")
        m[f"fs.{f}.s"] = (secs[f"fs.{f}"] / n, "s/op")
    # top-level zone-map entry points only (load_zone_map_index reads
    # the file through read_zone_map)
    zl = sum(s.dur for s, _ in spans if s.layer == "zonemap" and s.name in (
        "zonemap.load_zone_map_index", "zonemap.read_zone_map")
        and (s.parent is None or tracer.spans[s.parent].layer != "zonemap"))
    m["zonemap.load_s"] = (zl / n, "s/op")
    reads = [o for o in traced if "files_total" in o.info]
    ft = sum(o.info["files_total"] for o in reads)
    m["zonemap.files_kept_ratio"] = (
        sum(o.info["files_read"] for o in reads) / ft if ft else 0.0, "ratio")
    look = [o for o in traced if "deltas_total" in o.info]
    dt = sum(o.info["deltas_total"] for o in look)
    m["lsm.pending_deltas"] = (dt / len(look) if look else 0.0, "deltas/lookup")
    m["lsm.deltas_read_ratio"] = (
        sum(o.info["deltas"] for o in look) / dt if dt else 0.0, "ratio")
    comp = [o for o in traced if o.kind == "compact"]
    m["compact.bytes_rewritten"] = (
        sum(o.info.get("bytes_rewritten", 0) for o in comp) / len(comp)
        if comp else 0.0, "B/compact")
    m["keyed_table.upsert_s"] = (
        sum(st for s, st in spans if s.name == "keyed_table.upsert_into_keyed_table")
        / n, "s/op")
    m["keyed_table.files_written"] = (avg_info("files_written"), "files/op")
    m["keyed_table.bytes_written"] = (avg_info("bytes_written"), "B/op")
    m["sql_merge.parse_s"] = (secs["sql_merge.parse_merge"] / n, "s/op")
    merges = [o for o in traced if o.kind == "merge"]
    m["sql_merge.jobs"] = (
        sum(o.layer.get("spark.jobs", 0) for o in merges) / len(merges)
        if merges else 0.0, "jobs/merge")
    for k in ("batches", "state_rows", "state_memory_bytes",
              "add_batch_ms", "query_planning_ms"):
        unit = {"batches": "batches/op", "state_rows": "rows/op",
                "state_memory_bytes": "B/op"}.get(k, "ms/op")
        m[f"streaming.{k}"] = (avg(f"streaming.{k}"), unit)
    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = (self_s[layer] / n, "s/op")
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"graftbench: no {PKG}/ package in {root}; run from the "
              f"repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    t_start = time.perf_counter()
    run = Run(args, root)
    shutil.rmtree(run.work, ignore_errors=True)
    os.makedirs(run.check_dir, exist_ok=True)
    run.spark = _start_spark(run)
    try:
        return _run(run, args.workload, t_start)
    finally:
        try:
            _stop_spark(run.spark)
        finally:
            shutil.rmtree(run.work, ignore_errors=True)


def _run(run: Run, workload: str, t_start: float) -> int:
    from .harness import Loop, cpu_steal_sample, median, spark_probe
    session_s = time.perf_counter() - t_start
    wl = _make_workload(workload, run)
    # The loop runs a fixed number of whole units (rounds, cycles,
    # passes) that takes about --seconds on the reference host: a count
    # fixed by --seconds keeps every run's operation mix, and each
    # operation's place in the JVM's warm-up, the same.
    run.units = max(1, math.ceil(run.seconds / wl.unit_s))
    run.loop = Loop()

    setup_times = []
    for rep in range(SETUP_REPS):
        if rep:                       # keep only the last repetition's state
            shutil.rmtree(os.path.join(run.work, f"setup{rep - 1}"),
                          ignore_errors=True)
        t0 = time.perf_counter()
        wl.setup(os.path.join(run.work, f"setup{rep}"))
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + median(setup_times) + warmup_s

    # An untraced timed loop; a traced run adds a second, traced loop,
    # and the difference between the two is the tracing overhead.
    probe = [spark_probe(run.spark)]
    steal0 = cpu_steal_sample()
    loop_s = {}
    for traced in ([False, True] if run.trace else [False]):
        if traced:
            from .census import SparkCensus
            from .tracing import Tracer
            run.loop.tracer = Tracer()
            run.loop.tracer.install()
            run.loop.census = SparkCensus(run.spark)
        t0 = time.perf_counter()
        wl.loop(run.units)
        loop_s[traced] = time.perf_counter() - t0
    steal1 = cpu_steal_sample()
    probe.append(spark_probe(run.spark))
    tracer = run.loop.tracer
    if tracer is not None:
        tracer.uninstall()
        run.loop.tracer = None

    state_checks = wl.check()
    ops = run.loop.ops
    attempted = len(ops) + len(state_checks)
    failed = sum(not o.ok for o in ops) + sum(p is not None
                                              for p in state_checks.values())
    for o in ops:
        if not o.ok:
            print(f"FAILED op {o.op_id} {o.kind}: {o.error}")
    for name, p in state_checks.items():
        if p is not None:
            print(f"FAILED check {name}: {p}")

    def e2e(traced: bool) -> tuple[float, float]:
        """(geometric mean over operation kinds of each kind's median
        latency, operations per second) of one timed loop."""
        by_kind = defaultdict(list)
        for o in ops:
            if o.ok and o.traced == traced:
                by_kind[o.kind].append(o.seconds)
        if not by_kind:
            return float("nan"), 0.0
        gm = math.exp(statistics.fmean(math.log(median(v))
                                       for v in by_kind.values()))
        return gm, sum(map(len, by_kind.values())) / loop_s[traced]

    op_gm, ops_per_s = e2e(False)
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    noise = {"cpu_steal_share": d_steal / d_total if d_total else 0.0,
             "spark_probe_s": probe}
    print(f"workload {wl.name} seed {run.seed} ops {len(ops)} loop_s "
          f"{[round(x, 3) for x in loop_s.values()]} setup_reps_s "
          f"{[round(x, 3) for x in setup_times]} warmup_s {warmup_s:.3f} "
          f"session_s {session_s:.3f}")
    print(f"noise cpu_steal_share {noise['cpu_steal_share']:.4f} "
          f"spark_probe_s {[round(x, 4) for x in probe]}")
    print(f"metric setup_s {setup_s:.6g} s n={SETUP_REPS}")
    print(f"metric op_s.geomean {op_gm:.6g} s n={sum(not o.traced for o in ops)}")
    print(f"metric ops_per_s {ops_per_s:.6g} 1/s")
    print(f"metric ops_failed_ratio {failed / max(attempted, 1):.6g} ratio "
          f"n={attempted}")
    for name, value, unit, n in wl.report():
        print(f"metric {name} {value:.6g} {unit} n={n}")

    if run.trace:
        layer = _layer_metrics(run.loop, tracer)
        t_gm, t_rate = e2e(True)
        layer["trace.ops"] = (float(sum(o.traced for o in ops)), "count")
        layer["trace.spans"] = (float(len(tracer.spans)), "count")
        layer["trace.op_s.geomean"] = (t_gm, "s")
        layer["trace.overhead_s"] = (t_gm - op_gm, "s/op")
        layer["trace.overhead_share"] = ((t_gm - op_gm) / op_gm, "ratio")
        layer["trace.ops_per_s_change"] = ((t_rate - ops_per_s) / ops_per_s,
                                           "ratio")
        for name, (value, unit) in layer.items():
            print(f"layer {name} {value:.6g} {unit}")
        for part, kinds in wl.parts.items():
            for name, (value, unit) in _layer_metrics(run.loop, tracer,
                                                      kinds).items():
                print(f"layer[{part}] {name} {value:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "op_s.geomean": {"value": op_gm, "unit": "s"},
                   "ops_per_s": {"value": ops_per_s, "unit": "1/s"}}
    out_dir = os.path.join(run.root, ".graftbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{wl.name}-seed{run.seed}-trace{int(run.trace)}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump({"workload": wl.name, "seed": run.seed, "noise": noise,
                   "setup_reps_s": setup_times, "warmup_s": warmup_s,
                   "session_s": session_s, "loop_s": list(loop_s.values()),
                   "ops": [{"id": o.op_id, "kind": o.kind, "s": o.seconds,
                            "ok": o.ok, "traced": o.traced, "info": o.info,
                            "layer": o.layer, "error": o.error} for o in ops],
                   "metrics": metrics}, fh, indent=1, default=str)
    if tracer is not None:
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0
