"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each end-to-end test starts the benchmark as a subprocess at smoke
size (tiny inputs, one JVM per run), so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from graftbench import data  # noqa: E402
from graftbench.tracing import Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# the workload-specific metrics each workload prints by name
_UPSERT = ["upsert.rows_per_s", "upsert.round_s.p50", "upsert.write_amp"]
_LSM = ["lookup.point_s.p50", "lookup.range_s.p50", "scan.stats_s.p50",
        "merge.sql_s.p50", "compact_s.p50", "lsm.space_amp"]
NAMED_METRICS = {
    "keyed_mix": _UPSERT + _LSM,
    "catalog_mix": ["catalog.relational_pass_s", "catalog.operators_pass_s",
                    "catalog.streaming_pass_s"],
}
# per-layer metrics that must be positive where a workload exercises
# the layer: the tracer patched live bindings and the census saw events
POSITIVE = {
    "keyed_mix": ["trace.spans", "spark.jobs", "spark.tasks",
                  "fs.listdir.calls", "keyed_table.upsert_s",
                  "keyed_table.bytes_written", "compact.bytes_rewritten",
                  "lsm.pending_deltas", "sql_merge.jobs",
                  "layer.keyed_table.self_s", "layer.zonemap.self_s",
                  "layer.sql_merge.self_s", "zonemap.files_kept_ratio"],
    "catalog_mix": ["trace.spans", "spark.jobs", "plans.build_s",
                    "layer.plans.self_s", "layer.sources.self_s",
                    "layer.operators.self_s", "layer.streaming.self_s",
                    "operators.python_rows", "streaming.batches"],
}
# (part, metric) pairs that must be positive in a part's own layer lines
PART_POSITIVE = {
    "keyed_mix": [("upsert_cycle", "keyed_table.upsert_s"),
                  ("lsm_mixed", "layer.zonemap.self_s"),
                  ("lsm_mixed", "zonemap.files_kept_ratio")],
    "catalog_mix": [("operators", "operators.python_rows"),
                    ("streaming", "streaming.batches")],
}


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _parts(proc) -> dict[tuple[str, str], float]:
    """(part, name) -> value of every `layer[<part>]` line printed."""
    out = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if parts and parts[0].startswith("layer[") and len(parts) >= 3:
            out[parts[0][6:-1], parts[1]] = float(parts[2])
    return out


def _printed(proc) -> dict[str, str]:
    """name -> unit of every `metric` / `layer` line printed."""
    out = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if parts and parts[0] in ("metric", "layer") and len(parts) >= 4:
            out[parts[1]] = parts[3]
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_run_emits_every_metric(workload):
    proc = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                  "--trace", "1", "--size", "smoke")
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    values = {k: v["value"] for k, v in res["metrics"].items()}
    for name in POSITIVE[workload]:
        assert values[name] > 0, name
    if workload == "keyed_mix":           # the zone map pruned files
        assert values["zonemap.files_kept_ratio"] < 1
    part_values = _parts(proc)
    for key in PART_POSITIVE[workload]:
        assert part_values[key] > 0, key
    printed = _printed(proc)
    for name in NAMED_METRICS[workload] + [m["name"] for m in SPEC["end_to_end"]]:
        assert name in printed, name
    assert "ops_failed_ratio" in printed


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_result_fails_the_check(workload):
    proc = _bench(ROOT, "--workload", workload, "--seed", "6", "--seconds", "1",
                  "--trace", "0", "--size", "smoke", "--corrupt")
    res = _result(proc)
    assert not res["correct"] and res["failed"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def digest(seed, d):
        paths = data.write_cdc_rounds(1000, 200, 2, seed, str(tmp_path / d))
        return [open(p, "rb").read() for p in paths]
    assert digest(1, "a") == digest(1, "b")
    assert digest(1, "a") != digest(2, "c")


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [Span(0, None, 0, "keyed_table", "a", 0.0, 10.0),
               Span(1, 0, 0, "fs", "b", 1.0, 3.0),
               Span(2, 0, 0, "zonemap", "c", 4.0, 5.0),
               Span(3, 2, 0, "fs", "d", 4.2, 4.7)]
    self_s = {s.name: round(st, 9) for s, st in t.self_times()}
    assert self_s == {"a": 7.0, "b": 2.0, "c": 0.5, "d": 0.5}
