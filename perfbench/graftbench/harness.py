"""The closed loop shared by all workloads: one client thread issues
an operation, waits for it to finish, records it, and issues the
next."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Op:
    op_id: int
    kind: str
    seconds: float
    ok: bool = True
    traced: bool = False
    layer: dict = field(default_factory=dict)   # per-layer counters
    info: dict = field(default_factory=dict)    # workload-specific facts
    error: str = ""


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    """p90 only when at least ten samples lie beyond it."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def tree_files(root: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime_ns) of every regular file below `root`."""
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:       # removed by a concurrent GC
                continue
            out.append((p, st.st_size, st.st_mtime_ns))
    return out


def cpu_steal_sample() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return 0, 0
    vals = [int(v) for v in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def spark_probe(spark) -> float:
    """Fixed no-I/O Spark job: a hash aggregate over a generated range."""
    t0 = time.perf_counter()
    spark.range(0, 5_000_000, 1, 8).selectExpr(
        "sum(hash(id)) AS h", "count(1) AS n").collect()
    return time.perf_counter() - t0


class Loop:
    """Runs and records the operations of one benchmark run."""

    def __init__(self) -> None:
        self.ops: list[Op] = []
        self.tracer = None       # set (with census) while operations are traced
        self.census = None
        self.table_dir: str | None = None   # files written under it are counted

    def op(self, kind: str, fn, **info):
        """Time one operation. Returns fn()'s result, or None when it
        raised (the operation is recorded as failed)."""
        op_id = len(self.ops)
        traced = self.tracer is not None
        if traced:
            self.census.start(op_id, kind)
            self.tracer.op_id = op_id
            self.tracer.enabled = True
        wall0 = time.time_ns()
        t0 = time.perf_counter()
        result, ok, err = None, True, ""
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            ok, err = False, f"{type(exc).__name__}: {exc}"[:500]
        secs = time.perf_counter() - t0
        rec = Op(op_id, kind, secs, ok, traced, info=dict(info), error=err)
        if traced:
            self.tracer.enabled = False
            rec.layer = self.census.stop(secs)
        if self.table_dir is not None:
            written = [(s, m) for _, s, m in tree_files(self.table_dir)
                       if m >= wall0]
            rec.info["files_written"] = len(written)
            rec.info["bytes_written"] = sum(s for s, _ in written)
        self.ops.append(rec)
        return result
