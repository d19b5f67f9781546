"""`keyed_mix`: the two keyed-table loads in one run, each on its own
table. A unit is `ROUNDS_PER_UNIT` `upsert_cycle` rounds (CDC files
merged by full rewrite of a default-layout table, bypassing zone maps
and deltas) followed by one `lsm_mixed` cycle and its compaction (SQL
MERGE delta, lookups and a zone-mapped scan on a range-clustered
table). Sharing one session halves the per-run cost of starting Spark
and of its first, cold setup."""

from __future__ import annotations

import os

from .lsm_mixed import LsmMixed
from .upsert_cycle import UpsertCycle

ROUNDS_PER_UNIT = 4


class KeyedMix:
    name = "keyed_mix"
    unit_s = 14.4         # nominal seconds of one unit on the reference host
    # operation kinds of each part; a traced run also prints the
    # per-layer metrics of each part on its own
    parts = {"upsert_cycle": ("upsert",),
             "lsm_mixed": ("merge", "lookup_point", "lookup_range",
                           "scan_stats", "compact")}

    def __init__(self, run) -> None:
        self.run = run
        self.upsert = UpsertCycle(run)
        self.lsm = LsmMixed(run)

    def setup(self, rep_dir: str) -> None:
        # inputs for an untraced and a traced loop at most
        units = 2 * self.run.units
        self.upsert.setup(os.path.join(rep_dir, "upsert"),
                          timed_rounds=ROUNDS_PER_UNIT * units)
        self.lsm.setup(os.path.join(rep_dir, "lsm"), timed_cycles=units)

    def warmup(self) -> None:
        self.upsert.warmup()
        self.lsm.warmup()

    def loop(self, units: int) -> None:
        for _ in range(units):
            self.upsert.loop(ROUNDS_PER_UNIT)
            self.lsm.loop(1)

    def check(self) -> dict[str, str | None]:
        return {**self.upsert.check(), **self.lsm.check()}

    def report(self) -> list[tuple[str, float, str, int]]:
        return self.upsert.report() + self.lsm.report()
