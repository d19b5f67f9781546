"""The `upsert_cycle` part of `keyed_mix`: the paper's scan -> key-merge
-> sink pipeline as a write-heavy loop. Each operation reads one CDC
parquet file and MERGEs it into the keyed table (default, non-range
layout). Loads the full-outer merge, the base rewrite and the commit
protocol; bypasses zone maps, LSM deltas and Python workers."""

from __future__ import annotations

import os

from . import data
from .harness import median
from .oracle import KeyedReplay

SIZES = {"full": {"base_rows": 60_000, "cdc_rows": 6_000},
         "smoke": {"base_rows": 20_000, "cdc_rows": 2_000}}
WARMUP_ROUNDS = 2


class UpsertCycle:
    def __init__(self, run) -> None:
        self.run = run
        self.size = SIZES[run.size]
        self.applied: list[int] = []        # CDC rounds applied, in order
        self.counts: dict[int, dict] = {}   # round -> returned counts
        self.next_round = WARMUP_ROUNDS

    def setup(self, rep_dir: str, timed_rounds: int) -> None:
        """Write the base, the CDC files of the warm-up and of up to
        `timed_rounds` timed rounds, and the initial table."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        spark, seed, sz = self.run.spark, self.run.seed, self.size
        self.base = os.path.join(rep_dir, "base.parquet")
        self.table = os.path.join(rep_dir, "table")
        data.write_pipeline_base(spark, sz["base_rows"], seed, self.base)
        self.cdc = data.write_cdc_rounds(sz["base_rows"], sz["cdc_rows"],
                                         WARMUP_ROUNDS + timed_rounds,
                                         seed, os.path.join(rep_dir, "cdc"))
        kt.upsert_into_keyed_table(spark, spark.read.parquet(self.base),
                                   path=self.table, key="_id")

    def _round(self, r: int):
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        spark = self.run.spark
        _, counts = kt.upsert_into_keyed_table(
            spark, spark.read.parquet(self.cdc[r]), path=self.table,
            key="_id", return_counts=True)
        self.applied.append(r)
        self.counts[r] = dict(counts)
        return counts

    def warmup(self) -> None:
        for r in range(WARMUP_ROUNDS):      # JIT and codegen of the merge
            self._round(r)

    def loop(self, rounds: int) -> None:
        lp = self.run.loop
        lp.table_dir = self.table
        for _ in range(rounds):
            r = self.next_round
            self.next_round += 1
            lp.op("upsert", lambda: self._round(r), round=r,
                  source_bytes=os.path.getsize(self.cdc[r]))

    def check(self) -> dict[str, str | None]:
        """Replay every applied round in DuckDB; compare each round's
        returned counts (a mismatch fails that operation) and the final
        table (an end-state check)."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        replay = KeyedReplay(self.base)
        try:
            by_round = {o.info["round"]: o for o in self.run.loop.ops
                        if "round" in o.info}
            for r in self.applied:
                want = replay.apply(self.cdc[r])
                if self.counts[r] != want and r in by_round:
                    by_round[r].ok = False
                    by_round[r].error = f"counts {self.counts[r]} != {want}"
            out = os.path.join(self.run.check_dir, "upsert_final.parquet")
            (kt.read_keyed_table(self.run.spark, self.table)
             .select(*data.PIPELINE_COLS).write.mode("overwrite").parquet(out))
            bad = replay.diff_table(out, corrupt=self.run.corrupt)
        finally:
            replay.close()
        return {"final_table": f"{bad} rows differ from the replay" if bad else None}

    def report(self) -> list[tuple[str, float, str, int]]:
        ops = [o for o in self.run.loop.ops if o.kind == "upsert" and o.ok
               and not o.traced]
        secs = [o.seconds for o in ops]
        rows = len(ops) * self.size["cdc_rows"]
        written = sum(o.info.get("bytes_written", 0) for o in ops)
        src = sum(o.info["source_bytes"] for o in ops)
        return [
            ("upsert.rows_per_s", rows / sum(secs) if secs else 0.0, "rows/s", len(ops)),
            ("upsert.round_s.p50", median(secs), "s", len(ops)),
            ("upsert.write_amp", written / src if src else 0.0, "ratio", len(ops)),
        ]
