"""The `lsm_mixed` part of `keyed_mix`: reads beside writes on a
range-clustered keyed table. One cycle is a `MERGE INTO` through the SQL write surface (it lands an
LSM delta over a contiguous recent key band), point lookups in three
key classes (so delta key-range skipping both fires and is bypassed),
key-range lookups, and one scan on the zone-mapped `score` column. A
compaction closes every cycle, so the pending-delta count rises and
falls. Loads manifest resolution, zone-map pruning and
merge-on-read."""

from __future__ import annotations

import os

import numpy as np

from . import data
from .harness import median, p90, tree_files
from .oracle import KeyedReplay

SIZES = {"full": {"base_rows": 30_000, "delta_rows": 1_000},
         "smoke": {"base_rows": 20_000, "delta_rows": 1_000}}
RANGE_FILES = 16
# point lookups per cycle and key class: outside the latest band (the
# new delta is skipped by its key range), updated by the latest band
# (base and delta both hold the key), inserted by it (delta only)
LOOKUPS_PER_CLASS = 2
RANGE_LOOKUPS = 2             # per cycle, each spanning 0.1% of the keys
SCAN_WIDTH = 0.001            # score window of the stats-column scan
MERGE_SQL = ("MERGE INTO t USING lsm_src s ON t._id = s._id "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r[c] for c in data.PIPELINE_COLS)
                  for r in df.select(*data.PIPELINE_COLS).collect())


class LsmMixed:
    def __init__(self, run) -> None:
        self.run = run
        self.size = SIZES[run.size]
        self.merged = 0                 # MERGE sources applied so far
        self.reads: list[tuple] = []    # (op, merges applied, where-sql, rows)
        self.next_cycle = 1             # cycle 0 is the warm-up
        self.rng = np.random.default_rng([run.seed, 11])

    def setup(self, rep_dir: str, timed_cycles: int) -> None:
        """Write the base, the MERGE sources of the warm-up cycle and of
        up to `timed_cycles` timed cycles, and the initial table."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        spark, seed, sz = self.run.spark, self.run.seed, self.size
        self.base = os.path.join(rep_dir, "base.parquet")
        self.table = os.path.join(rep_dir, "table")
        data.write_pipeline_base(spark, sz["base_rows"], seed, self.base,
                                 correlated_score=True)
        self.deltas = data.write_lsm_deltas(
            sz["base_rows"], sz["delta_rows"], 1 + timed_cycles, seed,
            os.path.join(rep_dir, "merge"))
        kt.upsert_into_keyed_table(spark, spark.read.parquet(self.base),
                                   path=self.table, key="_id",
                                   range_files=RANGE_FILES,
                                   stats_cols=["score"])

    # -- operations ----------------------------------------------------
    def _merge(self, c: int):
        from howto_mongo_bulk_update_from_parquet_spark.sinks.sql_merge import sql_write
        spark = self.run.spark
        spark.read.parquet(self.deltas[c][0]).createOrReplaceTempView("lsm_src")
        out = sql_write(spark, MERGE_SQL, tables={"t": (self.table, "_id")})
        self.merged += 1
        return out

    def _lookup(self, where_sql: str, **kw):
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        df, stats = kt.lookup_keyed_table(self.run.spark, self.table, "_id",
                                          with_stats=True, **kw)
        rows = _rows(df)
        return rows, stats, where_sql

    def _scan(self, lo: float):
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        df, stats = kt.scan_keyed_table(
            self.run.spark, self.table,
            where={"score": (lo, lo + SCAN_WIDTH)}, with_stats=True)
        rows = _rows(df)
        return rows, stats, (f"score BETWEEN CAST('{lo!r}' AS DOUBLE) "
                             f"AND CAST('{lo + SCAN_WIDTH!r}' AS DOUBLE)")

    def _compact(self):
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        kt.compact(self.run.spark, self.table, "_id")

    def _read(self, kind: str, fn):
        """Run one timed read and keep its result for the check."""
        out = self.run.loop.op(kind, fn)
        op = self.run.loop.ops[-1]
        if out is not None:
            rows, stats, where_sql = out
            op.info.update(stats)
            self.reads.append((op, self.merged, where_sql, rows))

    def _cycle(self, c: int, rng, timed: bool, per_class: int) -> None:
        n = self.size["base_rows"]
        _, band_lo, band_hi = self.deltas[c]
        op = self.run.loop.op if timed else (lambda kind, fn: fn())
        read = self._read if timed else (lambda kind, fn: fn())
        op("merge", lambda: self._merge(c))
        mid = (band_lo + band_hi) // 2
        keys = np.concatenate([
            rng.integers(0, band_lo, per_class),
            rng.integers(band_lo, mid, per_class),
            rng.integers(mid, band_hi, per_class)])
        for k in map(str, data.key_str(keys)):
            read("lookup_point", lambda k=k: self._lookup(
                f"_id = '{k}'", values=[k]))
        width = max(1, n // 1000)
        for x in rng.integers(0, band_lo - width, RANGE_LOOKUPS):
            lo, hi = map(str, data.key_str(np.array([x, x + width - 1])))
            read("lookup_range", lambda lo=lo, hi=hi: self._lookup(
                f"_id BETWEEN '{lo}' AND '{hi}'", lo=lo, hi=hi))
        a = float(rng.uniform(0.0, 1.0 - SCAN_WIDTH))
        read("scan_stats", lambda: self._scan(a))

    def warmup(self) -> None:
        """One untimed cycle with one lookup per key class, and a
        compaction, so every operation kind has run once before timing."""
        self._cycle(0, np.random.default_rng([self.run.seed, 10]),
                    timed=False, per_class=1)
        self._compact()

    def loop(self, cycles: int) -> None:
        lp = self.run.loop
        lp.table_dir = self.table
        for _ in range(cycles):
            self._cycle(self.next_cycle, self.rng, timed=True,
                        per_class=LOOKUPS_PER_CLASS)
            self.next_cycle += 1
            before = {p for p, _, _ in tree_files(self.table)}
            lp.op("compact", self._compact)
            lp.ops[-1].info["bytes_rewritten"] = sum(
                s for p, s, _ in tree_files(self.table)
                if p not in before and "/base_v" in p)

    # -- correctness ---------------------------------------------------
    def check(self) -> dict[str, str | None]:
        """Replay the MERGE sources in DuckDB; every recorded read must
        equal the replayed state it observed, and the final merged read
        must equal the final state."""
        from howto_mongo_bulk_update_from_parquet_spark.sinks import keyed_table as kt
        replay = KeyedReplay(self.base)
        try:
            for version in range(self.merged + 1):
                while replay.version < version:
                    replay.apply(self.deltas[replay.version][0])
                for op, v, where_sql, rows in self.reads:
                    if v == version and rows != replay.rows(where_sql):
                        op.ok = False
                        op.error = f"{where_sql}: result differs from the replay"
            while replay.version < self.merged:
                replay.apply(self.deltas[replay.version][0])
            out = os.path.join(self.run.check_dir, "lsm_final.parquet")
            final = kt.read_merged(self.run.spark, self.table, "_id")
            final.select(*data.PIPELINE_COLS).write.mode("overwrite").parquet(out)
            self.live_bytes = sum(s for _, s, _ in tree_files(out))
            self.disk_bytes = sum(s for _, s, _ in tree_files(self.table))
            bad = replay.diff_table(out, corrupt=self.run.corrupt)
        finally:
            replay.close()
        return {"final_merged_read": f"{bad} rows differ from the replay" if bad else None}

    def report(self) -> list[tuple[str, float, str, int]]:
        ops = [o for o in self.run.loop.ops if o.ok and not o.traced]

        def secs(kind):
            return [o.seconds for o in ops if o.kind == kind]
        point = secs("lookup_point")
        out = [("lookup.point_s.p50", median(point), "s", len(point))]
        pt90 = p90(point)
        if pt90 is not None:
            out.append(("lookup.point_s.p90", pt90, "s", len(point)))
        for name, kind in [("lookup.range_s.p50", "lookup_range"),
                           ("scan.stats_s.p50", "scan_stats"),
                           ("merge.sql_s.p50", "merge"),
                           ("compact_s.p50", "compact")]:
            xs = secs(kind)
            out.append((name, median(xs), "s", len(xs)))
        out.append(("lsm.space_amp",
                    self.disk_bytes / self.live_bytes if self.live_bytes else 0.0,
                    "ratio", 1))
        return out
