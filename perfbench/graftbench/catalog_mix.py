"""`catalog_mix`: read-only analytics over generated catalog tables.
Each operation builds one catalog query (`all_queries()[name](spark,
sf_dir)`) and executes it, collecting the result so it can be checked
against the query's DuckDB oracle. Three named families: short
relational queries where planning dominates, Python-worker and
vector/text operator kernels, and the stateful streaming path.
Loads `plans`, Spark planning, `operators` and `streaming`; barely
touches the keyed table."""

from __future__ import annotations

import os
import time

import duckdb

from . import data
from .harness import median

FAMILIES = {
    "relational": ["q1_pricing_summary", "q_tpch_q3_shipping"],
    "operators": ["q_kmeans_iter"],
    "streaming": ["q_stream_first_seen"],
}
SIZES = {"full": {"sf": 0.002}, "smoke": {"sf": 0.001}}


class CatalogMix:
    name = "catalog_mix"
    unit_s = 4.5          # nominal seconds of one pass on the reference host
    parts = FAMILIES      # a traced run also prints each family's layer metrics

    def __init__(self, run) -> None:
        self.run = run
        self.size = SIZES[run.size]
        self.results: list[tuple] = []     # (op, query name, pandas result)
        self.passes: list[tuple[bool, dict]] = []   # (traced, family -> s)

    def setup(self, rep_dir: str) -> None:
        from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
        self.queries = all_queries()
        self.sf_dir = os.path.join(rep_dir, "sf")
        data.write_catalog_tables(self.size["sf"], self.run.seed, self.sf_dir)

    def _execute(self, name: str):
        """Build (the `plans` layer, spanned here at the call site) and
        execute one query; the Spark jobs the build itself starts are
        counted when traced."""
        lp = self.run.loop
        traced = lp.tracer is not None
        jobs0 = lp.census.next_job_id() if traced else 0
        t0 = time.perf_counter()
        span = lp.tracer.begin("plans", f"plans.{name}") if traced else None
        try:
            df = self.queries[name](self.run.spark, self.sf_dir)
        finally:
            if traced:
                lp.tracer.end(span)
        build = {"build_s": time.perf_counter() - t0}
        if traced:
            build["build_jobs"] = lp.census.next_job_id() - jobs0
        return df.toPandas(), build

    def warmup(self) -> None:
        for names in FAMILIES.values():
            for n in names:
                self._execute(n)

    def loop(self, units: int) -> None:
        lp = self.run.loop
        for _ in range(units):
            totals = {}
            for fam, names in FAMILIES.items():
                totals[fam] = 0.0
                for n in names:
                    out = lp.op(n, lambda n=n: self._execute(n), family=fam)
                    op = lp.ops[-1]
                    totals[fam] += op.seconds
                    if out is not None:
                        pdf, build = out
                        op.info.update(build)
                        self.results.append((op, n, pdf))
            self.passes.append((lp.tracer is not None, totals))

    def check(self) -> dict[str, str | None]:
        """Every collected result against its catalog oracle, with
        `selfcheck.compare` semantics (row count, columns, order-
        insensitive values)."""
        from selfcheck import TABLES, compare
        from howto_mongo_bulk_update_from_parquet_spark.plans.catalog import CATALOG
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            want = {n: con.execute(CATALOG[n].oracle).fetchdf()
                    for names in FAMILIES.values() for n in names}
        finally:
            con.close()
        for i, (op, n, pdf) in enumerate(self.results):
            if self.run.corrupt and i == 0 and len(pdf):
                pdf = pdf.copy()
                num = [c for c in pdf.columns if pdf[c].dtype.kind in "iuf"]
                if num:
                    pdf.loc[pdf.index[0], num[0]] += 1
                else:
                    pdf.loc[pdf.index[0], pdf.columns[0]] = "corrupted"
            problems = compare(n, pdf, want[n])
            if problems:
                op.ok = False
                op.error = "; ".join(problems)[:500]
        return {}

    def report(self) -> list[tuple[str, float, str, int]]:
        untraced = [t for traced, t in self.passes if not traced]
        return [(f"catalog.{fam}_pass_s", median([t[fam] for t in untraced]),
                 "s", len(untraced)) for fam in FAMILIES]
