"""Seeded input generators for the three workloads.

Every input is a pure function of the benchmark seed: CDC rounds, LSM
MERGE sources and the catalog tables are drawn with numpy and written
with pyarrow, so their bytes do not depend on the Spark core count.
The two keyed-table bases come from the package's own generator
(`sources.generate.generate_pipeline_data`) with a pinned partition
count, which makes Spark's per-partition `rand()` streams
reproducible too.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES = ["feature_1", "feature_2", "feature_3", "feature_4"]
PIPELINE_COLS = ["_id", *FEATURES, "score"]
GEN_PARTITIONS = 4          # pinned: rand() streams are per partition


def key_str(ids: np.ndarray) -> np.ndarray:
    """The generator's deterministic key format (`id-%012d`)."""
    return np.char.add("id-", np.char.zfill(ids.astype(str), 12))


def _pipeline_table(keys, feats: np.ndarray, score: np.ndarray,
                    null_mask: np.ndarray) -> pa.Table:
    cols = {"_id": pa.array(keys, pa.string())}
    for i, name in enumerate(FEATURES):
        cols[name] = pa.array(feats[:, i], pa.float64(),
                              mask=null_mask[:, i])
    cols["score"] = pa.array(score, pa.float64())
    return pa.table(cols)


def write_pipeline_base(spark, n_rows: int, seed: int, dst: str,
                        *, correlated_score: bool = False) -> None:
    """The 1M-row pipeline base (`_id`, `feature_1..4`, `score`),
    written as parquet. `correlated_score` ties `score` to the key
    position (plus jitter) so a key-range layout also clusters the
    score column, and the zone map on `score` can prune."""
    from pyspark.sql import functions as F
    from howto_mongo_bulk_update_from_parquet_spark.sources.generate import (
        generate_pipeline_data)
    df = generate_pipeline_data(spark, n_rows, seed=seed,
                                n_partitions=GEN_PARTITIONS)
    if correlated_score:
        pos = F.expr("CAST(substr(_id, 4) AS BIGINT)") / F.lit(n_rows)
        df = df.withColumn("score", pos * 0.9 + F.col("score") * 0.1)
    df.write.mode("overwrite").parquet(dst)


def write_cdc_rounds(n_base: int, n_rows: int, n_rounds: int, seed: int,
                     out_dir: str) -> list[str]:
    """One CDC parquet file per upsert round: ~50% updates of live
    keys, ~45% new keys, ~3% in-batch duplicates, ~2% NULL keys and
    10% NULL features (score stays non-null)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    next_id = n_base
    paths = []
    for r in range(n_rounds):
        n_upd = n_rows // 2
        n_new = n_rows * 45 // 100
        n_null = n_rows * 2 // 100
        n_dup = n_rows - n_upd - n_new - n_null
        upd = rng.choice(next_id, size=n_upd, replace=False)
        new = np.arange(next_id, next_id + n_new)
        next_id += n_new
        uniq = np.concatenate([upd, new])
        dup = rng.choice(uniq, size=n_dup, replace=False)
        keys = key_str(np.concatenate([uniq, dup])).astype(object)
        keys = np.concatenate([keys, np.full(n_null, None, object)])
        order = rng.permutation(n_rows)
        feats = rng.random((n_rows, len(FEATURES)))
        nulls = rng.random((n_rows, len(FEATURES))) < 0.10
        score = rng.random(n_rows)
        t = _pipeline_table(keys[order], feats, score, nulls)
        p = os.path.join(out_dir, f"cdc_{r:03d}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    return paths


def write_lsm_deltas(n_base: int, n_rows: int, n_cycles: int, seed: int,
                     out_dir: str) -> list[tuple[str, int, int]]:
    """One MERGE source per LSM cycle over a contiguous recent key
    band: the top `n_rows/2` live keys (updates) plus `n_rows/2` new
    keys above them. Keys are unique within a source; 5% of features
    are NULL. Returns (path, band_lo, band_hi) per cycle, band bounds
    as integer key positions [lo, hi)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    half = n_rows // 2
    out = []
    top = n_base
    for c in range(n_cycles):
        lo, hi = top - half, top + half
        top = hi
        ids = np.arange(lo, hi)
        feats = rng.random((n_rows, len(FEATURES)))
        nulls = rng.random((n_rows, len(FEATURES))) < 0.05
        score = ids / n_base * 0.9 + rng.random(n_rows) * 0.1
        t = _pipeline_table(key_str(ids), feats, score, nulls)
        p = os.path.join(out_dir, f"merge_{c:03d}.parquet")
        pq.write_table(t, p)
        out.append((p, int(lo), int(hi)))
    return out


# --- catalog tables --------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def write_catalog_tables(sf: float, seed: int, out_dir: str) -> None:
    """TPC-H-shaped star schema plus `events`, `documents` and
    `embeddings`, with the column names, physical types and value
    domains the query catalog reads (one parquet file per table,
    timestamps as microsecond TIMESTAMP without time zone)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-1000, 10000, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-1000, 10000, n_supp)})
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(_ADJ, n_part), " "),
                              rng.choice(_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    day = 86_400_000_000
    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = d0 + rng.integers(0, (d1 - d0) // day + 1, n_ord) * day
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lok = rng.integers(0, n_ord, n_line)
    put("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n_line) * day)})
    e0, e1 = _us(dt.datetime(2024, 1, 1)), _us(dt.datetime(2024, 1, 31))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(rng.integers(e0, e1, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 101)))
             for _ in range(n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        words = texts[rng.integers(0, i)].split()    # near-duplicate
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
