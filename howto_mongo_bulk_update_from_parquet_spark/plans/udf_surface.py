"""User-function surface: the three Python extension points Spark
offers, each used where it's the right tool and oracle-checked.

- grouped-aggregate `pandas_udf` (UDAF): Arrow-batched, one call per
  group — here an exact integer aggregation so the result is
  engine-identical (a float UDAF would re-order summation).
- Python UDTF (`@udtf`): table function over LATERAL, executed on
  Spark 4's Arrow UDTF path (conf-enabled per query so the driver's
  vanilla session batches too); the relational twin (posexplode over
  a transform) remains the pure-JVM form (q_doc_chunking), this
  entry proves the UDTF API surface.
- `mapInArrow` (`q_arrow_batch_norms`): raw pyarrow RecordBatches,
  no pandas layer — the lowest-overhead extension point, carrying
  the exact-decimal kernel contract.
- The pandas Arrow batch paths (`mapInPandas`,
  `applyInPandasWithState`) are exercised by q_simhash /
  q_multimodal_meta / q_stream_first_seen_ttl /
  q_stream_threshold_alarm.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# infers the UDAF eval type from REAL type hints; postponed (string)
# annotations break that inference.
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .catalog import register

UDAF_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars * n_chars) AS BIGINT) AS sum_sq_chars
FROM documents
GROUP BY lang
"""


@register("q_udaf_grouped_agg", UDAF_ORACLE,
          "grouped-aggregate pandas_udf (UDAF): exact integer moments "
          "per language, Arrow-batched one call per group")
def q_udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def count_long(v: pd.Series) -> int:
        # pandas UDAFs can't mix with built-in aggregates in one agg,
        # so the count is a UDAF too
        return int(len(v))

    @pandas_udf("long")
    def sum_long(v: pd.Series) -> int:
        return int(v.sum())

    @pandas_udf("long")
    def sum_sq_long(v: pd.Series) -> int:
        return int((v.astype("int64") ** 2).sum())

    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("lang")
            .agg(count_long("n_chars").alias("n_docs"),
                 sum_long("n_chars").alias("total_chars"),
                 sum_sq_long("n_chars").alias("sum_sq_chars")))


GROUPED_MAP_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(median(n_chars) AS DOUBLE) AS median_chars,
       CAST(quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25) AS DOUBLE) AS iqr_chars
FROM documents
GROUP BY lang
"""


@register("q_grouped_map_median", GROUPED_MAP_ORACLE,
          "grouped-map applyInPandas: per-language median/IQR — "
          "rank statistics are sort-based, so numpy and SQL agree "
          "exactly (no summation-order noise)")
def q_grouped_map_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["n_chars"].to_numpy(dtype="float64")
        import numpy as np
        q25, q50, q75 = np.percentile(v, [25, 50, 75])  # linear interp
        return pd.DataFrame({"lang": [pdf["lang"].iloc[0]],
                             "n_docs": [len(v)],
                             "median_chars": [q50],
                             "iqr_chars": [q75 - q25]})

    d = load_table(spark, sf_dir, "documents")
    return (d.select("lang", "n_chars")
            .groupBy("lang")
            .applyInPandas(stats, schema="lang string, n_docs long, "
                                         "median_chars double, iqr_chars double"))


UDTF_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(unnest(range(0, len(tk) - 1)) AS BIGINT) AS pos,
       tk[unnest(range(0, len(tk) - 1)) + 1] || ' ' || tk[unnest(range(0, len(tk) - 1)) + 2] AS bigram
FROM toks
WHERE len(tk) >= 2
"""


@register("q_udtf_bigrams", UDTF_ORACLE,
          "Python UDTF via LATERAL: one row per token bigram, executed "
          "on the Arrow batch path (ArrowEvalPythonUDTF)")
def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from ..sources.parquet import _set_if_differs

    # Spark 4 ships an Arrow transfer path for Python UDTFs behind a
    # conf (off by default); without it the LATERAL evaluates as
    # row-at-a-time BatchEvalPythonUDTF — the one Python-row hop the
    # r5 plan sweep found. Set here (not only in the session factory)
    # so the driver's vanilla session gets the batch path too.
    _set_if_differs(spark, "spark.sql.execution.pythonUDTF.arrow.enabled",
                    "true")

    @udtf(returnType="doc_id: long, pos: long, bigram: string")
    class Bigrams:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield doc_id, i, f"{toks[i]} {toks[i + 1]}"

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("bigrams_udtf", Bigrams)
    return spark.sql(
        "SELECT b.* FROM __udtf_docs d, "
        "LATERAL bigrams_udtf(d.doc_id, d.text) b")


# ---------------------------------------------------------------------------
# mapInArrow: the lowest-overhead Python extension point — raw
# pyarrow RecordBatches, no pandas conversion at all. Exactness keeps
# the engine's decimal contract: per-element squares are HALF_UP
# round-12 scaled to int64 (exact integer sums — the same kernel the
# k-means/PQ distance path uses), so the value is bit-identical to
# the oracle's DECIMAL fold regardless of either engine's float
# summation order.
# ---------------------------------------------------------------------------

ARROW_NORMS_ORACLE = """
WITH vals AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS vd
  FROM embeddings
)
SELECT vec_id,
       ROUND(CAST(SUM(CAST(ROUND(vd * vd, 12) AS DECIMAL(30,12))) AS DOUBLE), 6)
         AS sq_norm
FROM vals GROUP BY vec_id
"""


@register("q_arrow_batch_norms", ARROW_NORMS_ORACLE,
          "mapInArrow kernel: exact-decimal squared norms over raw "
          "pyarrow RecordBatches — zero pandas, zero shuffle")
def q_arrow_batch_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    from ..operators.vector_kernels import round12_scaled, round_half_up

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            ids = b.column("vec_id")
            emb = b.column("embedding").to_pylist()
            V = np.array(emb, dtype=np.float64)          # (n, dim)
            scaled = round12_scaled(V * V).sum(axis=1)   # exact int64
            norms = round_half_up(scaled / 1e12, 6)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(norms, type=pa.float64())],
                ["vec_id", "sq_norm"])

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(kernel, "vec_id long, sq_norm double")


# ---------------------------------------------------------------------------
# applyInArrow: the grouped twin of mapInArrow — one pyarrow Table
# per group, no pandas. Completes the Python extension-point surface
# (UDF / UDAF / UDTF / mapInPandas / applyInPandas(WithState) /
# mapInArrow / applyInArrow). Same exact-decimal discipline: the
# per-label norm total is an int64 sum of HALF_UP round-12 scaled
# squares, bit-identical to the oracle's DECIMAL fold.
# ---------------------------------------------------------------------------

ARROW_GROUPED_ORACLE = """
WITH vals AS (
  SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS vd
  FROM embeddings
), per_vec AS (
  SELECT label, vec_id,
         SUM(CAST(ROUND(vd * vd, 12) AS DECIMAL(30,12))) AS sq
  FROM vals GROUP BY label, vec_id
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_vec_id,
       ROUND(CAST(SUM(sq) AS DOUBLE), 6) AS total_sq_norm
FROM per_vec GROUP BY label
"""


@register("q_arrow_grouped_stats", ARROW_GROUPED_ORACLE,
          "applyInArrow: per-label vector stats over one pyarrow "
          "Table per group — exact-decimal norm totals, no pandas")
def q_arrow_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pyarrow as pa

    from ..operators.vector_kernels import round12_scaled, round_half_up

    def kernel(table: pa.Table) -> pa.Table:
        ids = table.column("vec_id").to_numpy()
        V = np.array(table.column("embedding").to_pylist(), dtype=np.float64)
        total = int(round12_scaled(V * V).sum())     # exact int64 sum
        # types must match the declared schema exactly (applyInArrow
        # does no coercion: a python-int list infers int64, but label
        # is int32 in the source)
        return pa.table({
            "label": pa.array([table.column("label")[0].as_py()],
                              type=pa.int32()),
            "n_vecs": pa.array([len(ids)], type=pa.int64()),
            "min_vec_id": pa.array([int(ids.min())], type=pa.int64()),
            "max_vec_id": pa.array([int(ids.max())], type=pa.int64()),
            "total_sq_norm": pa.array(
                [float(round_half_up(np.array([total / 1e12]), 6)[0])],
                type=pa.float64()),
        })

    e = load_table(spark, sf_dir, "embeddings")
    return (e.select("label", "vec_id", "embedding")
            .groupBy("label")
            .applyInArrow(kernel, "label int, n_vecs long, min_vec_id long, "
                                  "max_vec_id long, total_sq_norm double"))
