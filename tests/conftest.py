import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("howto_mongo_bulk_update_from_parquet_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s


@pytest.fixture(scope="session")
def catalog_frames(spark):
    """`frames(sf_dir)` -> {name: DataFrame} for every catalog query,
    built ONCE per session and scale — building all of them is
    minutes of driver-side planning, and the catalog-wide checks in
    test_catalog.py and test_plans.py all read the same build.
    Streaming queries run their stream while being built; every batch
    query's optimized and executed plans are forced right after its
    build, under the session conf it was built with, so a later test
    reads the same plans a per-test build would."""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    built: dict[str, dict] = {}

    def frames(sf_dir: str) -> dict:
        if sf_dir not in built:
            out = {}
            for name, fn in all_queries().items():
                df = fn(spark, sf_dir)
                if not name.startswith("q_stream_"):
                    qe = df._jdf.queryExecution()
                    qe.optimizedPlan()
                    qe.executedPlan()
                out[name] = df
            built[sf_dir] = out
        return built[sf_dir]
    return frames


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(request):
    """Keep the shared session's parallelism deterministic across the
    suite: any test that routes through `session.get_spark` (every CLI
    test) silently flips spark.sql.shuffle.partitions 4 -> cpu_count
    for all later tests, because getOrCreate applies builder runtime
    confs to the EXISTING session. Plan-shape tests then see different
    Exchange decisions depending on test order (burned once in r10:
    the bucketed-scan pin flipped when run after test_config). Restore
    the conf after every test that touched an active session."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.conf.set("spark.sql.shuffle.partitions", "4")
