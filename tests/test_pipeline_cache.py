"""run_pipeline's cache materialization releases what it caches: the
shared intermediates serve one run's sinks, and a long-lived session
(a notebook, a scheduler running several months) must not accumulate
them across calls."""

from stats_spark.plans import pipeline


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_cache_mode_leaves_nothing_cached(spark, t1, tmp_path):
    before = _persistent_rdds(spark)
    m = pipeline.run_pipeline(spark, t1, str(tmp_path), count_rows=False,
                              materialize="cache")
    assert {s["partition"] for s in m["sinks"]} == {*pipeline.SINKS,
                                                    "rejects"}
    assert _persistent_rdds(spark) == before
