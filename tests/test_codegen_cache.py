"""Whole-stage codegen stays warm across a batch-and-serving session.

Spark caches compiled codegen classes in one JVM-wide LRU. One
curation pass plus one round of ReadApi reads compiles more classes
than Spark's default cache holds (100), so at that size each round
evicted the previous pass's classes and the next pass compiled them
again. ``get_spark`` sizes the cache to the session's working set.
"""

from __future__ import annotations

from event_stream_starter_spark.api import ReadApi
from event_stream_starter_spark.plans.inspect import codegen_stats
from event_stream_starter_spark.queries import all_queries


def _noop_pass(spark, sf_dir) -> int:
    """Classes compiled by one dd_cluster_canonical noop write."""
    before, _ = codegen_stats(spark)
    df = all_queries()["dd_cluster_canonical"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return codegen_stats(spark)[0] - before


def _read_round(spark, sf_dir) -> None:
    """Each of the eight ReadApi endpoints once, with keys from the data."""
    api = ReadApi(spark, sf_dir)
    event_type = api.signals_heat().first()["event_type"]
    topic_hash = api.signals_topic().first()["topic_hash"]
    reads = [
        api.signals_heat(event_type),
        api.signals_summary(7),
        api.rules_eval(7),
        api.onchain_features(1),
        api.signals_topic(topic_hash),
        api.onchain_freshness(),
        api.cards_preview().limit(50),
        api.expert_onchain().limit(50),
    ]
    for df in reads:
        assert df.collect(), df


def test_second_curation_pass_after_reads_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    _noop_pass(spark, sf_dir)
    _read_round(spark, sf_dir)
    n = _noop_pass(spark, sf_dir)
    assert n == 0, (
        f"the second pass compiled {n} classes; the JVM has compiled "
        f"{codegen_stats(spark)[0]} in all"
    )
