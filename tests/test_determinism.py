"""Determinism across parallelism levels (north_rule: N and 4N executors
must produce the identical crawl ordering and URL-seen set).

A real two-cluster comparison is impossible in-process, so this test
varies every parallelism-shaped knob available inside one session —
shuffle partition count and frontier bucket count — and requires
bit-identical crawl order + seen set. An advisory partition size of one
byte makes the engine's sized fan-out (sized_shuffle_scope) equal the
session count, so the narrow and wide runs really run 2 and 16 ways; a
third run at the default advisory size takes the sized fan-out.
"""

from pyspark.sql import functions as F

from texting_robots_spark.operators.gate import RulesBroadcast, build_rules
from texting_robots_spark.operators.seen import BloomConfig
from texting_robots_spark.plans.superstep import CrawlConfig, crawl_order, run_crawl
from texting_robots_spark.sources.frontier_store import FrontierStore
from texting_robots_spark.sources.synth import (
    synth_documents_df,
    synth_robots_df,
    synth_universe,
)


_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _run(spark, tmpdir, shuffle_partitions, n_buckets, advisory="1b"):
    documents, robots, seeds = synth_universe(n_hosts=10, n_docs=250, n_seeds=15, seed=42)
    # cached and counted, so the planner has the docs' size
    docs_df = synth_documents_df(spark, documents).repartition(shuffle_partitions).cache()
    docs_df.count()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=n_buckets, n_bits=1 << 16, n_hashes=4),
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if advisory is not None:
        spark.conf.set(_ADVISORY, advisory)
    try:
        store = FrontierStore(tmpdir, n_buckets=n_buckets)
        rules = RulesBroadcast(spark, build_rules(robots_df, cfg.agent))
        run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=4, rules=rules)
        order = [tuple(r) for r in crawl_order(spark, store).collect()]
        seen = sorted(
            r["url_hash"] for r in store.read_frontier(spark).select("url_hash").collect()
        )
        return order, seen
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.unset(_ADVISORY)
        docs_df.unpersist()


def test_crawl_order_and_seen_set_identical_across_parallelism(spark, tmp_path):
    order_a, seen_a = _run(spark, str(tmp_path / "narrow"), shuffle_partitions=2, n_buckets=4)
    order_b, seen_b = _run(spark, str(tmp_path / "wide"), shuffle_partitions=16, n_buckets=16)
    order_c, seen_c = _run(
        spark, str(tmp_path / "sized"), shuffle_partitions=16, n_buckets=16, advisory=None
    )
    assert seen_a == seen_b == seen_c
    assert order_a == order_b == order_c
