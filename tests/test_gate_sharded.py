"""gate_sharded (cogrouped applyInPandas, no driver collect/broadcast)
must be row-identical to gate (broadcast path) — including unknown
hosts, null URLs, parse errors, and the delay column — and must work
with a rules table larger than spark.sql.autoBroadcastJoinThreshold
would allow to broadcast-join comfortably."""

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from texting_robots_spark.conformance import CORPUS
from texting_robots_spark.operators.gate import (
    RulesBroadcast,
    build_rules_per_agent,
    gate,
    gate_sharded,
)

CASES = [c for c in CORPUS if c.allowed and not c.parse_error]

_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@contextmanager
def advisory_size(spark, value):
    """Run the block at advisory partition size ``value`` (None: the
    session's). At "1b" every input needs the session's full fan-out."""
    if value is not None:
        spark.conf.set(_ADVISORY, value)
    try:
        yield
    finally:
        spark.conf.unset(_ADVISORY)


@pytest.fixture(scope="module")
def corpus_frames(spark):
    raw = spark.createDataFrame(
        [(c.case_id, bytearray(c.robots), c.agent) for c in CASES],
        "host string, body binary, agent string",
    )
    rules_df = build_rules_per_agent(raw).drop("agent").cache()
    cand = spark.createDataFrame(
        [(c.case_id, u) for c in CASES for u, _ in c.allowed]
        # salt in rows the broadcast path treats specially
        + [
            ("unknown.example", "https://unknown.example/x"),
            (CASES[0].case_id, None),
            ("unknown.example", None),
        ],
        "host string, url string",
    ).cache()
    # fill both caches before any gate plans over them: the planner
    # sizes a frame from its cache only once the cache is filled
    rules_df.count(), cand.count()
    return rules_df, cand


def _as_map(rows):
    return {(r["host"], r["url"]): (r["allowed"], r["crawl_delay"]) for r in rows}


def test_sharded_equals_broadcast_on_corpus(spark, corpus_frames):
    rules_df, cand = corpus_frames
    bc = RulesBroadcast(spark, rules_df)
    want = _as_map(gate(cand, bc, with_delay=True).collect())
    # the small corpus sizes to one partition, and so to one salt; at a
    # 1-byte advisory size it keeps the full fan-out and n_salts=8 runs
    # 8 salts
    for advisory in (None, "1b"):
        with advisory_size(spark, advisory):
            for n_salts in (1, 8):
                got = _as_map(
                    gate_sharded(
                        cand, rules_df, with_delay=True, n_salts=n_salts
                    ).collect()
                )
                assert got == want, f"advisory={advisory} n_salts={n_salts}"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_gates_equal_at_sized_and_full_fan_out(spark, corpus_frames):
    """Both gates give the same rows at the sized fan-out (one
    partition for the corpus) and at the session's full fan-out."""
    rules_df, cand = corpus_frames
    bc = RulesBroadcast(spark, rules_df)
    # no delay column: its local frame carries a Coalesce of its own
    gates = {
        "gate": (lambda: gate(cand, bc, with_delay=False), "Coalesce 1"),
        "sharded": (
            lambda: gate_sharded(cand, rules_df, with_delay=False),
            "REPARTITION_BY_NUM",
        ),
    }
    for name, (run, sized_node) in gates.items():
        sized = run()
        assert sized_node in _plan(sized), name
        want = {(r["host"], r["url"]): r["allowed"] for r in sized.collect()}
        with advisory_size(spark, "1b"):
            full = run()
            assert sized_node not in _plan(full), name
            got = {(r["host"], r["url"]): r["allowed"] for r in full.collect()}
            assert got == want, name


def test_sharded_no_delay_column(spark, corpus_frames):
    rules_df, cand = corpus_frames
    out = gate_sharded(cand, rules_df, with_delay=False)
    assert "crawl_delay" not in out.columns
    assert out.count() == cand.count()


def test_multi_agent_delay_per_host_and_agent(spark):
    """With ``agent_col``, each row's ``crawl_delay`` (and verdict) is
    its own (host, agent) group's: two bots on one host get their own
    delays, an agent no group names gets NULL, and so does a host
    without rules."""
    body = (
        b"User-agent: AlphaBot\nCrawl-delay: 3\nDisallow: /a\n\n"
        b"User-agent: BetaBot\nCrawl-delay: 7\nDisallow: /b\n"
    )
    raw = spark.createDataFrame(
        [("m.example", bytearray(body), a) for a in ("AlphaBot", "BetaBot", "GammaBot")]
        + [("n.example", bytearray(b"User-agent: *\nCrawl-delay: 1.5\n"), "AlphaBot")],
        "host string, body binary, agent string",
    )
    want = {
        ("m.example", "AlphaBot", "https://m.example/a/1"): (False, 3.0),
        ("m.example", "AlphaBot", "https://m.example/b/1"): (True, 3.0),
        ("m.example", "BetaBot", "https://m.example/b/1"): (False, 7.0),
        ("m.example", "BetaBot", "https://m.example/a/1"): (True, 7.0),
        ("m.example", "GammaBot", "https://m.example/a/1"): (True, None),
        ("n.example", "AlphaBot", "https://n.example/a/1"): (True, 1.5),
        ("unknown.example", "AlphaBot", "https://unknown.example/a"): (True, None),
    }
    cand = spark.createDataFrame(list(want), "host string, agent string, url string")
    out = gate_sharded(
        cand, build_rules_per_agent(raw), with_delay=True, agent_col="agent"
    )
    got = {
        (r["host"], r["agent"], r["url"]): (r["allowed"], r["crawl_delay"])
        for r in out.collect()
    }
    assert got == want


def test_sharded_beyond_broadcast_scale(spark):
    """A wide synthetic rules table (more hosts than one would want to
    collect) gates correctly: every host's own /private is denied, /ok
    allowed — without any driver-side rules materialization."""
    n_hosts = 2000
    hosts = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
    )
    body = b"User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"
    raw = hosts.select(
        "host",
        F.lit(bytearray(body)).alias("body"),
        F.lit("TRSBot").alias("agent"),
    )
    rules_df = build_rules_per_agent(raw).drop("agent")
    cand = hosts.select(
        "host",
        F.concat(F.lit("https://"), "host", F.lit("/private/x")).alias("url"),
    ).unionByName(
        hosts.select(
            "host", F.concat(F.lit("https://"), "host", F.lit("/ok")).alias("url")
        )
    )
    out = gate_sharded(cand, rules_df, with_delay=True)
    agg = out.agg(
        F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
        F.count("*").alias("n"),
        F.min("crawl_delay").alias("dmin"),
        F.max("crawl_delay").alias("dmax"),
    ).collect()[0]
    assert agg["n"] == 2 * n_hosts
    assert agg["n_allowed"] == n_hosts  # exactly the /ok half
    assert agg["dmin"] == 2.0 and agg["dmax"] == 2.0


def test_sharded_crawl_matches_broadcast_crawl(spark, tmp_path):
    """A full crawl driven by RulesTable/gate_sharded must produce the
    IDENTICAL crawl order and metrics as the broadcast-rules crawl."""
    from texting_robots_spark.operators.gate import RulesTable, build_rules
    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import (
        CrawlConfig,
        crawl_order,
        run_crawl,
    )
    from texting_robots_spark.sources.frontier_store import FrontierStore
    from texting_robots_spark.sources.synth import (
        synth_documents_df,
        synth_robots_df,
        synth_universe,
    )

    documents, robots, seeds = synth_universe(
        n_hosts=8, n_docs=150, n_seeds=12, seed=42
    )
    docs_df = synth_documents_df(spark, documents).cache()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=4, n_bits=1 << 16, n_hashes=4),
    )

    store_b = FrontierStore(str(tmp_path / "bcast"), n_buckets=4)
    m_b = run_crawl(spark, store_b, docs_df, robots_df, seeds, cfg, n_steps=2)
    order_b = [tuple(r) for r in crawl_order(spark, store_b).collect()]

    store_s = FrontierStore(str(tmp_path / "shard"), n_buckets=4)
    sharded_rules = RulesTable(build_rules(robots_df, cfg.agent))
    m_s = run_crawl(
        spark, store_s, docs_df, robots_df, seeds, cfg, n_steps=2,
        rules=sharded_rules,
    )
    order_s = [tuple(r) for r in crawl_order(spark, store_s).collect()]

    assert m_b == m_s
    assert order_b == order_s and len(order_b) > 5


def test_sharded_rejects_internal_salt_collision(spark):
    """A user column named like the internal salt must raise, not be
    silently overwritten (ADVICE r2)."""
    from texting_robots_spark.operators.gate import _SALT_COL, build_rules

    rules_df = build_rules(
        spark.createDataFrame(
            [("h.example", bytearray(b"User-agent: *\nDisallow: /x"))],
            "host string, body binary",
        ),
        "TRSBot",
    )
    cand = spark.createDataFrame(
        [("h.example", "https://h.example/ok", 7)],
        f"host string, url string, {_SALT_COL} int",
    )
    with pytest.raises(ValueError, match="_trs_salt"):
        gate_sharded(cand, rules_df)


@pytest.mark.parametrize("n_salts", [0, -3])
def test_sharded_rejects_salt_counts_below_one(spark, corpus_frames, n_salts):
    """n_salts=-3 used to replicate each rules row zero times, so every
    host gated as if it had no robots.txt; n_salts=0 failed inside a
    task on a modulo by zero. Both are rejected at call time."""
    rules_df, cand = corpus_frames
    with pytest.raises(ValueError, match="n_salts"):
        gate_sharded(cand, rules_df, n_salts=n_salts)


def test_sharded_rejects_unknown_parse_error_policy(spark, corpus_frames):
    """A misspelt policy used to mean disallow silently."""
    rules_df, cand = corpus_frames
    with pytest.raises(ValueError, match="on_parse_error"):
        gate_sharded(cand, rules_df, on_parse_error="Allow")


def test_cached_matcher_reuses_compiles():
    """The per-worker LRU returns the identical compiled matcher for the
    same (host, rules version) and a fresh one when rules change or the
    bound evicts."""
    from texting_robots_spark.functions import udfs

    udfs._matcher_lru.clear()
    r1 = (("/x", False), ("/x/y", True))
    r2 = (("/x", False),)
    m1 = udfs.cached_matcher("h.example", r1)
    assert udfs.cached_matcher("h.example", r1) is m1  # hit
    assert udfs.cached_matcher("h.example", r2) is not m1  # version miss
    assert udfs.cached_matcher("other.example", r1) is not m1  # host miss
    # bounded: evicts oldest past the cap
    udfs._matcher_lru.clear()
    cap = udfs._MATCHER_LRU_MAX
    m1 = udfs.cached_matcher("h0", r1)
    for i in range(1, cap + 1):
        udfs.cached_matcher(f"h{i}", r1)
    assert len(udfs._matcher_lru) == cap
    assert udfs.cached_matcher("h0", r1) is not m1  # was evicted
