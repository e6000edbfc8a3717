"""End-to-end crawl superstep: robots conformance inside the loop,
politeness spacing, no-refetch, checkpoint/resume, metrics + lineage."""

import re

import pytest

from pyspark.sql import functions as F

from texting_robots_spark.operators.gate import RulesBroadcast, build_rules
from texting_robots_spark.plans.superstep import (
    CrawlConfig,
    crawl_order,
    frontier_step,
    run_crawl,
)
from texting_robots_spark.robots_core import Robot
from texting_robots_spark.sources.frontier_store import FrontierStore
from texting_robots_spark.sources.synth import (
    synth_documents_df,
    synth_robots_df,
    synth_universe,
)
from texting_robots_spark.operators.seen import BloomConfig


@pytest.fixture(scope="module")
def universe(spark):
    documents, robots, seeds = synth_universe(
        n_hosts=12, n_docs=300, n_seeds=20, seed=42
    )
    docs_df = synth_documents_df(spark, documents).cache()
    robots_df = synth_robots_df(spark, robots).cache()
    return documents, robots, seeds, docs_df, robots_df


def _cfg():
    return CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
    )


@pytest.fixture(scope="module")
def crawled(spark, universe, tmp_path_factory):
    _, _, seeds, docs_df, robots_df = universe
    store = FrontierStore(str(tmp_path_factory.mktemp("crawl")), n_buckets=8)
    metrics = run_crawl(spark, store, docs_df, robots_df, seeds, _cfg(), n_steps=5)
    return store, metrics


def test_crawl_progresses_and_metrics_recorded(spark, crawled):
    store, metrics = crawled
    assert sum(m["fetched"] for m in metrics) > 20
    assert sum(m["new_urls"] for m in metrics) > 20
    stored = store.read_metrics(spark)
    assert stored is not None and stored.count() == len(
        [m for m in metrics if m["scheduled"] > 0]
    )
    lineage = store.read_lineage(spark)
    assert lineage is not None and lineage.count() > 0


def test_no_url_fetched_twice_and_frontier_unique(spark, crawled):
    store, _ = crawled
    frontier = store.read_frontier(spark)
    dup = frontier.groupBy("url_hash").count().where(F.col("count") > 1)
    assert dup.count() == 0


def test_robots_conformance_inside_crawl(spark, crawled, universe):
    """Every fetched URL must be allowed (per the reference-semantics
    Robot) and every disallowed row must be denied."""
    _, robots, _, _, _ = universe
    store, _ = crawled
    robots_by_host = {h: Robot("TRSBot", bytes(b)) for h, b, _ in robots}
    rows = (
        store.read_frontier(spark)
        .where(F.col("state").isin("fetched", "disallowed"))
        .select("url", "host", "state")
        .collect()
    )
    assert rows
    for r in rows:
        robot = robots_by_host.get(r["host"])
        expected = robot.allowed(r["url"]) if robot is not None else True
        assert (r["state"] == "fetched") == expected, (
            f"{r['url']}: state={r['state']} but Robot says allowed={expected}"
        )


def test_politeness_spacing(spark, crawled, universe):
    """Fetch times within a host must be spaced >= the host's crawl
    delay (not_before stored = fetch_time + delay)."""
    _, robots, _, _, _ = universe
    store, _ = crawled
    robots_by_host = {h: Robot("TRSBot", bytes(b)) for h, b, _ in robots}
    cfg = _cfg()
    fetched = (
        store.read_frontier(spark)
        .where(F.col("state") == "fetched")
        .select("host", "not_before")
        .collect()
    )
    per_host = {}
    for r in fetched:
        per_host.setdefault(r["host"], []).append(r["not_before"])
    for host, times in per_host.items():
        robot = robots_by_host.get(host)
        delay = (
            robot.delay
            if robot is not None and robot.delay is not None
            else cfg.default_delay
        )
        times.sort()
        gaps = [b - a for a, b in zip(times, times[1:])]
        assert all(g >= delay - 1e-6 for g in gaps), (host, delay, gaps[:5])


def test_resume_from_checkpoint_matches_straight_run(
    spark, universe, tmp_path_factory
):
    _, _, seeds, docs_df, robots_df = universe
    cfg = _cfg()
    rules = RulesBroadcast(spark, build_rules(robots_df, cfg.agent))

    s1 = FrontierStore(str(tmp_path_factory.mktemp("straight")), n_buckets=8)
    run_crawl(spark, s1, docs_df, robots_df, seeds, cfg, n_steps=4, rules=rules)

    s2 = FrontierStore(str(tmp_path_factory.mktemp("resumed")), n_buckets=8)
    run_crawl(spark, s2, docs_df, robots_df, seeds, cfg, n_steps=2, rules=rules)
    # "restart": a fresh store handle over the same directory resumes
    # from the manifest checkpoint
    s2b = FrontierStore(s2.root, n_buckets=8)
    assert s2b.current_version() == s2.current_version()
    for _ in range(2):
        frontier_step(spark, s2b, docs_df, rules, cfg)

    a = sorted(map(tuple, crawl_order(spark, s1).collect()))
    b = sorted(map(tuple, crawl_order(spark, s2b).collect()))
    assert a == b


def test_sitemap_seeds_dedup_and_merge_into_store(spark, tmp_path):
    """A8 -> frontier: parser-collected sitemaps become seed rows;
    shared (cdn) sitemaps collapse across hosts; the output schema
    merges straight into the frontier store."""
    from texting_robots_spark.operators.gate import build_rules
    from texting_robots_spark.plans.superstep import sitemap_seeds
    from texting_robots_spark.sources.frontier_store import FrontierStore

    bodies = [
        (
            f"h{i}.example",
            bytearray(
                f"User-agent: *\nDisallow: /x\n"
                f"Sitemap: https://h{i}.example/sitemap.xml\n"
                f"Sitemap: https://cdn.example/shared.xml\n".encode()
            ),
        )
        for i in range(5)
    ]
    rules = build_rules(
        spark.createDataFrame(bodies, "host string, body binary"), "TRSBot"
    )
    seeds = sitemap_seeds(rules)
    rows = seeds.collect()
    urls = {r["url"] for r in rows}
    # 5 per-host sitemaps + ONE collapsed shared cdn sitemap
    assert len(rows) == 6
    assert "https://cdn.example/shared.xml" in urls
    assert all(r["state"] == "queued" and r["depth"] == 0 for r in rows)
    store = FrontierStore(str(tmp_path / "s"), n_buckets=2)
    store.write_snapshot(seeds, meta={"step": -1})
    assert store.read_frontier(spark).count() == 6


def _skewed_eligible(spark):
    """An adversarial Zipf slice: ONE host holds most queued rows."""
    n_hot, n_cold_hosts, cold_rows = 100_000, 10, 100
    hot = spark.range(n_hot).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.lit("hot.example").alias("host"),
        (F.pmod(F.col("id") * 37, F.lit(1000)) / 1000.0).alias("priority"),
    )
    cold = spark.range(n_cold_hosts * cold_rows).select(
        F.xxhash64(F.concat(F.lit("c"), F.col("id"))).alias("url_hash"),
        F.concat(
            F.lit("cold"), (F.col("id") % n_cold_hosts).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        (F.pmod(F.col("id") * 17, F.lit(1000)) / 1000.0).alias("priority"),
    )
    return hot.unionByName(cold)


def _top_k(eligible, k):
    """(url_hash, rank) of the plain single-window per-host top-k."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    return {
        (r["url_hash"], r["rank"])
        for r in eligible.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    }


def _node_col(line):
    m = re.search(r"[+:]- ", line)
    return m.end() if m else 0


def _assert_skew_guard(df, k):
    """The executed plan holds a Final WindowGroupLimit whose subtree
    holds exactly one exchange, a host exchange, with the Partial
    (map-side) WindowGroupLimit below it. Exchanges outside that
    subtree (the delay join's, the gate's) are not counted."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    finals = [i for i, ln in enumerate(lines) if f"row_number(), {k}, Final" in ln]
    assert len(finals) == 1, "\n".join(lines)
    i = finals[0]
    sub = [lines[i]]
    for ln in lines[i + 1:]:
        if _node_col(ln) <= _node_col(lines[i]):
            break
        sub.append(ln)
    text = "\n".join(sub)
    exchanges = [j for j, ln in enumerate(sub) if re.search(r"[+:]- Exchange ", ln)]
    partials = [j for j, ln in enumerate(sub) if f"row_number(), {k}, Partial" in ln]
    assert len(exchanges) == 1 and "hashpartitioning(host#" in sub[exchanges[0]], text
    assert len(partials) == 1 and exchanges[0] < partials[0], text


def test_schedule_topk_skew_guard_survives_adversarial_skew(spark):
    """Skew guard proof (round-3 VERDICT #5): an adversarial Zipf
    frontier — ONE host holds ~50% of all queued rows — must still
    yield exactly the true per-host top-k, and the skew MECHANISM is
    pinned structurally: the executed plan must contain a PARTIAL
    (map-side) WindowGroupLimit below the host exchange and a FINAL one
    above it, with exactly one host exchange between the frontier and
    the window. The Partial node caps every map partition's
    contribution at per_host_k rows per host, so the hot host's window
    partition receives <= k * n_map_partitions rows — never its full
    queue. Dropping the literal ``rank <= per_host_k`` filter from
    schedule_batch (the thing that lets Catalyst infer the rewrite)
    fails the structural assertions; the test runs with a real delay
    TABLE so the per-row ``allowance`` column is present, the
    production shape. A createDataFrame table has no size estimate,
    so its join is a shuffled one, above the window."""
    from texting_robots_spark.plans.superstep import CrawlConfig, schedule_batch

    eligible = _skewed_eligible(spark)
    delays = spark.createDataFrame(
        [("hot.example", 0.01)] + [(f"cold{i}.example", 0.02) for i in range(5)],
        "host string, crawl_delay double",
    )
    cfg = CrawlConfig(per_host_k=5, step_seconds=60.0, default_delay=0.01)
    out = schedule_batch(eligible, delays, cfg, t0=0.0)

    # 1) structural: Partial WGL -> single host exchange -> Final WGL
    _assert_skew_guard(out, 5)

    # 2) semantic: identical to the plain single-window top-k
    got = {(r["url_hash"], r["rank"]) for r in out.collect()}
    assert got == _top_k(eligible, 5)
    assert len(got) == 5 * (1 + 10)


def test_skew_guard_holds_with_sharded_rules_delay_table(spark, universe):
    """The RulesTable crawl joins its delays from the rules DataFrame,
    which the planner does not broadcast when it has no size estimate.
    When that join ran before the per-host top-k, it was a shuffled
    join below the window: no Partial WindowGroupLimit, and the hot
    host's whole queue went through the host exchange. The step core
    must keep the map-side guard with such a table."""
    from texting_robots_spark.operators.gate import RulesTable, build_rules
    from texting_robots_spark.plans.superstep import CrawlConfig, step_plan

    docs_df = universe[3]
    eligible = _skewed_eligible(spark)
    rows = eligible.select(
        "*",
        F.concat(
            F.lit("https://"), "host", F.lit("/p/"), F.col("url_hash").cast("string")
        ).alias("url"),
        F.lit(0).alias("depth"),
        F.lit("queued").alias("state"),
        F.lit(0.0).alias("not_before"),
    )
    robots = spark.createDataFrame(
        [("hot.example", bytearray(b"User-agent: *\nCrawl-delay: 0.01\n"))]
        + [
            (f"cold{i}.example", bytearray(b"User-agent: *\nDisallow: /x\n"))
            for i in range(5)
        ],
        "host string, body binary",
    )
    rules = RulesTable(build_rules(robots, "TRSBot"))
    cfg = CrawlConfig(per_host_k=5, step_seconds=60.0, default_delay=0.01)
    plan = step_plan(rows, None, docs_df, rules, cfg, step=0)
    try:
        _assert_skew_guard(plan.gated, 5)
        got = {(r["url_hash"], r["rank"]) for r in plan.gated.collect()}
        assert got == _top_k(eligible, 5)
    finally:
        plan.gated.unpersist()
        rules.unpersist()


def test_skew_guard_holds_past_default_window_group_limit_threshold(spark):
    """ADVICE r4 (medium): InferWindowGroupLimit only fires when the
    literal rank bound is <= spark.sql.optimizer.windowGroupLimitThreshold
    (default 1000) — a per_host_k above it would silently lose the
    map-side skew guard. Round-5 ADVICE:
    schedule_batch no longer mutates session conf (Catalyst reads the
    threshold at ACTION time, so a planner-local override can't be
    scoped); instead it fails loud, and callers wrap build+action in
    window_group_limit_scope — which frontier_step and the streaming
    loop do. Pinned here at k=1500: the scope keeps the guard, the bare
    call raises, and the session conf is restored afterwards."""
    import pytest

    from texting_robots_spark.plans.superstep import (
        CrawlConfig,
        schedule_batch,
        window_group_limit_scope,
    )
    from texting_robots_spark.sources.local import local_frame

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prev = spark.conf.get(key, "1000")
    spark.conf.set(key, "1000")
    try:
        eligible = spark.range(5000).select(
            F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
            F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
            (F.pmod(F.col("id") * 37, F.lit(1000)) / 1000.0).alias("priority"),
        )
        delays = local_frame(spark, "host string, crawl_delay double")
        cfg = CrawlConfig(per_host_k=1500, step_seconds=60.0, default_delay=0.01)
        # a bare schedule_batch above the threshold fails loud instead of
        # silently losing the map-side bound
        with pytest.raises(ValueError, match="window_group_limit_scope"):
            schedule_batch(eligible, delays, cfg, t0=0.0)
        with window_group_limit_scope(spark, cfg.per_host_k):
            out = schedule_batch(eligible, delays, cfg, t0=0.0)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "WindowGroupLimit" in plan, plan[:2000]
            assert "Partial" in plan and "Final" in plan, plan[:2000]
            assert int(spark.conf.get(key)) >= 1500
            # the k=1500 cut itself still binds correctly (the action
            # runs INSIDE the scope, where the raised threshold holds)
            assert out.count() == 3 * 1500
        # the override does not leak past the scope (round-5 ADVICE)
        assert spark.conf.get(key) == "1000"
    finally:
        spark.conf.set(key, prev)


def test_blocked_host_anti_join_adapts_to_host_state_size(spark, tmp_path):
    """VERDICT r4 #3: the blocked-host anti-join must not FORCE a
    broadcast — at 10^8 active hosts with long delays the blocked set
    can be most of host_state. With the hint gone the planner picks
    broadcast for a small parquet-backed host_state and a non-broadcast
    join once the size estimate exceeds autoBroadcastJoinThreshold
    (simulated by disabling the threshold, the many-blocked-hosts
    regime)."""
    from texting_robots_spark.plans.superstep import CrawlConfig, eligible_slice

    frontier = spark.range(2000).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("https://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example/p")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit(1.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit("queued").alias("state"),
        F.lit(0.0).alias("not_before"),
    )
    hs_path = str(tmp_path / "host_state")
    spark.range(50).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.when(F.col("id") % 2 == 0, 999.0).otherwise(0.0).alias("next_allowed"),
    ).write.parquet(hs_path)
    host_state = spark.read.parquet(hs_path)
    cfg = CrawlConfig()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small host_state file -> planner broadcasts (no hint needed)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        small = eligible_slice(frontier, host_state, t0=10.0, cfg=cfg)
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_small and "LeftAnti" in plan_small, (
            plan_small[:2000]
        )
        # adversarial regime: blocked set too big to broadcast -> the
        # SAME code plans a non-broadcast anti-join instead of OOMing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = eligible_slice(frontier, host_state, t0=10.0, cfg=cfg)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_big, plan_big[:2000]
        assert "LeftAnti" in plan_big, plan_big[:2000]
        # semantics identical either way: even hosts blocked, odd pass
        rows = {r["host"] for r in big.select("host").distinct().collect()}
        assert rows == {f"h{i}.example" for i in range(50) if i % 2 == 1}
        assert {r["host"] for r in small.select("host").distinct().collect()} == rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_seed_frontier_dataframe_equals_list(spark):
    """The distributed seed path (DataFrame of raw URLs — a 10^8-row
    seed set must not round-trip through a driver list) must produce
    exactly the rows of the list path: same canonicalization, same
    url_hash dedup, same defaults."""
    from texting_robots_spark.plans.superstep import CrawlConfig, seed_frontier

    seeds = [
        "https://A.Example/x?b=2&a=1",
        "https://a.example/x?a=1&b=2",  # canonical dup of the first
        "http://b.example:80/y#frag",
        "not-a-url",
        "https://c.example/z",
    ]
    cfg = CrawlConfig()
    from_list = {tuple(r) for r in seed_frontier(spark, seeds).collect()}
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "raw_url string")
    from_df = {tuple(r) for r in seed_frontier(spark, seeds_df).collect()}
    assert from_df == from_list
    assert len(from_df) == 3  # dup collapsed, non-URL dropped
    from_gen = {tuple(r) for r in seed_frontier(spark, iter(seeds)).collect()}
    assert from_gen == from_list  # any iterable, not only a list


@pytest.mark.parametrize(
    "field, value",
    [
        ("per_host_k", 0),  # rank <= 0 schedules nothing
        ("step_seconds", 0.0),  # t0 never advances past a host's fetch
        ("step_seconds", -10.0),
        ("default_delay", -0.5),
        ("max_depth", -1),  # no row is eligible
        ("refresh_every", 0),  # falsy: the refresh would be silently off
    ],
)
def test_crawl_config_rejects_values_that_stall(field, value):
    with pytest.raises(ValueError, match=field):
        CrawlConfig(**{field: value})


def test_crawl_config_accepts_boundary_values():
    cfg = CrawlConfig(
        per_host_k=1, step_seconds=0.5, default_delay=0.0, max_depth=0, refresh_every=1
    )
    assert cfg.refresh_every == 1 and CrawlConfig().refresh_every is None


def test_refresh_every_in_crawl_loop(spark, universe, tmp_path):
    """cfg.refresh_every wires the link-graph priority refresh into
    run_crawl (round-4 VERDICT #8): the refreshed crawl is
    deterministic across runs, actually re-weights queued priorities
    vs the unrefreshed crawl, and the refresh snapshot carries the
    bloom filters + host_state forward (write_snapshot resets the
    delta chain — dropping them would silently lose seen-ness and
    politeness state)."""
    _, _, seeds, docs_df, robots_df = universe

    def run(tag, refresh_every, n_steps):
        cfg = CrawlConfig(
            agent="TRSBot",
            per_host_k=4,
            step_seconds=10.0,
            default_delay=0.5,
            bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
            refresh_every=refresh_every,
        )
        store = FrontierStore(str(tmp_path / tag), n_buckets=8)
        run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=n_steps)
        return store

    # determinism INCLUDING post-refresh scheduling: the refresh after
    # step 2 re-weights priorities that step 3's top-k then cuts on
    s_a, s_b = run("a", 2, 3), run("b", 2, 3)
    rows_a = {
        tuple(r)
        for r in s_a.read_frontier(spark).drop("partition_salt").collect()
    }
    rows_b = {
        tuple(r)
        for r in s_b.read_frontier(spark).drop("partition_salt").collect()
    }
    assert rows_a == rows_b

    # semantics, isolated: 2-step runs differing ONLY in the trailing
    # refresh — same row set, same fetched set, re-weighted queued
    # priorities (a 3-step comparison would diverge in step-3
    # scheduling, by design)
    s_r, s_plain = run("r2", 2, 2), run("plain2", None, 2)

    def snap(store):
        return {
            r["url_hash"]: (r["state"], r["priority"])
            for r in store.read_frontier(spark)
            .select("url_hash", "state", "priority")
            .collect()
        }
    sr, sp = snap(s_r), snap(s_plain)
    assert set(sr) == set(sp)  # refresh never adds/drops rows
    assert {k for k, v in sr.items() if v[0] == "fetched"} == {
        k for k, v in sp.items() if v[0] == "fetched"
    }
    changed = {k for k in sr if sr[k] != sp[k]}
    assert changed and all(sr[k][0] == "queued" for k in changed)
    # seen-set + politeness state survive the refresh snapshot
    assert s_r.read_filters(spark) is not None
    assert s_r.read_host_state(spark) is not None


def test_refresh_priorities_indegree_and_passthrough(spark):
    """Link-graph priority refresh: in-degree counts canonicalized
    targets (fragment/query-order variants collapse), queued rows get
    p' = a*p + (1-a)*indeg/(1+indeg), non-queued rows pass through
    untouched."""
    from texting_robots_spark.plans.superstep import refresh_priorities

    rows = [
        ("https://a.example/x", "a.example", 0.4, "queued"),   # indeg 3
        ("https://b.example/y", "b.example", 0.8, "queued"),   # indeg 0
        ("https://c.example/z", "c.example", 0.2, "fetched"),  # untouched
    ]
    frontier = spark.createDataFrame(
        [(r[0], r[1], r[2], 0, r[3], 0.0) for r in rows],
        "url string, host string, priority double, depth int, state string, "
        "not_before double",
    ).withColumn("url_hash", F.xxhash64("url"))
    links = spark.createDataFrame(
        [
            ("https://a.example/x",),
            ("https://A.Example/x#frag",),      # canonical dup of the same target
            ("https://a.example/x?",),          # empty query strips
            ("https://c.example/z",),           # target not queued -> ignored
            ("relative/only",),                 # dropped by canonicalizer
        ],
        "url string",
    )
    got = {
        r["url"]: (round(r["priority"], 6), r["state"])
        for r in refresh_priorities(frontier, links, alpha=0.5).collect()
    }
    assert got["https://a.example/x"] == (round(0.5 * 0.4 + 0.5 * 0.75, 6), "queued")
    assert got["https://b.example/y"] == (round(0.5 * 0.8, 6), "queued")
    assert got["https://c.example/z"] == (0.2, "fetched")


def test_refresh_step_folds_delta_keys_into_bloom(spark, universe, tmp_path):
    """Deferred bloom increments + refresh (round-7 ADVICE, high):
    refresh_step snapshots mid-delta-chain, and write_snapshot resets
    the chain — so the carried filters must fold in the uncompacted
    deltas' keys (base filters cover base keys only under the r6
    deferral policy). A base-only carry would make every URL the deltas
    added probe definitely-new next step and re-queue over fetched
    rows. The invariant: after ANY refresh snapshot, every frontier key
    probes maybe_seen."""
    from texting_robots_spark.operators.seen import probe_bloom

    _, _, seeds, docs_df, robots_df = universe
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
        refresh_every=1,  # refresh fires with exactly one pending delta
    )
    # compact_every=4 (default) > refresh_every: the refresh always
    # snapshots mid-chain — the ADVICE scenario
    store = FrontierStore(str(tmp_path / "rb"), n_buckets=8)
    run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=2)
    assert store.pending_deltas() == 0  # refresh snapshot reset the chain
    filters = store.read_filters(spark)
    assert filters is not None
    keys = store.read_frontier(spark).select("url_hash")
    missed = (
        probe_bloom(keys, filters, cfg.bloom)
        .where(~F.col("maybe_seen"))
        .count()
    )
    assert missed == 0  # delta-added keys are covered post-refresh


_SHUFFLE = "spark.sql.shuffle.partitions"
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@pytest.mark.parametrize(
    "make, advisory, sized",
    [
        # spark.range(1000) is estimated at 8,000 bytes
        (lambda spark: spark.range(1000), None, "1"),
        (lambda spark: spark.range(1000), "3000b", "3"),
        # estimated past advisory x session partitions, never materialized
        (lambda spark: spark.range(10**10), None, None),
        # an RDD scan has no estimate: the default size keeps the fan-out
        (
            lambda spark: spark.createDataFrame(
                spark.sparkContext.parallelize([(1,)]), "x long"
            ),
            None,
            None,
        ),
    ],
    ids=["tiny", "three_advisory_sizes", "past_session_fan_out", "no_estimate"],
)
def test_sized_shuffle_scope_follows_input_size(spark, make, advisory, sized):
    """The fan-out is ceil(estimate / advisory size), clamped to
    [1, the session's value] (None: the session's value), and the
    session's value is back after the block."""
    from texting_robots_spark.sizing import sized_shuffle_scope

    session = spark.conf.get(_SHUFFLE)
    if advisory is not None:
        spark.conf.set(_ADVISORY, advisory)
    try:
        with sized_shuffle_scope(spark, make(spark)):
            inside = spark.conf.get(_SHUFFLE)
    finally:
        spark.conf.unset(_ADVISORY)
    assert inside == (sized or session)
    assert spark.conf.get(_SHUFFLE) == session


@pytest.fixture(scope="module")
def tiny_universe(spark):
    """Docs and rules small enough that a step sizes to one task; the
    docs are one cached partition, so the planner has their size."""
    documents, robots, seeds = synth_universe(
        n_hosts=6, n_docs=120, n_seeds=10, seed=7
    )
    docs_df = synth_documents_df(spark, documents).coalesce(1).cache()
    docs_df.count()
    rules = RulesBroadcast(spark, build_rules(synth_robots_df(spark, robots), "TRSBot"))
    yield docs_df, rules, seeds
    docs_df.unpersist()


def _tiny_store(spark, tmp_path, seeds):
    from texting_robots_spark.plans.superstep import init_crawl

    store = FrontierStore(str(tmp_path / "tiny"), n_buckets=1)
    init_crawl(spark, store, seeds, _cfg())
    return store


def _stage_tasks(spark, fn):
    """Run ``fn``; return its result and the task count of every stage
    that ran in the jobs it started. Job ids come from the DAG
    scheduler, so jobs the store starts from writer threads count too."""
    sc = spark.sparkContext._jsc.sc()
    job0 = sc.dagScheduler().nextJobId()
    out = fn()
    job1 = sc.dagScheduler().nextJobId()
    sc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    stages = {sid for j in range(job0, job1) for sid in tracker.getJobInfo(j).stageIds}
    infos = [tracker.getStageInfo(sid) for sid in sorted(stages)]
    # a skipped stage (its shuffle output already written) ran no task;
    # the status store evicts skipped stages first once it holds
    # spark.ui.retainedStages, so one may be gone already
    return out, [i.numTasks for i in infos if i is not None and i.numCompletedTasks]


def test_small_step_runs_one_task_per_stage(spark, tiny_universe, tmp_path):
    """A step over a few hundred rows sizes its fan-out to 1: every
    stage of frontier_step runs one task, where the session's 8
    partitions would run 8."""
    docs_df, rules, seeds = tiny_universe
    store = _tiny_store(spark, tmp_path, seeds)
    m, tasks = _stage_tasks(
        spark, lambda: frontier_step(spark, store, docs_df, rules, _cfg())
    )
    assert m["fetched"] > 0 and m["new_urls"] > 0
    assert len(tasks) >= 5 and set(tasks) == {1}, tasks


def test_step_restores_shuffle_partitions_when_it_raises(
    spark, tiny_universe, tmp_path, monkeypatch
):
    """The sized fan-out is in effect while the step plans, and the
    session's value is back after the step raises."""
    from texting_robots_spark.plans import superstep

    docs_df, rules, seeds = tiny_universe
    store = _tiny_store(spark, tmp_path, seeds)
    session = spark.conf.get(_SHUFFLE)
    inside = []

    def failing_plan(*args, **kwargs):
        inside.append(spark.conf.get(_SHUFFLE))
        raise RuntimeError("plan failed")

    monkeypatch.setattr(superstep, "step_plan", failing_plan)
    with pytest.raises(RuntimeError, match="plan failed"):
        frontier_step(spark, store, docs_df, rules, _cfg())
    assert inside == ["1"]
    assert spark.conf.get(_SHUFFLE) == session


def test_perfbench_lazy_calls_are_superstep_globals():
    """``perfbench/run.py --trace 1`` wraps each name in
    ``perfbench/wl_crawl.py:LAZY_CALLS`` by reading it from this
    module's ``__dict__``, so a renamed or removed step function would
    only fail at benchmark time. The tuple is read with ``ast``, without
    importing perfbench."""
    import ast
    from pathlib import Path

    from texting_robots_spark.plans import superstep

    src = Path(__file__).resolve().parents[1] / "perfbench" / "wl_crawl.py"
    (names,) = [
        ast.literal_eval(node.value)
        for node in ast.parse(src.read_text()).body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "LAZY_CALLS" for t in node.targets)
    ]
    assert names, "LAZY_CALLS is empty"
    missing = [n for n in names if n not in vars(superstep)]
    assert not missing, missing
