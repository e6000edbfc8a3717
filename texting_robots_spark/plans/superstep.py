"""The frontier superstep — one crawl round as a single declarative plan.

Shape per step (SURVEY.md §3.4), all DataFrame-native except two
Python boundaries (the robots gate UDF and the canonicalize kernel):

    step_plan — shared by frontier_step and the streaming foreachBatch:
      queued rows, host eligible by politeness clock (blocked-host anti-join)
      -> per-host top-k window (priority desc, url_hash)   [shuffle: host]
      -> crawl-delay left join onto the top-k slice (<= k rows per host)
      -> politeness schedule  fetch_time = t0 + (rank-1)*delay
      -> robots gate (broadcast rules, no shuffle; or the sharded cogroup)
      -> "fetch" = join to documents on the 8-byte url_hash key
      -> posexplode spans -> link extraction -> canonicalize -> url_hash
      -> in-batch dedup (groupBy url_hash)                 [shuffle: hash]
      -> host_state' = host_state merged with this step's politeness advance
    frontier_step only (the bloom-fronted seen set):
      -> bloom probe (cogroup, partition-aligned)
      -> exact anti-join for maybe_seen remainder          [shuffle: hash]
    commit_updates — shared by frontier_step and the streaming foreachBatch:
      -> MERGE INTO frontier (delta + host_state), checkpoint
    frontier_step only: bloom increment, metrics, lineage

Scale notes:
- the only per-host shuffle is the scheduling window; hosts are Zipf-
  skewed, so the top-k is written to trigger Catalyst's
  InferWindowGroupLimit: a map-side (Partial) WindowGroupLimit caps
  every input partition at per_host_k rows per host BEFORE the host
  shuffle, bounding any single window partition to k x n_map_partitions
  rows no matter how hot the host (see schedule_batch; replaced round
  3's manual salted two-level top-k — same bound, one shuffle fewer).
  The delay table joins after the top-k, so the guard holds whichever
  join strategy the planner picks for it.
- AQE note: because the skew handling above is explicit, adaptive
  re-planning changes nothing in this plan while charging a stage
  materialization per shuffle (a step runs ~26 stages). Run the crawl
  with spark.sql.adaptive.enabled=false (interleaved A/B at sandbox
  scale: AQE off wins every pair, ~20-25% wall, bit-identical output);
  re-enable AQE for ad-hoc queries in the same session. bench.py /
  jobs/crawl_job.py / perfbench scope the setting to the crawl this way.
- fan-out: every store-backed entry point (init_crawl, frontier_step,
  refresh_step, recrawl's compact_frontier and schedule_recrawl) and the
  dedup connected_components rounds run inside sized_shuffle_scope (a
  component graph that fits spark.sql.autoBroadcastJoinThreshold skips
  the rounds: union-find on the driver over its collected edges), and
  both gates put the same count into their plan (the rule is in
  sizing.py: ceil(estimated bytes / the advisory partition size),
  clamped to [1, the session's value]). A small step (a few hundred
  rows) runs one task per stage and one Python task in the gate, where
  a task, not a row, is the unit of cost; a 10^10-row frontier, or an
  input the planner cannot size, keeps the session's full fan-out and
  the unsized plans. This is AQE's coalescing decided once, before
  planning, so it adds no stage materialization.
- politeness state is a per-host side table (host, next_allowed)
  checkpointed with each snapshot — never a per-row update across the
  10^10-row frontier, never a driver-side blob.
- determinism: every cut is ordered by (priority desc, url_hash asc), so
  N- and 4N-way runs produce the identical crawl order (north_rule).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import List, NamedTuple, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.udfs import canonicalize_urls
from ..operators.gate import (
    RulesBroadcast,
    RulesTable,
    build_rules,
    gate,
    gate_sharded,
)
from ..operators.links import extract_links
from ..operators.seen import BloomConfig, build_bloom, probe_bloom
from ..sizing import sized_shuffle_scope
from ..sources.frontier_store import FrontierStore
from ..sources.local import local_frame

__all__ = [
    "CrawlConfig",
    "seed_frontier",
    "sitemap_seeds",
    "eligible_slice",
    "schedule_batch",
    "window_group_limit_scope",
    "StepPlan",
    "step_plan",
    "link_candidates",
    "refresh_priorities",
    "apply_indegree_refresh",
    "refresh_step",
    "commit_updates",
    "frontier_step",
    "run_crawl",
]

HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)"

_WGL_KEY = "spark.sql.optimizer.windowGroupLimitThreshold"


@contextmanager
def window_group_limit_scope(spark: SparkSession, k: int):
    """Temporarily raise ``spark.sql.optimizer.windowGroupLimitThreshold``
    to at least ``k`` for the duration of the block.

    The InferWindowGroupLimit rewrite (schedule_batch's map-side skew
    guard) only fires when the literal rank bound is <= the threshold,
    and Catalyst reads the conf at ACTION time — not when the DataFrame
    is built. So the raise must stay in effect until the plan actually
    runs, and a set-and-restore inside the planner function would be a
    no-op. This scope is the supported way to run a per_host_k above the
    session threshold: wrap plan construction AND the action that
    executes it (frontier_step wraps each superstep's build+commit; the
    streaming loop wraps each foreachBatch body). Restoring on exit
    keeps the override from leaking into unrelated queries in the same
    session (round-5 ADVICE)."""
    prev = spark.conf.get(_WGL_KEY, "1000")
    if k <= int(prev):
        yield
        return
    spark.conf.set(_WGL_KEY, str(int(k)))
    try:
        yield
    finally:
        spark.conf.set(_WGL_KEY, prev)


# When set to a dict, _tracer accumulates per-phase wall seconds into it
# (label -> total across steps). bench.py points this at a dict so the
# driver-visible BENCH JSON carries phase-level crawl timings — a bench
# delta can be pinned to schedule/gate/commit without a debug session.
TRACE_SINK: Optional[dict] = None


def _tracer():
    """Phase timing: accumulates into TRACE_SINK when set (see above).
    Zero cost when it is not."""
    sink = TRACE_SINK
    if sink is None:
        return lambda label: None
    state = {"t": time.time()}

    def mark(label):
        now = time.time()
        sink[label] = round(sink.get(label, 0.0) + now - state["t"], 3)
        state["t"] = now

    return mark


@dataclass
class CrawlConfig:
    agent: str = "TRSBot"
    per_host_k: int = 8
    step_seconds: float = 60.0
    default_delay: float = 0.25
    max_depth: int = 50
    bloom: BloomConfig = field(default_factory=BloomConfig)
    on_parse_error: str = "disallow"
    # link-graph priority refresh cadence: every k supersteps, re-weight
    # QUEUED frontier priorities by observed in-degree (refresh_priorities
    # formula, alpha=refresh_alpha). None (default) = off. When set,
    # each step also records its per-target in-degree increment
    # (url_hash, n_refs — tiny next to the delta) under the store, and
    # the refresh is one sum + one co-partitioned join over those
    # increments — fetched content is never re-scanned.
    refresh_every: Optional[int] = None
    refresh_alpha: float = 0.5

    def __post_init__(self):
        # each of these would stall the crawl without an error: nothing
        # scheduled (k < 1, depth < 0), a clock that never advances past
        # a host's first fetch (step <= 0), a negative politeness gap,
        # or a refresh cadence of 0 that reads as off
        if self.per_host_k < 1:
            raise ValueError(f"per_host_k must be >= 1, got {self.per_host_k}")
        if self.step_seconds <= 0:
            raise ValueError(f"step_seconds must be > 0, got {self.step_seconds}")
        if self.default_delay < 0:
            raise ValueError(f"default_delay must be >= 0, got {self.default_delay}")
        if self.max_depth < 0:
            raise ValueError(f"max_depth must be >= 0, got {self.max_depth}")
        if self.refresh_every is not None and self.refresh_every < 1:
            raise ValueError(
                f"refresh_every must be >= 1 when set, got {self.refresh_every}"
            )


def _host_of(url_col) -> F.Column:
    """Authority (host[:port]) of an absolute URL — the robots key.
    Canonical URLs already have a lowercase host."""
    return F.regexp_extract(url_col, HOST_RE, 1)


def _with_keys(
    df: DataFrame, url_col: str = "url", base_hash: str = "xxhash64"
) -> DataFrame:
    """Key rows by url_hash + host. ``base_hash`` follows the md5-twin
    convention (operators/dedup.py:base_hash_expr): xxhash64 is the
    production hash; 'md5' derives a 60-bit hash DuckDB reproduces
    byte-for-byte, which makes downstream dataflow oracle-checkable."""
    from ..operators.dedup import base_hash_expr

    return df.withColumn(
        "url_hash", base_hash_expr(F.col(url_col), base_hash)
    ).withColumn("host", _host_of(F.col(url_col)))


def _url_frame(spark: SparkSession, urls) -> DataFrame:
    """``urls`` as a one-column ``url`` frame. ``urls`` is an iterable of
    URL strings (small lists; a generator is fine) OR a single-column
    DataFrame of raw URLs — the distributed form: a 10^8-row input must
    never round-trip through a driver-side Python list."""
    if isinstance(urls, DataFrame):
        return urls.select(F.col(urls.columns[0]).alias("url"))
    return local_frame(spark, "url string", {"url": list(urls)})


def _queued_rows(
    urls: DataFrame, priority: float = 1.0, base_hash: str = "xxhash64"
) -> DataFrame:
    """Raw ``url`` rows -> canonicalized frontier rows, one per url_hash
    (min url and host), state='queued' at depth 0 and ``priority``."""
    return (
        canonicalize_urls(urls)
        .transform(lambda df: _with_keys(df, base_hash=base_hash))
        .groupBy("url_hash")
        .agg(F.min("url").alias("url"), F.min("host").alias("host"))
        .select(
            "url_hash",
            "url",
            "host",
            F.lit(float(priority)).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit("queued").alias("state"),
            F.lit(0.0).alias("not_before"),
        )
    )


def seed_frontier(spark: SparkSession, seeds) -> DataFrame:
    """Canonicalized, deduped seed rows (state='queued', depth=0).
    ``seeds`` is an iterable of URL strings or a single-column DataFrame
    of raw URLs (see ``_url_frame``)."""
    return _queued_rows(_url_frame(spark, seeds))


def sitemap_seeds(rules_df: DataFrame, base_hash: str = "xxhash64") -> DataFrame:
    """Sitemap-driven seed rows: explode the ordered, globally-collected
    sitemap lists the robots parser extracts (reference lib.rs:430-437
    `sitemaps` — SURVEY A8) into canonicalized, deduped frontier seed
    rows. Cross-host duplicates (shared CDN sitemaps) collapse on
    url_hash exactly like link candidates do; output schema matches
    ``seed_frontier`` so the rows MERGE straight into the store.

    ``base_hash='md5'`` is the DuckDB-replayable twin used by the
    driver's ``sitemap_seed_frontier`` oracle."""
    urls = rules_df.select(F.explode("sitemaps").alias("url"))
    return _queued_rows(urls, base_hash=base_hash)


def init_crawl(
    spark: SparkSession,
    store: FrontierStore,
    seeds,  # iterable of str | DataFrame of raw URLs (see seed_frontier)
    cfg: CrawlConfig,
) -> int:
    """Write snapshot v0: seed frontier + its bloom filter. The seed
    frontier is cached across its two consumers (frontier write + bloom
    build) so the canonicalize kernel and seed dedup run once, not twice.
    Runs inside sized_shuffle_scope over the seed frame."""
    _mark = _tracer()
    frontier = seed_frontier(spark, seeds)
    with sized_shuffle_scope(spark, frontier):
        frontier = frontier.cache()
        try:
            filters = build_bloom(frontier, cfg.bloom)
            v = store.write_snapshot(frontier, filters, meta={"step": -1})
            _mark("init_crawl (seed+bloom+snapshot)")
            return v
        finally:
            frontier.unpersist()


def schedule_batch(
    eligible: DataFrame,
    delays: DataFrame,
    cfg: CrawlConfig,
    t0: float,
) -> DataFrame:
    """The scheduling stage of one superstep, over an already
    eligibility-filtered frontier slice: skew-guarded per-host top-k, crawl-
    delay allowance, and the politeness fetch_time arithmetic. Factored
    out of ``frontier_step`` so the driver's DuckDB oracle can pin this
    window logic over a frozen snapshot (the ``schedule_step`` query).

    ``eligible`` must carry (url_hash, host, priority); all other
    columns pass through. ``delays`` is (host, crawl_delay), one row
    per host; a host without a row gets ``cfg.default_delay``.

    Output adds rank, crawl_delay (default-coalesced), allowance, and
    fetch_time = t0 + (rank-1)*crawl_delay, keeping only rows with
    rank <= allowance.

    Skew guard: a hot host may have millions of queued rows; ranking
    them all in one window partition is the frontier's skew point
    (SURVEY §4.3). The per-host top-k is written so Catalyst's
    InferWindowGroupLimit rewrites it into a PARTIAL (map-side)
    WindowGroupLimit before the host shuffle plus a FINAL one after:
    every map partition forwards at most per_host_k rows per host, so
    the hot host's window partition receives <= k * n_map_partitions
    rows no matter how deep its queue — the same bound round 3's manual
    (host, salt) two-level top-k provided, with ONE host shuffle
    instead of two ((host,salt) + (host)). The rewrite requires a
    LITERAL rank bound directly over the window, hence the
    ``rank <= per_host_k`` filter before the per-row
    ``rank <= allowance`` (allowance <= per_host_k always).

    The delays join only that top-k slice (<= per_host_k rows per
    host), so no join sits between the frontier and the window: the
    planner picks the join strategy from size stats (a broadcast for a
    small table, a shuffled join past autoBroadcastJoinThreshold) and
    the guard holds either way. A host's rank does not depend on its
    delay, so the rows are those of a join-then-rank. Both the map-side
    bound and the single eligible-side exchange are pinned by
    tests/test_superstep.py's adversarial-skew plan assertions.
    """
    # The InferWindowGroupLimit rewrite only fires when the literal rank
    # bound is <= spark.sql.optimizer.windowGroupLimitThreshold (default
    # 1000, verified on Spark 4.1.2): a per_host_k above it would
    # silently lose the map-side skew guard and send a hot host's whole
    # queue to one window partition. Catalyst reads the conf at ACTION
    # time, so this planner cannot scope an override itself (round-5
    # ADVICE: the old in-place session mutation leaked past the step).
    # Fail loud instead: callers with k above the threshold wrap the
    # build AND the action in window_group_limit_scope (frontier_step
    # and the streaming loop do; pinned by the k>1000 plan test).
    sess = eligible.sparkSession
    if cfg.per_host_k > int(sess.conf.get(_WGL_KEY, "1000")):
        raise ValueError(
            f"schedule_batch: per_host_k={cfg.per_host_k} exceeds "
            f"{_WGL_KEY}={sess.conf.get(_WGL_KEY, '1000')} — the map-side "
            f"skew guard would silently not fire. Wrap plan build and the "
            f"consuming action in window_group_limit_scope(spark, "
            f"per_host_k)."
        )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url_hash"))
    top_k = eligible.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= F.lit(cfg.per_host_k)
    )
    # allowance = how many fetches fit in this step at the host's
    # crawl-delay (>=1: slower-than-step hosts advance next_allowed past
    # the step instead of starving)
    return (
        top_k.join(delays, "host", "left")
        .withColumn(
            "crawl_delay", F.coalesce("crawl_delay", F.lit(float(cfg.default_delay)))
        )
        .withColumn(
            "allowance",
            F.least(
                F.lit(cfg.per_host_k),
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(cfg.step_seconds) / F.greatest("crawl_delay", F.lit(1e-9))),
                ).cast("int"),
            ),
        )
        .where(F.col("rank") <= F.col("allowance"))
        .withColumn("fetch_time", F.lit(t0) + (F.col("rank") - 1) * F.col("crawl_delay"))
    )


def link_candidates(
    links: DataFrame,
    base_hash: str = "xxhash64",
    cluster_partitions: Optional[int] = None,
) -> DataFrame:
    """(url, depth) link rows -> canonical, in-batch-deduped frontier
    candidates: canonicalize, drop non-absolute, key by url_hash, keep
    min url/host and min parent depth + 1, priority = 1/(1+depth).
    Shared by the batch superstep and the streaming crawl loop so both
    derive bit-identical candidate sets. ``base_hash='md5'`` swaps the
    url_hash expression for the DuckDB-reproducible 60-bit variant (the
    ``superstep_one_step`` driver oracle); production stays xxhash64.

    ``cluster_partitions`` (round 7): when set to the bloom config's
    ``n_partitions``, it is the modulus of ``partition_id =
    pmod(url_hash, P)``, and the dedup aggregate is pre-clustered on
    that column — one exchange that BOTH the dedup groupBy
    (partition_id is functionally dependent on url_hash, so grouping by
    the pair is the same grouping) and the downstream bloom-probe
    cogroup then satisfy, instead of one url_hash exchange for the
    dedup plus a second partition_id exchange for the probe. It sets
    only the modulus: the exchange has ``spark.sql.shuffle.partitions``
    tasks, the step's fan-out (sized_shuffle_scope), and the probe's
    filter side is shuffled to match. The output carries the extra
    ``partition_id`` column, which ``probe_bloom``/``with_partition_id``
    reuse as-is. Same rows, same values, one candidate-set shuffle fewer
    per superstep."""
    keyed = canonicalize_urls(links.select("url", "depth")).transform(
        lambda df: _with_keys(df, base_hash=base_hash)
    )
    if cluster_partitions:
        keyed = keyed.withColumn(
            "partition_id",
            F.pmod(F.col("url_hash"), F.lit(int(cluster_partitions))).cast("int"),
        ).repartition("partition_id")
        grouped = keyed.groupBy("partition_id", "url_hash")
    else:
        grouped = keyed.groupBy("url_hash")
    return (
        grouped.agg(
            F.min("url").alias("url"),
            F.min("host").alias("host"),
            (F.min("depth") + 1).alias("depth"),
            # raw link rows per canonical target — the in-degree
            # increment the priority-refresh stage sums (free here: it
            # rides the dedup aggregate's map-side combine)
            F.count(F.lit(1)).alias("n_refs"),
        )
        .withColumn("priority", F.lit(1.0) / (F.lit(1.0) + F.col("depth")))
    )


def refresh_priorities(
    frontier: DataFrame,
    links: DataFrame,
    alpha: float = 0.5,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Link-graph priority refresh: re-weight QUEUED frontier rows by
    their observed in-degree (the standard crawler re-prioritization —
    pages many fetched pages point at move up the queue; an OPIC-style
    signal computed from the link table instead of per-edge cash):

        p' = round(alpha * p + (1 - alpha) * indeg / (1 + indeg), 6)

    ``links`` is raw link rows (a column named ``url``, e.g.
    ``extract_links`` output across any number of steps); targets are
    canonicalized and keyed with the engine's url_hash convention, so
    duplicate raw forms of one URL count as one target key each time
    they appear. Rows whose state is not 'queued' pass through
    unchanged (their priority is historical record).

    Scale shape: the in-degree is one map-side-combinable hash
    aggregate on url_hash; the refresh is a single join on url_hash —
    the frontier's own bucketing key, so on a bucketed store the join
    is co-located. No driver-side data, no window, no skew point (the
    agg key is a hash, uniform by construction).

    ``base_hash='md5'`` is the DuckDB-replayable twin (driver
    ``priority_refresh`` oracle); production stays xxhash64.
    """
    indeg = (
        canonicalize_urls(links.select("url"))
        .transform(lambda df: _with_keys(df, base_hash=base_hash))
        .groupBy("url_hash")
        .agg(F.count(F.lit(1)).alias("indeg"))
    )
    return apply_indegree_refresh(frontier, indeg, alpha)


def apply_indegree_refresh(
    frontier: DataFrame, indeg: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """The apply stage of ``refresh_priorities``, taking a precomputed
    (url_hash, indeg) table — so the crawl loop can SUM tiny per-step
    in-degree increments (recorded by frontier_step when
    cfg.refresh_every is set) instead of re-extracting and
    re-canonicalizing every fetched document's links at refresh time.
    Same formula, same oracle (``priority_refresh`` pins the composed
    path)."""
    queued = frontier.where(F.col("state") == "queued")
    rest = frontier.where(F.col("state") != "queued")
    score = F.col("indeg").cast("double") / (F.lit(1.0) + F.col("indeg"))
    refreshed = (
        queued.join(indeg, "url_hash", "left")
        .withColumn("indeg", F.coalesce("indeg", F.lit(0)))
        .withColumn(
            "priority",
            F.round(
                F.lit(float(alpha)) * F.col("priority")
                + F.lit(1.0 - float(alpha)) * score,
                6,
            ),
        )
        .drop("indeg")
    )
    return refreshed.unionByName(rest.select(*refreshed.columns))


def eligible_slice(
    frontier: DataFrame,
    host_state: Optional[DataFrame],
    t0: float,
    cfg: CrawlConfig,
) -> DataFrame:
    """Superstep §1: queued rows whose politeness clock and depth admit
    them this step, minus rows on hosts whose token bucket is exhausted.

    The blocked-host anti-join carries NO broadcast hint (VERDICT r4
    #3): host_state is one row per ACTIVE host, and at 10^8 hosts with
    long crawl-delays the blocked slice can be most of it — a forced
    broadcast would OOM the driver/executors. host_state is
    parquet-backed (store.read_host_state), so the static planner
    broadcasts while the file sits under autoBroadcastJoinThreshold and
    falls back to a shuffled join past it, picked from size stats
    instead of a forced hint, as schedule_batch's delay join is (plan
    adaptivity pinned in tests/test_superstep.py). Unlike that join,
    this one runs below schedule_batch's window: planned as a shuffled
    join, its host exchange sits under the window and the map-side
    WindowGroupLimit is lost, so a hot host's whole eligible queue is
    shuffled."""
    eligible = frontier.where(
        (F.col("state") == "queued")
        & (F.col("not_before") <= F.lit(t0))
        & (F.col("depth") <= F.lit(cfg.max_depth))
    )
    if host_state is not None:
        blocked = host_state.where(F.col("next_allowed") > F.lit(t0)).select("host")
        eligible = eligible.join(blocked, "host", "left_anti")
    return eligible


def _verify_docs_hash_convention(docs: DataFrame) -> None:
    """Spot-check that a precomputed ``docs.url_hash`` follows the
    frontier's xxhash64(url) convention (round-5 ADVICE: a docs table
    hashed differently makes the fetch join silently fetch nothing).
    Reads the head of one partition (limit before the check, so the
    job never scans past the first 16 usable rows). It runs on step 0
    of every crawl session, with no switch to skip it: docs are outside
    input, and the check costs one 16-row job."""
    sample = (
        docs.select("url", "url_hash")
        .where(F.col("url").isNotNull() & F.col("url_hash").isNotNull())
        .limit(16)
        .select("url", "url_hash", F.xxhash64("url").alias("_expect"))
        .collect()
    )
    for r in sample:
        if r["url_hash"] != r["_expect"]:
            raise ValueError(
                f"docs.url_hash does not follow the frontier's "
                f"xxhash64(url) convention (url={r['url']!r} carries "
                f"url_hash={r['url_hash']}, xxhash64 gives "
                f"{r['_expect']}): the fetch join would match nothing. "
                f"Recompute the column, or drop it and let frontier_step "
                f"derive it in-scan."
            )


class StepPlan(NamedTuple):
    """The lazy plan of one crawl step, as ``step_plan`` builds it."""

    # every scheduled row plus its ``allowed`` flag; cached and observed
    gated: DataFrame
    # fires with the first action over ``gated``: n (scheduled), f
    # (fetched) and, up to _OBS_LINEAGE_MAX bloom partitions, the
    # per-partition lineage arrays larr/aarr
    obs: Observation
    # canonical, in-batch-deduped links of the fetched documents
    candidates: DataFrame
    # host_state with this step's politeness advance merged in
    host_state: DataFrame


# Per-partition lineage counters ride the gate Observation as TWO
# array-valued columns up to this many bloom partitions (round 7;
# previously 2 x n_partitions scalar columns = 64 F.expr py4j calls and
# 64 analyzer-visible aggregates per step — the array form is one parse
# per side and collapses the plan-build cost to O(1) columns). Past it
# a dedicated lineage agg job (one groupBy-collect over the cached gate
# output) is the better trade.
_OBS_LINEAGE_MAX = 64


def step_plan(
    rows: DataFrame,
    host_state: Optional[DataFrame],
    docs: DataFrame,
    rules,  # RulesBroadcast | RulesTable (sharded, broadcast-free)
    cfg: CrawlConfig,
    step: int,
    cluster_partitions: Optional[int] = None,
) -> StepPlan:
    """Build one crawl step over ``rows`` — the frontier rows, or
    streaming candidates — at the virtual clock ``t0 = step *
    step_seconds``: eligibility, schedule, gate, fetch, link candidates
    and the politeness advance. The batch superstep and the streaming
    loop both call it (inside ``window_group_limit_scope`` and
    ``sized_shuffle_scope``), so their crawl order is one code path, and
    both commit the result through ``commit_updates`` to a
    FrontierStore; they differ only in where the step's new rows come
    from (the step's own links, or the stream's candidate file).

    ``rows`` carries (url_hash, url, host, priority, depth, state,
    not_before); ``host_state`` is (host, next_allowed) or None.
    ``cluster_partitions`` pre-clusters the candidates for the bloom
    probe (see link_candidates). The stage functions are called through
    this module's globals, which is where perfbench's ``--trace 1``
    wraps them to time plan building."""
    t0 = step * cfg.step_seconds

    # --- 1. eligible queued rows (politeness clock per host) -------------
    eligible = eligible_slice(rows, host_state, t0, cfg)

    # --- 2. per-host top-k + politeness schedule --------------------------
    # No dedicated count job: the scheduled count rides the gate
    # Observation below and is collected by the first action over it —
    # the schedule is computed exactly once, inside the main pipeline.
    scheduled = schedule_batch(eligible, rules.delay_df(), cfg, t0)

    # --- 3. robots gate ----------------------------------------------------
    # fetched/disallowed counters — and, below the partition-count
    # threshold, the whole per-partition lineage — ride the plan as one
    # Observation: collected by the FIRST action that computes `gated`
    # (the cache fill), no dedicated aggregate jobs per step
    if isinstance(rules, RulesTable):
        gated_raw = gate_sharded(
            scheduled,
            rules.rules_df,
            with_delay=False,
            on_parse_error=cfg.on_parse_error,
        )
    else:
        gated_raw = gate(
            scheduled, rules, with_delay=False, on_parse_error=cfg.on_parse_error
        )
    obs = Observation()
    obs_cols = [
        F.sum(F.col("allowed").cast("long")).alias("f"),
        F.count(F.lit(1)).alias("n"),
    ]
    P = cfg.bloom.n_partitions
    if P <= _OBS_LINEAGE_MAX:
        l_terms = ",".join(
            f"sum(CASE WHEN pmod(url_hash,{P})={i} THEN 1 ELSE 0 END)"
            for i in range(P)
        )
        a_terms = ",".join(
            f"sum(CASE WHEN pmod(url_hash,{P})={i} "
            f"THEN CAST(allowed AS LONG) ELSE 0 END)"
            for i in range(P)
        )
        obs_cols.append(F.expr(f"array({l_terms}) AS larr"))
        obs_cols.append(F.expr(f"array({a_terms}) AS aarr"))
    # observe BEFORE cache, and build everything below from the cached
    # frame: a subtree over an un-observed copy would not match the
    # cached plan and would run the gate UDF a second time
    gated = gated_raw.observe(obs, *obs_cols).cache()

    # --- 4. fetch: join scheduled URLs to their documents ------------------
    # Keyed on the 8-byte url_hash, NOT the url string: this is the
    # step's biggest join (the docs side carries the spans payload) and
    # the crawl is measured byte-bound — shuffling/sorting/comparing
    # 60-100 B URL strings as the join key is the largest avoidable byte
    # cost at 100 TB (VERDICT r4 #2). A content store bucketed by
    # url_hash makes the docs side shuffle-free every step. Docs
    # lacking a url_hash column get xxhash64(url) computed in-scan (the
    # frontier's production hash — seed_frontier/link_candidates
    # default); a precomputed docs url_hash MUST follow the same
    # convention. The
    # url-equality post-filter costs string compares only on hash-equal
    # pairs and makes a 64-bit collision (expected ~3 at 10^10 URLs)
    # drop the collided row instead of fetching the wrong document.
    if "url_hash" in docs.columns:
        if step == 0:
            _verify_docs_hash_convention(docs)
        doc_key = F.col("url_hash")
    else:
        doc_key = F.xxhash64("url").alias("url_hash")
    docs_keyed = docs.select(
        doc_key, F.col("url").alias("_doc_url"), "doc_id", "spans"
    )
    fetched_docs = (
        gated.where(F.col("allowed"))
        .select("url_hash", "url", "depth")
        .join(docs_keyed, "url_hash", "inner")
        .where(F.col("url") == F.col("_doc_url"))
        .drop("_doc_url")
    )

    # --- 5. link extraction -> canonical candidates ------------------------
    # depth rides the explode (passthrough) — no re-join on doc_id
    links = extract_links(
        fetched_docs.select("doc_id", "depth", "spans"), passthrough=("depth",)
    )
    candidates = link_candidates(links, cluster_partitions=cluster_partitions)

    # --- 6. politeness advance ---------------------------------------------
    # from the rows actually scheduled, not the cap. It stays a DataFrame
    # end to end — no collect() of per-host rows and no createDataFrame
    # round-trip, so the update set scales to millions of active hosts
    # per step (it shuffles on host and MERGEs into host_state like any
    # other table). crawl_delay is constant per host (delay join +
    # coalesce), so max() just picks it.
    state_updates = gated.groupBy("host").agg(
        (F.lit(t0) + F.count("*") * F.max("crawl_delay")).alias("next_allowed")
    )
    if host_state is not None:
        state_updates = host_state.join(
            state_updates.select("host"), "host", "left_anti"
        ).unionByName(state_updates)
    return StepPlan(gated, obs, candidates, state_updates)


def commit_updates(
    spark: SparkSession,
    store: FrontierStore,
    gated: DataFrame,
    queued: DataFrame,
    step: int,
    n_updates: int,
    host_state: DataFrame,
    filters_increment=None,
) -> None:
    """Commit one crawl step to ``store`` as step ``step``: the rows of
    ``gated`` (a ``step_plan``'s scheduled rows) as fetched or
    disallowed, ``queued`` (the rows the step adds as queued; none may
    share a url_hash with ``gated`` — commit_step's one-row-per-key
    invariant) and ``host_state``. frontier_step and the streaming
    crawl's micro-batches both commit through here.

    ``n_updates`` — the update set's row count, or an upper bound, from
    counters already on the driver — sizes the delta at ~64k rows per
    file instead of always n_buckets files (guide §6, round 7): a
    7k-row sandbox delta lands as 1 file, and every later merge-on-read
    lists 1 file per delta, while a 10^7-row batch still fans out to
    the full n_buckets. coalesce only (never a shuffle), over the
    step's cached slices; no cache and no action besides the commit's
    own writes."""
    cols = ("url_hash", "url", "host", "priority", "depth")
    done = gated.where(F.col("allowed")).select(
        *cols,
        F.lit("fetched").alias("state"),
        (F.col("fetch_time") + F.col("crawl_delay")).alias("not_before"),
    )
    denied = gated.where(~F.col("allowed")).select(
        *cols,
        F.lit("disallowed").alias("state"),
        F.lit(float("inf")).alias("not_before"),
    )
    updates = (
        done.unionByName(denied)
        .unionByName(queued)
        .coalesce(max(1, min(store.n_buckets, (n_updates >> 16) + 1)))
    )
    # DELTA commit: O(batch) rows per step; the store compacts to a full
    # base every compact_every steps (merge-on-read in between)
    store.commit_step(
        spark, updates, filters_increment, meta={"step": step}, host_state=host_state
    )


def frontier_step(
    spark: SparkSession,
    store: FrontierStore,
    docs: DataFrame,
    rules,  # RulesBroadcast | RulesTable (sharded, broadcast-free)
    cfg: CrawlConfig,
) -> dict:
    """Run one superstep against the current snapshot; returns metrics.

    The whole step (plan build AND the committing action) runs inside
    ``window_group_limit_scope``, so per_host_k above the session's
    windowGroupLimitThreshold keeps the map-side skew guard without
    permanently mutating session conf, and inside
    ``sized_shuffle_scope`` over the frontier and ``docs``, so the
    step's fan-out follows its input size."""
    frontier = store.read_frontier(spark)
    with window_group_limit_scope(spark, cfg.per_host_k), sized_shuffle_scope(
        spark, frontier, docs
    ):
        return _frontier_step_impl(spark, store, frontier, docs, rules, cfg)


def _frontier_step_impl(
    spark: SparkSession,
    store: FrontierStore,
    frontier: DataFrame,
    docs: DataFrame,
    rules,
    cfg: CrawlConfig,
) -> dict:
    _mark = _tracer()
    meta = store.meta()
    step = int(meta.get("step", -1)) + 1

    filters = store.read_filters(spark)
    host_state = store.read_host_state(spark)  # (host, next_allowed) or None
    _mark("snapshot reads")

    # --- 1-6. step_plan: eligible -> schedule -> gate -> fetch -> links ---
    # pre-cluster the candidate dedup on the bloom partition key so the
    # dedup groupBy and the probe cogroup share ONE exchange (round 7;
    # see link_candidates) — only when the bloom path will consume it
    plan = step_plan(
        frontier,
        host_state,
        docs,
        rules,
        cfg,
        step,
        cluster_partitions=cfg.bloom.n_partitions if filters is not None else None,
    )
    gated, candidates = plan.gated, plan.candidates
    if cfg.refresh_every:
        # record this step's in-degree increment for the periodic
        # priority refresh (run_crawl). Cached so the write (the first
        # action over the candidate subtree) warms it for the commit;
        # epoch-dir overwrite keeps a re-run idempotent.
        candidates = candidates.cache()
        candidates.select("url_hash", "n_refs").write.mode("overwrite").parquet(
            os.path.join(store.root, "indeg", f"step={step}")
        )

    # --- 7. seen-set dedup: bloom prefilter + exact anti-join --------------
    # the exact check probes the frontier's KEY SET (store.read_keys:
    # base + delta url_hash columns, no merge-on-read join chain — at
    # scale a single-column parquet scan, not k anti-joins of full rows).
    # Bloom increments are DEFERRED to compaction (r6): the base filters
    # cover keys up to the base snapshot only, so bloom-negative
    # candidates additionally anti-join the delta chain's key columns —
    # O(compact_every x batch) rows, a native column scan — instead of
    # every step paying a python bloom-build stage plus a filter write.
    seen_keys = store.read_keys(spark)
    pending = store.pending_deltas()
    if filters is not None:
        probed = probe_bloom(candidates, filters, cfg.bloom)
        definite_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
        if pending:
            definite_new = definite_new.join(
                store.read_keys(spark, deltas_only=True), "url_hash", "left_anti"
            )
        maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
        confirmed_new = maybe.join(seen_keys, "url_hash", "left_anti")
        new_rows = definite_new.unionByName(confirmed_new)
    else:
        new_rows = candidates.join(seen_keys, "url_hash", "left_anti")
    obs_new = Observation()
    new_rows = (
        new_rows.select(
            "url_hash",
            "url",
            "host",
            "priority",
            "depth",
            F.lit("queued").alias("state"),
            F.lit(0.0).alias("not_before"),
        )
        .observe(obs_new, F.count(F.lit(1)).alias("n"))
        .cache()
    )

    # --- 8. bloom increment (the update set is built by commit_updates) ---
    # DEFERRED bloom maintenance (r6): non-compacting steps write no
    # filter increment at all — their new keys ride the delta-key
    # anti-join above until compaction. On the step whose commit WILL
    # compact, one catch-up increment covers every key the chain added
    # since the base (prior delta keys + this step's new rows; done/
    # denied keys were queued before, so base bloom + delta keys already
    # cover them). Lazy: resolved by commit_step AFTER the delta write
    # fires the observations.
    compact_due = pending + 1 >= store.compact_every

    def filters_increment():
        if not compact_due or filters is None:
            # no base bloom -> never write a partial-coverage increment
            # (a filters table that misses base keys would let the probe
            # mark seen URLs definite-new); the no-bloom mode stays pure
            # anti-join end to end
            return None
        uncovered = new_rows.select("url_hash")
        if pending:
            uncovered = uncovered.unionByName(
                store.read_keys(spark, deltas_only=True)
            )
        elif int(obs_new.get["n"] or 0) == 0:
            return None
        return build_bloom(uncovered, cfg.bloom)

    # --- 9. metrics, lineage, checkpoint ------------------------------------
    _mark("plan built")
    # Materialize the step's caches BEFORE committing: one count over
    # new_rows computes the whole schedule+gate+fetch+links+seen
    # pipeline into the gated/new_rows caches (both Observations fire
    # here), so the commit phases below time the WRITE itself. Round 5
    # read "delta write 13s" as a write-bound step, but that number was
    # lazy-execution attribution — the write was the first action over
    # the step plan. Same total compute (the caches were populated by
    # the write before; now by the count), one extra cache-scan
    # aggregate, honest phase boundaries.
    new_rows.count()
    _mark("step compute (schedule+gate+fetch+links+seen)")
    vals = plan.obs.get
    n_scheduled = int(vals["n"] or 0)
    n_fetched = int(vals["f"] or 0)
    n_disallowed = n_scheduled - n_fetched
    n_new = int(obs_new.get["n"] or 0)
    # the counts are on the driver now (Observation counters fired with
    # the materializing count above): they size the delta files
    commit_updates(
        spark,
        store,
        gated,
        new_rows,
        step,
        n_scheduled + n_new,
        plan.host_state,
        filters_increment,
    )
    _mark("commit_step")
    if n_scheduled > 0:
        # metrics + lineage rows are already on the driver (Observation
        # counters); append them as one tiny pyarrow file each instead
        # of spinning a Spark job per side table
        store.append_metrics_rows(
            [(step, n_scheduled, n_fetched, n_disallowed, n_new)]
        )
        if cfg.bloom.n_partitions <= _OBS_LINEAGE_MAX:
            larr, aarr = vals["larr"], vals["aarr"]
            store.append_lineage_rows(
                [
                    (i, int(larr[i] or 0), int(aarr[i] or 0), step)
                    for i in range(cfg.bloom.n_partitions)
                    if int(larr[i] or 0) > 0
                ]
            )
        else:
            # wide-partition configs: one groupBy-collect over the
            # cached gate output (n_partitions result rows —
            # driver-small at any bloom width)
            pid = F.pmod(F.col("url_hash"), F.lit(cfg.bloom.n_partitions))
            lineage = (
                gated.groupBy(pid.cast("int").alias("partition_id"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("allowed").cast("long")).alias("a"),
                )
                .collect()
            )
            store.append_lineage_rows(
                sorted(
                    (int(r["partition_id"]), int(r["n"]), int(r["a"]), step)
                    for r in lineage
                )
            )
        _mark("metrics+lineage")
    gated.unpersist()
    new_rows.unpersist()
    if cfg.refresh_every:
        candidates.unpersist()
    return {
        "step": step,
        "scheduled": n_scheduled,
        "fetched": n_fetched,
        "disallowed": n_disallowed,
        "new_urls": n_new,
    }


def run_crawl(
    spark: SparkSession,
    store: FrontierStore,
    docs: DataFrame,
    robots_raw: DataFrame,
    seeds,  # iterable of str | DataFrame of raw URLs (see seed_frontier)
    cfg: CrawlConfig,
    n_steps: int,
    rules=None,
) -> List[dict]:
    """Seed (when the store is empty — resume otherwise) then run
    ``n_steps`` supersteps. Returns per-step metrics.

    ``rules`` may be a RulesBroadcast (default; rules fit one broadcast)
    or a RulesTable (sharded mode for rules tables past the driver/
    broadcast ceiling — pass RulesTable(build_rules(robots_raw, agent))).
    """
    if rules is None:
        rules = RulesBroadcast(spark, build_rules(robots_raw, cfg.agent))
    if store.current_version() < 0:
        init_crawl(spark, store, seeds, cfg)
    out = []
    for i in range(n_steps):
        out.append(frontier_step(spark, store, docs, rules, cfg))
        if cfg.refresh_every and (i + 1) % cfg.refresh_every == 0:
            refresh_step(spark, store, cfg)
    return out


def refresh_step(spark: SparkSession, store: FrontierStore, cfg: CrawlConfig) -> None:
    """Periodic link-graph priority refresh inside the crawl loop
    (cfg.refresh_every): sum the per-step in-degree increments
    frontier_step recorded, apply ``apply_indegree_refresh`` to the
    frontier, and snapshot. The bloom filters and host_state are
    carried into the new snapshot (write_snapshot resets the delta
    chain, so dropping them would lose seen-ness and politeness state —
    same carry-forward as commit_step's compaction). One map-side-
    combinable sum + one join on the store's own bucketing key: no
    content re-scan, no window, no skew point. Runs inside
    sized_shuffle_scope over the increments and the frontier."""
    path = os.path.join(store.root, "indeg")
    if not os.path.exists(path):
        return
    increments = spark.read.parquet(path)
    frontier = store.read_frontier(spark)
    with sized_shuffle_scope(spark, increments, frontier):
        indeg = increments.groupBy("url_hash").agg(F.sum("n_refs").alias("indeg"))
        refreshed = apply_indegree_refresh(frontier, indeg, cfg.refresh_alpha)
        filters = store.read_filters(spark)
        if filters is not None:
            from ..operators.seen import merge_bloom

            if store.pending_deltas():
                # Deferred-increment catch-up (round-7 ADVICE, high):
                # under the r6 deferral policy the carried filters cover
                # BASE keys only, and write_snapshot resets the delta
                # chain — so the uncompacted deltas' keys must fold into
                # the bloom here (mirroring commit_step's compaction
                # catch-up) or the next frontier_step probes them
                # definitely-new and re-queues already-fetched URLs over
                # their fetched rows.
                filters = merge_bloom(
                    filters,
                    build_bloom(store.read_keys(spark, deltas_only=True), cfg.bloom),
                )
            else:
                filters = merge_bloom(filters, filters.limit(0))  # one row/partition
        store.write_snapshot(
            refreshed,
            filters,
            meta=store.meta(),
            host_state=store.read_host_state(spark),
        )

def crawl_order(spark: SparkSession, store: FrontierStore) -> DataFrame:
    """The reproducible crawl order: fetched rows sorted by the virtual
    politeness clock then url_hash (used by determinism tests/bench)."""
    return (
        store.read_frontier(spark)
        .where(F.col("state") == "fetched")
        .orderBy(F.asc("not_before"), F.asc("url_hash"))
        .select("url", "host", "depth", "not_before", "url_hash")
    )
