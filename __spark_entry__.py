"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl pipeline over sf0.001;
``queries()`` exposes one entry per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-checkable subset.
Non-SQL-expressible entries (the robots gate itself, the crawl
superstep, xxhash64-based sketches, the pandas-UDF language ID) are
rows-only — their semantics are validated by the pytest corpus instead.

All float outputs are rounded and all orderings are tie-broken so the
Spark and DuckDB results are value-identical, not just approximately
equal.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: interleaved-document crawl over sf0.001-derived universe
# ---------------------------------------------------------------------------


def _interleaved_docs_from_sf(spark: SparkSession, sf_dir: str):
    """Derive an input_hint-shaped interleaved documents table from the
    driver's flat documents table: host from source, spans alternating
    text/link/media, links wired deterministically between docs."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    host = F.concat(F.col("source"), F.lit(".example"))
    # deterministic link targets: (doc_id * 7 + j) % n
    targets = [(F.col("doc_id") * 7 + j) % n for j in (1, 3)]
    base = docs.select(
        F.col("doc_id").cast("long").alias("num_id"),
        F.concat(host, F.lit("/"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.concat(F.lit("https://"), host, F.lit("/page/"), F.col("doc_id")).alias("url"),
        host.alias("host"),
        F.col("text"),
        *[t.alias(f"t{j}") for j, t in enumerate(targets)],
    )
    tgt = docs.select(
        F.col("doc_id").cast("long").alias("tnum"),
        F.concat(
            F.lit("https://"),
            F.concat(F.col("source"), F.lit(".example")),
            F.lit("/page/"),
            F.col("doc_id"),
        ).alias("turl"),
    )
    j0 = tgt.withColumnRenamed("turl", "link0").withColumnRenamed("tnum", "t0")
    j1 = tgt.withColumnRenamed("turl", "link1").withColumnRenamed("tnum", "t1")
    wired = base.join(F.broadcast(j0), "t0").join(F.broadcast(j1), "t1")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            F.col("link0").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("media://"), F.col("doc_id")).alias("media_ref"),
            F.lit(2).alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            F.col("link1").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(3).alias("offset"),
        ),
    )
    return wired.select("doc_id", "url", "host", spans.alias("spans"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3 crawl supersteps (robots gate, politeness, exact
    seen-set dedup, link extraction, MERGE) over the sf0.001-derived
    interleaved corpus.
    Returns the reproducible crawl order."""
    import tempfile

    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, crawl_order, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore
    from texting_robots_spark.sources.synth import _robots_body

    sf_dir = "/root/testdata/sf0.001"
    docs = _interleaved_docs_from_sf(spark, sf_dir).cache()
    hosts = sorted(r["host"] for r in docs.select("host").distinct().collect())
    robots_raw = spark.createDataFrame(
        [
            (h, bytearray(_robots_body(i, None)), 200)
            for i, h in enumerate(hosts)
            if i % 7 != 3
        ],
        "host string, body binary, status int",
    )
    seeds = [r["url"] for r in docs.orderBy("doc_id").limit(20).collect()]
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=8,
        step_seconds=10.0,
        default_delay=0.25,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
    )
    store = FrontierStore(tempfile.mkdtemp(prefix="trs_entry_"), n_buckets=8)
    # superstep plans carry explicit skew handling; AQE only adds a
    # stage materialization per shuffle here (plans/superstep.py AQE
    # note) — scope it off for the crawl, restore for whatever runs next
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_crawl(spark, store, docs, robots_raw, seeds, cfg, n_steps=3)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return crawl_order(spark, store)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _host_topk(spark, sf_dir):
    """Per-group top-k window — the frontier's per-host batch-cut shape."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _anti_join_unseen(spark, sf_dir):
    """Left-anti join — the URL-seen dedup shape."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def _semi_join_active(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_nationkey"
    )


def _broadcast_join_revenue(spark, sf_dir):
    """Broadcast dim join + agg — the frontier's rules/delay join shape."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _agg_metrics_by_type(spark, sf_dir):
    """groupBy metrics — the fetch/skip/disallow counters shape."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _window_sessions(spark, sf_dir):
    """lag window over event streams — sessionization (gap > 600s)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; timestamp_diff on NTZ is wall-clock
    # arithmetic, independent of spark.sql.session.timeZone (a cast to
    # TIMESTAMP would shift by the session offset and can flip a session
    # boundary across a DST transition)
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    return (
        ev.withColumn("gap_us", gap_us)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(
                    F.when(
                        F.col("gap_us").isNull() | (F.col("gap_us") > 600_000_000), 1
                    ).otherwise(0)
                )
            ).alias("n_sessions"),
        )
    )


def _set_union_nations(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.union(supp).distinct()


def _explode_token_freq(spark, sf_dir):
    """explode/posexplode — the link-extraction shape, over doc tokens."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def _dedup_exact(spark, sf_dir):
    from texting_robots_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents")).select(
        "digest", "n_docs", F.col("canonical_id").cast("long").alias("canonical_id")
    )


def _ngram_jaccard_consecutive(spark, sf_dir):
    """n-gram Jaccard near-dup scoring for deterministically paired docs."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"), F.col("text").alias("text_b")
    )
    pairs = a.join(b, "id_a").select(
        F.col("id_a"), (F.col("id_a") + 1).alias("id_b"), "text_a", "text_b"
    )
    ai = F.array_distinct(F.filter(F.split("text_a", " "), lambda t: t != ""))
    bi = F.array_distinct(F.filter(F.split("text_b", " "), lambda t: t != ""))
    inter = F.size(F.array_intersect(ai, bi)).cast("double")
    union = F.size(F.array_union(ai, bi)).cast("double")
    return pairs.select(
        "id_a",
        "id_b",
        F.round(
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    )


def _quality_features(spark, sf_dir):
    from texting_robots_spark.operators.text import quality_features

    return quality_features(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "distinct_ratio",
        "mean_token_len",
    )


def _repetition_features(spark, sf_dir):
    """Gopher/RefinedWeb-style repetition quality signals (duplicate
    token/bigram/trigram fractions) — native expressions end to end
    (operators/text.py:repetition_features), replayed in DuckDB with
    range/list_transform/list_distinct over the same \\x1f-joined
    n-gram strings."""
    from texting_robots_spark.operators.text import repetition_features

    return repetition_features(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "dup_token_frac",
        "dup_bigram_frac",
        "dup_trigram_frac",
    )


def _token_count_by_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return docs.groupBy("lang").agg(
        F.sum(toks).cast("long").alias("total_tokens"),
        F.count("*").alias("n_docs"),
    )


def _similarity_topk(spark, sf_dir):
    from texting_robots_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank")
    )


# --- rows-only entries (no exact SQL equivalent) ---------------------------


def _robots_gate_conformance(spark, sf_dir):
    """Full ported corpus through the Spark gate.

    Hash-oracled: DuckDB cannot express the matcher itself, but the
    corpus (texting_robots_spark/conformance.py — the reference's own
    test expectations, ported as data) carries the EXPECTED verdict per
    (case, url), so the oracle emits those expectations as literal rows
    with ``allowed = expected``. The driver's value-hash compare then
    proves gate-vs-reference parity on all 307 assertions every round —
    any matcher divergence breaks the hash."""
    from texting_robots_spark.conformance import CORPUS
    from texting_robots_spark.operators.gate import (
        RulesBroadcast,
        build_rules_per_agent,
        gate,
    )

    cases = [c for c in CORPUS if c.allowed and not c.parse_error]
    # case_id doubles as the host key, so per-case agents coexist in one
    # (host x agent)-keyed rules table — a single job end-to-end
    raw = spark.createDataFrame(
        [(c.case_id, bytearray(c.robots), c.agent) for c in cases],
        "host string, body binary, agent string",
    )
    bc = RulesBroadcast(spark, build_rules_per_agent(raw))
    cand = spark.createDataFrame(
        [(c.case_id, u, e) for c in cases for u, e in c.allowed],
        "host string, url string, expected boolean",
    )
    return gate(cand, bc, with_delay=False).select(
        "host", "url", "expected", "allowed"
    )


def _crawl_superstep(spark, sf_dir):
    """Three FULL ``run_crawl`` supersteps against a real FrontierStore
    — hash-oracled on the terminal frontier (round 3's last rows-only
    query). Extends the ``crawl_two_steps`` construction one more
    generation so the DRAIN takes exactly 3 steps:

    - step 1: originals ``/p/<id>`` get their literal-prefix gate
      verdict; fetched parents discover ``/new/<t2>`` (t2 = (13v+3)%n);
    - step 2: every ``/new/<t>`` URL carries a doc whose single link
      span points at ``/new2/<t1>`` (t1 = (7t+1)%n) — fetched /new/
      rows discover the /new2/ generation;
    - step 3: ``/new2/`` URLs carry no docs, so they fetch without
      discovering and the crawl drains.

    Replayability invariants are crawl_two_steps' (see there): host
    count H = max(25, ceil(n/8)) keeps docs/host <= 8, strictly under
    per_host_k=64 and the even-group allowance floor(10/0.5)=20, so no
    scheduling cut ever binds and the fetch SET is independent of the
    xxhash64 tie-break DuckDB cannot compute; politeness never blocks
    (per-host next_allowed <= t0_prev + 8*0.5 = t0_prev + 4 < t0_next);
    no rule matches /new/ or /new2/; ``not_before`` is rank-dependent
    and excluded. The wildcard-rule 3-step crawl (not SQL-expressible)
    stays exercised by entry() and the pytest determinism suite.
    """
    import math
    import tempfile

    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    n = docs0.count()
    n_hosts = max(25, math.ceil(n / 8))
    hidx = F.col("doc_id") % n_hosts
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    keyed = docs0.select(
        "doc_id", url.alias("url"), host.alias("host"), hidx.alias("hidx")
    )
    dd = (F.col("hidx") % 10).cast("string")
    delay_line = F.when(
        F.col("hidx") % 2 == 0, F.lit("Crawl-delay: 0.5\n")
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("User-agent: TRSBot\nDisallow: /p/"),
        dd,
        F.lit("\nAllow: /p/"),
        dd,
        dd,
        F.lit("\n"),
        delay_line,
    )
    robots_raw = (
        keyed.select("host", body.alias("_b"))
        .distinct()
        .select("host", F.encode("_b", "UTF-8").alias("body"))
        .withColumn("status", F.lit(200))
    )
    # docs behind /new/<t>: one link span to /new2/<(7t+1)%n> on the
    # target's host — the second discovery generation
    tgt = keyed.select(F.col("doc_id").alias("_t1"), F.col("host").alias("_h1"))
    wired = keyed.select(
        "doc_id", "host", ((F.col("doc_id") * 7 + 1) % n).alias("_t1")
    ).join(F.broadcast(tgt), "_t1")
    _null_s = F.lit(None).cast("string")
    new2_url = F.concat(
        F.lit("https://"), F.col("_h1"), F.lit("/new2/"), F.col("_t1").cast("string")
    )
    new_spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.lit("second hop").alias("text"),
            _null_s.alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            new2_url.alias("text"),
            _null_s.alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
    )
    new_docs = wired.select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.concat(
            F.lit("https://"), F.col("host"), F.lit("/new/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        new_spans.alias("spans"),
    )
    docs_full = _arith_docs_full(keyed, n).unionByName(new_docs)
    seeds = [r["url"] for r in keyed.select("url").collect()]
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=64,
        step_seconds=10.0,
        default_delay=0.25,
        max_depth=50,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
    )
    store = FrontierStore(tempfile.mkdtemp(prefix="trs_three_"), n_buckets=8)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_crawl(spark, store, docs_full, robots_raw, seeds, cfg, n_steps=3)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return store.read_frontier(spark).select(
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        "state",
    )


def _priority_refresh(spark, sf_dir):
    """Link-graph priority refresh (plans/superstep.py:refresh_priorities):
    queued rows re-weighted by observed in-degree, p' = 0.5*p +
    0.5*indeg/(1+indeg); fetched rows pass through. Links are derived
    arithmetically (two bijective target maps per doc; one carries a
    #fragment the canonicalizer must strip before counting), md5-twin
    hashing so DuckDB replays the whole path."""
    from texting_robots_spark.plans.superstep import refresh_priorities

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    n = docs0.count()
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    keyed = docs0.select("doc_id", url.alias("url"), host.alias("host"))
    from texting_robots_spark.operators.dedup import base_hash_expr

    frontier = keyed.select(
        base_hash_expr(F.col("url"), "md5").alias("url_hash"),
        "url",
        "host",
        ((F.col("doc_id") * 37 % 100) / 100.0).alias("priority"),
        (F.col("doc_id") % 5).alias("depth"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("fetched"))
        .otherwise(F.lit("queued"))
        .alias("state"),
        F.lit(0.0).alias("not_before"),
    )
    tgt = keyed.select(F.col("doc_id").alias("_t"), F.col("url").alias("_turl"))
    l1 = (
        docs0.select(((F.col("doc_id") * 7 + 1) % n).alias("_t"))
        .join(F.broadcast(tgt), "_t")
        .select(F.concat(F.col("_turl"), F.lit("#frag")).alias("url"))
    )
    l2 = (
        docs0.select(((F.col("doc_id") * 13 + 3) % n).alias("_t"))
        .join(F.broadcast(tgt), "_t")
        .select(F.col("_turl").alias("url"))
    )
    out = refresh_priorities(
        frontier, l1.unionByName(l2), alpha=0.5, base_hash="md5"
    )
    return out.select(
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        "state",
    )


def _minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash+LSH pipeline (shingle -> signature -> band -> bucket
    join -> distinct pairs) with the md5-derived base hash so DuckDB
    reproduces it end to end (operators/dedup.py:base_hash_expr). The
    production default stays xxhash64 — same plan, cheaper hash."""
    from texting_robots_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return minhash_lsh_candidates(docs, n_hashes=4, band_size=2, base_hash="md5")


def _minhash_lsh_capped(spark, sf_dir):
    """The hot-bucket safety valve exercised end to end (VERDICT r5 #1,
    operators/dedup.py:capped_bucket_pairs): same MinHash+LSH pipeline
    as minhash_lsh_pairs but with max_bucket_size=3, which BINDS at
    sf0.01 (band-bucket sizes reach 5) — saturated buckets collapse to
    star edges on their min-id representative, marked
    via_representative=true; unsaturated buckets stay exact pairwise.
    The DuckDB oracle replays the collapse arithmetic (bucket sizes,
    min-id rep, pairwise-beats-representative merge) in closed form."""
    from texting_robots_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return minhash_lsh_candidates(
        docs, n_hashes=4, band_size=2, base_hash="md5", max_bucket_size=3
    )


def _incremental_dedup(spark, sf_dir):
    """Rolling-crawl dedup (operators/dedup.py:incremental_lsh_candidates):
    odd doc_ids play the ingested ARCHIVE (only their persisted
    lsh_band_index is touched — never their text), even doc_ids are the
    NEW batch; candidates = new-vs-new pairwise plus new-vs-archive
    bucket join. The DuckDB oracle replays both pair families from the
    same md5-twin band arithmetic and proves the incremental output
    equals the full-corpus LSH restricted to pairs touching a new doc."""
    from texting_robots_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_index,
        minhash_signature,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    is_new = F.col("doc_id").cast("long") % 2 == 0
    base_index = lsh_band_index(
        minhash_signature(docs.where(~is_new), "text", 4, "md5"),
        n_hashes=4,
        band_size=2,
        base_hash="md5",
    )
    return incremental_lsh_candidates(
        docs.where(is_new),
        base_index,
        n_hashes=4,
        band_size=2,
        base_hash="md5",
    ).select("id_a", "id_b", "via_representative", "against")


def _dedup_components(spark, sf_dir):
    """End of the dedup pipeline: LSH candidate PAIRS -> connected
    COMPONENTS -> one survivor per near-dup group (operators/dedup.py:
    connected_components — alternating large-star/small-star
    contraction, resolve_duplicates). Transitive closure matters: A~B,
    B~C dedups A and C even though LSH never paired them directly. The
    DuckDB oracle replays the same md5-twin LSH pairs, then computes
    min-reachable-id per node with a recursive CTE — an independent
    algorithm (BFS closure) agreeing on every component is a strong
    check of the star-contraction implementation."""
    from texting_robots_spark.operators.dedup import (
        minhash_lsh_candidates,
        resolve_duplicates,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    pairs = minhash_lsh_candidates(docs, n_hashes=4, band_size=2, base_hash="md5")
    return resolve_duplicates(docs.select("doc_id"), pairs).select(
        "doc_id", "component", "is_survivor"
    )


def _simhash_fingerprints(spark, sf_dir):
    """60-bit SimHash with the md5-derived base hash (DuckDB-checkable;
    production default is 64-bit xxhash64 — identical bit-vote plan)."""
    from texting_robots_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return simhash(docs, bits=60, base_hash="md5").select("doc_id", "simhash")


def _lang_id(spark, sf_dir):
    """29-language character-bigram language ID through the vectorized
    pandas UDF (operators/text.py). Oracled: every profile bigram has
    two distinct codepoints, so occurrence counts are replace-based-
    countable and the whole model is expressible as closed-form SQL in
    DuckDB (348 score terms, generated from the same profile data)."""
    from texting_robots_spark.operators.text import add_lang_id

    return add_lang_id(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_guess"
    )


def _ann_lsh_topk(spark, sf_dir):
    from texting_robots_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5, dim=64, n_planes=4)


def _doc_fingerprints(spark, sf_dir):
    """Order-sensitive polynomial rolling hash + md5 digest per doc
    (operators/text.py:rolling_fingerprint, md5 base-hash variant so the
    DuckDB oracle reproduces the fold bit-for-bit)."""
    from texting_robots_spark.operators.text import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return rolling_fingerprint(docs, base_hash="md5").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "fingerprint",
        "md5_fingerprint",
    )


def _embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact verifier method —
    the DuckDB-checkable instantiation; the bucketed LSH/IVF scale paths
    are recall-tested against this in pytest)."""
    from texting_robots_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.4, method="exact").select(
        "id_a", "id_b", "cos_sim"
    )


def _ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN serving path: probe the 4 nearest of 16 k-means
    cells, exact cosine within (similarity.py:ivf_topk).

    Hash-oracled: training is iterative (not SQL), so the deterministic
    reference trainer (ivf_train_local — same _cell_distances kernel as
    the Spark UDFs) produces the centroids HERE, and oracle_sql() embeds
    the identical centroids as literals, replaying assignment (argmin),
    probing (top-4 cells), and the ranked cosine search in DuckDB. The
    distributed ivf_train stays the scale trainer; its recall is pinned
    in pytest against exact cosine_topk."""
    from texting_robots_spark.operators.similarity import ivf_topk, ivf_train_local

    C = ivf_train_local(f"{sf_dir}/embeddings.parquet", n_cells=16)
    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), centroids=C, k=5, n_probes=4
    )


def _ascii_media(spark, sf_dir):
    """The driver queries' media table: refs + ASCII blob content derive
    from doc_id arithmetic so DuckDB can rebuild the identical bytes
    (content = md5 hex of the ref repeated 8x = 256 ASCII bytes)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    ref = F.concat(
        F.lit("media://"),
        F.col("source"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit(".bin"),
    )
    tsel = F.conv(F.substring(F.md5(ref), 1, 8), 16, 10).cast("long") % 3
    return docs.select(
        ref.alias("media_ref"),
        F.encode(F.repeat(F.md5(ref), 8), "UTF-8").alias("content"),
        F.when(tsel == 0, "image/png")
        .when(tsel == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.lit(64).cast("int").alias("width"),
        F.lit(64).cast("int").alias("height"),
    )


def _media_resize(spark, sf_dir):
    """Image-resize plumbing through the REAL mapInPandas kernel slot
    (operators/multimodal.py:resize_media, sha256 stand-in); the oracle
    replays the resized payload byte-for-byte in SQL."""
    from texting_robots_spark.operators.multimodal import resize_media

    media = _ascii_media(spark, sf_dir).where(F.col("media_type") == "image/png")
    out = resize_media(media, width=32, height=32)
    return out.select(
        "media_ref",
        "media_type",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.decode("content", "UTF-8").alias("resized_digest"),
    )


def _media_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (variable fan-out mapInPandas —
    operators/multimodal.py:sample_frames): 256-byte stand-in blobs at
    frame_stride=64 yield 4 frames per video; the oracle replays the
    per-frame sha256 digests via UNNEST(range(...))."""
    from texting_robots_spark.operators.multimodal import sample_frames

    media = _ascii_media(spark, sf_dir).where(F.col("media_type") == "video/mp4")
    out = sample_frames(media, frame_stride=64, max_frames=16)
    return out.select(
        "media_ref",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.decode("frame", "UTF-8").alias("frame_digest"),
    )


def _media_features(spark, sf_dir):
    """Multimodal decode plumbing over the documents table: media refs +
    ASCII blob content derive from doc_id arithmetic (so DuckDB can
    rebuild them), the feature extraction is the REAL mapInPandas path
    (operators/multimodal.py: sha256-based deterministic stand-in
    decoder), and the oracle replays the whole decode — including the
    float32 feature normalization — via sha256/list_reduce SQL,
    comparing a rounded feature checksum."""
    from texting_robots_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(_ascii_media(spark, sf_dir), dim=8)
    checksum = F.round(
        F.aggregate(
            F.transform("feature", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        6,
    )
    return feats.select(
        "media_ref",
        "media_type",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        checksum.alias("feat_checksum"),
    )


def _sitemap_collection(spark, sf_dir):
    """Sitemap extraction (reference lib.rs:373-384: global across agent
    groups, order-preserving) over the synthetic per-host robots.txt."""
    from texting_robots_spark.operators.gate import build_rules
    from texting_robots_spark.sources.synth import synth_robots_df, synth_universe

    _, robots, _ = synth_universe(n_hosts=24, n_docs=10, seed=42)
    rules = build_rules(synth_robots_df(spark, robots), "TRSBot")
    return rules.select(
        "host", F.posexplode("sitemaps").alias("pos", "sitemap_url")
    )


def _robots_url_derivation(spark, sf_dir):
    """get_robots_url as a column op (reference lib.rs:284-312).

    URLs are constructed from the documents table by shared arithmetic
    (doc_id % 6 picks a shape: plain, uppercased, credentialed+port,
    default-port, non-http scheme, relative), so the DuckDB oracle can
    derive the EXPECTED robots url from the same arithmetic without
    parsing — the UDF must lowercase scheme/host, strip credentials,
    drop default ports, keep explicit ones, and reject non-http/relative
    input to match."""
    from texting_robots_spark.functions.udfs import robots_url_udf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    hostbase = F.concat(F.col("source"), F.col("doc_id").cast("string"))
    shape = F.col("doc_id") % 6
    url = (
        F.when(shape == 0, F.concat(F.lit("https://"), hostbase, F.lit(".example/p/"), F.col("doc_id").cast("string")))
        .when(shape == 1, F.upper(F.concat(F.lit("http://"), hostbase, F.lit(".example/P"))))
        .when(shape == 2, F.concat(F.lit("https://user:pw@"), hostbase, F.lit(".example:8443/x?q#f")))
        .when(shape == 3, F.concat(F.lit("http://"), hostbase, F.lit(".example:80/x")))
        .when(shape == 4, F.concat(F.lit("ftp://"), hostbase, F.lit(".example/x")))
        .otherwise(F.concat(F.lit("/relative/"), F.col("doc_id").cast("string")))
    )
    return (
        docs.withColumn("url", url)
        .withColumn("robots_url", robots_url_udf("url"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "url", "robots_url")
    )


def _schedule_step(spark, sf_dir):
    """One superstep's SCHEDULING stage (plans/superstep.py:
    schedule_batch — the exact code path frontier_step runs) over a
    frozen, arithmetic-derived frontier snapshot: politeness/depth
    eligibility, skew-guarded per-host top-k window, crawl-delay allowance,
    fetch_time arithmetic. The url_hash tie-breaker uses the md5-derived
    base hash (operators/dedup.py:base_hash_expr) so DuckDB reproduces
    the window order bit-for-bit; production uses xxhash64, same plan."""
    from texting_robots_spark.operators.dedup import base_hash_expr
    from texting_robots_spark.plans.superstep import CrawlConfig, schedule_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    host = F.concat(
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 25).cast("string"),
        F.lit(".example"),
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string"))
    frontier = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url.alias("url"),
        host.alias("host"),
        (((F.col("doc_id") * 37) % 100) / F.lit(100.0)).alias("priority"),
        (F.col("doc_id") % 5).cast("int").alias("depth"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(999.0))
        .otherwise(F.lit(0.0))
        .alias("not_before"),
        (F.col("doc_id") % 25).alias("hidx"),
    ).withColumn("url_hash", base_hash_expr(F.col("url"), "md5"))
    cfg = CrawlConfig(per_host_k=4, step_seconds=10.0, default_delay=0.25, max_depth=3)
    t0 = 10.0  # step 1's clock
    eligible = frontier.where(
        (F.col("not_before") <= F.lit(t0)) & (F.col("depth") <= F.lit(cfg.max_depth))
    )
    # delays for 4 of 5 host groups (0.5/4.5/8.5/12.5s — allowances 4/2/1/1);
    # the fifth group has no delay row and coalesces to the 0.25s default
    delays = (
        frontier.select("host", "hidx")
        .distinct()
        .where(F.col("hidx") % 5 != 4)
        .select(
            "host", (F.lit(0.5) + (F.col("hidx") % 4) * F.lit(4.0)).alias("crawl_delay")
        )
    )
    scheduled = schedule_batch(eligible.drop("hidx"), delays, cfg, t0)
    return scheduled.select(
        "url",
        "host",
        F.round("priority", 6).alias("priority"),
        F.col("depth").cast("long").alias("depth"),
        "crawl_delay",
        F.col("rank").cast("long").alias("rank"),
        F.col("allowance").cast("long").alias("allowance"),
        F.round("fetch_time", 6).alias("fetch_time"),
    )


def _arith_docs_full(keyed_docs, n):
    """Interleaved-span docs for the superstep oracles: spans = [text,
    link(seen), media, link(new)] — one link back into the frontier
    (exercises the maybe_seen -> exact anti-join path), one to a
    never-seen /new/ URL (definite-new path). ``keyed_docs`` carries
    (doc_id, url, host); targets are doc_id arithmetic so DuckDB can
    regenerate the identical link graph."""
    tgt = keyed_docs.select(
        F.col("doc_id").alias("_tid"),
        F.col("url").alias("_turl"),
        F.col("host").alias("_thost"),
    )
    wired = (
        keyed_docs.select(
            "doc_id",
            "url",
            ((F.col("doc_id") * 7 + 1) % n).alias("_t1"),
            ((F.col("doc_id") * 13 + 3) % n).alias("_t2"),
        )
        .join(
            F.broadcast(
                tgt.select(
                    F.col("_tid").alias("_t1"), F.col("_turl").alias("_seen_url")
                )
            ),
            "_t1",
        )
        .join(
            F.broadcast(
                tgt.select(
                    F.col("_tid").alias("_t2"), F.col("_thost").alias("_h2")
                )
            ),
            "_t2",
        )
    )
    new_url = F.concat(
        F.lit("https://"), F.col("_h2"), F.lit("/new/"), F.col("_t2").cast("string")
    )
    _null_s = F.lit(None).cast("string")
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.lit("lorem ipsum").alias("text"),
            _null_s.alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            F.col("_seen_url").alias("text"),
            _null_s.alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
        F.struct(
            F.lit("media").alias("kind"),
            _null_s.alias("text"),
            F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            F.lit(2).alias("offset"),
        ),
        F.struct(
            F.lit("link").alias("kind"),
            new_url.alias("text"),
            _null_s.alias("media_ref"),
            F.lit(3).alias("offset"),
        ),
    )
    return wired.select(
        F.col("doc_id").cast("string").alias("doc_id"), "url", spans.alias("spans")
    )


def _superstep_one_step(spark, sf_dir):
    """One FULL superstep dataflow — schedule -> robots gate -> fetch
    join -> span link extraction -> canonicalize -> in-batch dedup ->
    bloom probe + exact anti-join -> update rows — hash-oracled.

    The iterative crawl (``crawl_superstep``) can't be SQL, but one step
    over a frozen frontier is: the same ``schedule_batch`` /
    ``gate`` / ``extract_links`` / ``link_candidates`` code paths
    ``frontier_step`` runs (plans/superstep.py), plus the library's
    ``probe_bloom`` in front of the exact anti-join, with three
    deterministic choices that make DuckDB able to replay it exactly:

    - robots.txt bodies contain only literal-prefix rules (Disallow
      /p/<d>, Allow /p/<d><d>, Crawl-delay), so the gate's longest-match
      precedence (reference minregex.rs literal tier) is a CASE over
      starts_with;
    - url_hash is the md5-derived 60-bit variant end to end (the
      md5-twin convention, operators/dedup.py:base_hash_expr);
    - the bloom prefilter has no false negatives and every maybe_seen
      row goes through the exact anti-join, so new_rows == plain
      anti-join — which is exactly what the oracle replays (this pins
      the no-false-negative property every round).

    Output: the step's complete update set (fetched / disallowed /
    queued-new rows) with politeness not_before arithmetic."""
    from texting_robots_spark.operators.dedup import base_hash_expr
    from texting_robots_spark.operators.gate import RulesBroadcast, build_rules, gate
    from texting_robots_spark.operators.links import extract_links
    from texting_robots_spark.operators.seen import BloomConfig, build_bloom, probe_bloom
    from texting_robots_spark.plans.superstep import (
        CrawlConfig,
        link_candidates,
        schedule_batch,
    )

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    n = docs0.count()
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    frontier = docs0.select(
        "doc_id",
        url.alias("url"),
        host.alias("host"),
        (((F.col("doc_id") * 37) % 100) / F.lit(100.0)).alias("priority"),
        (F.col("doc_id") % 5).cast("int").alias("depth"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(999.0))
        .otherwise(F.lit(0.0))
        .alias("not_before"),
        hidx.alias("hidx"),
    ).withColumn("url_hash", base_hash_expr(F.col("url"), "md5"))

    # literal-prefix robots.txt per host: disallow digit dd, re-allow the
    # longer dd.dd prefix, Crawl-delay for 4 of 5 host groups (the fifth
    # exercises the default-delay coalesce)
    dd = (F.col("hidx") % 10).cast("string")
    delay_line = F.when(
        F.col("hidx") % 5 != 4,
        F.concat(
            F.lit("Crawl-delay: "),
            (F.lit(0.5) + (F.col("hidx") % 4).cast("double") * F.lit(4.0)).cast(
                "string"
            ),
            F.lit("\n"),
        ),
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("User-agent: TRSBot\nDisallow: /p/"),
        dd,
        F.lit("\nAllow: /p/"),
        dd,
        dd,
        F.lit("\n"),
        delay_line,
    )
    robots_raw = (
        frontier.select("host", body.alias("_b"))
        .distinct()
        .select("host", F.encode("_b", "UTF-8").alias("body"))
    )
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.25,
        max_depth=3,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
    )
    rules = RulesBroadcast(spark, build_rules(robots_raw, cfg.agent))
    t0 = 10.0
    eligible = frontier.where(
        (F.col("not_before") <= F.lit(t0)) & (F.col("depth") <= F.lit(cfg.max_depth))
    ).drop("hidx", "not_before")
    scheduled = schedule_batch(eligible, rules.delay_df(), cfg, t0)
    gated = gate(scheduled, rules, with_delay=False)

    docs_full = _arith_docs_full(frontier, n)

    fetched = gated.where(F.col("allowed"))
    fetched_docs = fetched.select("url", "depth").join(docs_full, "url", "inner")
    links = extract_links(
        fetched_docs.select("doc_id", "depth", "spans"), passthrough=("depth",)
    )
    candidates = link_candidates(links, base_hash="md5")
    filters = build_bloom(frontier.select("url_hash"), cfg.bloom)
    probed = probe_bloom(candidates, filters, cfg.bloom)
    definite_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = maybe.join(frontier.select("url_hash"), "url_hash", "left_anti")
    new_rows = definite_new.unionByName(confirmed_new).select(
        F.lit("queued").alias("state"),
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        F.lit(0.0).alias("not_before"),
    )
    done = fetched.select(
        F.lit("fetched").alias("state"),
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        F.round(F.col("fetch_time") + F.col("crawl_delay"), 6).alias("not_before"),
    )
    denied = gated.where(~F.col("allowed")).select(
        F.lit("disallowed").alias("state"),
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        F.lit(None).cast("double").alias("not_before"),
    )
    return done.unionByName(denied).unionByName(new_rows)


def _crawl_two_steps(spark, sf_dir):
    """Two FULL ``run_crawl`` supersteps against a real FrontierStore —
    seed snapshot, delta commits, the exact key-set seen check,
    host-state checkpoints, merge-on-read reads — hash-oracled on the terminal
    frontier. This oracles the ITERATIVE engine path itself (the thing
    ``crawl_superstep`` runs rows-only), made DuckDB-replayable by
    construction:

    - rules are literal-prefix (gate = CASE over starts_with);
    - the host count scales with n — ``H = max(25, ceil(n/8))`` — so
      each host holds at most ceil(n/H) <= 8 docs at EVERY scale
      factor (H >= n/8 implies n <= 8H). The binding budgets are
      per_host_k=64 and the even-group allowance floor(10/0.5)=20:
      8 docs/host sits strictly under both, so the per-host cut never
      binds and WHICH rows are fetched is independent of the xxhash64
      tie-break order DuckDB cannot compute; ``not_before`` is
      rank-dependent and excluded. (Round-3's fixed 25 hosts put
      20 docs/host at sf0.01 — the allowance bound at exactly 20 and
      next_allowed = 10.0 == t0, admitted only by the strict '>' in
      the block check; any larger sf broke the oracle silently.)
    - /new/ URLs carry no documents, so step 2 fetches them without
      discovering more (the crawl drains in exactly 2 steps);
    - step-2 outcome per /new/ row is closed-form: its host never
      blocks (max next_allowed = docs/host * 0.5 <= 8*0.5 = 4.0 <
      t0 = 10, real margin at every sf) and /new/ paths match no
      Disallow rule.
    """
    import math
    import tempfile

    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    n = docs0.count()
    n_hosts = max(25, math.ceil(n / 8))
    hidx = F.col("doc_id") % n_hosts
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    keyed = docs0.select("doc_id", url.alias("url"), host.alias("host"), hidx.alias("hidx"))
    dd = (F.col("hidx") % 10).cast("string")
    delay_line = F.when(
        F.col("hidx") % 2 == 0, F.lit("Crawl-delay: 0.5\n")
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("User-agent: TRSBot\nDisallow: /p/"),
        dd,
        F.lit("\nAllow: /p/"),
        dd,
        dd,
        F.lit("\n"),
        delay_line,
    )
    robots_raw = (
        keyed.select("host", body.alias("_b"))
        .distinct()
        .select("host", F.encode("_b", "UTF-8").alias("body"))
        .withColumn("status", F.lit(200))
    )
    docs_full = _arith_docs_full(keyed, n)
    seeds = [r["url"] for r in keyed.select("url").collect()]
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=64,
        step_seconds=10.0,
        default_delay=0.25,
        max_depth=50,
        bloom=BloomConfig(n_partitions=8, n_bits=1 << 16, n_hashes=4),
    )
    store = FrontierStore(tempfile.mkdtemp(prefix="trs_two_"), n_buckets=8)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_crawl(spark, store, docs_full, robots_raw, seeds, cfg, n_steps=2)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return store.read_frontier(spark).select(
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        "state",
    )


def _recrawl_requeue(spark, sf_dir):
    """The FULL recrawl path (plans/recrawl.py) — the one first-class
    component round 4 left outside the DuckDB hash signal — run
    end-to-end against a real FrontierStore and hash-oracled:

        write_snapshot (queued+fetched universe)
          -> compact_frontier   (archive non-queued, queued-only snapshot)
          -> schedule_recrawl   (MERGE fresh queued rows for the refetch
                                 URLs)
          -> dedup_candidates   (post-compaction seen-check: exact
                                 anti-join against the store's key set
                                 minus the requeued keys)

    Every step is an exact set operation, so DuckDB replays it
    directly: the fresh set is the requeued keys plus the never-seen
    /new/ URLs.

    Output: 'archived' rows (the compacted-away fetched set), the
    'frontier' after requeue (original queued + requeued rows at
    priority 2.0/depth 0), and the 'fresh' candidate set (deleted keys
    + never-seen /new/ URLs pass; still-seen keys screened)."""
    import tempfile

    from texting_robots_spark.plans.recrawl import (
        compact_frontier,
        dedup_candidates,
        schedule_recrawl,
    )
    from texting_robots_spark.sources.frontier_store import FrontierStore

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
    )
    base = (
        docs0.select(
            "doc_id",
            url.alias("url"),
            host.alias("host"),
            (((F.col("doc_id") * 37) % 100) / F.lit(100.0)).alias("priority"),
            (F.col("doc_id") % 5).cast("int").alias("depth"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("queued"))
            .otherwise(F.lit("fetched"))
            .alias("state"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(0.0))
            .otherwise((F.col("doc_id") % 7).cast("double") * F.lit(0.5))
            .alias("not_before"),
        )
        .withColumn("url_hash", F.xxhash64("url"))
    )
    store = FrontierStore(tempfile.mkdtemp(prefix="trs_recrawl_"), n_buckets=8)
    store.write_snapshot(
        base.select(
            "url_hash", "url", "host", "priority", "depth", "state", "not_before"
        ),
        meta={"step": 0},
    )
    compact_frontier(spark, store)
    refetch_pred = (F.col("state") == "fetched") & (F.col("doc_id") % 5 == 1)
    refetch = [r["url"] for r in base.where(refetch_pred).select("url").collect()]
    schedule_recrawl(spark, store, refetch, priority=2.0)
    cand = (
        base.where(refetch_pred)
        .select("url", "host")
        .unionByName(
            base.where(F.col("doc_id") % 4 == 2).select(
                F.concat(
                    F.lit("https://"),
                    F.col("host"),
                    F.lit("/new/"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
                "host",
            )
        )
        .withColumn("url_hash", F.xxhash64("url"))
    )
    fresh = dedup_candidates(spark, store, cand)
    _nd = F.lit(None).cast("double")
    _nl = F.lit(None).cast("long")
    _ns = F.lit(None).cast("string")
    archived = spark.read.parquet(store.archive_dir).select(
        F.lit("archived").alias("section"),
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        "state",
        "not_before",
    )
    fin = store.read_frontier(spark).select(
        F.lit("frontier").alias("section"),
        "url",
        "host",
        F.col("depth").cast("long").alias("depth"),
        F.round("priority", 6).alias("priority"),
        "state",
        "not_before",
    )
    fresh_sec = fresh.select(
        F.lit("fresh").alias("section"),
        "url",
        "host",
        _nl.alias("depth"),
        _nd.alias("priority"),
        _ns.alias("state"),
        _nd.alias("not_before"),
    )
    return archived.unionByName(fin).unionByName(fresh_sec)


def _sitemap_seed_frontier(spark, sf_dir):
    """Sitemap-driven frontier seeding: arithmetic robots.txt bodies
    (one host-local sitemap + one SHARED cdn sitemap per host) go
    through the REAL parse UDF (build_rules — ordered global sitemap
    collection, reference lib.rs:430-437 / SURVEY A8), then
    ``sitemap_seeds`` explodes, canonicalizes, and url_hash-dedups them
    into seed rows. The shared cdn sitemaps collapse across hosts —
    exactly the cross-host dedup link candidates get. md5-twin hashing
    makes the whole path one DuckDB replay."""
    from texting_robots_spark.plans.superstep import sitemap_seeds
    from texting_robots_spark.operators.gate import build_rules

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nSitemap: https://"),
        host,
        F.lit("/sitemap.xml\nSitemap: https://cdn.example/sm/"),
        (hidx % 7).cast("string"),
        F.lit(".xml\n"),
    )
    robots_raw = (
        docs.select(host.alias("host"), body.alias("_b"))
        .distinct()
        .select("host", F.encode("_b", "UTF-8").alias("body"))
    )
    seeds = sitemap_seeds(build_rules(robots_raw, "TRSBot"), base_hash="md5")
    return seeds.select(
        "url",
        "host",
        "priority",
        F.col("depth").cast("long").alias("depth"),
        "state",
        "not_before",
    )


def _rules_per_agent(spark, sf_dir):
    """Multi-agent rules build (operators/gate.py:build_rules_per_agent
    — one parse job for many (host, agent) rows; previously only
    corpus-tested via the single-agent form, VERDICT r4 missing #3).
    Arithmetic three-group robots bodies exercise, per (host, agent):
    exact case-insensitive token match ('alphabot' query vs 'AlphaBot'
    group — reference lib.rs:394-403), fallback to the '*' group for an
    unlisted agent, per-group Crawl-delay presence/absence (no preamble
    fallback fires: the preamble holds no delay), GLOBAL ordered sitemap
    collection identical across agents (lib.rs:373-384), and the
    precedence sort (longest pattern first, Allow before Disallow on
    ties) flattened into a replayable signature string."""
    from texting_robots_spark.operators.gate import build_rules_per_agent

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    hosts = docs.select(host.alias("host"), hidx.alias("hidx")).distinct()
    dd = (F.col("hidx") % 10).cast("string")
    delay_line = F.when(
        F.col("hidx") % 3 == 0, F.lit("Crawl-delay: 1.5\n")
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("User-agent: AlphaBot\nDisallow: /a"),
        dd,
        F.lit("\nAllow: /a"),
        dd,
        dd,
        F.lit("\n"),
        delay_line,
        F.lit("Sitemap: https://"),
        F.col("host"),
        F.lit("/sm.xml\n\nUser-agent: BetaBot\nDisallow: /b"),
        dd,
        F.lit("\n\nUser-agent: *\nDisallow: /z\nCrawl-delay: 0.25\n"),
    )
    agents = spark.createDataFrame(
        [("alphabot",), ("BetaBot",), ("GammaBot",)], "agent string"
    )
    raw = hosts.crossJoin(agents).select(
        "host", "agent", F.encode(body, "UTF-8").alias("body")
    )
    rules = build_rules_per_agent(raw)
    sig = (
        "array_join(transform(rules, x -> concat(x.pattern, ':', "
        "CASE WHEN x.is_allow THEN 'A' ELSE 'D' END)), '|')"
    )
    return rules.select(
        "host",
        "agent",
        F.col("delay").cast("double").alias("delay"),
        F.size("rules").cast("long").alias("n_rules"),
        F.expr(sig).alias("rules_sig"),
        F.expr("array_join(sitemaps, '|')").alias("sitemaps_sig"),
        "parse_error",
    )


def _multi_agent_gate(spark, sf_dir):
    """END-TO-END multi-agent gate (VERDICT r5 next #7): candidates
    carrying a per-row acting agent gated through
    gate_sharded(agent_col=...) against the (host, agent)-keyed rules
    from build_rules_per_agent — same 25-host x 3-agent arithmetic
    fixture as ``rules_per_agent``, now consumed by the gate instead of
    only built. Covers: exact case-insensitive token match (alphabot ->
    AlphaBot group), '*' fallback (GammaBot), precedence (Allow /a<d><d>
    outranks Disallow /a<d> on the longer pattern), and per-agent
    isolation (BetaBot's /b<d> block never leaks to AlphaBot). The
    DuckDB oracle replays the expected decisions in closed form from
    the generator arithmetic."""
    from texting_robots_spark.operators.gate import (
        build_rules_per_agent,
        gate_sharded,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )
    hidx = F.col("doc_id") % 25
    host = F.concat(
        F.col("source"), F.lit("-"), hidx.cast("string"), F.lit(".example")
    )
    hosts = docs.select(host.alias("host"), hidx.alias("hidx")).distinct()
    dd = (F.col("hidx") % 10).cast("string")
    delay_line = F.when(
        F.col("hidx") % 3 == 0, F.lit("Crawl-delay: 1.5\n")
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("User-agent: AlphaBot\nDisallow: /a"),
        dd,
        F.lit("\nAllow: /a"),
        dd,
        dd,
        F.lit("\n"),
        delay_line,
        F.lit("Sitemap: https://"),
        F.col("host"),
        F.lit("/sm.xml\n\nUser-agent: BetaBot\nDisallow: /b"),
        dd,
        F.lit("\n\nUser-agent: *\nDisallow: /z\nCrawl-delay: 0.25\n"),
    )
    agents = spark.createDataFrame(
        [("alphabot",), ("BetaBot",), ("GammaBot",)], "agent string"
    )
    raw = hosts.crossJoin(agents).select(
        "host", "agent", F.encode(body, "UTF-8").alias("body")
    )
    rules = build_rules_per_agent(raw)
    paths = hosts.select(
        "host",
        F.explode(
            F.array(
                F.concat(F.lit("/a"), dd),
                F.concat(F.lit("/a"), dd, dd),
                F.concat(F.lit("/b"), dd),
                F.lit("/z"),
                F.lit("/ok"),
            )
        ).alias("path"),
    )
    cand = paths.crossJoin(agents).select(
        "host", "agent", F.concat(F.lit("https://"), "host", "path").alias("url")
    )
    return gate_sharded(cand, rules, with_delay=False, agent_col="agent").select(
        "host", "agent", "url", "allowed"
    )


def _dataset_split(spark, sf_dir):
    """Deterministic train/valid/test split by key hash (operators/
    sampling.py:hash_split): no RNG, no sampling pass — the assignment
    is a pure function of the key, so re-materializing the corpus on
    any cluster/partitioning reproduces it. md5-twin hash makes the
    10000-bucket lottery a one-line DuckDB replay."""
    from texting_robots_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id")
    )
    out = hash_split(
        docs, "doc_id", [("train", 0.8), ("valid", 0.1), ("test", 0.1)],
        base_hash="md5",
    )
    return out.select("doc_id", "split")


def _stratified_sample(spark, sf_dir):
    """Deterministic training-mix rebalance (operators/sampling.py:
    stratified_sample): downsample English to 30% and Chinese to 75%,
    keep every other language — the standard per-language rate recipe,
    decided by a salted md5-twin hash lottery (no RNG, identical keep
    set on any cluster/partitioning). The salt decorrelates the keep
    lottery from hash_split's bucket arithmetic on the same keys."""
    from texting_robots_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    out = stratified_sample(
        docs,
        "lang",
        {"en": 0.3, "zh": 0.75},
        key_col="doc_id",
        default_rate=1.0,
        salt="strat",
        base_hash="md5",
    )
    return out.select("doc_id", "lang")


def _host_quality_filter(spark, sf_dir):
    """Domain-level quality gate (operators/sampling.py:
    host_quality_filter): C4/RefinedWeb-style — keep documents only
    from hosts whose MEAN quality score clears a floor over enough
    documents. The per-doc score is the distinct-token ratio quantized
    to 1/64 (floor), which makes every per-host SUM exact in doubles —
    the mean compare is then independent of Spark's partition-dependent
    float summation order, so the threshold can sit mid-distribution
    (0.5 splits the 25 synthetic hosts at every SF) and still hash-
    match DuckDB bit-for-bit."""
    from texting_robots_spark.operators.dedup import tokenize
    from texting_robots_spark.operators.sampling import host_quality_filter

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    score = F.floor(d.cast("double") / F.greatest(n, F.lit(1)) * 64) / F.lit(64.0)
    scored = docs0.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 25).cast("string")).alias("host"),
        score.alias("score"),
    )
    out = host_quality_filter(scored, min_mean_score=0.5, min_docs=2)
    return out.select("doc_id", "host", "score")


def _pack_shards(spark, sf_dir):
    """Token-budget shard packing (operators/sampling.py:pack_shards):
    documents hash into independent buckets, a cumulative-sum window
    inside each bucket assigns every document to the training shard its
    start offset falls in — no global sort, no sequential packing loop;
    parallelism == bucket count at any corpus size. md5-twin bucket
    hash + the whitespace token count give DuckDB the identical window
    to replay (ROWS frame pinned on both sides)."""
    from texting_robots_spark.operators.sampling import pack_shards

    docs0 = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = pack_shards(docs0, token_budget=500, n_buckets=8, base_hash="md5")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("long").alias("bucket"),
        "shard",
    )


def _rank_orders_window(spark, sf_dir):
    """rank/dense_rank/row_number with deterministic tie-break — the
    frontier's per-host priority ordering shape."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


def _rollup_revenue(spark, sf_dir):
    """GROUP BY ROLLUP — hierarchical fetch/skip/disallow rollups."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _cube_revenue(spark, sf_dir):
    """GROUP BY CUBE — all 2^n dimension combinations in one pass
    (VERDICT r5 missing #4: only ROLLUP was oracled). Same partial-
    aggregate Expand shape as rollup: Catalyst expands each input row
    once per grouping set map-side, so the shuffle carries partial
    aggregates, not row multiples."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _grouping_sets_events(spark, sf_dir):
    """Arbitrary GROUPING SETS — two INDEPENDENT dimensions ((type),
    (user bucket)), the shape neither ROLLUP nor CUBE expresses
    (marginals only, no cross cells, no grand total). Uses the native
    DataFrame.groupingSets API (Spark 4.x); floor(value) keeps the
    measure integer-exact so the DuckDB hash compare is summation-
    order-independent."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ubucket", (F.col("user_id") % 4).cast("long")
    )
    return ev.groupingSets(
        [[F.col("event_type")], [F.col("ubucket")]], "event_type", "ubucket"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor("value").cast("long")).alias("sum_v"),
    )


def _json_event_props(spark, sf_dir):
    """JSON extraction parity: get_json_object vs DuckDB json_extract."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational operator coverage (oracled)
        "q1_pricing_summary": _q1_pricing_summary,
        "host_topk": _host_topk,
        "anti_join_unseen": _anti_join_unseen,
        "semi_join_active": _semi_join_active,
        "broadcast_join_revenue": _broadcast_join_revenue,
        "agg_metrics_by_type": _agg_metrics_by_type,
        "window_sessions": _window_sessions,
        "set_union_nations": _set_union_nations,
        "explode_token_freq": _explode_token_freq,
        "rank_orders_window": _rank_orders_window,
        "rollup_revenue": _rollup_revenue,
        "cube_revenue": _cube_revenue,
        "grouping_sets_events": _grouping_sets_events,
        "json_event_props": _json_event_props,
        # training-data ops (oracled)
        "dedup_exact": _dedup_exact,
        "ngram_jaccard_consecutive": _ngram_jaccard_consecutive,
        "quality_features": _quality_features,
        "repetition_features": _repetition_features,
        "token_count_by_lang": _token_count_by_lang,
        "similarity_topk": _similarity_topk,
        "dataset_split": _dataset_split,
        "stratified_sample": _stratified_sample,
        "host_quality_filter": _host_quality_filter,
        "pack_shards": _pack_shards,
        # sketches + robots derivations (oracled via md5 variants /
        # generator-arithmetic oracles)
        "minhash_lsh_pairs": _minhash_lsh_pairs,
        "minhash_lsh_capped": _minhash_lsh_capped,
        "dedup_components": _dedup_components,
        "incremental_dedup": _incremental_dedup,
        "simhash_fingerprints": _simhash_fingerprints,
        "sitemap_collection": _sitemap_collection,
        "robots_url_derivation": _robots_url_derivation,
        "lang_id": _lang_id,
        "embedding_near_dups": _embedding_near_dups,
        "doc_fingerprints": _doc_fingerprints,
        # engine paths replayed in SQL by construction (literal-prefix
        # rules, scale-derived host counts — every query below is
        # hash-oracled, including the full 2- and 3-step crawls)
        "robots_gate_conformance": _robots_gate_conformance,
        "rules_per_agent": _rules_per_agent,
        "multi_agent_gate": _multi_agent_gate,
        "crawl_superstep": _crawl_superstep,
        "schedule_step": _schedule_step,
        "superstep_one_step": _superstep_one_step,
        "crawl_two_steps": _crawl_two_steps,
        "recrawl_requeue": _recrawl_requeue,
        "priority_refresh": _priority_refresh,
        "sitemap_seed_frontier": _sitemap_seed_frontier,
        "ann_lsh_topk": _ann_lsh_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "media_features": _media_features,
        "media_resize": _media_resize,
        "media_frame_sample": _media_frame_sample,
    }


def oracle_sql() -> dict[str, str]:
    # language-ID oracle: the UDF's bigram scoring in closed form. Every
    # profile bigram has two DISTINCT chars, so overlapping-occurrence
    # counts equal replace-based counts: (len - len(replace))/2.
    from texting_robots_spark.operators.text import _LANG_PROFILES

    def _lang_score(bigrams):
        return " + ".join(
            f"{len(bigrams) - i} * (length(lt) - length(replace(lt, '{bg}', ''))) / 2"
            for i, bg in enumerate(bigrams)
        )

    _langs = sorted(_LANG_PROFILES)  # matches the UDF's iteration order
    _score_cols = ",\n                   ".join(
        f"({_lang_score(_LANG_PROFILES[lang])}) AS s_{lang}" for lang in _langs
    )
    _mx = "greatest(" + ", ".join(f"s_{lang}" for lang in _langs) + ")"
    _pick = " ".join(
        f"WHEN s_{lang} = {_mx} THEN '{lang}'" for lang in _langs[:-1]
    )
    _lang_id_sql = f"""
        WITH lt AS (
            SELECT doc_id, COALESCE(lower(text), '') AS lt FROM documents
        ), s AS (
            SELECT doc_id,
                   {_score_cols}
            FROM lt
        )
        SELECT doc_id,
               CASE WHEN {_mx} <= 0 THEN 'und'
                    {_pick}
                    ELSE '{_langs[-1]}' END AS lang_guess
        FROM s
    """

    # hyperplane-LSH oracle: the 4 deterministic planes are embedded as
    # literals; dots/norms use list_reduce left-folds, which reproduce
    # Spark's F.aggregate(zip_with(...)) summation ORDER bit-for-bit (the
    # bucket sign decisions therefore agree exactly)
    from texting_robots_spark.operators.similarity import _plane

    def _arr(vals):
        return "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"

    def _fold_dot(a, b):
        return (
            f"list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
            f" (x, y) -> x + y)"
        )

    _planes_sql = ", ".join(f"{_arr(_plane(64, p))} AS p{p}" for p in range(4))
    _bucket_terms = " + ".join(
        f"(CASE WHEN {_fold_dot('v', f'p{p}')} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    )
    _sq_norm = (
        "sqrt(list_reduce(list_transform({0}, x -> x * x), (a, b) -> a + b))"
    )
    _ann_lsh_sql = f"""
        WITH pl AS (SELECT {_planes_sql}),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), b AS (
            SELECT vec_id, v, {_bucket_terms} AS bucket FROM e, pl
        ), q AS (
            SELECT vec_id AS query_id, v AS qv, bucket AS own
            FROM b WHERE vec_id < 10
        ), qp AS (
            SELECT query_id, qv,
                   unnest([own, xor(own, 1), xor(own, 2),
                           xor(own, 4), xor(own, 8)]) AS bucket
            FROM q
        ), scored AS (
            SELECT qp.query_id, b.vec_id AS neighbor_id,
                   round({_fold_dot('qp.qv', 'b.v')}
                         / ({_sq_norm.format('qp.qv')} * {_sq_norm.format('b.v')}),
                         4) AS cos_sim
            FROM qp JOIN b ON b.bucket = qp.bucket
                          AND b.vec_id <> qp.query_id
        )
        SELECT query_id, neighbor_id, cos_sim,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank FROM scored
        ) WHERE rank <= 5
    """

    # IVF-serving oracle: centroids from the deterministic local trainer
    # (the SAME matrix the Spark query passes to ivf_topk) embedded as
    # literals; assignment = argmin over csq_j - 2 v.c_j with ties to the
    # smallest cell (numpy argmin picks the first minimum), probes = the
    # 4 nearest cells (argsort-stable ties likewise), then the exact
    # ranked cosine within probed cells. The parquet path is the driver's
    # sf0.01 contract; SPARK_GRAFT_ORACLE_SF overrides for local checks.
    _ivf_sf = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    from texting_robots_spark.operators.similarity import ivf_train_local

    _C = ivf_train_local(os.path.join(_ivf_sf, "embeddings.parquet"), n_cells=16)
    _csq = (_C * _C).sum(axis=1)
    _cent_rows = ",\n                ".join(
        f"({j}, {_arr([float(x) for x in _C[j]])}, {float(_csq[j])!r})"
        for j in range(len(_C))
    )
    _ann_ivf_sql = f"""
        WITH cent AS (
            SELECT * FROM (VALUES
                {_cent_rows}
            ) AS t(cell, cv, csq)
        ), e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), dist AS (
            SELECT e.vec_id, cent.cell,
                   cent.csq - 2 * {_fold_dot('e.v', 'cent.cv')} AS d
            FROM e, cent
        ), rankedcells AS (
            SELECT vec_id, cell, row_number() OVER (
                PARTITION BY vec_id ORDER BY d ASC, cell ASC
            ) AS rn FROM dist
        ), assign AS (
            SELECT vec_id, cell FROM rankedcells WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, cell
            FROM rankedcells WHERE vec_id < 10 AND rn <= 4
        ), c AS (
            SELECT a.cell, e.vec_id AS neighbor_id, e.v
            FROM e JOIN assign a USING (vec_id)
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
        ), scored AS (
            SELECT p.query_id, c.neighbor_id,
                   round({_fold_dot('q.qv', 'c.v')}
                         / ({_sq_norm.format('q.qv')} * {_sq_norm.format('c.v')}),
                         4) AS cos_sim
            FROM probes p
            JOIN c ON c.cell = p.cell
            JOIN q ON q.query_id = p.query_id
            WHERE c.neighbor_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank FROM scored
        ) WHERE rank <= 5
    """

    # media-features oracle: replays the sha256 stand-in decoder
    # (multimodal.py:_fake_decode) in SQL — 8 little-endian uint32s from
    # the digest, float64 norm, float32 feature cast, rounded checksum
    def _u32(j):
        return " + ".join(
            f"CAST(CONCAT('0x', substr(dh, {2 * (4 * j + b) + 1}, 2)) AS BIGINT)"
            f" * {1 << (8 * b)}"
            for b in range(4)
        )

    _u32s = ", ".join(f"CAST({_u32(j)} AS DOUBLE)" for j in range(8))
    _media_sql = f"""
        WITH m AS (
            SELECT CONCAT('media://', source, '/', CAST(doc_id AS VARCHAR),
                          '.bin') AS media_ref
            FROM documents WHERE doc_id % 3 = 0
        ), t AS (
            SELECT media_ref,
                   CASE CAST(CAST(CONCAT('0x', substr(md5(media_ref), 1, 8))
                             AS BIGINT) % 3 AS INT)
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'audio/wav'
                     ELSE 'video/mp4' END AS media_type,
                   sha256(repeat(md5(media_ref), 8)) AS dh
            FROM m
        ), u AS (
            SELECT media_ref, media_type, [{_u32s}] AS arr FROM t
        ), n AS (
            SELECT media_ref, media_type, arr,
                   sqrt(list_reduce(list_transform(arr, x -> x * x),
                                    (a, b) -> a + b)) AS nrm
            FROM u
        )
        SELECT media_ref, media_type,
               CAST(256 AS BIGINT) AS n_bytes,
               round(list_reduce(
                   list_transform(arr, x -> CAST(CAST(x / nrm AS REAL) AS DOUBLE)),
                   (a, b) -> a + b), 6) AS feat_checksum
        FROM n
    """

    # robots-gate conformance oracle: the corpus's expected verdicts as
    # literal rows (same source the Spark query gates through; the gate's
    # computed `allowed` must equal `expected` row-for-row to hash-match)
    from texting_robots_spark.conformance import CORPUS

    def _esc(s: str) -> str:
        return s.replace("'", "''")

    _gate_rows = ",\n            ".join(
        f"('{_esc(c.case_id)}', '{_esc(u)}', {'TRUE' if e else 'FALSE'},"
        f" {'TRUE' if e else 'FALSE'})"
        for c in CORPUS
        if c.allowed and not c.parse_error
        for u, e in c.allowed
    )
    _gate_sql = f"""
        SELECT * FROM (VALUES
            {_gate_rows}
        ) AS t(host, url, expected, allowed)
    """

    # 60-bit SimHash bit-vote, generated per bit position (md5-derived
    # base hash, see operators/dedup.py:base_hash_expr)
    _simhash_terms = " | ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {b}) & 1) = 1))"
        f" >= len(hs) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        f" << {b})"
        for b in range(60)
    )
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "host_topk": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 2) AS totalprice,
                   rank
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rank
                FROM orders
            )
            WHERE rank <= 3
        """,
        "anti_join_unseen": """
            SELECT c_custkey, c_name
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "semi_join_active": """
            SELECT c_custkey, c_nationkey
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "broadcast_join_revenue": """
            SELECT n_name,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "agg_metrics_by_type": """
            SELECT event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY event_type
        """,
        "window_sessions": """
            SELECT user_id,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 600000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM (
                SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS gap_us
                FROM events
            )
            GROUP BY user_id
        """,
        "set_union_nations": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT s_nationkey AS nationkey FROM supplier
            )
        """,
        "explode_token_freq": """
            SELECT token, count(*) AS n
            FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 20
        """,
        "dedup_exact": """
            SELECT md5(text) AS digest,
                   count(*) AS n_docs,
                   min(doc_id) AS canonical_id
            FROM documents
            GROUP BY md5(text)
        """,
        "ngram_jaccard_consecutive": """
            WITH toks AS (
                SELECT doc_id,
                       list_distinct(list_filter(string_split(text, ' '),
                                                 t -> t <> '')) AS ts
                FROM documents
            )
            SELECT a.doc_id AS id_a,
                   b.doc_id AS id_b,
                   round(
                     CASE WHEN len(list_distinct(list_concat(a.ts, b.ts))) > 0
                          THEN CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                               / len(list_distinct(list_concat(a.ts, b.ts)))
                          ELSE 0.0 END, 6) AS jaccard
            FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
        """,
        "quality_features": """
            WITH toks AS (
                SELECT doc_id, length(text) AS char_len,
                       list_filter(string_split(text, ' '), t -> t <> '') AS ts
                FROM documents
            )
            SELECT doc_id,
                   len(ts) AS n_tokens,
                   len(list_distinct(ts)) AS n_distinct_tokens,
                   round(CAST(len(list_distinct(ts)) AS DOUBLE)
                         / greatest(len(ts), 1), 6) AS distinct_ratio,
                   round(CAST(char_len - len(ts) + 1 AS DOUBLE)
                         / greatest(len(ts), 1), 6) AS mean_token_len
            FROM toks
        """,
        "repetition_features": """
            -- Gopher/RefinedWeb repetition filters: dup n-gram
            -- fractions over \\x1f-joined token slices (the exact
            -- strings operators/text.py:repetition_features builds)
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), g AS (
                SELECT doc_id, ts, len(ts) AS n,
                       CASE WHEN len(ts) >= 2 THEN list_transform(
                           range(1, len(ts)),
                           i -> array_to_string(ts[i:i+1], chr(31)))
                       ELSE [] END AS big,
                       CASE WHEN len(ts) >= 3 THEN list_transform(
                           range(1, len(ts) - 1),
                           i -> array_to_string(ts[i:i+2], chr(31)))
                       ELSE [] END AS tri
                FROM toks
            )
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_tokens,
                   round(CASE WHEN n > 0 THEN
                       CAST(n - len(list_distinct(ts)) AS DOUBLE) / n
                       ELSE 0.0 END, 6) AS dup_token_frac,
                   round(CASE WHEN len(big) > 0 THEN
                       CAST(len(big) - len(list_distinct(big)) AS DOUBLE)
                           / len(big)
                       ELSE 0.0 END, 6) AS dup_bigram_frac,
                   round(CASE WHEN len(tri) > 0 THEN
                       CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
                           / len(tri)
                       ELSE 0.0 END, 6) AS dup_trigram_frac
            FROM g
        """,
        "token_count_by_lang": """
            SELECT lang,
                   CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
                        AS BIGINT) AS total_tokens,
                   count(*) AS n_docs
            FROM documents
            GROUP BY lang
        """,
        "similarity_topk": """
            WITH q AS (
                SELECT vec_id AS query_id,
                       CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 10
            ), scored AS (
                SELECT q.query_id,
                       e.vec_id AS neighbor_id,
                       round(list_cosine_similarity(
                           q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos_sim
                FROM q JOIN embeddings e ON e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, cos_sim, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "rank_orders_window": """
            SELECT o_custkey, o_orderkey, rnk, drnk, rn FROM (
                SELECT o_custkey, o_orderkey,
                       CAST(rank() OVER w AS BIGINT) AS rnk,
                       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
                       CAST(row_number() OVER w AS BIGINT) AS rn
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey ASC)
            ) WHERE rn <= 3
        """,
        "rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "grouping_sets_events": """
            -- two independent marginals, no cross cells / grand total
            SELECT event_type, ubucket,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_v
            FROM (SELECT event_type, user_id % 4 AS ubucket, value
                  FROM events)
            GROUP BY GROUPING SETS ((event_type), (ubucket))
        """,
        "json_event_props": """
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS max_k
            FROM events
            GROUP BY event_type
        """,
        "minhash_lsh_pairs": """
            WITH toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(0, greatest(len(ts) - 3, 0) + 1),
                           i -> array_to_string(ts[i+1 : i+3], ' ')
                       )) AS shs
                FROM toks
            ), base AS (
                SELECT doc_id,
                       list_transform(shs, s ->
                           CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
                           % 2147483647) AS hs
                FROM sh
            ), sig AS (
                SELECT doc_id,
                       list_min(list_transform(hs, h ->
                           (2654435761 * h + 374761393) % 2305843009213693951)) AS s0,
                       list_min(list_transform(hs, h ->
                           (2246822519 * h + 3550635116) % 2305843009213693951)) AS s1,
                       list_min(list_transform(hs, h ->
                           (3266489917 * h + 4251993797) % 2305843009213693951)) AS s2,
                       list_min(list_transform(hs, h ->
                           (668265263 * h + 3042594569) % 2305843009213693951)) AS s3
                FROM base
            ), bands AS (
                SELECT doc_id, 0 AS band,
                       CONCAT_WS(',', CAST(s0 AS VARCHAR), CAST(s1 AS VARCHAR)) AS bucket
                FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band,
                       CONCAT_WS(',', CAST(s2 AS VARCHAR), CAST(s3 AS VARCHAR)) AS bucket
                FROM sig
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
        """,
        "dedup_components": """
            -- same md5-twin LSH pairs as minhash_lsh_pairs, then the
            -- component of each node = min id reachable over the
            -- undirected candidate graph (recursive BFS closure — an
            -- algorithm independent of the engine's star contraction)
            WITH RECURSIVE toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(0, greatest(len(ts) - 3, 0) + 1),
                           i -> array_to_string(ts[i+1 : i+3], ' ')
                       )) AS shs
                FROM toks
            ), base AS (
                SELECT doc_id,
                       list_transform(shs, s ->
                           CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
                           % 2147483647) AS hs
                FROM sh
            ), sig AS (
                SELECT doc_id,
                       list_min(list_transform(hs, h ->
                           (2654435761 * h + 374761393) % 2305843009213693951)) AS s0,
                       list_min(list_transform(hs, h ->
                           (2246822519 * h + 3550635116) % 2305843009213693951)) AS s1,
                       list_min(list_transform(hs, h ->
                           (3266489917 * h + 4251993797) % 2305843009213693951)) AS s2,
                       list_min(list_transform(hs, h ->
                           (668265263 * h + 3042594569) % 2305843009213693951)) AS s3
                FROM base
            ), bands AS (
                SELECT doc_id, 0 AS band,
                       CONCAT_WS(',', CAST(s0 AS VARCHAR), CAST(s1 AS VARCHAR)) AS bucket
                FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band,
                       CONCAT_WS(',', CAST(s2 AS VARCHAR), CAST(s3 AS VARCHAR)) AS bucket
                FROM sig
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a
                JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT a AS node, a AS lbl FROM edges
                UNION
                SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
            ), comp AS (
                SELECT node, min(lbl) AS component FROM reach GROUP BY node
            )
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   coalesce(c.component, CAST(d.doc_id AS VARCHAR))
                       AS component,
                   (c.component IS NULL
                    OR c.component = CAST(d.doc_id AS VARCHAR))
                       AS is_survivor
            FROM documents d
            LEFT JOIN comp c ON c.node = CAST(d.doc_id AS VARCHAR)
        """,
        "incremental_dedup": """
            -- same md5-twin band arithmetic; new = even doc_ids,
            -- archive = odd. Incremental output == full-corpus LSH
            -- restricted to pairs touching a new doc, oriented
            -- (new, other) with new-new pairs id_a < id_b
            WITH toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(0, greatest(len(ts) - 3, 0) + 1),
                           i -> array_to_string(ts[i+1 : i+3], ' ')
                       )) AS shs
                FROM toks
            ), base AS (
                SELECT doc_id,
                       list_transform(shs, s ->
                           CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
                           % 2147483647) AS hs
                FROM sh
            ), sig AS (
                SELECT doc_id,
                       list_min(list_transform(hs, h ->
                           (2654435761 * h + 374761393) % 2305843009213693951)) AS s0,
                       list_min(list_transform(hs, h ->
                           (2246822519 * h + 3550635116) % 2305843009213693951)) AS s1,
                       list_min(list_transform(hs, h ->
                           (3266489917 * h + 4251993797) % 2305843009213693951)) AS s2,
                       list_min(list_transform(hs, h ->
                           (668265263 * h + 3042594569) % 2305843009213693951)) AS s3
                FROM base
            ), bands AS (
                SELECT doc_id, 0 AS band,
                       CONCAT_WS(',', CAST(s0 AS VARCHAR), CAST(s1 AS VARCHAR)) AS bucket
                FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band,
                       CONCAT_WS(',', CAST(s2 AS VARCHAR), CAST(s3 AS VARCHAR)) AS bucket
                FROM sig
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   FALSE AS via_representative, 'new' AS against
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id
            WHERE CAST(a.doc_id AS BIGINT) % 2 = 0
              AND CAST(b.doc_id AS BIGINT) % 2 = 0
            UNION ALL
            SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b,
                   FALSE AS via_representative, 'base' AS against
            FROM bands n
            JOIN bands o ON n.band = o.band AND n.bucket = o.bucket
            WHERE CAST(n.doc_id AS BIGINT) % 2 = 0
              AND CAST(o.doc_id AS BIGINT) % 2 = 1
        """,
        "minhash_lsh_capped": """
            WITH toks AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(0, greatest(len(ts) - 3, 0) + 1),
                           i -> array_to_string(ts[i+1 : i+3], ' ')
                       )) AS shs
                FROM toks
            ), base AS (
                SELECT doc_id,
                       list_transform(shs, s ->
                           CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT)
                           % 2147483647) AS hs
                FROM sh
            ), sig AS (
                SELECT doc_id,
                       list_min(list_transform(hs, h ->
                           (2654435761 * h + 374761393) % 2305843009213693951)) AS s0,
                       list_min(list_transform(hs, h ->
                           (2246822519 * h + 3550635116) % 2305843009213693951)) AS s1,
                       list_min(list_transform(hs, h ->
                           (3266489917 * h + 4251993797) % 2305843009213693951)) AS s2,
                       list_min(list_transform(hs, h ->
                           (668265263 * h + 3042594569) % 2305843009213693951)) AS s3
                FROM base
            ), bands AS (
                SELECT doc_id, 0 AS band,
                       CONCAT_WS(',', CAST(s0 AS VARCHAR), CAST(s1 AS VARCHAR)) AS bucket
                FROM sig
                UNION ALL
                SELECT doc_id, 1 AS band,
                       CONCAT_WS(',', CAST(s2 AS VARCHAR), CAST(s3 AS VARCHAR)) AS bucket
                FROM sig
            ), sized AS (
                SELECT doc_id, band, bucket,
                       count(*) OVER (PARTITION BY band, bucket) AS bsz
                FROM bands
            ), small_pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, FALSE AS via_rep
                FROM sized a
                JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id
                WHERE a.bsz <= 3
            ), reps AS (
                SELECT band, bucket, min(doc_id) AS rep
                FROM sized WHERE bsz > 3 GROUP BY band, bucket
            ), star AS (
                SELECT r.rep AS id_a, s.doc_id AS id_b, TRUE AS via_rep
                FROM sized s
                JOIN reps r ON s.band = r.band AND s.bucket = r.bucket
                WHERE s.doc_id <> r.rep
            )
            SELECT id_a, id_b,
                   (min(CAST(via_rep AS INT)) = 1) AS via_representative
            FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star)
            GROUP BY id_a, id_b
        """,
        "simhash_fingerprints": f"""
            WITH hs_t AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       list_transform(
                           list_filter(regexp_split_to_array(text, '\\s+'),
                                       t -> t <> ''),
                           t -> CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT)
                       ) AS hs
                FROM documents
            )
            SELECT doc_id, {_simhash_terms} AS simhash FROM hs_t
        """,
        "sitemap_collection": """
            -- expected sitemaps derived from the synth generator's spec
            -- (sources/synth.py:_robots_body flavor 0 + the i%7==3
            -- no-robots holes), NOT from the robots parser
            SELECT CONCAT('host', CAST(i AS VARCHAR), '.example') AS host,
                   CAST(0 AS INT) AS pos,
                   CONCAT('https://host', CAST(i AS VARCHAR),
                          '.example/sitemap.xml') AS sitemap_url
            FROM range(24) t(i)
            WHERE i % 6 = 0 AND i % 7 <> 3
        """,
        "lang_id": _lang_id_sql,
        "robots_gate_conformance": _gate_sql,
        "schedule_step": """
            -- the superstep scheduling stage replayed as one window query:
            -- same frontier arithmetic, md5-derived url_hash tie-break,
            -- allowance = min(k, max(1, floor(step/delay))), fetch_time =
            -- t0 + (rank-1)*delay  (plans/superstep.py:schedule_batch)
            WITH f AS (
                SELECT doc_id,
                       'https://' || source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                       source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example' AS host,
                       CAST(doc_id * 37 % 100 AS DOUBLE) / 100.0 AS priority,
                       doc_id % 5 AS depth,
                       CASE WHEN doc_id % 11 = 0 THEN 999.0 ELSE 0.0 END
                           AS not_before,
                       doc_id % 25 AS hidx
                FROM documents
            ), h AS (
                SELECT *, CAST(CONCAT('0x', substr(md5(url), 1, 15)) AS BIGINT)
                          AS url_hash
                FROM f
            ), elig AS (
                SELECT * FROM h WHERE not_before <= 10.0 AND depth <= 3
            ), d AS (
                SELECT DISTINCT host,
                       0.5 + CAST(hidx % 4 AS DOUBLE) * 4.0 AS crawl_delay
                FROM f WHERE hidx % 5 <> 4
            ), r AS (
                SELECT e.url, e.host, e.priority, e.depth,
                       COALESCE(d.crawl_delay, 0.25) AS crawl_delay,
                       row_number() OVER (
                           PARTITION BY e.host
                           ORDER BY e.priority DESC, e.url_hash ASC
                       ) AS rank
                FROM elig e LEFT JOIN d ON d.host = e.host
            ), a AS (
                SELECT *,
                       LEAST(4, GREATEST(1, CAST(floor(
                           10.0 / greatest(crawl_delay, 1e-9)) AS INT)))
                           AS allowance
                FROM r
            )
            SELECT url, host,
                   round(priority, 6) AS priority,
                   CAST(depth AS BIGINT) AS depth,
                   crawl_delay,
                   CAST(rank AS BIGINT) AS rank,
                   CAST(allowance AS BIGINT) AS allowance,
                   round(10.0 + (rank - 1) * crawl_delay, 6) AS fetch_time
            FROM a WHERE rank <= allowance
        """,
        "superstep_one_step": """
            -- one full superstep replayed in SQL: schedule window ->
            -- literal-prefix robots gate (longest-match: the longer
            -- Allow /p/dd.dd prefix beats Disallow /p/dd) -> fetch ->
            -- link spans -> candidate dedup -> exact anti-join (the
            -- Spark side runs the bloom prefilter, which has no false
            -- negatives, so its new_rows set equals this anti-join)
            WITH f AS (
                SELECT doc_id,
                       CAST(doc_id AS VARCHAR) AS sd,
                       'https://' || source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                       source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example' AS host,
                       CAST(doc_id * 37 % 100 AS DOUBLE) / 100.0 AS priority,
                       doc_id % 5 AS depth,
                       CASE WHEN doc_id % 11 = 0 THEN 999.0 ELSE 0.0 END
                           AS not_before,
                       doc_id % 25 AS hidx,
                       CAST(doc_id % 25 % 10 AS VARCHAR) AS dd
                FROM documents
            ), hf AS (
                SELECT *, CAST(CONCAT('0x', substr(md5(url), 1, 15)) AS BIGINT)
                          AS url_hash
                FROM f
            ), elig AS (
                SELECT * FROM hf WHERE not_before <= 10.0 AND depth <= 3
            ), d AS (
                SELECT DISTINCT host,
                       0.5 + CAST(hidx % 4 AS DOUBLE) * 4.0 AS crawl_delay
                FROM f WHERE hidx % 5 <> 4
            ), r AS (
                SELECT e.doc_id, e.sd, e.dd, e.url, e.host, e.priority,
                       e.depth,
                       COALESCE(d.crawl_delay, 0.25) AS crawl_delay,
                       row_number() OVER (
                           PARTITION BY e.host
                           ORDER BY e.priority DESC, e.url_hash ASC
                       ) AS rank
                FROM elig e LEFT JOIN d ON d.host = e.host
            ), sched AS (
                SELECT * FROM r
                WHERE rank <= LEAST(4, GREATEST(1, CAST(floor(
                          10.0 / greatest(crawl_delay, 1e-9)) AS INT)))
            ), g AS (
                SELECT *,
                       CASE WHEN starts_with(sd, dd || dd) THEN TRUE
                            WHEN starts_with(sd, dd) THEN FALSE
                            ELSE TRUE END AS allowed
                FROM sched
            ), n_docs AS (SELECT count(*) AS n FROM documents
            ), links AS (
                SELECT t.url AS url, t.host AS host, g.depth AS pdepth
                FROM g, n_docs
                JOIN hf t ON t.doc_id = (g.doc_id * 7 + 1) % n_docs.n
                WHERE g.allowed
                UNION ALL
                SELECT 'https://' || t.host || '/new/'
                           || CAST(t.doc_id AS VARCHAR),
                       t.host, g.depth
                FROM g, n_docs
                JOIN hf t ON t.doc_id = (g.doc_id * 13 + 3) % n_docs.n
                WHERE g.allowed
            ), cand AS (
                SELECT CAST(CONCAT('0x', substr(md5(url), 1, 15)) AS BIGINT)
                           AS url_hash,
                       min(url) AS url, min(host) AS host,
                       min(pdepth) + 1 AS depth
                FROM links
                GROUP BY 1
            ), newr AS (
                SELECT c.* FROM cand c
                WHERE NOT EXISTS (
                    SELECT 1 FROM hf WHERE hf.url_hash = c.url_hash
                )
            )
            SELECT 'fetched' AS state, url, host,
                   CAST(depth AS BIGINT) AS depth,
                   round(priority, 6) AS priority,
                   round((10.0 + (rank - 1) * crawl_delay) + crawl_delay, 6)
                       AS not_before
            FROM g WHERE allowed
            UNION ALL
            SELECT 'disallowed', url, host, CAST(depth AS BIGINT),
                   round(priority, 6), NULL
            FROM g WHERE NOT allowed
            UNION ALL
            SELECT 'queued', url, host, CAST(depth AS BIGINT),
                   round(1.0 / (1.0 + depth), 6), 0.0
            FROM newr
        """,
        "dataset_split": """
            -- hash_split replay: 10000-bucket lottery over the md5-twin
            -- hash; cumulative weight cuts at 8000/9000 (0.8/0.1/0.1)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'valid'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) % 10000 AS b
                FROM documents
            )
        """,
        "stratified_sample": """
            -- stratified_sample replay: salted md5-twin hash lottery,
            -- keep row iff bucket < rate*10000 for its language
            -- (en 3000, zh 7500, default 10000 = keep all)
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang
            FROM (
                SELECT doc_id, lang,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                || chr(31) || 'strat'), 1, 15))
                            AS BIGINT) % 10000 AS b
                FROM documents
            )
            WHERE b < CASE lang WHEN 'en' THEN 3000
                                WHEN 'zh' THEN 7500
                                ELSE 10000 END
        """,
        "host_quality_filter": """
            -- domain-level quality gate: per-doc score = distinct-token
            -- ratio quantized to 1/64 (exact in doubles, so avg() is
            -- summation-order-independent); keep docs of hosts with
            -- avg(score) >= 0.5 over >= 2 docs
            WITH s AS (
                SELECT doc_id,
                       'h' || CAST(doc_id % 25 AS VARCHAR) AS host,
                       floor(len(list_distinct(lf)) * 1.0
                             / greatest(len(lf), 1) * 64) / 64 AS score
                FROM (
                    SELECT CAST(doc_id AS BIGINT) AS doc_id,
                           list_filter(string_split(text, ' '),
                                       x -> x <> '') AS lf
                    FROM documents
                )
            ), p AS (
                SELECT host FROM s GROUP BY host
                HAVING avg(score) >= 0.5 AND count(*) >= 2
            )
            SELECT s.doc_id, s.host, s.score FROM s JOIN p USING (host)
        """,
        "pack_shards": """
            -- offset packing replay: cumulative token sum per md5-twin
            -- bucket (ROWS frame, (hash, doc_id) order), shard = the
            -- 500-token block the document starts in
            WITH d AS (
                SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                       CAST(len(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS BIGINT)
                           AS n_tokens,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                            AS BIGINT) AS h
                FROM documents
            )
            SELECT doc_id, n_tokens, h % 8 AS bucket,
                   CAST(floor((SUM(n_tokens) OVER (
                            PARTITION BY h % 8 ORDER BY h, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                        ) - n_tokens) / 500.0) AS BIGINT) AS shard
            FROM d
        """,
        "rules_per_agent": """
            -- closed-form replay of the three-group robots body: the
            -- chosen group per agent is known by construction
            -- (alphabot -> AlphaBot group case-insensitively, BetaBot
            -- -> its group, GammaBot -> '*'), delays are per-group
            -- literals (no preamble delay exists), sitemaps are global
            -- and identical for every agent, and the precedence-sorted
            -- rule list flattens to a literal signature.
            WITH d AS (
                SELECT DISTINCT source,
                       CAST(doc_id AS BIGINT) % 25 AS hidx
                FROM documents
            ), h AS (
                SELECT source || '-' || CAST(hidx AS VARCHAR)
                           || '.example' AS host,
                       hidx,
                       CAST(hidx % 10 AS VARCHAR) AS dd
                FROM d
            ), a AS (
                SELECT * FROM (VALUES ('alphabot'), ('BetaBot'),
                                      ('GammaBot')) AS t(agent)
            )
            SELECT h.host, a.agent,
                   CASE WHEN a.agent = 'alphabot' AND h.hidx % 3 = 0
                            THEN 1.5
                        WHEN a.agent = 'GammaBot' THEN 0.25
                        ELSE NULL END AS delay,
                   CAST(CASE WHEN a.agent = 'alphabot' THEN 2
                             ELSE 1 END AS BIGINT) AS n_rules,
                   CASE WHEN a.agent = 'alphabot'
                            THEN '/a' || dd || dd || ':A|/a' || dd || ':D'
                        WHEN a.agent = 'BetaBot' THEN '/b' || dd || ':D'
                        ELSE '/z:D' END AS rules_sig,
                   'https://' || h.host || '/sm.xml' AS sitemaps_sig,
                   FALSE AS parse_error
            FROM h CROSS JOIN a
        """,
        "multi_agent_gate": """
            -- closed-form gate decisions from the generator arithmetic:
            -- alphabot hits the AlphaBot group (Disallow /a<d>, Allow
            -- /a<d><d>; the longer Allow outranks on /a<d><d>), BetaBot
            -- its own group (Disallow /b<d>), GammaBot falls to '*'
            -- (Disallow /z); everything else is allowed
            WITH d AS (
                SELECT DISTINCT source,
                       CAST(doc_id AS BIGINT) % 25 AS hidx
                FROM documents
            ), h AS (
                SELECT source || '-' || CAST(hidx AS VARCHAR)
                           || '.example' AS host,
                       CAST(hidx % 10 AS VARCHAR) AS dd
                FROM d
            ), p AS (
                SELECT host, path FROM h, LATERAL (VALUES
                    ('/a' || dd), ('/a' || dd || dd),
                    ('/b' || dd), ('/z'), ('/ok')) AS t(path)
            ), a AS (
                SELECT * FROM (VALUES ('alphabot'), ('BetaBot'),
                                      ('GammaBot')) AS t(agent)
            )
            SELECT p.host, a.agent,
                   'https://' || p.host || p.path AS url,
                   CASE WHEN a.agent = 'alphabot'
                             AND p.path LIKE '/a_' THEN FALSE
                        WHEN a.agent = 'BetaBot'
                             AND p.path LIKE '/b_' THEN FALSE
                        WHEN a.agent = 'GammaBot'
                             AND p.path = '/z' THEN FALSE
                        ELSE TRUE END AS allowed
            FROM p CROSS JOIN a
        """,
        "recrawl_requeue": """
            -- full recrawl cycle replay: compact archives the fetched
            -- rows; schedule_recrawl deletes the refetch hashes from
            -- the cuckoo seen-set and MERGEs them back as queued
            -- (priority 2.0, depth 0); the post-compaction candidate
            -- probe passes exactly the deleted + never-seen keys
            -- (cuckoo has no false negatives; the fixed universe is
            -- verified FP-free — see the Spark docstring).
            WITH d AS (
                SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                       CAST(doc_id AS BIGINT) % 25 AS hidx
                FROM documents
            ), g AS (
                SELECT doc_id,
                       source || '-' || CAST(hidx AS VARCHAR)
                           || '.example' AS host,
                       'https://' || source || '-' || CAST(hidx AS VARCHAR)
                           || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                       doc_id % 5 AS depth,
                       ROUND(((doc_id * 37) % 100) / 100.0, 6) AS priority,
                       CASE WHEN doc_id % 3 = 0 THEN 'queued'
                            ELSE 'fetched' END AS state,
                       CASE WHEN doc_id % 3 = 0 THEN 0.0
                            ELSE (doc_id % 7) * 0.5 END AS not_before
                FROM d
            )
            SELECT 'archived' AS section, url, host,
                   CAST(depth AS BIGINT) AS depth, priority, state,
                   not_before
            FROM g WHERE state = 'fetched'
            UNION ALL
            SELECT 'frontier', url, host, CAST(depth AS BIGINT), priority,
                   'queued', not_before
            FROM g WHERE state = 'queued'
            UNION ALL
            SELECT 'frontier', url, host, CAST(0 AS BIGINT), 2.0,
                   'queued', 0.0
            FROM g WHERE state = 'fetched' AND doc_id % 5 = 1
            UNION ALL
            SELECT 'fresh', url, host, NULL, NULL, NULL, NULL
            FROM g WHERE state = 'fetched' AND doc_id % 5 = 1
            UNION ALL
            SELECT 'fresh', 'https://' || host || '/new/'
                       || CAST(doc_id AS VARCHAR), host,
                   NULL, NULL, NULL, NULL
            FROM g WHERE doc_id % 4 = 2
        """,
        "crawl_two_steps": """
            -- terminal frontier of a full 2-step crawl: originals get
            -- their literal-prefix gate verdict in step 1; the /new/
            -- links of FETCHED parents are discovered (depth 1,
            -- priority 1/(1+1)), deduped, and all fetched in step 2
            -- (no rule matches /new/, no host blocks, no docs behind
            -- /new/ so the crawl drains). not_before is rank-dependent
            -- and excluded by both sides. Host count H scales with n
            -- (max 8 docs/host at every sf) exactly like the Spark
            -- side, so the politeness/top-k cuts never bind.
            WITH n_docs AS (SELECT count(*) AS n FROM documents
            ), hn AS (
                SELECT GREATEST(25, CAST(ceil(n / 8.0) AS BIGINT)) AS h
                FROM n_docs
            ), d AS (
                SELECT doc_id, source,
                       doc_id % hn.h AS hidx,
                       CAST(doc_id AS VARCHAR) AS sd,
                       source || '-' || CAST(doc_id % hn.h AS VARCHAR)
                           || '.example' AS host
                FROM documents, hn
            ), g AS (
                SELECT *,
                       'https://' || host || '/p/' || sd AS url,
                       CAST(hidx % 10 AS VARCHAR) AS dd
                FROM d
            ), verdict AS (
                SELECT *,
                       CASE WHEN starts_with(sd, dd || dd) THEN TRUE
                            WHEN starts_with(sd, dd) THEN FALSE
                            ELSE TRUE END AS allowed
                FROM g
            ), newu AS (
                SELECT DISTINCT
                       'https://' || t.host || '/new/'
                           || CAST(t.doc_id AS VARCHAR) AS url,
                       t.host AS host
                FROM verdict v, n_docs
                JOIN g t ON t.doc_id = (v.doc_id * 13 + 3) % n_docs.n
                WHERE v.allowed
            )
            SELECT url, host, CAST(0 AS BIGINT) AS depth,
                   1.0 AS priority,
                   CASE WHEN allowed THEN 'fetched'
                        ELSE 'disallowed' END AS state
            FROM verdict
            UNION ALL
            SELECT url, host, CAST(1 AS BIGINT), 0.5, 'fetched' FROM newu
        """,
        "priority_refresh": """
            -- link-graph priority refresh replay: in-degree over the
            -- two bijective target maps (fragments collapse at
            -- canonicalization, so both maps count on the plain url),
            -- p' = 0.5*p + 0.5*indeg/(1+indeg) on queued rows only
            WITH n_docs AS (SELECT count(*) AS n FROM documents
            ), g AS (
                SELECT doc_id,
                       'https://' || source || '-'
                           || CAST(doc_id % 25 AS VARCHAR) || '.example/p/'
                           || CAST(doc_id AS VARCHAR) AS url,
                       source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example' AS host,
                       CAST(doc_id * 37 % 100 AS DOUBLE) / 100.0 AS priority,
                       doc_id % 5 AS depth,
                       CASE WHEN doc_id % 10 = 0 THEN 'fetched'
                            ELSE 'queued' END AS state
                FROM documents
            ), links AS (
                SELECT t.url FROM g v, n_docs
                JOIN g t ON t.doc_id = (v.doc_id * 7 + 1) % n_docs.n
                UNION ALL
                SELECT t.url FROM g v, n_docs
                JOIN g t ON t.doc_id = (v.doc_id * 13 + 3) % n_docs.n
            ), ind AS (
                SELECT url, count(*) AS indeg FROM links GROUP BY url
            )
            SELECT g.url, g.host, CAST(g.depth AS BIGINT) AS depth,
                   CASE WHEN g.state = 'queued' THEN
                       round(0.5 * g.priority
                             + 0.5 * (CAST(COALESCE(ind.indeg, 0) AS DOUBLE)
                                      / (1.0 + COALESCE(ind.indeg, 0))), 6)
                   ELSE round(g.priority, 6) END AS priority,
                   g.state
            FROM g LEFT JOIN ind ON ind.url = g.url
        """,
        "crawl_superstep": """
            -- terminal frontier of a full 3-step crawl (crawl_two_steps
            -- plus one more discovery generation): originals verdicted
            -- in step 1, /new/<t2> of fetched parents discovered and
            -- fetched in step 2 (their docs link to /new2/<t1>), the
            -- /new2/ generation discovered and fetched in step 3 with
            -- nothing behind it (drain). Scheduling cuts never bind
            -- (docs/host <= 8 < allowance 20 < per_host_k 64) and no
            -- host ever blocks, so the fetch SET is rank-independent;
            -- not_before is rank-dependent and excluded.
            WITH n_docs AS (SELECT count(*) AS n FROM documents
            ), hn AS (
                SELECT GREATEST(25, CAST(ceil(n / 8.0) AS BIGINT)) AS h
                FROM n_docs
            ), d AS (
                SELECT doc_id, source,
                       doc_id % hn.h AS hidx,
                       CAST(doc_id AS VARCHAR) AS sd,
                       source || '-' || CAST(doc_id % hn.h AS VARCHAR)
                           || '.example' AS host
                FROM documents, hn
            ), g AS (
                SELECT *,
                       'https://' || host || '/p/' || sd AS url,
                       CAST(hidx % 10 AS VARCHAR) AS dd
                FROM d
            ), verdict AS (
                SELECT *,
                       CASE WHEN starts_with(sd, dd || dd) THEN TRUE
                            WHEN starts_with(sd, dd) THEN FALSE
                            ELSE TRUE END AS allowed
                FROM g
            ), new1 AS (
                SELECT DISTINCT t.doc_id AS tid,
                       'https://' || t.host || '/new/'
                           || CAST(t.doc_id AS VARCHAR) AS url,
                       t.host AS host
                FROM verdict v, n_docs
                JOIN g t ON t.doc_id = (v.doc_id * 13 + 3) % n_docs.n
                WHERE v.allowed
            ), new2 AS (
                SELECT DISTINCT
                       'https://' || u.host || '/new2/'
                           || CAST(u.doc_id AS VARCHAR) AS url,
                       u.host AS host
                FROM new1, n_docs
                JOIN g u ON u.doc_id = (new1.tid * 7 + 1) % n_docs.n
            )
            SELECT url, host, CAST(0 AS BIGINT) AS depth,
                   1.0 AS priority,
                   CASE WHEN allowed THEN 'fetched'
                        ELSE 'disallowed' END AS state
            FROM verdict
            UNION ALL
            SELECT url, host, CAST(1 AS BIGINT), 0.5, 'fetched' FROM new1
            UNION ALL
            SELECT url, host, CAST(2 AS BIGINT), round(1.0 / 3.0, 6),
                   'fetched'
            FROM new2
        """,
        "sitemap_seed_frontier": """
            -- sitemap seeding replay: every host contributes its local
            -- sitemap + a shared cdn sitemap; seeds dedup on the url
            -- (url_hash is injective over these constructed urls)
            WITH h AS (
                SELECT DISTINCT
                       source || '-' || CAST(doc_id % 25 AS VARCHAR)
                           || '.example' AS host,
                       doc_id % 25 % 7 AS cdx
                FROM documents
            ), u AS (
                SELECT 'https://' || host || '/sitemap.xml' AS url,
                       host AS uhost
                FROM h
                UNION ALL
                SELECT 'https://cdn.example/sm/' || CAST(cdx AS VARCHAR)
                           || '.xml',
                       'cdn.example'
                FROM h
            )
            SELECT min(url) AS url, min(uhost) AS host,
                   1.0 AS priority, CAST(0 AS BIGINT) AS depth,
                   'queued' AS state, 0.0 AS not_before
            FROM u
            GROUP BY url
        """,
        "ann_lsh_topk": _ann_lsh_sql,
        "ann_ivf_topk": _ann_ivf_sql,
        "media_features": _media_sql,
        "media_resize": """
            -- resize stand-in kernel replay: sha256(content || '|32x32')
            -- over the same ASCII blobs (multimodal.py:resize_media)
            WITH m AS (
                SELECT CONCAT('media://', source, '/',
                              CAST(doc_id AS VARCHAR), '.bin') AS media_ref
                FROM documents WHERE doc_id % 3 = 0
            ), t AS (
                SELECT media_ref,
                       CASE CAST(CAST(CONCAT('0x', substr(md5(media_ref), 1, 8))
                                 AS BIGINT) % 3 AS INT)
                         WHEN 0 THEN 'image/png'
                         WHEN 1 THEN 'audio/wav'
                         ELSE 'video/mp4' END AS media_type,
                       repeat(md5(media_ref), 8) AS content
                FROM m
            )
            SELECT media_ref, media_type,
                   CAST(32 AS BIGINT) AS width,
                   CAST(32 AS BIGINT) AS height,
                   sha256(content || '|32x32') AS resized_digest
            FROM t WHERE media_type = 'image/png'
        """,
        "media_frame_sample": """
            -- frame-sample stand-in replay: 256-byte blobs / stride 64
            -- -> 4 frames, digest = sha256(content || '#' || idx)
            -- (multimodal.py:sample_frames)
            WITH m AS (
                SELECT CONCAT('media://', source, '/',
                              CAST(doc_id AS VARCHAR), '.bin') AS media_ref
                FROM documents WHERE doc_id % 3 = 0
            ), t AS (
                SELECT media_ref,
                       CASE CAST(CAST(CONCAT('0x', substr(md5(media_ref), 1, 8))
                                 AS BIGINT) % 3 AS INT)
                         WHEN 0 THEN 'image/png'
                         WHEN 1 THEN 'audio/wav'
                         ELSE 'video/mp4' END AS media_type,
                       repeat(md5(media_ref), 8) AS content
                FROM m
            ), v AS (
                SELECT media_ref, content,
                       UNNEST(range(0, CAST(least(greatest(
                           len(content) // 64, 1), 16) AS BIGINT))) AS frame_idx
                FROM t WHERE media_type = 'video/mp4'
            )
            SELECT media_ref,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   sha256(content || '#' || CAST(frame_idx AS VARCHAR))
                       AS frame_digest
            FROM v
        """,
        "doc_fingerprints": """
            WITH toks AS (
                SELECT doc_id, md5(text) AS md5_fingerprint,
                       list_filter(regexp_split_to_array(text, '\\s+'),
                                   t -> t <> '') AS ts
                FROM documents
            ), hs AS (
                SELECT doc_id, md5_fingerprint,
                       list_transform(ts, t ->
                           CAST(CONCAT('0x', substr(md5(t), 1, 15)) AS BIGINT)
                           % 2147483647) AS h
                FROM toks
            )
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT), h),
                       (a, b) -> (a * 31 + b) % 2147483647
                   ) AS fingerprint,
                   md5_fingerprint
            FROM hs
        """,
        "embedding_near_dups": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
        """,
        "robots_url_derivation": """
            -- url AND expected robots_url derived from the same doc_id
            -- arithmetic; no URL parsing on the oracle side
            SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'https://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example/p/' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN upper('http://' || source
                                 || CAST(doc_id AS VARCHAR) || '.example/P')
                     WHEN 2 THEN 'https://user:pw@' || source
                                 || CAST(doc_id AS VARCHAR) || '.example:8443/x?q#f'
                     WHEN 3 THEN 'http://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example:80/x'
                     WHEN 4 THEN 'ftp://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example/x'
                     ELSE '/relative/' || CAST(doc_id AS VARCHAR)
                   END AS url,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'https://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example/robots.txt'
                     WHEN 1 THEN 'http://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example/robots.txt'
                     WHEN 2 THEN 'https://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example:8443/robots.txt'
                     WHEN 3 THEN 'http://' || source || CAST(doc_id AS VARCHAR)
                                 || '.example/robots.txt'
                     ELSE NULL
                   END AS robots_url
            FROM documents
        """,
    }
