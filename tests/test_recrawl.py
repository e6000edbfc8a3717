"""Compaction + re-crawl: archived rows stay in the store's exact key
set, so they stay seen; requeuing makes URLs crawlable again, and the
post-compaction seen check passes exactly the requeued and never-seen
keys."""

from pyspark.sql import functions as F

from texting_robots_spark.operators.gate import RulesBroadcast, build_rules
from texting_robots_spark.plans.recrawl import (
    compact_frontier,
    dedup_candidates,
    schedule_recrawl,
)
from texting_robots_spark.plans.superstep import CrawlConfig, frontier_step, run_crawl
from texting_robots_spark.operators.seen import BloomConfig
from texting_robots_spark.sources.frontier_store import FrontierStore
from texting_robots_spark.sources.synth import (
    synth_documents_df,
    synth_robots_df,
    synth_universe,
)


def _crawled_store(spark, tmp_path, n_steps, **store_kw):
    """An 8-host universe crawled ``n_steps`` steps: (store, docs, rules,
    cfg)."""
    documents, robots, seeds = synth_universe(n_hosts=8, n_docs=150, n_seeds=12, seed=42)
    docs_df = synth_documents_df(spark, documents).cache()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=4, n_bits=1 << 16, n_hashes=4),
    )
    store = FrontierStore(str(tmp_path / "crawl"), n_buckets=4, **store_kw)
    rules = RulesBroadcast(spark, build_rules(robots_df, cfg.agent))
    run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=n_steps, rules=rules)
    return store, docs_df, rules, cfg


def test_compact_then_recrawl_roundtrip(spark, tmp_path):
    store, docs_df, rules, cfg = _crawled_store(spark, tmp_path, n_steps=3)

    fetched = (
        store.read_frontier(spark).where(F.col("state") == "fetched").collect()
    )
    assert len(fetched) > 10
    n_total = store.read_frontier(spark).count()

    # --- compact: hot frontier keeps only queued rows ------------------
    counts = compact_frontier(spark, store)
    assert counts["queued"] + counts["archived"] == n_total
    hot = store.read_frontier(spark)
    assert hot.where(F.col("state") != "queued").count() == 0
    assert counts["queued"] == hot.count()
    assert counts["archived"] == spark.read.parquet(store.archive_dir).count()

    # every archived URL still reads as seen: the archive's keys are in
    # the store's key set
    archived = spark.createDataFrame(
        [(r["url_hash"], r["url"]) for r in fetched], "url_hash long, url string"
    )
    fresh_new = dedup_candidates(spark, store, archived)
    assert fresh_new.count() == 0

    # --- re-crawl a slice: requeue ---------------------------------------
    recrawl_urls = [r["url"] for r in fetched[:5]]
    n = schedule_recrawl(spark, store, recrawl_urls)
    assert n == len(set(recrawl_urls))
    hot = store.read_frontier(spark)
    requeued = hot.where(
        F.col("url").isin(recrawl_urls) & (F.col("state") == "queued")
    )
    assert requeued.count() == len(set(recrawl_urls))
    # ... and the seen check passes exactly the requeued keys
    assert {r["url"] for r in dedup_candidates(spark, store, archived).collect()} == set(
        recrawl_urls
    )

    # the next superstep fetches them again
    metrics = frontier_step(spark, store, docs_df, rules, cfg)
    assert metrics["scheduled"] > 0
    refetched = (
        store.read_frontier(spark)
        .where(F.col("url").isin(recrawl_urls) & (F.col("state") == "fetched"))
        .count()
    )
    assert refetched > 0


def test_archived_urls_stay_seen_after_compaction(spark, tmp_path):
    """compact_frontier moves fetched and disallowed rows to the archive,
    and the next supersteps' seen check is the exact anti-join against
    store.read_keys. Without the archive's keys in that set, archived
    URLs read as new: re-queued by the first step after compaction and
    fetched again by the next."""
    store, docs_df, rules, cfg = _crawled_store(spark, tmp_path, n_steps=3)
    assert compact_frontier(spark, store)["archived"] > 0
    archived = spark.read.parquet(store.archive_dir).select("url_hash")

    def back_from_archive(state):
        return (
            store.read_frontier(spark)
            .where(F.col("state") == state)
            .join(archived, "url_hash", "left_semi")
            .count()
        )

    frontier_step(spark, store, docs_df, rules, cfg)
    assert back_from_archive("queued") == 0
    frontier_step(spark, store, docs_df, rules, cfg)
    assert back_from_archive("queued") == 0
    assert back_from_archive("fetched") == 0


def test_ttl_recrawl_dataframe_path_equals_list_path(spark, tmp_path):
    """TTL-driven recrawl at scale: stale_archived selects the archived
    fetched rows older than the cutoff as a DataFrame (column-pruned
    archive scan — no driver data), and schedule_recrawl accepts that
    DataFrame directly, producing EXACTLY the rows the driver-list path
    produces. A 10^8-URL recrawl must never round-trip a Python list."""
    from texting_robots_spark.plans.recrawl import stale_archived

    documents, robots, seeds = synth_universe(n_hosts=8, n_docs=150, n_seeds=12, seed=9)
    docs_df = synth_documents_df(spark, documents).cache()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=4, n_bits=1 << 16, n_hashes=4),
    )

    def crawl_and_compact(tag):
        store = FrontierStore(str(tmp_path / tag), n_buckets=4)
        run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=3)
        compact_frontier(spark, store)
        return store

    s_df, s_list = crawl_and_compact("df"), crawl_and_compact("list")

    # cutoff mid-distribution: some archived fetches are stale, some not
    cutoff = 11.0
    stale = stale_archived(spark, s_df, cutoff)
    n_stale = stale.count()
    archived_fetched = (
        spark.read.parquet(str(tmp_path / "df" / "archive"))
        .where(F.col("state") == "fetched")
        .count()
    )
    assert 0 < n_stale < archived_fetched  # the TTL actually selects

    n1 = schedule_recrawl(spark, s_df, stale)
    urls = [r["url"] for r in stale_archived(spark, s_list, cutoff).collect()]
    n2 = schedule_recrawl(spark, s_list, urls)
    assert n1 == n2 == n_stale

    rows = lambda s: {
        tuple(r)
        for r in s.read_frontier(spark).drop("partition_salt").collect()
    }
    assert rows(s_df) == rows(s_list)
    # the same fresh-candidate verdicts: exactly the requeued keys
    probe = (
        spark.read.parquet(str(tmp_path / "df" / "archive"))
        .select("url_hash")
        .distinct()
    )
    f1 = {r["url_hash"] for r in dedup_candidates(spark, s_df, probe).collect()}
    f2 = {r["url_hash"] for r in dedup_candidates(spark, s_list, probe).collect()}
    assert f1 == f2 and len(f1) == n_stale


def test_seen_check_screens_keys_added_after_and_archived_before_a_compaction(
    spark, tmp_path
):
    """The post-compaction seen check answers from the store's current
    key set, not from a snapshot taken at the last compaction:
    (a) every key a step added after the compaction reads as seen;
    (b) after a second compaction, every key the first one archived
    still reads as seen, as an anti-join against read_keys says."""
    store, docs_df, rules, cfg = _crawled_store(spark, tmp_path, n_steps=2)
    compact_frontier(spark, store)
    keys = lambda: {r["url_hash"] for r in store.read_keys(spark).collect()}
    before = keys()

    frontier_step(spark, store, docs_df, rules, cfg)
    added = spark.createDataFrame([(h,) for h in keys() - before], "url_hash long")
    assert added.count() > 0
    assert dedup_candidates(spark, store, added).count() == 0  # (a)

    first_archive = (
        spark.read.parquet(store.archive_dir).select("url_hash").distinct().cache()
    )
    assert first_archive.count() > 0
    compact_frontier(spark, store)
    passed = dedup_candidates(spark, store, first_archive)
    exact = first_archive.join(store.read_keys(spark), "url_hash", "left_anti")
    assert passed.count() == exact.count() == 0  # (b)


def test_benchmark_call_shapes(spark, tmp_path):
    """The crawl benchmark's calls, pinned in one place until the
    benchmark itself moves to the new signatures (ROADMAP item 4): a
    CrawlConfig with a BloomConfig; compact_frontier, schedule_recrawl
    and dedup_candidates_cuckoo with a CuckooConfig they ignore; and
    the bloom probe of the traced run over the store's (empty) filter
    table, which reads no hit."""
    from texting_robots_spark.operators.cuckoo import CuckooConfig
    from texting_robots_spark.operators.seen import probe_bloom
    from texting_robots_spark.plans.recrawl import dedup_candidates_cuckoo

    store, _, _, cfg = _crawled_store(spark, tmp_path, n_steps=2, compact_every=2)
    ccfg = CuckooConfig(n_partitions=4, n_buckets=1 << 12)
    rows = store.read_frontier(spark).select("url_hash", "url", "state").collect()
    refetch = sorted(r["url"] for r in rows if r["state"] == "fetched")[:5]
    never = [h for h in range(-50, 50) if h not in {r["url_hash"] for r in rows}]
    cands = spark.createDataFrame(
        [(r["url_hash"],) for r in rows] + [(h,) for h in never], "url_hash long"
    )

    stats = compact_frontier(spark, store, ccfg)
    assert stats["dropped"] == 0
    assert stats["queued"] + stats["archived"] == len(rows)
    assert schedule_recrawl(spark, store, refetch, ccfg) == len(refetch)
    fresh = {r["url_hash"] for r in dedup_candidates_cuckoo(spark, store, cands, ccfg).collect()}
    assert fresh == {r["url_hash"] for r in dedup_candidates(spark, store, cands).collect()}
    assert len(fresh) == len(refetch) + len(never)
    hits = probe_bloom(cands, store.read_filters(spark), cfg.bloom).where(F.col("maybe_seen"))
    assert hits.count() == 0


def test_span_invariant_through_crawl_and_archive(spark, tmp_path):
    """input_hint per-row invariant: the exact ordered (kind, text,
    media_ref) span sequence survives the crawl's fetch path plus a
    shuffle + parquet round trip of the fetched documents."""
    from texting_robots_spark.operators.links import span_signature

    documents, robots, seeds = synth_universe(n_hosts=6, n_docs=120, n_seeds=10, seed=42)
    docs_df = synth_documents_df(spark, documents).cache()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        default_delay=0.5,
        bloom=BloomConfig(n_partitions=4, n_bits=1 << 16, n_hashes=4),
    )
    store = FrontierStore(str(tmp_path / "c"), n_buckets=4)
    run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=2)

    fetched_urls = store.read_frontier(spark).where(F.col("state") == "fetched")
    fetched_docs = docs_df.join(fetched_urls.select("url"), "url", "left_semi")
    # force a shuffle + columnar round trip, as an archival sink would
    out = str(tmp_path / "archive_docs")
    fetched_docs.repartition(5, "doc_id").write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == fetched_docs.count() > 0

    orig = docs_df.select("doc_id", span_signature("spans").alias("sig")).alias("o")
    got = back.select("doc_id", span_signature("spans").alias("sig")).alias("g")
    mismatched = (
        got.join(orig, "doc_id").where(F.col("g.sig") != F.col("o.sig")).count()
    )
    assert mismatched == 0
