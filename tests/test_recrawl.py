"""Compaction + re-crawl: archived seen-ness lives in the cuckoo filter;
deleting from it makes URLs crawlable again — the deletion path bloom
cannot provide (north_rule: cuckoo-filter fallback for deletions)."""

from pyspark.sql import functions as F

from texting_robots_spark.operators.cuckoo import CuckooConfig
from texting_robots_spark.operators.gate import RulesBroadcast, build_rules
from texting_robots_spark.plans.recrawl import (
    compact_frontier,
    dedup_candidates_cuckoo,
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

CK = CuckooConfig(n_partitions=4, n_buckets=1 << 12)


def test_compact_then_recrawl_roundtrip(spark, tmp_path):
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
    store = FrontierStore(str(tmp_path / "crawl"), n_buckets=4)
    rules = RulesBroadcast(spark, build_rules(robots_df, cfg.agent))
    run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=3, rules=rules)

    fetched = (
        store.read_frontier(spark).where(F.col("state") == "fetched").collect()
    )
    assert len(fetched) > 10
    n_total = store.read_frontier(spark).count()

    # --- compact: hot frontier keeps only queued rows ------------------
    counts = compact_frontier(spark, store, CK)
    assert counts["queued"] + counts["archived"] == n_total
    hot = store.read_frontier(spark)
    assert hot.where(F.col("state") != "queued").count() == 0
    assert counts["queued"] == hot.count()
    assert counts["archived"] == spark.read.parquet(store.archive_dir).count()

    # seen-check now runs against the cuckoo filters: every archived URL
    # still reads as seen
    archived = spark.createDataFrame(
        [(r["url_hash"], r["url"]) for r in fetched], "url_hash long, url string"
    )
    fresh_new = dedup_candidates_cuckoo(spark, store, archived, CK)
    assert fresh_new.count() == 0

    # --- re-crawl a slice: delete from the filter + requeue ------------
    recrawl_urls = [r["url"] for r in fetched[:5]]
    n = schedule_recrawl(spark, store, recrawl_urls, CK)
    assert n == len(set(recrawl_urls))
    hot = store.read_frontier(spark)
    requeued = hot.where(
        F.col("url").isin(recrawl_urls) & (F.col("state") == "queued")
    )
    assert requeued.count() == len(set(recrawl_urls))

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
    """compact_frontier moves fetched and disallowed rows to the archive
    and drops the bloom filters, so the next supersteps' seen check is
    the exact anti-join against store.read_keys alone. Without the
    archive's keys in that set, archived URLs read as new: re-queued by
    the first step after compaction and fetched again by the next."""
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
    store = FrontierStore(str(tmp_path / "crawl"), n_buckets=4)
    rules = RulesBroadcast(spark, build_rules(robots_df, cfg.agent))
    run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=3, rules=rules)
    assert compact_frontier(spark, store, CK)["archived"] > 0
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
        compact_frontier(spark, store, CK)
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

    n1 = schedule_recrawl(spark, s_df, stale, CK)
    urls = [r["url"] for r in stale_archived(spark, s_list, cutoff).collect()]
    n2 = schedule_recrawl(spark, s_list, urls, CK)
    assert n1 == n2 == n_stale

    rows = lambda s: {
        tuple(r)
        for r in s.read_frontier(spark).drop("partition_salt").collect()
    }
    assert rows(s_df) == rows(s_list)
    # cuckoo state identical too: the same fresh-candidate verdicts
    probe = (
        spark.read.parquet(str(tmp_path / "df" / "archive"))
        .select("url_hash")
        .distinct()
    )
    f1 = {r["url_hash"] for r in dedup_candidates_cuckoo(spark, s_df, probe, CK).collect()}
    f2 = {r["url_hash"] for r in dedup_candidates_cuckoo(spark, s_list, probe, CK).collect()}
    assert f1 == f2 and len(f1) == n_stale


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
