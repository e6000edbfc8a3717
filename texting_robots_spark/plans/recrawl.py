"""Re-crawl + frontier compaction over the store's exact key set.

At 10^10 URLs the frontier cannot keep every fetched row hot forever:
``compact_frontier`` moves the non-queued rows out of the working
frontier into the store's archive. The archive's url_hash column stays
in ``FrontierStore.read_keys``, the exact key set every seen check
anti-joins against, so an archived URL stays seen with no filter beside
the store. ``schedule_recrawl`` makes URLs crawlable again by MERGEing
fresh 'queued' rows into the frontier; the next superstep fetches them,
politeness intact.

``dedup_candidates`` is the post-compaction seen check. Its rule: a key
is seen iff it is in ``read_keys`` and is not both archived and queued
in the hot frontier. The keys it passes are the never-seen ones and the
requeued ones, which schedule_recrawl queued precisely so that they are
fetched again.

Flow:
    compact_frontier(store)       frontier rows state != 'queued' -> archive/
    schedule_recrawl(urls)        MERGE fresh 'queued' rows into the frontier
    dedup_candidates(candidates)  candidates minus the seen keys
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sizing import sized_shuffle_scope
from ..sources.frontier_store import CODEC, FrontierStore
from ..sources.local import local_frame
from .superstep import _queued_rows

__all__ = [
    "compact_frontier",
    "stale_archived",
    "schedule_recrawl",
    "dedup_candidates",
    "dedup_candidates_cuckoo",
]


def compact_frontier(spark: SparkSession, store: FrontierStore, cfg=None) -> dict:
    """Archive the non-queued rows and snapshot the queued ones.

    Writes: archive parquet (append), then a new snapshot whose frontier
    holds only queued rows. Returns the counts. Runs inside
    sized_shuffle_scope over the frontier, so the fan-out of the archive
    write follows the frontier's size.

    ``cfg`` (a CuckooConfig) is ignored, and ``"dropped"`` is always 0:
    nothing approximate is built, so no key can be dropped. Both keep
    the benchmark's call shape until its change (ROADMAP item 4) retires
    them.
    """
    frontier = store.read_frontier(spark)
    with sized_shuffle_scope(spark, frontier):
        # The reconstructed frontier (merge-on-read: base + delta chain +
        # latest-wins window) has two consumers below — the archive
        # write and the queued-only snapshot. Cache it so the
        # reconstruction runs once instead of once per consumer.
        frontier = frontier.cache()
        try:
            # both counts ride the archive write: observed on the cached
            # frontier before the state filter, so no count job of their own
            counts = Observation()
            frontier.observe(
                counts,
                F.count_if(F.col("state") == "queued").alias("queued"),
                F.count_if(F.col("state") != "queued").alias("archived"),
            ).where(F.col("state") != "queued").write.mode("append").option(
                "compression", CODEC
            ).parquet(store.archive_dir)
            store.write_snapshot(
                frontier.where(F.col("state") == "queued"),
                meta={**store.meta(), "compacted": True},
            )
        finally:
            frontier.unpersist()
    return {"queued": counts.get["queued"], "archived": counts.get["archived"], "dropped": 0}


def dedup_candidates(
    spark: SparkSession, store: FrontierStore, candidates: DataFrame
) -> DataFrame:
    """``candidates`` (any frame with a ``url_hash`` column) minus the
    keys the store has seen, by the rule in the module docstring: the
    store's key set minus the requeued keys (queued in the hot frontier
    and in the archive), anti-joined exactly.

    Returns a lazy frame, so sized_shuffle_scope cannot size it: the
    caller's action plans it, at the session's fan-out."""
    seen = store.read_keys(spark)
    if os.path.exists(store.archive_dir):
        requeued = (
            store.read_frontier(spark)
            .where(F.col("state") == "queued")
            .select("url_hash")
            .join(
                spark.read.schema("url_hash long").parquet(store.archive_dir),
                "url_hash",
                "left_semi",
            )
        )
        seen = seen.join(requeued, "url_hash", "left_anti")
    return candidates.join(seen, "url_hash", "left_anti")


def dedup_candidates_cuckoo(
    spark: SparkSession, store: FrontierStore, candidates: DataFrame, cfg=None
) -> DataFrame:
    """``dedup_candidates``; ``cfg`` is ignored. The benchmark's call
    shape, kept until the benchmark change (ROADMAP item 4) retires it."""
    return dedup_candidates(spark, store, candidates)


def stale_archived(
    spark: SparkSession, store: FrontierStore, older_than: float
) -> DataFrame:
    """URLs whose last fetch is stale: archived 'fetched' rows with
    ``not_before <= older_than`` (not_before records fetch_time +
    crawl_delay, so it IS the per-URL recency clock). The standard
    recrawl driver — "re-fetch everything older than the TTL" — as a
    column-pruned archive scan, no driver data. Feed the result
    straight to ``schedule_recrawl`` (it accepts the DataFrame)."""
    if not os.path.exists(store.archive_dir):
        return local_frame(spark, "url string")
    return (
        spark.read.parquet(store.archive_dir)
        .where(
            (F.col("state") == "fetched")
            & (F.col("not_before") <= F.lit(float(older_than)))
        )
        .select("url")
    )


def schedule_recrawl(
    spark: SparkSession,
    store: FrontierStore,
    urls,  # iterable of str | single-column DataFrame of raw URLs
    cfg=None,
    priority: float = 2.0,
) -> int:
    """Make previously-fetched URLs crawlable again: MERGE fresh
    'queued' rows at ``priority`` into the frontier (upsert on url_hash,
    so rows still present in the hot frontier are reset rather than
    duplicated) and snapshot. Returns the number of rows queued.

    ``urls`` is an iterable of URL strings (small operator-supplied
    sets), canonicalized on the driver with no Python worker, OR a
    single-column DataFrame of raw URLs, canonicalized by the
    ``canonicalize_urls`` kernel — the distributed form: a TTL-driven
    recrawl of 10^8 stale URLs (``stale_archived``) must never
    round-trip through a driver-side Python list. Both paths produce
    identical rows (pinned in tests/test_recrawl.py); a bare string
    raises TypeError.

    ``cfg`` (a CuckooConfig) is accepted and ignored, for the
    benchmark's call shape until the benchmark change (ROADMAP item 4)
    retires it. Runs inside sized_shuffle_scope over the URLs and the
    frontier.
    """
    rows = _queued_rows(spark, urls, priority)
    frontier = store.read_frontier(spark)
    with sized_shuffle_scope(spark, rows, frontier):
        # two consumers below (MERGE, return count): cache so the
        # dedup aggregate (and a DataFrame's canonicalize kernel) run once
        rows = rows.cache()
        try:
            merged = FrontierStore.merge_frontier(frontier, rows)
            store.write_snapshot(merged, meta=store.meta())
            return rows.count()
        finally:
            rows.unpersist()
