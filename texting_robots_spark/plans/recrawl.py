"""Re-crawl + frontier compaction — where the cuckoo filter earns its keep.

At 10^10 URLs the frontier cannot keep every fetched row hot forever:
``compact`` archives non-queued rows out of the working frontier and
builds per-partition cuckoo filters over every key it saw. Scheduling a
re-crawl *deletes* the requeued keys from those filters, which bloom
bits cannot do; the cuckoo path (operators.cuckoo) supports exact-key
deletion with no false negatives for the remaining keys.

The filters are NOT the store's record of what was seen. The archive
stays in ``FrontierStore.read_keys``, the exact key set the crawl's
seen check anti-joins against. The filters are a snapshot taken at the
last compaction: keys a later step adds are not in them, and a second
compaction rebuilds them from the hot frontier only, so the keys the
first one archived drop out. ``dedup_candidates_cuckoo`` therefore
passes such keys as fresh (ROADMAP item 2 (a)/(b), where an exact
anti-join against ``read_keys`` is to replace it).

Flow:
    compact(store)            frontier rows state != 'queued' -> archive/
                              seen-set = cuckoo filters (built from ALL keys)
    schedule_recrawl(urls)    delete url hashes from the cuckoo filters and
                              insert fresh 'queued' rows -> next superstep
                              fetches them again, politeness intact
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.cuckoo import CuckooConfig, build_cuckoo, delete_cuckoo, probe_cuckoo
from ..sizing import sized_shuffle_scope
from ..sources.frontier_store import CODEC, FrontierStore
from ..sources.local import local_frame
from .superstep import _queued_rows, _url_frame

__all__ = [
    "compact_frontier",
    "stale_archived",
    "schedule_recrawl",
    "dedup_candidates_cuckoo",
]


def compact_frontier(
    spark: SparkSession, store: FrontierStore, cfg: CuckooConfig
) -> dict:
    """Archive non-queued rows; seen-ness moves to cuckoo filters.

    Writes: archive parquet (append), new snapshot whose frontier holds
    only queued rows, and cuckoo filters covering EVERY url_hash ever
    seen (queued + archived). Returns counts. Runs inside
    sized_shuffle_scope over the frontier, so the fan-out of the cuckoo
    build and of the archive write follows the frontier's size.
    """
    frontier = store.read_frontier(spark)
    with sized_shuffle_scope(spark, frontier):
        # The reconstructed frontier (merge-on-read: base + delta chain +
        # latest-wins window) has three consumers below — the cuckoo
        # build, the archive write, and the queued-only snapshot. Cache
        # it so the reconstruction runs once instead of once per
        # consumer (round 7: the uncached shape recomputed the
        # union+window per consumer and dominated the recrawl cycle's
        # wall time).
        frontier = frontier.cache()
        queued = frontier.where(F.col("state") == "queued")
        # both counts ride the archive write: observed on the cached
        # frontier before the state filter, so no count job of their own
        counts = Observation()
        done = frontier.observe(
            counts,
            F.count_if(F.col("state") == "queued").alias("queued"),
            F.count_if(F.col("state") != "queued").alias("archived"),
        ).where(F.col("state") != "queued")
        # Build + CHECK the filters BEFORE any destructive write: a
        # dropped key would be a silent false negative on every later
        # probe (a seen URL re-entering the frontier), and a retry after
        # a partial compact would rebuild filters from the
        # already-compacted (queued-only) frontier, permanently losing
        # the archived keys' seen-ness. Failing here leaves the old
        # snapshot, archive, and filters intact so the caller can resize
        # CuckooConfig and simply call again.
        filters = build_cuckoo(frontier.select("url_hash"), cfg).cache()
        try:
            n_dropped = filters.agg(F.sum("n_dropped")).collect()[0][0] or 0
            if n_dropped:
                raise ValueError(
                    f"cuckoo filter over capacity: {n_dropped} keys dropped — "
                    f"increase CuckooConfig.n_buckets or n_partitions"
                )
            done.write.mode("append").option("compression", CODEC).parquet(
                store.archive_dir
            )
            n_q, n_a = counts.get["queued"], counts.get["archived"]
            store.write_snapshot(
                queued, filters=None, meta={**store.meta(), "compacted": True}
            )
            # cuckoo filters live beside the snapshot's bloom slot
            filters.write.mode("overwrite").option("compression", CODEC).parquet(
                os.path.join(store.root, "cuckoo_filters")
            )
        finally:
            filters.unpersist()
            frontier.unpersist()
    return {"queued": n_q, "archived": n_a, "dropped": int(n_dropped)}


def _read_cuckoo(spark: SparkSession, store: FrontierStore) -> DataFrame:
    from ..operators.cuckoo import CUCKOO_DDL

    return spark.read.schema(CUCKOO_DDL).parquet(
        os.path.join(store.root, "cuckoo_filters")
    )


def dedup_candidates_cuckoo(
    spark: SparkSession,
    store: FrontierStore,
    candidates: DataFrame,
    cfg: CuckooConfig,
) -> DataFrame:
    """Post-compaction seen-check: cuckoo probe in place of the bloom +
    frontier anti-join (the frontier no longer holds archived keys).

    Exact only for the keys of the last compaction: the filters miss
    keys that steps added after it, and, after a second compaction, the
    keys the first one archived, though ``read_keys`` holds both. Such
    candidates pass as fresh (ROADMAP item 2 (a)/(b)).

    Returns a lazy frame, so sized_shuffle_scope cannot size it: the
    caller's action plans it, at the session's fan-out."""
    filters = _read_cuckoo(spark, store)
    probed = probe_cuckoo(candidates, filters, cfg)
    return probed.where(~F.col("maybe_seen")).drop("maybe_seen")


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
    cfg: CuckooConfig,
    priority: float = 2.0,
) -> int:
    """Make previously-fetched URLs crawlable again.

    Deletes their hashes from the cuckoo seen-set and MERGEs fresh
    'queued' rows into the frontier (upsert on url_hash, so rows still
    present in the hot frontier are reset rather than duplicated).

    ``urls`` is an iterable of URL strings (small operator-supplied
    sets) OR a single-column DataFrame of raw URLs — the distributed
    form: a TTL-driven recrawl of 10^8 stale URLs (``stale_archived``) must
    never round-trip through a driver-side Python list. Both paths
    produce identical rows (pinned in tests/test_recrawl.py).

    Runs inside sized_shuffle_scope over its inputs: the URLs, the
    store's key set, the cuckoo filters and the frontier.
    """
    raw = _url_frame(spark, urls)
    keys = store.read_keys(spark)
    filters = _read_cuckoo(spark, store)
    frontier = store.read_frontier(spark)
    with sized_shuffle_scope(spark, raw, keys, filters, frontier):
        # three consumers below (known-inserted screen, MERGE, return
        # count): cache so the canonicalize kernel + dedup aggregate run
        # once (round 7)
        rows = _queued_rows(raw, priority).cache()
        # Screen before deleting. Deleting a never-inserted hash can
        # evict another URL's entry on a fingerprint collision (violating
        # delete_cuckoo's contract), so arbitrary user URLs are narrowed
        # two ways: (1) a semi-join against the set of hashes KNOWN to
        # have been inserted (store.read_keys: frontier + archive — the
        # filter was built from exactly these), and (2) a probe, which
        # skips hashes already deleted by an earlier recrawl. The probe
        # alone would not suffice — its false positives (fingerprint
        # collisions) still pass — but combined with the known-inserted
        # join only genuinely-inserted keys reach delete_cuckoo; the
        # residual risk is a same-fingerprint collision BETWEEN two
        # inserted keys, which delete handles by removing one copy per
        # insert.
        # no distinct on the semi-join's right side: semi-join semantics
        # dedup it for free, and the distinct was a whole extra shuffle
        # of the frontier+archive key set (round 7)
        inserted = rows.select("url_hash").join(keys, "url_hash", "left_semi")
        present = (
            probe_cuckoo(inserted, filters, cfg)
            .where(F.col("maybe_seen"))
            .select("url_hash")
        )
        updated = delete_cuckoo(filters, present, cfg)
        updated.write.mode("overwrite").option("compression", CODEC).parquet(
            os.path.join(store.root, "cuckoo_filters_next")
        )
        # atomic-ish swap via rename (same idea as the manifest commit)
        import shutil

        shutil.rmtree(os.path.join(store.root, "cuckoo_filters"))
        os.replace(
            os.path.join(store.root, "cuckoo_filters_next"),
            os.path.join(store.root, "cuckoo_filters"),
        )
        try:
            merged = FrontierStore.merge_frontier(frontier, rows)
            store.write_snapshot(merged, filters=None, meta=store.meta())
            return rows.count()
        finally:
            rows.unpersist()
