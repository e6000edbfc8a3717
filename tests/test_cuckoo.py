"""Cuckoo-filter seen-set: insert/probe/delete semantics — the deletable
fallback the bloom path cannot provide (re-crawl scheduling)."""

from pyspark.sql import functions as F

from texting_robots_spark.operators.cuckoo import (
    CuckooConfig,
    build_cuckoo,
    delete_cuckoo,
    probe_cuckoo,
)

CFG = CuckooConfig(n_partitions=4, n_buckets=1 << 12, slots_per_bucket=4)


def _hashed(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "url_hash", F.xxhash64("url")
    )


def test_cuckoo_no_false_negatives_and_low_fpr(spark):
    seen = _hashed(spark, [f"https://h{i % 40}.example/p/{i}" for i in range(4000)])
    filters = build_cuckoo(seen, CFG).cache()
    assert probe_cuckoo(seen, filters, CFG).where(~F.col("maybe_seen")).count() == 0

    fresh = _hashed(spark, [f"https://new{i}.example/x/{i}" for i in range(4000)])
    fp = probe_cuckoo(fresh, filters, CFG).where(F.col("maybe_seen")).count()
    assert fp / 4000 < 0.01, f"cuckoo FPR too high: {fp}/4000"


def test_cuckoo_delete_enables_recrawl(spark):
    urls = [f"https://h{i % 10}.example/p/{i}" for i in range(2000)]
    seen = _hashed(spark, urls)
    filters = build_cuckoo(seen, CFG).cache()

    # delete a deterministic slice -> those URLs probe as unseen again
    recrawl = _hashed(spark, urls[:500])
    updated = delete_cuckoo(filters, recrawl, CFG).cache()

    gone = probe_cuckoo(recrawl, updated, CFG)
    # deleted keys may still collide with other keys' fingerprints, but
    # the overwhelming majority must now be unseen
    still = gone.where(F.col("maybe_seen")).count()
    assert still / 500 < 0.02, f"deletions not visible: {still}/500"

    # the NOT-deleted remainder must all still be present (no false negs)
    kept = _hashed(spark, urls[500:])
    assert probe_cuckoo(kept, updated, CFG).where(~F.col("maybe_seen")).count() == 0


def test_insert_many_matches_sequential_insert():
    """insert_many is the batch twin of insert(): identical table bytes,
    identical inserted/dropped counts, for random keys AND an
    over-capacity table that exercises eviction chains and drops."""
    import numpy as np

    from texting_robots_spark.operators.cuckoo import CuckooConfig, _CuckooTable

    rng = np.random.default_rng(123)
    for n_buckets, n_keys in [(1 << 10, 3000), (1 << 4, 500), (1 << 2, 64)]:
        cfg = CuckooConfig(n_partitions=1, n_buckets=n_buckets)
        keys = rng.integers(0, 2**63, size=n_keys, dtype=np.int64).view(np.uint64)
        keys = np.unique(keys)
        seq = _CuckooTable(cfg)
        n_seq = d_seq = 0
        for h in keys:
            if seq.insert(h):
                n_seq += 1
            else:
                d_seq += 1
        bat = _CuckooTable(cfg)
        n_bat, d_bat = bat.insert_many(keys)
        assert (n_bat, d_bat) == (n_seq, d_seq)
        assert bat.tobytes() == seq.tobytes()
        if n_buckets == 1 << 2:
            assert d_seq > 0  # the tiny table actually overflowed


def test_probe_cuckoo_rederives_a_foreign_partition_id(spark):
    """link_candidates clustered for a bloom of P partitions carries
    partition_id = pmod(url_hash, P). A cuckoo config with another
    partition count must still probe every key in its own filter (no
    false negatives), and the caller's column passes through."""
    from texting_robots_spark.plans.superstep import link_candidates

    links = spark.createDataFrame(
        [(f"https://h{i % 7}.example/p/{i}", 0) for i in range(600)],
        "url string, depth int",
    )
    cands = link_candidates(links, cluster_partitions=4)
    cfg = CuckooConfig(n_partitions=3, n_buckets=1 << 10)
    filters = build_cuckoo(cands, cfg).cache()
    probed = probe_cuckoo(cands, filters, cfg)
    assert probed.columns == cands.columns + ["maybe_seen"]
    rows = probed.collect()
    assert len(rows) == 600 and all(r["maybe_seen"] for r in rows)
    assert all(r["partition_id"] == r["url_hash"] % 4 for r in rows)
