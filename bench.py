#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Components (per-query seconds in "queries", derived rates in "rates"):

- robots_parse_200k:   200,000 x parse of the reference's own bench corpus
                       (twitter.robots.txt, ~2.9 KB — reference main.rs:5)
                       through the vectorized parse UDF.
- robots_allow_1m:     1,000,000 allow-checks through the broadcast-rules
                       gate UDF (reference main.rs:25-53 does 1M checks).
- crawl_3_supersteps:  3 full frontier supersteps (gate + politeness +
                       fetch join + link extraction + exact seen-set dedup
                       + MERGE + checkpoint) over a 20k-doc synthetic
                       universe.
- sf queries:          representative operator queries over the
                       $SPARK_GRAFT_SF_DIR tables (agg, window, joins,
                       dedup, similarity).

Scaling evidence (local[8] vs local[32]) is produced by
tools/scaling_bench.py and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("texting-robots-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # round-5 gate probe: 65536 measured +6% on the allow line over
        # the 10k default (fewer Arrow batch round-trips per partition);
        # kernel-vs-wall profiling puts ~2/3 of the in-Spark gate cost
        # in Arrow/IPC, so batch count is the one free knob
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from texting_robots_spark.operators.gate import RulesBroadcast, build_rules, gate
    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore
    from texting_robots_spark.sources.synth import (
        synth_documents_df,
        synth_robots_df,
        synth_universe,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "fixtures", "robots", "twitter.robots.txt"), "rb") as f:
        twitter = f.read()

    queries: dict[str, float] = {}
    rates: dict[str, float] = {}
    # per-line repetition times for every best-of-N line ("spreads" in
    # the output JSON): a round-over-round move on a line whose own
    # spread straddles it is VM-window drift, not an engine change
    spreads: dict[str, list] = {}

    # Warm up the Python UDF workers (process spawn + pandas/pyarrow
    # import, ~4.5 s across 32 workers) so the timed queries measure
    # steady-state throughput — the reference harness (main.rs:10-53)
    # likewise loops inside one warm process.
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(x):
        return x

    spark.range(cpus * 4, numPartitions=cpus).select(
        F.sum(_warm(F.col("id")))
    ).collect()
    # ...and warm the parse path specifically: the parse UDF's worker-
    # side imports (robots_core/urltools) and plan codegen otherwise
    # land inside the first timed repetition (measured +0.25s on the
    # 20k line even under best-of-2)
    tiny = spark.range(64, numPartitions=min(cpus, 8)).select(
        F.concat(F.lit("w"), F.col("id")).alias("host"),
        F.lit(bytearray(twitter)).alias("body"),
    )
    build_rules(tiny, "BobBot").select(F.sum(F.size("rules"))).collect()

    # --- robots parse throughput (reference: 92k files/s/core native) ----
    # Batch-size note (rounds 4-5, measured): at 20k rows this line is
    # job-overhead-bound, not parse-bound (~0.2s fixed scheduling +
    # ~25ms/task dispatch vs ~11us/parse), and the measured rate swung
    # 40-62k files/s with VM noise. 200k rows x 32 partitions (6.25k
    # rows/task, ~18 MB Arrow per task) amortizes the fixed cost and is
    # the honest shape — a 100-TB-scale parse of 10^7 hosts runs big
    # partitions exactly like this. Measured 225k files/s at local[32]
    # (2.4x the reference's 92k/s single native core).
    n_parse = 200_000
    raw = spark.range(n_parse, numPartitions=cpus).select(
        F.concat(F.lit("host"), F.col("id")).alias("host"),
        F.lit(bytearray(twitter)).alias("body"),
    )
    # best-of-3: the reference numbers are hot-loop averages inside one
    # warm process (main.rs:10-24); short lines sit inside the VM's ~2x
    # run-to-run noise band
    ts = []
    for _ in range(3):
        t0 = time.time()
        build_rules(raw, "BobBot").select(F.sum(F.size("rules"))).collect()
        ts.append(time.time() - t0)
    dt = min(ts)
    queries["robots_parse_200k"] = round(dt, 3)
    spreads["robots_parse_200k"] = [round(t, 3) for t in ts]
    rates["parse_files_per_sec"] = round(n_parse / dt, 1)

    # --- allow-check throughput (reference: 1.12M checks/s/core native) --
    one_host = spark.createDataFrame(
        [("twitter.com", bytearray(twitter))], "host string, body binary"
    )
    bc = RulesBroadcast(spark, build_rules(one_host, "BobBot"))
    n_checks = 1_000_000
    paths = [
        "/halvarflake",
        "/search?q=%23Satoshi&src=typed_query",
        "/halvarflake/status/1501495664466927618",
        "/i/flow/login",
        "/oauth",
        "/settings/account",
        "/home",
        "/notifications",
    ]
    # NOTE: no repartition — spark.range on local[N] already yields N
    # partitions; a round-robin shuffle of 1M rows would roughly double
    # the wall time without changing the measured work.
    cand = spark.range(n_checks, numPartitions=cpus).select(
        F.lit("twitter.com").alias("host"),
        F.element_at(
            F.array(*[F.lit(p) for p in paths]),
            (F.col("id") % len(paths) + 1).cast("int"),
        ).alias("url"),
    )
    ts = []
    for _ in range(3):
        t0 = time.time()
        gate(cand, bc, with_delay=False).select(
            F.sum(F.col("allowed").cast("long"))
        ).collect()
        ts.append(time.time() - t0)
    dt = min(ts)
    queries["robots_allow_1m"] = round(dt, 3)
    spreads["robots_allow_1m"] = [round(t, 3) for t in ts]
    rates["allow_checks_per_sec"] = round(n_checks / dt, 1)

    # --- crawl supersteps -------------------------------------------------
    documents, robots, seeds = synth_universe(
        n_hosts=200, n_docs=20_000, links_per_doc=4, n_seeds=2000, seed=42
    )
    # partition the corpus BY THE FETCH-JOIN KEY (url_hash since round
    # 5 — the superstep joins on the 8-byte hash, not the url string):
    # a hash-partitioned cached corpus lets each step reuse this
    # partitioning instead of re-shuffling the spans payload (at
    # broadcastable sizes AQE picks a broadcast join either way; at
    # 100 TB this is the difference)
    docs_df = (
        synth_documents_df(spark, documents)
        .withColumn("url_hash", F.xxhash64("url"))
        .repartition(cpus, "url_hash")
        .cache()
    )
    docs_df.count()
    robots_df = synth_robots_df(spark, robots)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=256,
        step_seconds=600.0,
        default_delay=0.05,
        bloom=BloomConfig(n_partitions=cpus, n_bits=1 << 22, n_hashes=4),
    )
    # AQE off for the superstep only: the crawl plan handles skew
    # explicitly (map-side WindowGroupLimit top-k, explicit broadcasts, bucketed
    # seen-set), so adaptive re-planning cannot change this plan — it
    # only charges a stage materialization per shuffle (~30/step).
    # Interleaved A/B at sandbox scale: AQE off wins every pair, ~20-25%
    # (49.9->35.9s, 65.8->50.9s; a 3x gap appeared once under VM load),
    # identical 22,094-URL output (NOTES_r3). The sf queries below keep
    # AQE on — they rely on its join planning.
    # Best-of-2 (fresh store each run) with per-phase wall seconds from
    # the best run emitted as "crawl_phases" — a round-over-round delta
    # on this line is attributable to schedule/gate/commit/compaction
    # without a debugging session (VERDICT r4 #1).
    from texting_robots_spark.plans import superstep as superstep_mod

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    dt, metrics, crawl_phases, ts = 1e9, None, {}, []
    for _ in range(2):
        store = FrontierStore(tempfile.mkdtemp(prefix="trs_bench_"), n_buckets=cpus)
        phases: dict = {}
        superstep_mod.TRACE_SINK = phases
        t0 = time.time()
        m = run_crawl(spark, store, docs_df, robots_df, seeds, cfg, n_steps=3)
        run_dt = time.time() - t0
        superstep_mod.TRACE_SINK = None
        ts.append(run_dt)
        if run_dt < dt:
            dt, metrics, crawl_phases = run_dt, m, phases
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    n_processed = sum(m["scheduled"] + m["new_urls"] for m in metrics)
    queries["crawl_3_supersteps"] = round(dt, 3)
    spreads["crawl_3_supersteps"] = [round(t, 3) for t in ts]
    rates["frontier_urls_per_sec"] = round(n_processed / dt, 1)
    rates["frontier_urls_processed"] = n_processed

    # --- recrawl cycle over the store the crawl just produced -----------
    # archive-compaction, re-queue of 2k previously-fetched URLs, and
    # the post-compaction exact seen check (plans/recrawl.py)
    from texting_robots_spark.plans.recrawl import (
        compact_frontier,
        dedup_candidates,
        schedule_recrawl,
    )

    refetch = [
        r["url"]
        for r in store.read_frontier(spark)
        .where(F.col("state") == "fetched")
        .select("url")
        .limit(2000)
        .collect()
    ]
    cand_probe = store.read_frontier(spark).select("url_hash").limit(20000)
    t0 = time.time()
    cstats = compact_frontier(spark, store)
    n_requeued = schedule_recrawl(spark, store, refetch)
    n_fresh = dedup_candidates(spark, store, cand_probe).count()
    dt = time.time() - t0
    queries["recrawl_cycle"] = round(dt, 3)
    rates["recrawl_archived"] = cstats["archived"]
    rates["recrawl_requeued"] = n_requeued
    rates["recrawl_fresh_candidates"] = n_fresh

    # --- representative sf queries ---------------------------------------
    # best-of-3 on the short lines with per-line spread recorded
    # (VERDICT r5 #3/#4: sub-second lines swing 2-4x with sandbox VM
    # noise — in BENCH_r05 untouched queries regressed 2-4x round over
    # round; the driver bench can only resolve engine regressions if
    # each line carries its own spread). The crawl stays best-of-2 (long
    # enough to average noise, too long to triple).
    def _best_of(name, reps, run):
        ts = []
        for _ in range(reps):
            t0 = time.time()
            run()
            ts.append(time.time() - t0)
        queries[name] = round(min(ts), 3)
        spreads[name] = [round(t, 3) for t in ts]

    qfns = entrymod.queries()
    for name in (
        "q1_pricing_summary",
        "host_topk",
        "anti_join_unseen",
        "broadcast_join_revenue",
        "window_sessions",
        "explode_token_freq",
        "dedup_exact",
        "quality_features",
        "similarity_topk",
    ):
        _best_of(name, 3, lambda name=name: qfns[name](spark, sf_dir).count())

    # sketches: time the PRODUCTION xxhash64 variants (the queries()
    # entries use the md5-derived base hash so DuckDB can verify them —
    # same plan, pricier hash; the scale path is what we benchmark)
    from texting_robots_spark.operators.dedup import (
        minhash_lsh_candidates,
        simhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    _best_of(
        "minhash_lsh_pairs",
        3,
        lambda: minhash_lsh_candidates(docs, n_hashes=4, band_size=2).count(),
    )
    _best_of(
        "simhash_fingerprints",
        3,
        lambda: simhash(docs).select("doc_id", "simhash").count(),
    )

    # full dedup resolution: LSH pairs -> connected components
    # (star contraction) -> survivor per group (production xxhash64
    # base hash; the md5 twin is the oracled dedup_components query)
    from texting_robots_spark.operators.dedup import resolve_duplicates

    def _dedup_resolve():
        pairs = minhash_lsh_candidates(docs, n_hashes=4, band_size=2)
        resolve_duplicates(docs.select("doc_id"), pairs).where(
            F.col("is_survivor")
        ).count()

    _best_of("dedup_resolve", 3, _dedup_resolve)

    # training-data prep pipeline: domain quality gate -> deterministic
    # split -> token-budget shard packing, chained as one job over the
    # sf documents (production xxhash64 forms; the md5 twins are the
    # oracle-checked queries() entries)
    from texting_robots_spark.operators.dedup import tokenize
    from texting_robots_spark.operators.sampling import (
        hash_split,
        host_quality_filter,
        pack_shards,
    )

    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    toks = tokenize(F.col("text"))
    scored = docs_t.withColumn(
        "score",
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
    ).withColumn("host", F.col("source"))
    def _train_prep():
        prepped = hash_split(
            host_quality_filter(scored, min_mean_score=0.4, min_docs=2),
            "doc_id",
            [("train", 0.9), ("holdout", 0.1)],
        ).where(F.col("split") == "train")
        pack_shards(prepped, token_budget=2048, n_buckets=cpus).groupBy(
            "bucket", "shard"
        ).count().count()

    _best_of("train_data_prep", 3, _train_prep)

    total = round(sum(queries.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "frontier+robots+ops suite wall time",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "rates": rates,
                "crawl_phases": crawl_phases,
                "spreads": spreads,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
