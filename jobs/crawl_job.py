#!/usr/bin/env python
"""Cluster crawl job — the spark-submit entry point.

    ./tools/make_pyfiles.sh         # builds dist/texting_robots_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/texting_robots_spark.zip \
        jobs/crawl_job.py --store /path/to/frontier --steps 5 \
        [--docs /path/to/interleaved_docs.parquet] \
        [--robots /path/to/robots_raw.parquet] \
        [--agent TRSBot] [--n-docs 20000] [--n-hosts 200]

With --docs/--robots the job crawls real tables (documents in the
input_hint interleaved-spans shape, robots_raw as (host, body, status));
without them it synthesizes the deterministic test universe. The store
directory is the checkpoint: re-running with the same --store resumes
from the last committed snapshot.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True)
    ap.add_argument("--steps", type=int, default=3)
    ap.add_argument("--docs", default=None)
    ap.add_argument("--robots", default=None)
    ap.add_argument("--agent", default="TRSBot")
    ap.add_argument("--n-docs", type=int, default=20_000)
    ap.add_argument("--n-hosts", type=int, default=200)
    ap.add_argument("--n-seeds", type=int, default=500)
    ap.add_argument("--per-host-k", type=int, default=64)
    ap.add_argument("--step-seconds", type=float, default=600.0)
    ap.add_argument("--bloom-partitions", type=int, default=32)
    ap.add_argument(
        "--gate-mode",
        choices=("broadcast", "sharded"),
        default="broadcast",
        help="broadcast: rules collected+broadcast (fits driver memory); "
        "sharded: cogrouped gate, rules stay a DataFrame — use for "
        "10^7+ host rules tables",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore
    from texting_robots_spark.sources.synth import (
        doc_url,
        synth_documents_df,
        synth_robots_df,
        synth_universe,
    )

    spark = SparkSession.builder.appName("texting-robots-spark-crawl").getOrCreate()

    if args.docs:
        docs_df = spark.read.parquet(args.docs)
        robots_df = spark.read.parquet(args.robots) if args.robots else None
        seeds = [r["url"] for r in docs_df.select("url").limit(args.n_seeds).collect()]
    else:
        documents, robots, seeds = synth_universe(
            n_hosts=args.n_hosts, n_docs=args.n_docs, n_seeds=args.n_seeds, seed=42
        )
        docs_df = synth_documents_df(spark, documents)
        robots_df = synth_robots_df(spark, robots)

    cfg = CrawlConfig(
        agent=args.agent,
        per_host_k=args.per_host_k,
        step_seconds=args.step_seconds,
        bloom=BloomConfig(n_partitions=args.bloom_partitions),
    )
    store = FrontierStore(args.store, n_buckets=args.bloom_partitions)
    rules = None
    if args.gate_mode == "sharded":
        from texting_robots_spark.operators.gate import RulesTable, build_rules

        rules = RulesTable(build_rules(robots_df, cfg.agent))
    # superstep plans handle skew explicitly (map-side WindowGroupLimit top-k, explicit
    # broadcasts); AQE only adds per-stage materialization cost to the
    # fixed per-step pipeline. Callers who want AQE for OTHER queries in
    # the same session can re-enable it after the crawl.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    t0 = time.time()
    metrics = run_crawl(
        spark, store, docs_df, robots_df, seeds, cfg, n_steps=args.steps,
        rules=rules,
    )
    dt = time.time() - t0
    n = sum(m["scheduled"] + m["new_urls"] for m in metrics)
    print(
        json.dumps(
            {
                "steps": metrics,
                "wall_sec": round(dt, 2),
                "urls_per_sec": round(n / dt, 1),
                "snapshot": store.current_version(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
