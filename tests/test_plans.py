"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually picks — broadcast joins where intended, filter/column
pushdown into parquet scans, no Python row-path in native operators."""

import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_delay_join_is_broadcast(spark, tmp_path):
    from texting_robots_spark.operators.gate import RulesBroadcast, build_rules, gate

    raw = spark.createDataFrame(
        [("h.example", bytearray(b"User-agent: *\nCrawl-delay: 1\nDisallow: /x"))],
        "host string, body binary",
    )
    bc = RulesBroadcast(spark, build_rules(raw, "BobBot"))
    cand = spark.createDataFrame(
        [("h.example", "https://h.example/a")], "host string, url string"
    )
    plan = _plan(gate(cand, bc))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parquet_scan_pushdown(spark):
    """Filter + projection must reach the parquet scan."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan
    # column pruning: only the two projected columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_frontier_scan_prunes_spans(spark, tmp_path):
    """Scheduling reads of the documents table must never drag the spans
    column along (SURVEY §4.2: column pruning is critical)."""
    from texting_robots_spark.sources.synth import synth_documents_df, synth_universe

    documents, _, _ = synth_universe(n_hosts=4, n_docs=50, seed=42)
    path = str(tmp_path / "docs.parquet")
    synth_documents_df(spark, documents).write.parquet(path)
    docs = spark.read.parquet(path)
    q = docs.select("doc_id", "url")
    assert "spans" not in _plan(q).split("ReadSchema:")[-1]


def test_broadcast_join_revenue_is_broadcast(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["broadcast_join_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q1_is_whole_stage_codegen_with_partial_agg(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")
    q.collect()  # finalize the adaptive plan so codegen spans are visible
    plan = _plan(q)
    # whole-stage codegen is rendered as "*(n)" stage markers
    assert "*(1)" in plan
    # partial (map-side) aggregation before the exchange, final after
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_gate_sharded_single_shuffle_per_side(spark):
    """gate_sharded's plan: one exchange per cogroup side (candidates on
    (host, salt), replicated rules on (host, salt)) and no extra joins."""
    from texting_robots_spark.operators.gate import build_rules_per_agent, gate_sharded

    raw = spark.createDataFrame(
        [("h.example", bytearray(b"User-agent: *\nDisallow: /x"), "B")],
        "host string, body binary, agent string",
    )
    rules_df = build_rules_per_agent(raw).drop("agent")
    cand = spark.createDataFrame(
        [("h.example", "https://h.example/a")], "host string, url string"
    )
    plan = _plan(gate_sharded(cand, rules_df, with_delay=True))
    assert plan.count("Exchange") == 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_near_dup_lsh_distinct_is_narrow(spark):
    """embedding_near_dups('lsh'): the dedup shuffle must carry only the
    (id_a, id_b) pair — never the two full embedding vectors (VERDICT r2:
    the wide distinct moved O(candidates x 2 x dim x 8B) per table)."""
    from texting_robots_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = embedding_near_dups(emb, threshold=0.4, method="lsh", n_tables=2)
    plan = _plan(q)
    # every HashAggregate (the distinct) must key on the ids only
    for frag in plan.split("HashAggregate")[1:]:
        keys = frag.split("keys=[")[1].split("]")[0] if "keys=[" in frag else ""
        assert "va" not in keys and "vb" not in keys, plan
    assert "HashAggregate" in plan  # the distinct exists


def test_near_dup_lsh_matches_pre_narrowing_output(spark):
    """The narrowed plan is output-identical to the exact verifier's
    subset semantics: every LSH pair is a true >=threshold pair."""
    from texting_robots_spark.operators.similarity import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dups(emb, threshold=0.4, method="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dups(
            emb, threshold=0.4, method="lsh", n_tables=8
        ).collect()
    }
    # precision 1.0: every emitted pair is a true >=threshold pair with
    # the exact verifier's cos_sim (the re-joined vectors are the same
    # rows the wide pre-narrowing plan carried)
    assert lsh <= exact
    assert len(lsh) > 0  # recall bounds are pinned in test_training_ops


def test_read_keys_is_column_pruned_union(spark, tmp_path):
    """The seen-set membership probe (FrontierStore.read_keys) must be a
    plain union of url_hash-only parquet scans — no merge-on-read join
    chain, and every scan pruned to the single key column (at 10^10 rows
    this is the difference between reading one column and executing k
    anti-joins of full frontier rows per superstep)."""
    from texting_robots_spark.operators.seen import BloomConfig
    from texting_robots_spark.plans.superstep import CrawlConfig, run_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore
    from texting_robots_spark.sources.synth import (
        synth_documents_df,
        synth_robots_df,
        synth_universe,
    )

    documents, robots, seeds = synth_universe(n_hosts=5, n_docs=80, n_seeds=8, seed=3)
    store = FrontierStore(str(tmp_path / "store"), n_buckets=4)
    cfg = CrawlConfig(
        agent="TRSBot",
        per_host_k=4,
        step_seconds=10.0,
        bloom=BloomConfig(n_partitions=4, n_bits=1 << 14, n_hashes=4),
    )
    run_crawl(
        spark,
        store,
        synth_documents_df(spark, documents),
        synth_robots_df(spark, robots),
        seeds,
        cfg,
        n_steps=2,  # base + 2 deltas in the chain
    )
    keys = store.read_keys(spark)
    plan = _plan(keys)
    assert "Join" not in plan  # membership = union of keys, never a join
    assert "ReadSchema: struct<url_hash:bigint>" in plan
    # no full-row schema leaks into any scan
    assert "url:string" not in plan.replace("url_hash", "")
    # and it is equivalent to the merged frontier's key set
    merged = {r["url_hash"] for r in store.read_frontier(spark).select("url_hash").collect()}
    assert {r["url_hash"] for r in keys.collect()} == merged


# physical operators that run a Python evaluation over their rows
_PYTHON_NODE = re.compile(
    r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas)\b"
)


def _python_nodes(plan: str) -> set:
    """Distinct Python nodes of a plan. An adaptive plan prints its final
    and initial forms, so a node is one distinct line, not one match."""
    return {
        line.lstrip(" +-:*()0123456789")
        for line in plan.splitlines()
        if _PYTHON_NODE.search(line)
    }


def test_link_candidates_canonicalize_in_one_python_pass(spark):
    """link_candidates canonicalizes every link row in ONE Python node.
    A UDF column with an isNotNull filter plans two: Catalyst pushes the
    filter below the projection and evaluates the UDF on both sides."""
    from texting_robots_spark.plans.superstep import link_candidates

    links = spark.createDataFrame(
        [("https://A.example/x", 0), ("/relative", 1), (None, 2)],
        "url string, depth int",
    )
    for cluster in (None, 4):
        out = link_candidates(links, cluster_partitions=cluster)
        assert len(_python_nodes(_plan(out))) == 1, _plan(out)
        assert [r["url"] for r in out.collect()] == ["https://a.example/x"]


def test_seed_frontier_one_python_pass_and_no_rdd_scan(spark):
    """A seed list becomes a LocalTableScan (no PythonRDD deserialize
    behind it) feeding exactly one canonicalize node."""
    from texting_robots_spark.plans.superstep import CrawlConfig, seed_frontier

    plan = _plan(seed_frontier(spark, ["https://a.example/", "nope"], CrawlConfig()))
    assert len(_python_nodes(plan)) == 1, plan
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_schedule_recrawl_rows_one_python_pass(spark, tmp_path, monkeypatch):
    """The requeue rows schedule_recrawl merges into the frontier come
    from a local frame through exactly one canonicalize node."""
    from texting_robots_spark.operators.cuckoo import CuckooConfig
    from texting_robots_spark.plans.recrawl import compact_frontier, schedule_recrawl
    from texting_robots_spark.plans.superstep import CrawlConfig, init_crawl
    from texting_robots_spark.sources.frontier_store import FrontierStore

    ck = CuckooConfig(n_partitions=2, n_buckets=1 << 8)
    store = FrontierStore(str(tmp_path / "s"), n_buckets=2)
    urls = [f"https://h{i}.example/p" for i in range(6)]
    init_crawl(spark, store, urls, CrawlConfig())
    compact_frontier(spark, store, ck)
    plans = []
    merge = FrontierStore.merge_frontier

    def capture(frontier, rows):
        plans.append(_plan(rows))
        return merge(frontier, rows)

    monkeypatch.setattr(FrontierStore, "merge_frontier", staticmethod(capture))
    assert schedule_recrawl(spark, store, urls[:3] + ["nope"], ck) == 3
    (plan,) = plans
    assert len(_python_nodes(plan)) == 1, plan
    assert "ExistingRDD" not in plan, plan


def test_driver_built_frames_are_local_table_scans(spark, tmp_path):
    """The crawl-delay table and the empty-store reads plan as a
    LocalTableScan: scanning them starts no Python worker."""
    from texting_robots_spark.operators.gate import RulesBroadcast, build_rules
    from texting_robots_spark.plans.recrawl import stale_archived
    from texting_robots_spark.sources.frontier_store import FrontierStore

    raw = spark.createDataFrame(
        [
            ("h.example", bytearray(b"User-agent: *\nCrawl-delay: 2\n")),
            ("g.example", bytearray(b"User-agent: *\nDisallow: /x\n")),
        ],
        "host string, body binary",
    )
    delays = RulesBroadcast(spark, build_rules(raw, "BobBot")).delay_df()
    assert sorted(map(tuple, delays.collect())) == [
        ("g.example", None),
        ("h.example", 2.0),
    ]
    store = FrontierStore(str(tmp_path / "empty"), n_buckets=2)
    for df in (
        delays,
        store.read_frontier(spark),
        store.read_keys(spark),
        stale_archived(spark, store, 0.0),
    ):
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert not _python_nodes(plan), plan
