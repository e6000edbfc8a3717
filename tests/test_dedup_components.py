"""Connected components + duplicate resolution (operators/dedup.py:
connected_components, resolve_duplicates) — the step that turns dedup
candidate PAIRS into GROUPS. The driver oracle (dedup_components)
pins the full LSH->components pipeline against a DuckDB recursive-CTE
closure; these tests pin the operator semantics directly: agreement
with union-find ground truth, O(log n)-round chain convergence, input
normalization, determinism under repartitioning and across fan-out, the
max_iter warning, and the job and task budget of a small graph.

A graph that fits spark.sql.autoBroadcastJoinThreshold is resolved on
the driver; the semantic tests run on both paths (the default threshold
and -1, which forces the star-contraction rounds), and the tests about
the rounds themselves pin -1."""

import logging
import random
from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from test_superstep import _stage_tasks
from texting_robots_spark.operators.dedup import (
    connected_components,
    resolve_duplicates,
)
from texting_robots_spark.sources.local import local_frame


def _union_find_expected(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    out = {}
    for members in groups.values():
        m = min(members)
        for n in members:
            if n != m:
                out[n] = m
    return out


_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _rounds_only(spark):
    """The star-contraction rounds, whatever the graph's size."""
    spark.conf.set(_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.unset(_THRESHOLD)


@pytest.fixture
def rounds(spark):
    with _rounds_only(spark):
        yield


def _both_paths(spark, run):
    """``run()`` at the session's threshold (the driver path for every
    graph here) and at -1 (the rounds)."""
    driver = run()
    with _rounds_only(spark):
        return [driver, run()]


def _components(df):
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def test_connected_components_two_groups(spark):
    pairs = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("d4", "d3"), ("d5", "d4"), ("d8", "d9")],
        "id_a string, id_b string",
    )
    for got in _both_paths(spark, lambda: _components(pairs)):
        # transitive closure: d4/d5 reach d1 through the chain
        assert got == {"d2": "d1", "d3": "d1", "d4": "d1", "d5": "d1", "d9": "d8"}


def test_connected_components_long_chain(spark, rounds):
    """A 201-node path (worst case for naive min-label propagation —
    diameter 200) must resolve to ONE component within the default
    max_iter=25: star contraction is O(log n) rounds, so a chain like
    consecutive-crawl-snapshot near-dups cannot run away."""
    chain = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(200)],
        "id_a string, id_b string",
    )
    out = connected_components(chain).collect()
    assert len(out) == 200
    assert {r["component"] for r in out} == {"n0000"}


def test_connected_components_matches_union_find(spark):
    rnd = random.Random(11)
    edges = [
        (f"x{rnd.randrange(300):03d}", f"x{rnd.randrange(300):03d}")
        for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    for got in _both_paths(spark, lambda: _components(df)):
        assert got == _union_find_expected(edges)


def test_connected_components_normalizes_input(spark):
    """Duplicate pairs, reversed pairs, and self-loops must not change
    the result (LSH emits (a,b) per band — the same pair arrives many
    times; the capped path can emit star edges both ways)."""
    messy = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("a", "a"), ("b", "c"), ("c", "b"), ("b", "c")],
        "id_a string, id_b string",
    )
    for got in _both_paths(spark, lambda: _components(messy)):
        assert got == {"b": "a", "c": "a"}


def test_resolve_duplicates_survivors(spark):
    docs = spark.createDataFrame(
        [(f"d{i}",) for i in (1, 2, 3, 7, 8, 9)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("d2", "d1"), ("d2", "d3"), ("d8", "d9")], "id_a string, id_b string"
    )

    def run():
        out = resolve_duplicates(docs, pairs)
        rows = {r["doc_id"]: (r["component"], r["is_survivor"]) for r in out.collect()}
        # survivors per component; the survivors form the deduped corpus
        per_comp = (
            out.groupBy("component")
            .agg(F.sum(F.col("is_survivor").cast("int")).alias("k"))
            .collect()
        )
        return rows, per_comp

    for rows, per_comp in _both_paths(spark, run):
        assert rows == {
            "d1": ("d1", True),
            "d2": ("d1", False),
            "d3": ("d1", False),
            "d7": ("d7", True),  # isolated doc survives as its own group
            "d8": ("d8", True),
            "d9": ("d8", False),
        }
        assert all(r["k"] == 1 for r in per_comp)


def test_connected_components_deterministic_under_repartition(spark, rounds):
    rnd = random.Random(3)
    edges = [
        (f"y{rnd.randrange(150):03d}", f"y{rnd.randrange(150):03d}")
        for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    first = {r["node"]: r["component"] for r in connected_components(df).collect()}
    again = {
        r["node"]: r["component"]
        for r in connected_components(df.repartition(13)).collect()
    }
    assert first == again


_LOGGER = "texting_robots_spark.operators.dedup"
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _frame(spark, edges):
    """Pairs as a LocalTableScan, which the planner can size (a
    createDataFrame(list) RDD scan keeps the full fan-out)."""
    return local_frame(
        spark,
        "id_a string, id_b string",
        {"id_a": [a for a, _ in edges], "id_b": [b for _, b in edges]},
    )


def _chain(n):
    return [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n)]


def test_connected_components_warns_at_max_iter(spark, caplog, rounds):
    """A 201-node chain cannot contract to stars in one round: the
    max_iter exit logs the warning instead of returning silently."""
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        connected_components(_frame(spark, _chain(200)), max_iter=1).collect()
    assert any("did not converge" in r.getMessage() for r in caplog.records)


def test_connected_components_converged_chain_logs_nothing(spark, caplog, rounds):
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        out = connected_components(_frame(spark, _chain(200))).collect()
    assert {r["component"] for r in out} == {"n0000"}
    assert not [r for r in caplog.records if r.name == _LOGGER]


def test_connected_components_empty_pairs(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=_LOGGER):
        outs = _both_paths(spark, lambda: connected_components(_frame(spark, [])).collect())
    assert outs == [[], []]
    assert not [r for r in caplog.records if r.name == _LOGGER]


# jobs connected_components runs on the two-groups graph, with the
# collect of its output: one checkpoint of the edge set, then one job
# set per round, with the fingerprint observed on the checkpoint
_CC_JOB_BUDGET = 20


def test_connected_components_job_budget(spark, rounds):
    """A five-pair graph runs every stage as one task (the rounds sit in
    the sized fan-out) and stays within the job budget (the fingerprint
    rides each round's checkpoint job, with no aggregate job of its own)."""
    pairs = _frame(
        spark, [("d2", "d1"), ("d2", "d3"), ("d4", "d3"), ("d5", "d4"), ("d8", "d9")]
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = dag.nextJobId()
    rows, tasks = _stage_tasks(spark, lambda: connected_components(pairs).collect())
    jobs = dag.nextJobId() - job0
    assert {r["node"]: r["component"] for r in rows} == {
        "d2": "d1", "d3": "d1", "d4": "d1", "d5": "d1", "d9": "d8"
    }
    assert tasks and set(tasks) == {1}, tasks
    assert jobs <= _CC_JOB_BUDGET, jobs


def test_components_identical_sized_and_full_fan_out(spark):
    """The sized fan-out (one task per stage here) and the session's
    full fan-out (an advisory partition size of one byte) give the same
    components and survivors, on both paths."""
    rnd = random.Random(5)
    edges = [
        (f"z{rnd.randrange(400):03d}", f"z{rnd.randrange(400):03d}")
        for _ in range(300)
    ]
    pairs = _frame(spark, edges)
    docs = local_frame(spark, "doc_id string", {"doc_id": [f"z{i:03d}" for i in range(400)]})

    def run():
        comp = sorted(tuple(r) for r in connected_components(pairs).collect())
        res = sorted(tuple(r) for r in resolve_duplicates(docs, pairs).collect())
        return comp, res

    sized = _both_paths(spark, run)
    spark.conf.set(_ADVISORY, "1b")
    try:
        full = _both_paths(spark, run)
    finally:
        spark.conf.unset(_ADVISORY)
    assert sized[0] == sized[1] == full[0] == full[1]
    assert sized[0][0] and len(sized[0][1]) == 400


def test_small_graph_resolved_in_three_jobs(spark):
    """At the session's threshold the five-pair graph is collected and
    resolved on the driver: the edge checkpoint (two jobs under AQE)
    and the collect, where the rounds run a job set per round. The
    result is a driver frame (a LocalTableScan)."""
    pairs = _frame(
        spark, [("d2", "d1"), ("d2", "d3"), ("d4", "d3"), ("d5", "d4"), ("d8", "d9")]
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = dag.nextJobId()
    comp = connected_components(pairs)
    jobs = dag.nextJobId() - job0
    assert jobs <= 3, jobs
    assert "LocalTableScan" in comp._jdf.queryExecution().executedPlan().toString()
    assert {r["node"]: r["component"] for r in comp.collect()} == {
        "d2": "d1", "d3": "d1", "d4": "d1", "d5": "d1", "d9": "d8"
    }


def test_integer_ids_on_both_paths(spark):
    """bigint ids order as numbers on both paths (as strings, "10"
    would sort before "9"). The output keeps the id type."""
    edges = [(10, 9), (9, 100), (7, 8)]
    pairs = local_frame(
        spark,
        "id_a bigint, id_b bigint",
        {"id_a": [a for a, _ in edges], "id_b": [b for _, b in edges]},
    )

    def run():
        comp = connected_components(pairs)
        return comp.schema.simpleString(), {r["node"]: r["component"] for r in comp.collect()}

    for schema, got in _both_paths(spark, run):
        assert schema == "struct<node:bigint,component:bigint>"
        assert got == {10: 9, 100: 9, 8: 7}


@pytest.mark.parametrize("max_iter", [0, -1])
def test_max_iter_below_one_is_rejected(spark, max_iter):
    """max_iter=0 returned the uncontracted edge list (a-b-c gave c -> b)
    with only a warning; a small graph would now ignore it too."""
    pairs = _frame(spark, [("a", "b"), ("b", "c")])
    docs = local_frame(spark, "doc_id string", {"doc_id": ["a", "b", "c"]})
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(pairs, max_iter=max_iter)
    with pytest.raises(ValueError, match="max_iter"):
        resolve_duplicates(docs, pairs, max_iter=max_iter)
