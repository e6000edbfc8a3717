"""Both robots gates size their Python stage from their input
(sizing.sized_fan_out): a small candidate set runs one task, with one
salt in gate_sharded; an input that needs the session's full fan-out
keeps the plan it had before sizing (no Coalesce, no numbered
repartition, n_salts salts)."""

import math

import pytest

from pyspark.sql import functions as F

from test_gate_sharded import _plan, advisory_size
from test_superstep import _stage_tasks
from texting_robots_spark.operators.gate import (
    RulesBroadcast,
    build_rules_per_agent,
    gate,
    gate_sharded,
)

_HOSTS = 6
_BODY = (
    b"User-agent: A\nDisallow: /a\n\n"
    b"User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"
)


def _size(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


@pytest.fixture(scope="module")
def frames(spark):
    """(host, agent)-keyed rules and a few hundred candidates, each one
    filled cached partition, so the planner has their size and every
    map stage runs one task."""
    raw = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (f"h{i}.example", bytearray(_BODY), agent)
                for i in range(_HOSTS)
                for agent in ("A", "B")
            ],
            1,
        ),
        "host string, body binary, agent string",
    )
    rules = build_rules_per_agent(raw).cache()
    host = F.concat(F.lit("h"), F.col("id") % _HOSTS, F.lit(".example"))
    path = F.element_at(
        F.array(*map(F.lit, ["/a/", "/private/", "/ok/"])),
        (F.col("id") % 3 + 1).cast("int"),
    )
    cand = (
        spark.range(400, numPartitions=1)
        .select(
            host.alias("host"),
            F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("agent"),
            F.concat(F.lit("https://"), host, path, F.col("id")).alias("url"),
        )
        .cache()
    )
    rules.count(), cand.count()
    single = rules.where("agent = 'B'").drop("agent")
    yield {
        "rules": rules,
        "cand": cand,
        "single": single,
        "bc": RulesBroadcast(spark, single),
    }
    rules.unpersist()
    cand.unpersist()


def _gates(f, cand=None):
    """The three gate modes over ``cand`` (default: the small set)."""
    cand = f["cand"] if cand is None else cand
    return {
        "gate": lambda: gate(cand.drop("agent"), f["bc"], with_delay=False),
        "sharded": lambda: gate_sharded(
            cand.drop("agent"), f["single"], with_delay=False
        ),
        "multi_agent": lambda: gate_sharded(
            cand, f["rules"], with_delay=False, agent_col="agent"
        ),
    }


@pytest.mark.parametrize("mode", ["gate", "sharded", "multi_agent"])
def test_small_input_runs_one_task_per_gate_stage(spark, frames, mode):
    """With AQE off (as in the crawl), the plan's own fan-out shows: the
    session's 8 partitions would run 8 cogroup tasks, and the broadcast
    gate one task per input partition."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    cand = frames["cand"].repartition(4) if mode == "gate" else None
    try:
        rows, tasks = _stage_tasks(
            spark, lambda: _gates(frames, cand)[mode]().collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(rows) == 400
    assert tasks and set(tasks) == {1}, tasks


@pytest.mark.parametrize("n", [1, 3])
def test_sized_plan_keeps_one_exchange_per_side(spark, frames, n):
    """At a fan-out of n below the session's, gate_sharded runs n salts
    and each cogroup side has exactly one exchange, numbered n; gate
    coalesces its candidates to n."""
    f = frames
    both = _size(f["cand"]) + _size(f["rules"])
    with advisory_size(spark, f"{math.ceil(both / n)}b"):
        sharded = _plan(_gates(f)["multi_agent"]())
    assert sharded.count("Exchange") == 2, sharded
    assert sharded.count("REPARTITION_BY_NUM") == 2, sharded
    assert f"explode([{','.join(map(str, range(n)))}])" in sharded, sharded
    one = _size(f["cand"].drop("agent"))
    with advisory_size(spark, f"{math.ceil(one / n)}b"):
        broadcast = _plan(_gates(f)["gate"]())
    assert f"Coalesce {n}" in broadcast, broadcast


@pytest.mark.parametrize("big", [False, True], ids=["advisory_1b", "range_1e10"])
def test_full_fan_out_keeps_the_unsized_plan(spark, frames, big):
    """An input that needs the session's fan-out, either at a 1-byte
    advisory size or estimated at 10^10 rows (never run), plans as
    before sizing: no Coalesce, no numbered repartition, and the rules
    side replicated n_salts times."""
    cand = None
    if big:
        cand = spark.range(10**10).select(
            F.lit("h0.example").alias("host"),
            F.lit("A").alias("agent"),
            F.concat(F.lit("https://h0.example/"), F.col("id")).alias("url"),
        )
    with advisory_size(spark, None if big else "1b"):
        plans = {mode: _plan(run()) for mode, run in _gates(frames, cand).items()}
    assert "Coalesce" not in plans["gate"], plans["gate"]
    for mode in ("sharded", "multi_agent"):
        assert "REPARTITION_BY_NUM" not in plans[mode], plans[mode]
        assert plans[mode].count("Exchange") == 2, plans[mode]
        assert "explode([0,1,2,3,4,5,6,7])" in plans[mode], plans[mode]
