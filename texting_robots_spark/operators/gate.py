"""Robots gate operator: build per-host rules, broadcast, gate candidates.

Dataflow (SURVEY.md §3.4):

    robots_raw(host, body)
        --parse_robots UDF-->  rules_df(host, rules, delay, sitemaps, parse_error)
        --collect+broadcast--> RulesBroadcast
    candidates(host, url, ...)
        --robots_allowed UDF-> + allowed boolean     (narrow, no shuffle)
        --broadcast join-----> + crawl_delay float   (native, no UDF)

The rules table is tiny relative to the frontier (one row per host), so
it is broadcast to every executor once per rules version; the gate stage
is shuffle-free.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    _host_allowed,
    _parse_error_allows,
    make_allowed_udf,
    make_parse_robots_udf,
)
from ..sizing import sized_fan_out
from ..sources.local import local_frame

__all__ = [
    "build_rules",
    "build_rules_per_agent",
    "RulesBroadcast",
    "RulesTable",
    "gate",
    "gate_sharded",
]

# collision-safe internal salt column for gate_sharded (a user column
# named like this is rejected rather than silently overwritten)
_SALT_COL = "__trs_salt"


def build_rules(robots_raw: DataFrame, agent: str) -> DataFrame:
    """robots_raw(host, body binary) -> rules table for ``agent``.

    Output: (host, rules array<struct<pattern,is_allow>>, delay float,
    sitemaps array<string>, parse_error boolean); rules precedence-sorted.
    """
    parse = make_parse_robots_udf(agent)
    return robots_raw.select(
        "host", parse(F.col("body")).alias("_r")
    ).select("host", "_r.rules", "_r.delay", "_r.sitemaps", "_r.parse_error")


def build_rules_per_agent(robots_raw: DataFrame) -> DataFrame:
    """robots_raw(host, body binary, agent string) -> rules table with a
    per-row agent — one job for many (host, agent) combinations."""
    parse = make_parse_robots_udf(None)
    return robots_raw.select(
        "host", "agent", parse(F.col("body"), F.col("agent")).alias("_r")
    ).select("host", "agent", "_r.rules", "_r.delay", "_r.sitemaps", "_r.parse_error")


class RulesBroadcast:
    """Driver-collected, cluster-broadcast per-host rules table.

    ``value`` maps host -> (rules tuple, delay, parse_error). Collecting
    to the driver is deliberate: a rules row is O(robots.txt size) and
    there is one per *host*, orders of magnitude smaller than the
    frontier; a torch-broadcast dict gives the gate UDF O(1) lookup with
    zero join shuffle. For rules tables too big for one broadcast, shard
    by host-hash and gate per shard (same interface).
    """

    def __init__(self, spark: SparkSession, rules_df: DataFrame):
        rows = rules_df.select("host", "rules", "delay", "parse_error").collect()
        table = {
            r["host"]: (
                tuple((x["pattern"], x["is_allow"]) for x in (r["rules"] or ())),
                r["delay"],
                bool(r["parse_error"]),
            )
            for r in rows
        }
        self._spark = spark
        self.broadcast = spark.sparkContext.broadcast(table)
        self.n_hosts = len(table)
        self._delay_df: Optional[DataFrame] = None

    def delay_df(self) -> DataFrame:
        """Small (host, crawl_delay) DataFrame for native broadcast
        joins, built once from the driver-side table and reused by
        every superstep. It is a local frame (``sources.local``): its
        rows sit in the plan as a LocalTableScan, so the per-step scan
        starts no Python worker, where a ``createDataFrame(list)`` frame
        re-ran a PythonRDD deserialize in every slice on every step."""
        if self._delay_df is None:
            table = self.broadcast.value
            self._delay_df = local_frame(
                self._spark,
                "host string, crawl_delay double",
                {
                    "host": list(table),
                    "crawl_delay": [d for _, d, _ in table.values()],
                },
            )
        return self._delay_df

    def unpersist(self) -> None:
        self.broadcast.unpersist()


class RulesTable:
    """Distributed rules handle for huge rules tables (gate_sharded).

    Same role as RulesBroadcast but NOTHING touches the driver: the
    rules stay a DataFrame, the gate runs as a cogroup on (host, salt),
    and delays join as a regular column join (the planner broadcasts it
    while it fits and shuffles past that). This is the 10^7-10^8-host
    mode; RulesBroadcast stays the low-latency mode for rules tables
    that fit one broadcast.
    """

    def __init__(self, rules_df: DataFrame):
        self.rules_df = rules_df.cache()

    def delay_frame(self) -> DataFrame:
        """(host, crawl_delay) as a DataFrame — no driver collect."""
        return self.rules_df.select(
            "host", F.col("delay").cast("double").alias("crawl_delay")
        )

    def unpersist(self) -> None:
        self.rules_df.unpersist()


def gate(
    candidates: DataFrame,
    rules: RulesBroadcast,
    url_col: str = "url",
    host_col: str = "host",
    with_delay: bool = True,
    on_parse_error: str = "disallow",
    default_delay: Optional[float] = None,
) -> DataFrame:
    """Annotate candidates with ``allowed`` (and ``crawl_delay``).

    One narrow stage: the allowed UDF reads broadcast rules (no shuffle);
    the delay column comes from an explicitly-broadcast tiny join.
    Below the session's fan-out it runs the ``sizing.sized_fan_out``
    count of tasks: one Python task for a small batch.
    """
    allowed = make_allowed_udf(rules.broadcast, on_parse_error=on_parse_error)
    n, full = sized_fan_out(candidates.sparkSession, candidates)
    if n < full:
        candidates = candidates.coalesce(n)
    out = candidates.withColumn("allowed", allowed(F.col(host_col), F.col(url_col)))
    if with_delay:
        delays = rules.delay_df()
        if host_col != "host":
            delays = delays.withColumnRenamed("host", host_col)
        out = out.join(F.broadcast(delays), on=host_col, how="left")
        if default_delay is not None:
            out = out.withColumn(
                "crawl_delay", F.coalesce("crawl_delay", F.lit(float(default_delay)))
            )
    return out


def gate_sharded(
    candidates: DataFrame,
    rules_df: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    with_delay: bool = True,
    on_parse_error: str = "disallow",
    default_delay: Optional[float] = None,
    n_salts: int = 8,
    agent_col: Optional[str] = None,
) -> DataFrame:
    """``gate`` without the driver collect/broadcast — for rules tables
    too big for one broadcast (10^7-10^8 hosts would OOM the driver in
    RulesBroadcast).

    Shape: candidates shuffle on (host, salt); rules rows are replicated
    ``n_salts`` times (one robots.txt per host — tiny next to the
    candidate side) and cogrouped with their candidates, so each task
    runs the broadcast path's per-host kernel (``udfs._host_allowed``,
    over the same per-worker matcher LRU) once per cogroup. The salt
    bounds the hottest host's candidates to ~1/n_salts of its rows per
    task; below the session's fan-out, at ``n = sizing.sized_fan_out``
    of both sides, ``min(n_salts, n)`` salts and ``n`` partitions per
    side, since a group then holds about one advisory size at most.

    Output and semantics are identical to ``gate`` (verified by the
    equivalence test on the conformance corpus): hosts absent from
    rules_df allow everything; null URLs under a known host gate False;
    ``crawl_delay`` is attached from the rules row when ``with_delay``.

    MULTI-AGENT MODE (``agent_col``): when a crawl runs several bots
    over one frontier, candidates carry the acting agent per row and
    rules come from ``build_rules_per_agent`` keyed (host, agent) —
    the cogroup key and the per-worker matcher cache then include the
    agent, everything else is identical. This is the agent-
    parameterized gate the per-agent rules build feeds (reference
    parallel: Robot::new takes the agent per instantiation,
    lib.rs:394-403 — here one DataFrame pass gates all agents at
    once). The broadcast path deliberately has no multi-agent mode: a
    (host x agent) table multiplies the driver-collected size by the
    agent count, exactly the ceiling RulesTable exists to avoid; a
    single-agent-per-host fixture can still fold the agent into the
    host key (see the conformance driver query).
    """
    import pandas as pd

    error_allows = _parse_error_allows(on_parse_error)
    if n_salts < 1:
        raise ValueError(f"gate_sharded: n_salts must be >= 1, got {n_salts}")
    if _SALT_COL in candidates.columns:
        raise ValueError(
            f"gate_sharded: candidates already carry the internal column "
            f"{_SALT_COL!r} — rename it before gating"
        )
    cand_fields = [
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    ]
    out_schema = ", ".join(cand_fields) + ", allowed boolean"
    if with_delay:
        out_schema += ", crawl_delay double"
    cand_cols = [f.name for f in candidates.schema.fields]

    def _gate(key, cand: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        cand = cand.drop(columns=[_SALT_COL])
        if len(cand) == 0:
            out = cand.assign(allowed=pd.Series([], dtype=bool))
            return out.assign(crawl_delay=pd.Series([], dtype=float)) if with_delay else out
        entry = delay = None
        if len(rdf):
            row = rdf.iloc[0]
            delay = row["delay"]
            rrows = row["rules"]  # numpy array of dicts (Arrow struct)
            rules = tuple(
                (x["pattern"], x["is_allow"])
                for x in (rrows if rrows is not None else ())
            )
            entry = (rules, delay, bool(row["parse_error"]))
        # the agent rides the matcher cache key as a NUL-joined suffix
        # (NUL cannot appear in a hostname)
        cache_key = key[0] if agent_col is None else f"{key[0]}\x00{key[1]}"
        out = cand.assign(
            allowed=_host_allowed(
                cache_key, entry, cand[url_col].to_numpy(), error_allows
            )
        )
        if with_delay:
            if delay is not None and delay == delay:  # not None, not NaN
                d = float(delay)
            elif default_delay is not None:
                d = float(default_delay)
            else:
                d = None  # -> SQL NULL, matching gate()'s left join
            out = out.assign(crawl_delay=d)
        return out

    n, full = sized_fan_out(candidates.sparkSession, candidates, rules_df)
    if n < full:
        n_salts = min(n_salts, n)
    salted = candidates.withColumn(
        _SALT_COL, F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_salts)).cast("int")
    )
    key_cols = [host_col] + ([agent_col] if agent_col is not None else [])
    rules_salted = rules_df.select(
        host_col if host_col in rules_df.columns else F.col("host").alias(host_col),
        *([agent_col] if agent_col is not None else []),
        "rules",
        "delay",
        "parse_error",
    ).withColumn(_SALT_COL, F.explode(F.array(*[F.lit(s) for s in range(n_salts)])))
    # Rename-roundtrip the rules side to mint fresh attribute ids: when
    # a caller derives candidates and rules from the SAME upstream frame
    # (common in multi-agent crawls where both sides fan out from one
    # host list), the two cogroup children share attribute ids and
    # Spark's ambiguous-self-join check rejects the plan. Each Alias
    # gets a new exprId, so projecting every column to a temp name and
    # back disjoints the two outputs; the projections collapse in the
    # optimizer — zero runtime cost.
    _rcols = rules_salted.columns
    rules_salted = rules_salted.select(
        *[F.col(c).alias(f"__gs_{c}") for c in _rcols]
    ).select(*[F.col(f"__gs_{c}").alias(c) for c in _rcols])
    if n < full:
        # on the cogroup key, so each side keeps its one exchange
        salted = salted.repartition(n, *key_cols, _SALT_COL)
        rules_salted = rules_salted.repartition(n, *key_cols, _SALT_COL)
    return (
        salted.groupBy(*key_cols, _SALT_COL)
        .cogroup(rules_salted.groupBy(*key_cols, _SALT_COL))
        .applyInPandas(_gate, out_schema)
        .select(*cand_cols, *(["allowed", "crawl_delay"] if with_delay else ["allowed"]))
    )
