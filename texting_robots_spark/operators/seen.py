"""Partitioned bloom-filter URL-seen set + anti-join dedup.

A library operator: the crawl itself (plans/superstep.py) answers
"seen?" with one exact anti-join against the store's key set
(FrontierStore.read_keys), because a prefilter never saves that
key-side scan and its Python build and probe tasks cost more than the
rows it trims at the engine's scale. What this module offers, for a
caller whose key set is too large to scan per batch:

1. partition-stable bloom filters keyed by ``partition_id =
   pmod(url_hash, P)`` — numpy bit arrays built/probed with
   applyInPandas/cogroup (Spark has no public DataFrame bloom API);
2. candidates whose bloom probe says "definitely new" skip the exact
   check entirely;
3. only the ``maybe_seen`` remainder (true positives + FPR) goes through
   the exact left-anti join against frontier keys.

Sizing at design scale: 10^10 URLs at 1% FPR needs ~9.6 bits/URL ≈ 12 GB
of filter bits; across 4096 partitions that is ~3 MB per partition —
comfortably within one task's memory. Bloom bits support no deletion;
operators/cuckoo.py is the deletable variant over the same partitioning.

Everything is deterministic: hash mixing is splitmix64 on the already
deterministic xxhash64(url) — no RNG, no time.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["BloomConfig", "with_partition_id", "build_bloom", "merge_bloom", "probe_bloom"]

FILTERS_DDL = "partition_id int, bits binary, n_items long"

# fixed odd 64-bit salts for the k derived hash functions
_SALTS = (
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
    0x85EBCA77C2B2AE63,
    0xFF51AFD7ED558CCD,
)


@dataclass(frozen=True)
class BloomConfig:
    n_partitions: int = 32
    n_bits: int = 1 << 20  # bits per partition (power of two)
    n_hashes: int = 4

    def __post_init__(self):
        assert self.n_bits & (self.n_bits - 1) == 0, "n_bits must be a power of two"
        assert 1 <= self.n_hashes <= len(_SALTS)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bit_positions(url_hash: np.ndarray, cfg: BloomConfig) -> Iterable[np.ndarray]:
    h = url_hash.astype(np.int64).view(np.uint64)
    mask = np.uint64(cfg.n_bits - 1)
    for j in range(cfg.n_hashes):
        yield (_splitmix64(h ^ np.uint64(_SALTS[j])) & mask).astype(np.int64)


def with_partition_id(df: DataFrame, cfg: BloomConfig, hash_col: str = "url_hash") -> DataFrame:
    """Key ``df`` by the filter partition: pmod(hash, n_partitions).

    A pre-existing ``partition_id`` column is REUSED as-is (round 7):
    callers that already clustered on it keep their hash-partitioning,
    so the build/probe cogroup needs no further exchange. Contract: such a
    column must hold exactly ``pmod(hash_col, n_partitions)`` for THIS
    config — re-deriving it here would mint a fresh attribute and
    silently discard the upstream partitioning."""
    if "partition_id" in df.columns:
        return df
    return df.withColumn(
        "partition_id", F.pmod(F.col(hash_col), F.lit(cfg.n_partitions)).cast("int")
    )


def build_bloom(df: DataFrame, cfg: BloomConfig, hash_col: str = "url_hash") -> DataFrame:
    """Build per-partition filters from a DataFrame of url hashes.

    Output: (partition_id, bits, n_items) — one row per non-empty
    partition. The groupBy shuffles by partition_id only (tiny keys).
    """

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(cfg.n_bits // 8, dtype=np.uint8)
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        for pos in _bit_positions(hashes, cfg):
            np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["partition_id"].iloc[0])],
                "bits": [bits.tobytes()],
                "n_items": [len(pdf)],
            }
        )

    keyed = with_partition_id(df.select(F.col(hash_col).alias("url_hash")), cfg)
    return keyed.groupBy("partition_id").applyInPandas(_build, FILTERS_DDL)


def merge_bloom(filters: DataFrame, increment: DataFrame) -> DataFrame:
    """OR together filter versions per partition (both in FILTERS_DDL)."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        total = 0
        for raw, n in zip(pdf["bits"], pdf["n_items"]):
            arr = np.frombuffer(raw, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
            total += int(n)
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["partition_id"].iloc[0])],
                "bits": [acc.tobytes()],
                "n_items": [total],
            }
        )

    return (
        filters.unionByName(increment)
        .groupBy("partition_id")
        .applyInPandas(_merge, FILTERS_DDL)
    )


def probe_bloom(
    candidates: DataFrame,
    filters: DataFrame,
    cfg: BloomConfig,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Annotate candidates with ``maybe_seen``.

    cogroup(partition_id) keeps each filter's bits on the same task as
    its candidate slice — the filter bytes never fan out to every row.
    ``maybe_seen=False`` is definitive (bloom has no false negatives);
    True still needs the exact anti-join.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    out_schema += ", maybe_seen boolean"
    cols = [f.name for f in candidates.schema.fields]

    def _probe(key, cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if "partition_id" not in cols:
            # only synthesized keys are dropped; a caller-supplied
            # partition_id column is part of the declared output
            cand = cand.drop(columns=["partition_id"])
        if len(cand) == 0:
            return cand.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(filt) == 0:
            return cand.assign(maybe_seen=False)
        # OR all filter rows for this partition (tolerates unmerged increments)
        bits = np.frombuffer(filt["bits"].iloc[0], dtype=np.uint8)
        for raw in filt["bits"].iloc[1:]:
            bits = bits | np.frombuffer(raw, dtype=np.uint8)
        hashes = cand[hash_col].to_numpy(dtype=np.int64)
        maybe = np.ones(len(cand), dtype=bool)
        for pos in _bit_positions(hashes, cfg):
            maybe &= (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return cand.assign(maybe_seen=maybe)

    keyed = with_partition_id(candidates, cfg, hash_col)
    return (
        keyed.groupBy("partition_id")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(_probe, out_schema)
        .select(*cols, "maybe_seen")
    )
