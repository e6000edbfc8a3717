"""Partitioned cuckoo-filter seen-set — the deletable bloom alternative.

A library operator with no engine caller: the crawl's seen set is the
store's exact key set, and re-crawl (plans/recrawl.py) queues URLs
again without deleting anything from a filter. It serves a caller whose
approximate seen set must support deletion. Same partitioning contract
as the bloom path (``partition_id = pmod(url_hash, P)``), same
applyInPandas/cogroup plumbing.

Per partition: ``n_buckets`` (power of two) x ``slots_per_bucket`` slots
of 16-bit fingerprints (0 = empty). Standard cuckoo-filter scheme
(Fan et al., CoNLL'14 "Cuckoo Filter: Practically Better Than Bloom"):
fingerprint fp(x) != 0, candidate buckets i1 = h mod m and
i2 = i1 XOR hash(fp), insert evicts a random-ish (deterministic here)
victim on overflow. ~95% load max; FPR ~ 2*slots/2^16 at 16-bit tags.

All arithmetic runs on the deterministic splitmix64 of the xxhash64 url
hash — no RNG, no time; eviction choice is derived from the kick counter
so builds are reproducible across partitionings.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .seen import _splitmix64, with_partition_id

__all__ = ["CuckooConfig", "build_cuckoo", "probe_cuckoo", "delete_cuckoo"]

CUCKOO_DDL = "partition_id int, table binary, n_items long, n_dropped long"
# probe_cuckoo's internal filter-partition key (never a caller column)
_PROBE_KEY = "__trs_cuckoo_pid"

_FP_MIX = np.uint64(0x5BD1E995)


@dataclass(frozen=True)
class CuckooConfig:
    n_partitions: int = 32
    n_buckets: int = 1 << 14  # per partition (power of two)
    slots_per_bucket: int = 4
    max_kicks: int = 500

    def __post_init__(self):
        assert self.n_buckets & (self.n_buckets - 1) == 0


def _fingerprint(h: np.ndarray) -> np.ndarray:
    fp = (_splitmix64(h) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _index_pair(h: np.ndarray, fp: np.ndarray, n_buckets: int):
    mask = np.uint64(n_buckets - 1)
    i1 = (h & mask).astype(np.int64)
    i2 = (np.uint64(i1.view(np.uint64)) ^ (fp.astype(np.uint64) * _FP_MIX)) & mask
    return i1, i2.astype(np.int64)


class _CuckooTable:
    """In-memory per-partition table (numpy uint16 [n_buckets, slots])."""

    def __init__(self, cfg: CuckooConfig, raw: bytes | None = None):
        self.cfg = cfg
        if raw is None:
            self.t = np.zeros((cfg.n_buckets, cfg.slots_per_bucket), dtype=np.uint16)
        else:
            self.t = (
                np.frombuffer(raw, dtype=np.uint16)
                .reshape(cfg.n_buckets, cfg.slots_per_bucket)
                .copy()
            )

    def _try_put(self, idx: int, fp: int) -> bool:
        row = self.t[idx]
        empty = np.nonzero(row == 0)[0]
        if len(empty):
            row[empty[0]] = fp
            return True
        return False

    def insert(self, h: np.uint64) -> bool:
        fp_arr = _fingerprint(np.array([h], dtype=np.uint64))
        fp = int(fp_arr[0])
        i1, i2 = _index_pair(np.array([h], dtype=np.uint64), fp_arr, self.cfg.n_buckets)
        i1, i2 = int(i1[0]), int(i2[0])
        # already present -> idempotent insert (URL-seen semantics)
        if fp in self.t[i1] or fp in self.t[i2]:
            return True
        if self._try_put(i1, fp) or self._try_put(i2, fp):
            return True
        # eviction loop; victim slot chosen deterministically from kick no.
        idx = i1 if (fp & 1) else i2
        cur = fp
        for kick in range(self.cfg.max_kicks):
            slot = kick % self.cfg.slots_per_bucket
            cur, self.t[idx, slot] = int(self.t[idx, slot]), cur
            alt = (
                np.uint64(idx)
                ^ (np.uint64(cur) * _FP_MIX)
            ) & np.uint64(self.cfg.n_buckets - 1)
            idx = int(alt)
            if self._try_put(idx, cur):
                return True
        return False  # table over capacity

    def insert_many(self, hashes: np.ndarray) -> tuple:
        """Insert ``hashes`` IN ORDER; returns (n_inserted, n_dropped).

        Bit-identical table state and decisions to calling ``insert``
        per key in the same order (property-pinned in
        tests/test_cuckoo.py) — but ~20x faster per key: fingerprints
        and bucket pairs are precomputed in one vectorized pass, and
        the insert loop runs on plain Python ints over a list-of-lists
        view instead of allocating numpy scalars per key. At the design
        scale (10^10 keys / 4096 partitions ~ 2.4M keys per task) this
        is the difference between ~80s and ~4s of per-task build time
        (guide §1.2: per-task work, after the job shape is right).
        """
        if len(hashes) == 0:
            return 0, 0
        cfg = self.cfg
        fps = _fingerprint(hashes)
        i1s, i2s = _index_pair(hashes, fps, cfg.n_buckets)
        fps = fps.astype(np.int64)
        tbl = self.t.tolist()
        mask = cfg.n_buckets - 1
        mix = int(_FP_MIX)
        slots = cfg.slots_per_bucket
        n = dropped = 0
        for k in range(len(hashes)):
            fp = int(fps[k])
            i1 = int(i1s[k])
            r1 = tbl[i1]
            if fp in r1:
                n += 1
                continue
            i2 = int(i2s[k])
            r2 = tbl[i2]
            if fp in r2:
                n += 1
                continue
            if 0 in r1:
                r1[r1.index(0)] = fp
                n += 1
                continue
            if 0 in r2:
                r2[r2.index(0)] = fp
                n += 1
                continue
            # eviction loop — victim slot chosen deterministically from
            # the kick number, exactly as insert() does
            idx = i1 if (fp & 1) else i2
            cur = fp
            ok = False
            for kick in range(cfg.max_kicks):
                slot = kick % slots
                row = tbl[idx]
                cur, row[slot] = row[slot], cur
                # uint64-wrapping multiply: the low bits the mask keeps
                # are unaffected by truncating the product to 64 bits
                idx = (idx ^ ((cur * mix) & 0xFFFFFFFFFFFFFFFF)) & mask
                row = tbl[idx]
                if 0 in row:
                    row[row.index(0)] = cur
                    ok = True
                    break
            if ok:
                n += 1
            else:
                dropped += 1  # table over capacity; final victim dropped
        self.t = np.asarray(tbl, dtype=np.uint16)
        return n, dropped

    def contains_many(self, hashes: np.ndarray) -> np.ndarray:
        fp = _fingerprint(hashes)
        i1, i2 = _index_pair(hashes, fp, self.cfg.n_buckets)
        fp16 = fp[:, None]
        return ((self.t[i1] == fp16).any(axis=1)) | ((self.t[i2] == fp16).any(axis=1))

    def delete(self, h: np.uint64) -> bool:
        fp_arr = _fingerprint(np.array([h], dtype=np.uint64))
        fp = int(fp_arr[0])
        i1, i2 = _index_pair(np.array([h], dtype=np.uint64), fp_arr, self.cfg.n_buckets)
        for idx in (int(i1[0]), int(i2[0])):
            slots = np.nonzero(self.t[idx] == fp)[0]
            if len(slots):
                self.t[idx, slots[0]] = 0
                return True
        return False

    def tobytes(self) -> bytes:
        return self.t.tobytes()


def _hashes(pdf: pd.DataFrame, col: str) -> np.ndarray:
    return pdf[col].to_numpy(dtype=np.int64).view(np.uint64)


def build_cuckoo(df: DataFrame, cfg: CuckooConfig, hash_col: str = "url_hash") -> DataFrame:
    """Build per-partition cuckoo tables from url hashes."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = _CuckooTable(cfg)
        # insert_many = the batch twin of insert() (identical order and
        # decisions over the same np.unique order). n_dropped surfaces
        # over-capacity partitions: a dropped key is NOT in the filter,
        # so downstream probes would yield false negatives — callers
        # check n_dropped and must resize (n_buckets) or re-partition
        # instead of undercounting silently.
        n, dropped = table.insert_many(np.unique(_hashes(pdf, hash_col)))
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["partition_id"].iloc[0])],
                "table": [table.tobytes()],
                "n_items": [n],
                "n_dropped": [dropped],
            }
        )

    keyed = with_partition_id(df.select(F.col(hash_col).alias("url_hash")), cfg)
    return keyed.groupBy("partition_id").applyInPandas(_build, CUCKOO_DDL)


def probe_cuckoo(
    candidates: DataFrame, filters: DataFrame, cfg: CuckooConfig, hash_col: str = "url_hash"
) -> DataFrame:
    """Annotate candidates with ``maybe_seen`` (no false negatives).

    The cogroup keys on its own ``pmod(hash, cfg.n_partitions)`` column.
    A ``partition_id`` the candidates already carry is plain data here:
    it may be taken modulo another partition count (a frame clustered
    for a bloom filter's), and probing by it would look keys up in the
    wrong filter, a false negative."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    out_schema += ", maybe_seen boolean"
    cols = [f.name for f in candidates.schema.fields]

    def _probe(key, cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        cand = cand.drop(columns=[_PROBE_KEY])
        if len(cand) == 0:
            return cand.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(filt) == 0:
            return cand.assign(maybe_seen=False)
        table = _CuckooTable(cfg, bytes(filt["table"].iloc[0]))
        return cand.assign(maybe_seen=table.contains_many(_hashes(cand, hash_col)))

    keyed = candidates.withColumn(
        _PROBE_KEY, F.pmod(F.col(hash_col), F.lit(cfg.n_partitions)).cast("int")
    )
    return (
        keyed.groupBy(_PROBE_KEY)
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(_probe, out_schema)
        .select(*cols, "maybe_seen")
    )


def delete_cuckoo(
    filters: DataFrame, deletions: DataFrame, cfg: CuckooConfig, hash_col: str = "url_hash"
) -> DataFrame:
    """Remove url hashes (re-crawl scheduling) — THE operation bloom
    cannot do. Returns updated filters; hashes absent from the filter are
    ignored. Only delete hashes that were actually inserted, per the
    cuckoo-filter contract."""

    def _delete(key, filt: pd.DataFrame, dels: pd.DataFrame) -> pd.DataFrame:
        if len(filt) == 0:
            return pd.DataFrame(
                {"partition_id": [], "table": [], "n_items": [], "n_dropped": []}
            ).astype({"partition_id": "int32", "n_items": "int64", "n_dropped": "int64"})
        table = _CuckooTable(cfg, bytes(filt["table"].iloc[0]))
        n = int(filt["n_items"].iloc[0])
        for h in np.unique(_hashes(dels, hash_col)) if len(dels) else []:
            if table.delete(h):
                n -= 1
        return pd.DataFrame(
            {
                "partition_id": [int(filt["partition_id"].iloc[0])],
                "table": [table.tobytes()],
                "n_items": [n],
                "n_dropped": [int(filt["n_dropped"].iloc[0]) if "n_dropped" in filt else 0],
            }
        )

    keyed = with_partition_id(deletions.select(F.col(hash_col).alias("url_hash")), cfg)
    return (
        filters.groupBy("partition_id")
        .cogroup(keyed.groupBy("partition_id"))
        .applyInPandas(_delete, CUCKOO_DDL)
    )
