"""Stateful streaming operators: the crawl loop's URL-seen set in
Structured Streaming GROUP STATE (``applyInPandasWithState``).

Per-host politeness is not kept here: the streaming crawl loop
(streaming/loop.py) runs the batch superstep's step core, whose
politeness clock is the host_state table, checkpointed per epoch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

__all__ = ["SEEN_INPUT_DDL", "SEEN_OUTPUT_DDL", "stream_seen_filter"]


# ---------------------------------------------------------------------------
# Streaming URL-seen set: per-partition bloom bits in group state
# ---------------------------------------------------------------------------

SEEN_INPUT_DDL = (
    "url_hash long, url string, host string, priority double, depth int, "
    "step int"
)
SEEN_OUTPUT_DDL = SEEN_INPUT_DDL


def stream_seen_filter(
    candidates: DataFrame, cfg, emit_maybe: bool = False
) -> DataFrame:
    """Streaming first-seen filter: the bloom bits of each url_hash
    partition live in GROUP STATE (``n_bits/8`` bytes per partition,
    bounded by config — not by stream length) and are OR-updated as
    batches arrive.

    ``emit_maybe=False`` (drop mode): emits only rows whose hash probes
    clean. A bloom false positive DROPS a genuinely-new URL — size
    ``cfg.n_bits`` for the expected stream volume (FPR ~
    (1-exp(-kn/m))^k, same math as the batch filter in
    operators/seen.py, which this reuses bit-for-bit).

    ``emit_maybe=True`` (annotate mode): emits EVERY in-batch-unique row
    with a ``maybe_seen`` flag instead of dropping, exactly like the
    batch engine's ``probe_bloom`` — so a downstream exact anti-join
    (streaming/loop.py's seen side table) can rescue false positives.
    With the backstop the stream loses NO URLs, matching the batch
    superstep's semantics at any bloom size.

    Within a batch, duplicates collapse to the first occurrence by
    (step, url_hash) — deterministic regardless of arrival order (this
    in-batch dedup is exact, not probabilistic, in both modes).
    ``cfg`` is an operators.seen.BloomConfig.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    import numpy as np

    from ..operators.seen import _bit_positions

    out_cols = ["url_hash", "url", "host", "priority", "depth", "step"]
    out_ddl = SEEN_OUTPUT_DDL + (", maybe_seen boolean" if emit_maybe else "")

    def dedup(key, pdfs, state):
        rows = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            bits = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            bits = np.zeros(cfg.n_bits // 8, dtype=np.uint8)
        rows = (
            rows.sort_values(["step", "url_hash"])
            .drop_duplicates("url_hash")
            .reset_index(drop=True)
        )
        hashes = rows["url_hash"].to_numpy(dtype=np.int64)
        maybe = np.ones(len(rows), dtype=bool)
        for pos in _bit_positions(hashes, cfg):
            maybe &= (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        fresh = rows[~maybe]
        fh = fresh["url_hash"].to_numpy(dtype=np.int64)
        for pos in _bit_positions(fh, cfg):
            np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        state.update((bits.tobytes(),))
        if emit_maybe:
            if len(rows):
                yield rows[out_cols].assign(maybe_seen=maybe)
        elif len(fresh):
            yield fresh[out_cols]

    keyed = candidates.withColumn(
        "partition_id",
        F.pmod(F.col("url_hash"), F.lit(cfg.n_partitions)).cast("int"),
    )
    return keyed.groupBy("partition_id").applyInPandasWithState(
        dedup,
        outputStructType=out_ddl,
        stateStructType="bits binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
