"""Streaming dedup: each micro-batch of documents dedups against
itself AND the accumulated LSH band index of every prior batch.

    doc parquet files (src/)  ->  readStream
        -> foreachBatch:
             base index   = union of index/epoch=<i> for i < batchId
             new index    = lsh_band_index(minhash_signature(batch))
             pairs        = incremental_lsh_candidates(batch, base)
             write pairs  -> out/epoch=<batchId>   (+ _COMMITTED)
             write index  -> index/epoch=<batchId> (+ _COMMITTED)

This is the rolling-crawl dedup (operators/dedup.py:
incremental_lsh_candidates) mounted on Structured Streaming: per
micro-batch cost is O(batch) signature work plus one bucket join
against the stored index — archived document TEXT is never re-read,
only its fixed-width band index. Replay-idempotent by epoch
discipline: every artifact lands under epoch=<batchId> with a
_COMMITTED marker written last, a replayed batch reads only epochs
STRICTLY below its id and atomically overwrites its own, so a crash
anywhere leaves the next attempt seeing exactly what the first saw.

Batching-invariance: the UNION of emitted pairs, read as undirected
edges, equals the full-corpus ``minhash_lsh_candidates`` output no
matter how the stream chops the corpus into batches (property-tested
in tests/test_streaming_dedup.py) — only the orientation metadata
(``against`` = 'new' vs 'base') depends on arrival order.
"""

from __future__ import annotations

import glob
import os
from typing import List, Optional

from pyspark.sql import SparkSession

from ..operators.dedup import (
    incremental_lsh_candidates,
    lsh_band_index,
    minhash_signature,
)
from ..sources.local import local_frame

__all__ = ["run_stream_dedup", "compact_dedup_index", "DOC_DDL"]

DOC_DDL = "doc_id string, text string"

_COMMIT_MARKER = "_COMMITTED"


def _mark_committed(epoch_dir: str) -> None:
    """Write the epoch-local commit marker AFTER the parquet write.
    Completeness used to be inferred from part-file presence, which
    only worked for empty DataFrames because Spark happens to write a
    schema-only part file (SPARK-23271) — an implementation detail. The
    marker makes "this epoch is fully written" explicit (round-5
    ADVICE): it is the last file created, so a crash anywhere inside
    the epoch write leaves no marker and the dir is never selected."""
    with open(os.path.join(epoch_dir, _COMMIT_MARKER), "w"):
        pass


def _is_complete(epoch_dir: str) -> bool:
    return os.path.exists(os.path.join(epoch_dir, _COMMIT_MARKER))


def _epoch(epoch_dir: str) -> int:
    return int(os.path.basename(epoch_dir).split("=", 1)[1])


def _prior_epoch_paths(table_dir: str, batch_id: float) -> List[str]:
    """Complete epoch partitions STRICTLY below ``batch_id``, in epoch
    order. A replayed micro-batch (foreachBatch re-runs a failed batch
    under the same id) must never read its own epoch's half-committed
    rows — excluding ``epoch=batch_id`` (and anything later) makes the
    read/write sets disjoint and the replay lossless. Completeness is
    keyed on the _COMMITTED marker, not part-file presence."""
    return [
        d
        for d in sorted(glob.glob(os.path.join(table_dir, "epoch=*")), key=_epoch)
        if _epoch(d) < batch_id and _is_complete(d)
    ]


def run_stream_dedup(
    spark: SparkSession,
    workdir: str,
    n_hashes: int = 4,
    band_size: int = 2,
    base_hash: str = "xxhash64",
    max_bucket_size: Optional[int] = None,
    max_files_per_batch: int = 1,
    timeout_sec: float = 300.0,
) -> dict:
    """Consume every parquet file currently under ``<workdir>/src``
    (schema ``DOC_DDL``) as a dedup stream; returns {"pairs": list of
    committed pair-epoch dirs, "index": list of committed index-epoch
    dirs, "batches": batches processed in this call}.

    Runs with ``availableNow`` — processes what has arrived, then
    stops; calling again on the same ``workdir`` after more files land
    continues from the checkpoint with fresh batch ids, dedup'ing the
    new arrivals against everything already indexed. That makes the
    daily-ingest loop one call per day with no driver state carried
    between calls. ``max_files_per_batch`` bounds per-batch work (and
    with it executor memory) regardless of how many files piled up.
    """
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    index = os.path.join(workdir, "index")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(src, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    os.makedirs(index, exist_ok=True)
    # finish (or discard) an interrupted compaction before reading the
    # epoch set — see compact_dedup_index's crash-safety contract
    _recover_compaction(index)

    bucket_t = "string" if base_hash == "md5" else "bigint"
    index_ddl = f"doc_id string, band int, bucket {bucket_t}"
    processed = {"n": 0}

    def _process(batch_df, batch_id: int) -> None:
        prior = _prior_epoch_paths(index, batch_id)
        if prior:
            base_index = spark.read.parquet(*prior)
        else:
            base_index = local_frame(spark, index_ddl)
        batch = batch_df.select("doc_id", "text")
        # the batch's band index has two consumers (the pairing step and
        # the epoch write below): compute the shingling+hashing — the
        # dominant per-batch cost — ONCE and cache it across both
        # (round-7 ADVICE: the old shape rebuilt it inside
        # incremental_lsh_candidates and again for the index write)
        new_index = lsh_band_index(
            minhash_signature(batch, "text", n_hashes, base_hash),
            n_hashes=n_hashes,
            band_size=band_size,
            base_hash=base_hash,
        ).cache()
        try:
            pairs = incremental_lsh_candidates(
                batch,
                base_index,
                n_hashes=n_hashes,
                band_size=band_size,
                base_hash=base_hash,
                max_bucket_size=max_bucket_size,
                new_index=new_index,
            )
            pair_dir = os.path.join(out, f"epoch={batch_id}")
            index_dir = os.path.join(index, f"epoch={batch_id}")
            # overwrite = atomic idempotent replay of a crashed batch
            pairs.write.mode("overwrite").parquet(pair_dir)
            _mark_committed(pair_dir)
            new_index.write.mode("overwrite").parquet(index_dir)
            _mark_committed(index_dir)
        finally:
            new_index.unpersist()
        processed["n"] += 1

    stream = (
        spark.readStream.schema(DOC_DDL)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - timeout guard
        q.stop()
    return {
        "pairs": sorted(
            d for d in glob.glob(os.path.join(out, "epoch=*")) if _is_complete(d)
        ),
        "index": sorted(
            d
            for d in glob.glob(os.path.join(index, "epoch=*"))
            if _is_complete(d)
        ),
        "batches": processed["n"],
    }


_STAGING_PREFIX = ".compact_staging_epoch="
_TRASH_DIR = ".compact_trash"


def _recover_compaction(index: str) -> None:
    """Finish or discard an interrupted ``compact_dedup_index``.

    Invariant the staging protocol maintains: the target epoch dir is
    only ever renamed away AFTER its full replacement (old target rows
    included) is durable and marked in the staging dir — so at every
    crash point either the original target or a committed staging copy
    exists, and this sweep restores the committed view."""
    import shutil

    for s in glob.glob(os.path.join(index, _STAGING_PREFIX + "*")):
        target = os.path.join(
            index, "epoch=" + os.path.basename(s).split("=", 1)[1]
        )
        if _is_complete(s) and not os.path.exists(target):
            os.replace(s, target)  # crash fell between the two renames
        else:
            shutil.rmtree(s, ignore_errors=True)
    shutil.rmtree(os.path.join(index, _TRASH_DIR), ignore_errors=True)


def compact_dedup_index(spark: SparkSession, workdir: str) -> int:
    """Merge every committed index epoch into the newest one and drop
    the rest; returns the number of epochs removed. A daily-ingest
    stream accumulates one epoch dir per micro-batch, and
    ``_prior_epoch_paths`` reads them ALL each batch — after 10^4
    batches that is 10^4 directory listings per step. Compaction keeps
    the read set O(1) between calls.

    Crash-safe via staging + atomic renames (round-7 ADVICE: the old
    in-place overwrite deleted the target epoch — including its
    _COMMITTED marker — before the merged rows were durable, so a crash
    mid-write silently lost that epoch's rows forever): the merge is
    written to a staging dir and marked committed there; only then is
    the old target renamed aside and the staging dir renamed over it
    (both single atomic renames). ``_recover_compaction`` — run at the
    top of this function and of ``run_stream_dedup`` — completes the
    swap if the crash fell between the renames and discards uncommitted
    staging leftovers otherwise, so the original target stays intact
    until its replacement is fully committed. Lower epochs are deleted
    last; a crash before that leaves rows duplicated across epochs —
    harmless (``incremental_lsh_candidates`` dedups pairs with a
    groupBy), and the next compaction removes them. Only run between
    ``run_stream_dedup`` calls (the stream reads the index inside its
    own batches).
    """
    import shutil

    index = os.path.join(workdir, "index")
    _recover_compaction(index)
    epochs = _prior_epoch_paths(index, float("inf"))
    if len(epochs) < 2:
        return 0
    target = epochs[-1]
    staging = os.path.join(index, f"{_STAGING_PREFIX}{_epoch(target)}")
    shutil.rmtree(staging, ignore_errors=True)
    # reads epochs, writes staging — input dirs untouched, so no
    # localCheckpoint materialization is needed anymore
    spark.read.parquet(*epochs).write.parquet(staging)
    _mark_committed(staging)
    trash = os.path.join(index, _TRASH_DIR)
    shutil.rmtree(trash, ignore_errors=True)
    os.replace(target, trash)
    os.replace(staging, target)
    shutil.rmtree(trash, ignore_errors=True)
    for d in epochs[:-1]:
        shutil.rmtree(d, ignore_errors=True)
    return len(epochs) - 1
