"""Streaming dedup: each micro-batch of documents dedups against
itself AND the accumulated LSH band index of every prior batch.

    doc parquet files (src/)  ->  readStream
        -> foreachBatch (batch b; returns at once if the manifest
           already records b):
             base index = the index/ dirs the manifest lists
             new index  = lsh_band_index(minhash_signature(batch))
             pairs      = incremental_lsh_candidates(batch, base)
             write pairs -> index/snapshots/v<N>/pairs/
             write index -> index/snapshots/v<N>/index/  (every
                            compact_every-th batch: base + new, merged)
             commit      = the manifest rename, recording b; then the
                           index/ dirs it no longer lists are deleted

This is the rolling-crawl dedup (operators/dedup.py:
incremental_lsh_candidates) mounted on Structured Streaming: per
micro-batch cost is O(batch) signature work plus one bucket join
against the stored index — archived document TEXT is never re-read,
only its fixed-width band index, and a batch reads at most
``compact_every`` index directories however many batches ran.

Replay-idempotent through the same versioned table and manifest as
the crawl's FrontierStore (sources/frontier_store.py VersionedTable):
batch b writes only into the uncommitted version after the manifest's
current one, emptied first, and reads only what the manifest lists.
Its manifest rename is its last write, so a crash before it leaves
nothing a later batch reads, and a replay after it returns at once.

Batching-invariance: the UNION of emitted pairs, read as undirected
edges, equals the full-corpus ``minhash_lsh_candidates`` output no
matter how the stream chops the corpus into batches (property-tested
in tests/test_streaming_dedup.py) — only the orientation metadata
(``against`` = 'new' vs 'base') depends on arrival order.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    _check_cap,
    _check_lsh_shape,
    incremental_lsh_candidates,
    lsh_band_index,
    minhash_signature,
)
from ..sources.frontier_store import VersionedTable
from ..sources.local import local_frame

__all__ = ["run_stream_dedup", "DOC_DDL"]

DOC_DDL = "doc_id string, text string"


class _BandIndex(VersionedTable):
    """``<workdir>/index``: version v holds one batch's ``pairs/`` and
    an ``index/`` that is that batch's band index or, on a compacting
    batch, the merged index of every batch so far. The manifest's
    ``index`` lists the versions whose ``index/`` together hold every
    committed band-index row once."""

    def read_index(self, spark: SparkSession, ddl: str) -> DataFrame:
        listed = self._read_manifest().get("index", [])
        if not listed:
            return local_frame(spark, ddl)
        return spark.read.schema(ddl).parquet(
            *[self._snap_dir(v, "index") for v in listed]
        )

    def commit(
        self, pairs: DataFrame, new_index: DataFrame, base_index: DataFrame, meta: dict
    ) -> None:
        manifest = self._read_manifest()
        version = self._next_version(manifest["current"])
        listed = manifest.get("index", [])
        compact = len(listed) >= self.compact_every
        pairs.write.parquet(self._snap_dir(version, "pairs"))
        (base_index.unionByName(new_index) if compact else new_index).write.parquet(
            self._snap_dir(version, "index")
        )
        manifest.update(
            current=version,
            index=[version] if compact else listed + [version],
            meta=meta,
        )
        self._write_manifest(manifest)
        if compact:  # every other index/ dir, a crashed compaction's included
            keep = self._snap_dir(version, "index")
            for d in glob.glob(os.path.join(self.root, "snapshots", "*", "index")):
                if d != keep:
                    shutil.rmtree(d, ignore_errors=True)


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
    (schema ``DOC_DDL``) as a dedup stream; returns {"pairs": the
    committed batches' pair dirs, "index": the index dirs the manifest
    lists, "batches": batches committed in this call}.

    Runs with ``availableNow`` — processes what has arrived, then
    stops; calling again on the same ``workdir`` after more files land
    continues from the checkpoint with fresh batch ids, dedup'ing the
    new arrivals against everything already indexed. That makes the
    daily-ingest loop one call per day with no driver state carried
    between calls. ``max_files_per_batch`` bounds per-batch work (and
    with it executor memory) regardless of how many files piled up.

    A bad LSH shape, or one that differs from the shape the index
    was built with, raises ValueError before any query starts: bands
    of another shape share no bucket with the stored ones, so every
    late duplicate would be missed without an error.
    """
    _check_lsh_shape(n_hashes, band_size)
    _check_cap(max_bucket_size)
    if base_hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown base_hash: {base_hash!r}")
    shape = {"n_hashes": n_hashes, "band_size": band_size, "base_hash": base_hash}
    table = _BandIndex(os.path.join(workdir, "index"))
    meta = table.meta()
    built = {k: meta[k] for k in shape if k in meta}
    if built and built != shape:
        raise ValueError(f"{workdir} holds an index built with {built}, not {shape}")
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)

    bucket_t = "string" if base_hash == "md5" else "bigint"
    index_ddl = f"doc_id string, band int, bucket {bucket_t}"
    processed = {"n": 0}

    def _process(batch_df, batch_id: int) -> None:
        if table.meta().get("batch", -1) >= batch_id:
            return  # a replay of a committed batch
        base_index = table.read_index(spark, index_ddl)
        batch = batch_df.select("doc_id", "text")
        # the batch's band index has two consumers (the pairing step and
        # the index write): compute the shingling+hashing — the dominant
        # per-batch cost — ONCE and cache it across both
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
            table.commit(pairs, new_index, base_index, {"batch": batch_id, **shape})
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
        .option("checkpointLocation", os.path.join(workdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:  # pragma: no cover - timeout guard
        q.stop()
    manifest = table._read_manifest()
    return {
        "pairs": [
            table._snap_dir(v, "pairs") for v in range(manifest["current"] + 1)
        ],
        "index": [table._snap_dir(v, "index") for v in manifest.get("index", [])],
        "batches": processed["n"],
    }
