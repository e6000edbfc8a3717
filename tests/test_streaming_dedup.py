"""Streaming dedup (streaming/dedup.py): per-micro-batch incremental
LSH against the accumulated band index. Pins (a) batching-invariance —
the union of emitted pairs as UNDIRECTED edges equals the full-corpus
LSH no matter how the stream chops the corpus, (b) checkpoint resume
dedups late arrivals against everything indexed before, (c) an idle
re-call is a no-op."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from texting_robots_spark.operators.dedup import minhash_lsh_candidates
from texting_robots_spark.streaming.dedup import run_stream_dedup


def _clusters(n_groups=5, members=3, offset=0):
    rows = []
    for g in range(n_groups):
        body = " ".join(f"g{g}w{i}" for i in range(30))
        for m in range(members):
            rows.append((f"{offset + g * 10 + m}", body + f" v{m}"))
    return rows


def _write_file(rows, dest):
    """One plain parquet FILE (the file streaming source does not
    descend into directory-shaped spark outputs)."""
    pq.write_table(
        pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}
        ),
        dest,
    )


def _undirected(rows):
    return {frozenset((r["id_a"], r["id_b"])) for r in rows}


def test_stream_dedup_matches_batch_lsh_and_resumes(spark, tmp_path):
    wd = str(tmp_path / "sd")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    rows = _clusters()
    # groups straddle file boundaries: members of one near-dup cluster
    # arrive in DIFFERENT micro-batches
    thirds = [rows[0::3], rows[1::3], rows[2::3]]
    for i, chunk in enumerate(thirds):
        _write_file(chunk, os.path.join(src, f"arrival_{i}.parquet"))

    res = run_stream_dedup(spark, wd)
    assert res["batches"] == 3
    assert len(res["pairs"]) == 3 and len(res["index"]) == 3
    got = _undirected(spark.read.parquet(*res["pairs"]).collect())

    docs = spark.createDataFrame(rows, "doc_id string, text string")
    expected = _undirected(minhash_lsh_candidates(docs).collect())
    assert got == expected and expected  # same edges, and there are some

    # idle re-call: checkpoint remembers the processed files — no-op
    res2 = run_stream_dedup(spark, wd)
    assert res2["batches"] == 0
    assert res2["pairs"] == res["pairs"]

    # late arrival: new docs near-dup BOTH each other and archived docs
    late = _clusters(n_groups=2, members=2, offset=1000) + [
        ("999", rows[0][1])  # near-dup of an already-indexed group
    ]
    _write_file(late, os.path.join(src, "arrival_late.parquet"))
    res3 = run_stream_dedup(spark, wd)
    assert res3["batches"] == 1
    all_docs = spark.createDataFrame(
        rows + late, "doc_id string, text string"
    )
    got_all = _undirected(spark.read.parquet(*res3["pairs"]).collect())
    assert got_all == _undirected(minhash_lsh_candidates(all_docs).collect())
    # the late doc paired against the ARCHIVE, not just its own batch
    last = spark.read.parquet(res3["pairs"][-1]).collect()
    assert any(r["against"] == "base" and r["id_a"] == "999" for r in last)


def test_compact_dedup_index_preserves_results(spark, tmp_path):
    from texting_robots_spark.streaming.dedup import compact_dedup_index

    wd = str(tmp_path / "sdc")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    rows = _clusters(n_groups=3)
    thirds = [rows[0::3], rows[1::3], rows[2::3]]
    for i, chunk in enumerate(thirds):
        _write_file(chunk, os.path.join(src, f"a{i}.parquet"))
    res = run_stream_dedup(spark, wd)
    assert len(res["index"]) == 3
    before = spark.read.parquet(*res["index"]).collect()

    removed = compact_dedup_index(spark, wd)
    assert removed == 2
    left = [d for d in res["index"] if os.path.exists(d)]
    assert len(left) == 1  # only the newest epoch remains
    after = spark.read.parquet(left[0]).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    # late arrivals dedup against the COMPACTED index identically
    late = [("999", rows[0][1])]
    _write_file(late, os.path.join(src, "late.parquet"))
    res2 = run_stream_dedup(spark, wd)
    got = _undirected(spark.read.parquet(*res2["pairs"]).collect())
    all_docs = spark.createDataFrame(rows + late, "doc_id string, text string")
    assert got == _undirected(minhash_lsh_candidates(all_docs).collect())
    # a second compaction after more batches is a no-op-safe repeat
    assert compact_dedup_index(spark, wd) == 1
    assert compact_dedup_index(spark, wd) == 0


def test_compact_dedup_index_crash_recovery(spark, tmp_path):
    """Crash-safety of the staged compaction (round-7 ADVICE, medium —
    the old in-place overwrite deleted the target epoch before the
    merged rows were durable): at every crash point either the original
    target epoch or a committed staging replacement exists, and both
    entry points restore the committed view before reading."""
    import shutil

    from texting_robots_spark.streaming.dedup import (
        _STAGING_PREFIX,
        _is_complete,
        _mark_committed,
        _recover_compaction,
    )

    wd = str(tmp_path / "sdx")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    rows = _clusters(n_groups=3)
    thirds = [rows[0::3], rows[1::3], rows[2::3]]
    for i, chunk in enumerate(thirds):
        _write_file(chunk, os.path.join(src, f"a{i}.parquet"))
    res = run_stream_dedup(spark, wd)
    index = os.path.join(wd, "index")
    target = res["index"][-1]
    target_id = os.path.basename(target).split("=", 1)[1]
    full = sorted(map(tuple, spark.read.parquet(*res["index"]).collect()))

    # crash point A: staging written but NOT committed -> discarded,
    # target epoch untouched
    staging = os.path.join(index, _STAGING_PREFIX + target_id)
    spark.read.parquet(*res["index"]).write.parquet(staging)
    _recover_compaction(index)
    assert not os.path.exists(staging) and _is_complete(target)

    # crash point B: staging committed, target renamed away (the window
    # between the two renames) -> the next entry-point call completes
    # the swap; no index rows are lost
    spark.read.parquet(*res["index"]).write.parquet(staging)
    _mark_committed(staging)
    shutil.move(target, os.path.join(index, ".compact_trash"))
    assert not os.path.exists(target)
    res2 = run_stream_dedup(spark, wd)  # runs _recover_compaction first
    assert res2["batches"] == 0
    assert _is_complete(target)
    merged = sorted(map(tuple, spark.read.parquet(target).collect()))
    assert merged == full  # the recovered target holds the full merge
