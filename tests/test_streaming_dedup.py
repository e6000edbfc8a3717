"""Streaming dedup (streaming/dedup.py): per-micro-batch incremental
LSH against the accumulated band index. Pins (a) batching-invariance —
the union of emitted pairs as UNDIRECTED edges equals the full-corpus
LSH no matter how the stream chops the corpus, (b) checkpoint resume
dedups late arrivals against everything indexed before, (c) an idle
re-call is a no-op."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from texting_robots_spark.operators.dedup import (
    lsh_band_index,
    minhash_lsh_candidates,
    minhash_signature,
)
from texting_robots_spark.sources.frontier_store import COMPACT_EVERY, VersionedTable
from texting_robots_spark.streaming import dedup as stream_dedup
from texting_robots_spark.streaming.dedup import DOC_DDL, run_stream_dedup


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


def _index_rows(docs):
    """The band index rows of ``docs``, sorted: what every committed
    index dir together must hold, once each."""
    return sorted(
        map(tuple, lsh_band_index(minhash_signature(docs)).collect())
    )


def _committed(spark, res):
    """(undirected pair set, pair row count, sorted index rows) that a
    run_stream_dedup result names."""
    pairs = spark.read.parquet(*res["pairs"]).collect()
    index = spark.read.parquet(*res["index"]).collect()
    return _undirected(pairs), len(pairs), sorted(map(tuple, index))


def test_stream_dedup_compacts_inside_the_commit(spark, tmp_path):
    """Every compact_every-th batch writes the merged index as its own
    version's index/ and the manifest lists that one dir: no index row
    is lost or doubled, the superseded dirs are gone, and a late
    arrival dedups against the compacted index as against the full
    corpus."""
    wd = str(tmp_path / "sdc")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    n = COMPACT_EVERY + 1  # batches; the last one compacts
    rows = _clusters(n_groups=3)
    for i in range(n):
        _write_file(rows[i::n], os.path.join(src, f"a{i}.parquet"))
    res = run_stream_dedup(spark, wd)
    assert res["batches"] == n
    assert len(res["index"]) == 1  # the compacting batch's merged index
    docs = spark.createDataFrame(rows, DOC_DDL)
    got, n_pairs, index = _committed(spark, res)
    assert index == _index_rows(docs)
    assert got == _undirected(minhash_lsh_candidates(docs).collect())
    assert n_pairs == len(got)
    on_disk = glob.glob(os.path.join(wd, "index", "snapshots", "*", "index"))
    assert on_disk == res["index"]

    late = [("999", rows[0][1])]
    _write_file(late, os.path.join(src, "late.parquet"))
    res2 = run_stream_dedup(spark, wd)
    assert len(res2["index"]) == 2
    all_docs = spark.createDataFrame(rows + late, DOC_DDL)
    got, _, index = _committed(spark, res2)
    assert got == _undirected(minhash_lsh_candidates(all_docs).collect())
    assert index == _index_rows(all_docs)


def test_stream_dedup_manifest_crash_points(spark, tmp_path, monkeypatch):
    """Crash points in the band index's commit, injected at its
    manifest write the way test_streaming_loop.py injects them into the
    store's: a raise before a plain batch's rename, a raise before a
    compacting batch's rename, and a crash right after the compacting
    rename. The failed query is re-called each time, and foreachBatch
    replays the batch under the same id: a batch whose rename never ran
    rewrites its version from scratch, and one whose rename ran returns
    at once. After each re-call the committed pairs and index rows are
    exactly those of a run with no crash: the full-corpus LSH edges,
    each pair and each index row once."""
    wd = str(tmp_path / "sdx")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    table = VersionedTable(os.path.join(wd, "index"))
    n = COMPACT_EVERY + 1  # batches; the last one compacts
    rows = _clusters(n_groups=5)
    files = [rows[i::n] for i in range(n)]
    write_manifest = VersionedTable._write_manifest

    def crash_at(nth, after_rename):
        calls = []

        def crash(self, manifest):
            calls.append(manifest)
            if len(calls) < nth:
                return write_manifest(self, manifest)
            monkeypatch.setattr(VersionedTable, "_write_manifest", write_manifest)
            if after_rename:
                write_manifest(self, manifest)
            raise RuntimeError("injected crash at the manifest write")

        monkeypatch.setattr(VersionedTable, "_write_manifest", crash)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            run_stream_dedup(spark, wd)

    def assert_as_without_crash(n_files):
        res = run_stream_dedup(spark, wd)
        docs = spark.createDataFrame(sum(files[:n_files], []), DOC_DDL)
        got, n_pairs, index = _committed(spark, res)
        assert got == _undirected(minhash_lsh_candidates(docs).collect()) and got
        assert n_pairs == len(got)
        assert index == _index_rows(docs)
        assert table.meta()["batch"] == n_files - 1
        return res

    for i in (0, 1):
        _write_file(files[i], os.path.join(src, f"a{i}.parquet"))
    crash_at(2, after_rename=False)  # plain batch 1, before its rename
    assert table.meta()["batch"] == 0
    assert os.path.isdir(table._snap_dir(1, "pairs"))  # left uncommitted
    assert assert_as_without_crash(2)["batches"] == 1

    for i in range(2, n):
        _write_file(files[i], os.path.join(src, f"a{i}.parquet"))
    crash_at(n - 2, after_rename=False)  # the compacting batch, before its rename
    assert table.meta()["batch"] == n - 2
    assert os.path.isdir(table._snap_dir(n - 1, "index"))  # the merged index
    crash_at(1, after_rename=True)  # its replay, right after its rename
    assert table._read_manifest()["index"] == [n - 1]
    res = assert_as_without_crash(n)
    assert res["batches"] == 0 and res["index"] == [table._snap_dir(n - 1, "index")]


def test_stream_dedup_index_read_is_bounded(spark, tmp_path, monkeypatch):
    """Over three compaction cycles, no batch's index read spans more
    than compact_every + 1 directories, where one index dir per prior
    batch would grow the read by one dir each batch."""
    wd = str(tmp_path / "sdb")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    n_batches = 3 * COMPACT_EVERY + 1
    rows = _clusters(n_groups=n_batches, members=1)
    for i, row in enumerate(rows):
        _write_file([row], os.path.join(src, f"a{i:02d}.parquet"))

    reads = []
    incremental = stream_dedup.incremental_lsh_candidates

    def recording(new_docs, base_index, **kwargs):
        reads.append({os.path.dirname(f) for f in base_index.inputFiles()})
        return incremental(new_docs, base_index, **kwargs)

    monkeypatch.setattr(stream_dedup, "incremental_lsh_candidates", recording)
    assert run_stream_dedup(spark, wd)["batches"] == n_batches
    assert len(reads) == n_batches
    assert max(map(len, reads)) <= COMPACT_EVERY + 1


def test_stream_dedup_rejects_a_changed_lsh_shape(spark, tmp_path):
    """A bad LSH shape, or a resume with another shape than the index
    was built with, raises ValueError and starts no query: a resume
    with band_size=1 would otherwise miss the late exact copy of an
    indexed doc without an error."""
    wd = str(tmp_path / "sds")
    src = os.path.join(wd, "src")
    os.makedirs(src)
    rows = _clusters()
    _write_file(rows, os.path.join(src, "a0.parquet"))
    run_stream_dedup(spark, wd)
    _write_file([("999", rows[0][1])], os.path.join(src, "late.parquet"))
    ckpt = os.listdir(os.path.join(wd, "ckpt"))
    for shape in (
        {"band_size": 1},
        {"base_hash": "md5"},
        {"n_hashes": 2, "band_size": 2},
    ):
        with pytest.raises(ValueError, match="index built with"):
            run_stream_dedup(spark, wd, **shape)
    assert os.listdir(os.path.join(wd, "ckpt")) == ckpt  # no query ran

    fresh = str(tmp_path / "fresh")
    for shape in (
        {"n_hashes": 5, "band_size": 2},
        {"n_hashes": 4, "band_size": 3},
        {"base_hash": "sha1"},
        {"max_bucket_size": 1},
    ):
        with pytest.raises(ValueError):
            run_stream_dedup(spark, fresh, **shape)
    assert not os.path.exists(fresh)

    res = run_stream_dedup(spark, wd)  # the recorded shape resumes
    last = spark.read.parquet(res["pairs"][-1]).collect()
    assert any(r["id_a"] == "999" and r["against"] == "base" for r in last)
