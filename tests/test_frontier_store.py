"""FrontierStore merge-on-read economics: deep delta chains must stay
correct (latest-wins MERGE semantics) and cheap (one shuffle regardless
of chain depth — the union+window read), and compaction must be a pure
re-materialization (identical logical content, reset chain)."""

import os

import pytest

from pyspark.sql import functions as F

from texting_robots_spark.sources.frontier_store import FrontierStore


def _rows(i, n=40, overlap=20):
    """Delta i: rows [i*overlap, i*overlap + n) — each delta overwrites
    the previous delta's tail and appends new keys."""
    return [
        (
            k,
            f"https://h{k % 7}.example/p/{k}",
            f"h{k % 7}.example",
            1.0 / (1 + i),
            i,
            "fetched" if k % 3 == 0 else "queued",
            float(i),
        )
        for k in range(i * overlap, i * overlap + n)
    ]


DDL = (
    "url_hash long, url string, host string, priority double, depth int, "
    "state string, not_before double"
)
_COLS = [c.split()[0] for c in DDL.split(", ")]


def _expected(n_deltas):
    """Latest-wins replay in plain Python."""
    out = {}
    for i in range(n_deltas):
        for r in _rows(i):
            out[r[0]] = r
    return set(out.values())


def test_ten_delta_chain_latest_wins_and_key_union(spark, tmp_path):
    """VERDICT r3 #6: a forced 10-deep uncompacted delta chain. The
    merge-on-read frontier must equal the Python latest-wins replay,
    read_keys must be the plain key union, and the READ PLAN must carry
    exactly ONE shuffle however deep the chain is (the round-4
    union+window merge — the old chained anti-joins shuffled k times)."""
    store = FrontierStore(str(tmp_path / "store"), n_buckets=4, compact_every=100)
    store.write_snapshot(spark.createDataFrame(_rows(0), DDL))
    for i in range(1, 10):
        store.commit_step(spark, spark.createDataFrame(_rows(i), DDL))
    manifest = store._read_manifest()
    assert len(manifest["deltas"]) == 9  # never compacted

    got = {
        (
            r["url_hash"], r["url"], r["host"], r["priority"], r["depth"],
            r["state"], r["not_before"],
        )
        for r in store.read_frontier(spark).collect()
    }
    assert got == _expected(10)

    keys = [r["url_hash"] for r in store.read_keys(spark).collect()]
    assert set(keys) == {r[0] for r in _expected(10)}
    assert len(keys) == 10 * 40  # plain union keeps duplicates

    plan = store.read_frontier(spark)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]


def test_compaction_preserves_content_and_resets_chain(spark, tmp_path):
    """compact_every=4: after 4 delta commits the store rewrites a full
    base. Content must be bit-identical to the never-compacting twin and
    the chain must reset (subsequent reads scan one base, zero deltas)."""
    a = FrontierStore(str(tmp_path / "a"), n_buckets=4, compact_every=4)
    b = FrontierStore(str(tmp_path / "b"), n_buckets=4, compact_every=100)
    for s in (a, b):
        s.write_snapshot(spark.createDataFrame(_rows(0), DDL))
        for i in range(1, 5):
            s.commit_step(spark, spark.createDataFrame(_rows(i), DDL))
    ma = a._read_manifest()
    assert ma["deltas"] == [] and ma["base"] == ma["current"]
    rows_a = {
        tuple(r) for r in a.read_frontier(spark).drop("partition_salt").collect()
    }
    rows_b = {tuple(r) for r in b.read_frontier(spark).collect()}
    assert rows_a == rows_b == _expected(5)


def test_delta_ddl_is_frontier_minus_salt():
    from pyspark.sql.types import StructType

    from texting_robots_spark.sources.frontier_store import DELTA_DDL, FRONTIER_DDL

    frontier = StructType.fromDDL(FRONTIER_DDL)
    delta = StructType.fromDDL(DELTA_DDL)
    assert list(delta) == [f for f in frontier if f.name != "partition_salt"]


def test_small_base_writes_one_file(spark, tmp_path):
    """A full base sizes its file count from its input, capped at
    n_buckets: a few-hundred-row store compacts to one base file (not
    one per bucket), and the salt column still holds pmod(url_hash,
    n_buckets)."""
    import glob

    from texting_robots_spark.sources.local import local_frame

    def frame(i):
        rows = _rows(i, n=150, overlap=150)
        return local_frame(
            spark, DDL, {c: [r[k] for r in rows] for k, c in enumerate(_COLS)}
        )

    store = FrontierStore(str(tmp_path / "store"), n_buckets=8, compact_every=1)
    store.write_snapshot(frame(0))
    store.commit_step(spark, frame(1))  # compacts: a 300-row base
    base = store._snap_dir(store._read_manifest()["base"], "frontier")
    assert len(glob.glob(f"{base}/*.parquet")) == 1
    salts = store.read_frontier(spark).select("url_hash", "partition_salt").collect()
    assert len(salts) == 300
    assert all(r["partition_salt"] == r["url_hash"] % 8 for r in salts)


def test_crashed_compaction_leaves_no_orphan_base(spark, tmp_path, monkeypatch):
    """A crash inside a compacting commit, after the delta's manifest
    rename and before the compaction's, leaves the compaction's base in
    the uncommitted snapshots/v<current+1>. The next commit reuses that
    version number, so it must start from an empty directory: after one
    resumed step no version holds a frontier/ that no manifest named as
    a base, and the store reads exactly as a store that never crashed."""

    def step(i):
        hosts = [(f"h{k}.example", float(i)) for k in range(7)]
        return (
            spark.createDataFrame(_rows(i), DDL),
            spark.createDataFrame(hosts, "host string, next_allowed double"),
        )

    crashed = FrontierStore(str(tmp_path / "crashed"), n_buckets=4, compact_every=2)
    clean = FrontierStore(str(tmp_path / "clean"), n_buckets=4, compact_every=2)
    for store in (crashed, clean):
        rows, hosts = step(0)
        store.write_snapshot(rows, host_state=hosts)
        rows, hosts = step(1)
        store.commit_step(spark, rows, host_state=hosts)

    write_manifest = FrontierStore._write_manifest
    calls = []

    def crash_in_compaction(self, manifest):
        calls.append(manifest["current"])
        if len(calls) == 2:  # 1: the delta's rename, 2: the compaction's
            raise RuntimeError("injected crash in compaction")
        write_manifest(self, manifest)

    monkeypatch.setattr(FrontierStore, "_write_manifest", crash_in_compaction)
    rows, hosts = step(2)
    with pytest.raises(RuntimeError, match="injected crash in compaction"):
        crashed.commit_step(spark, rows, host_state=hosts)
    monkeypatch.setattr(FrontierStore, "_write_manifest", write_manifest)
    orphan = crashed._snap_dir(crashed.current_version() + 1, "frontier")
    assert os.path.isdir(orphan)  # the crash point is reached
    clean.commit_step(spark, rows, host_state=hosts)

    resumed = FrontierStore(crashed.root, n_buckets=4, compact_every=2)
    for store in (resumed, clean):
        rows, hosts = step(3)
        store.commit_step(spark, rows, host_state=hosts)

    manifest = resumed._read_manifest()
    snapshots = os.path.join(resumed.root, "snapshots")
    bases = {
        int(v[1:])
        for v in os.listdir(snapshots)
        if os.path.isdir(os.path.join(snapshots, v, "frontier"))
    }
    assert bases == {0, manifest["base"]}  # v0 and the resumed compaction

    def content(store):
        frontier = store.read_frontier(spark).drop("partition_salt")
        return (
            sorted(map(tuple, frontier.collect())),
            {r["url_hash"] for r in store.read_keys(spark).collect()},
            sorted(map(tuple, store.read_host_state(spark).collect())),
        )

    assert content(resumed) == content(clean)
