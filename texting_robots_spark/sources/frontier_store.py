"""Versioned frontier storage with MERGE-style upserts and checkpoints.

The design target is an Iceberg table driven by ``MERGE INTO`` with
snapshot-id checkpointing (north_rule). This sandbox has no Iceberg jars,
so the same interface is backed by snapshot-versioned Parquet +- an
atomically renamed JSON manifest: every superstep produces a new
immutable snapshot directory, the manifest points at the current version,
and resume = read the manifest. Swapping in Iceberg replaces ``merge``'s
read-modify-write with a real MERGE INTO and the manifest with the
catalog — no caller changes.

Layout under ``root/``:
    manifest.json                  {"current": N, "meta": {...}}
    snapshots/v000N/frontier/      full base, parquet, salted by
                                   pmod(url_hash, n_buckets)
    snapshots/v000N/delta/         one step's updated rows
    snapshots/v000N/host_state/    per-host politeness clock
    metrics/                       append-only per-step metrics parquet
    lineage/                       append-only per-partition lineage
    archive/                       rows compacted out of the frontier
                                   (plans.recrawl.compact_frontier)

The url_hash columns of the base, the deltas and the archive
(``read_keys``) are the crawl's exact seen set; the store keeps no
approximate filter beside them.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sizing import sized_fan_out
from .local import local_frame

__all__ = ["FrontierStore", "FRONTIER_DDL"]

FRONTIER_DDL = (
    "url_hash long, url string, host string, priority double, depth int, "
    "state string, not_before double, partition_salt int"
)
# delta commits carry the frontier columns minus the bucketing salt
DELTA_DDL = ", ".join(
    c for c in FRONTIER_DDL.split(", ") if not c.startswith("partition_salt ")
)
HOST_STATE_DDL = "host string, next_allowed double"
# Store reads pass these schemas explicitly (spark.read.schema(...)):
# the store owns its layout, so per-read parquet schema inference — a
# driver-side footer read on every file of every snapshot table, paid
# three tables x every superstep — is pure overhead (guide §6/§7.3).
# Every store write, and plans/recrawl.py's archive write, use zstd:
# the crawl is measured byte-bound (BENCH/BASELINE.md host-ceiling
# analysis) and every store write is on the step's critical path — zstd
# deltas measured ~6% off the bench crawl line vs snappy, and the gap
# widens wherever storage bandwidth is the scarcer resource.
CODEC = "zstd"


class FrontierStore:
    """``compact_every`` controls the delta-snapshot cadence: a superstep
    commits only its UPDATED rows as a delta; after that many deltas the
    reconstructed frontier is rewritten as a new full base. This is the
    parquet equivalent of Iceberg's merge-on-read with periodic
    compaction — per-step write cost is O(batch), not O(frontier).
    ``n_buckets`` caps the file count of a full base; a small base
    writes fewer files (see write_snapshot)."""

    def __init__(
        self,
        root: str,
        n_buckets: int = 32,
        compact_every: int = 4,
    ):
        self.root = root
        self.archive_dir = os.path.join(root, "archive")
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": -1, "meta": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        # atomic: write temp + rename, so a crashed step never corrupts
        # the checkpoint (resume always sees the previous snapshot)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)

    def current_version(self) -> int:
        return self._read_manifest()["current"]

    def meta(self) -> dict:
        return self._read_manifest().get("meta", {})

    def _snap_dir(self, version: int, what: str = "") -> str:
        return os.path.join(self.root, "snapshots", f"v{version:06d}", what)

    def _next_version(self, current: int) -> int:
        """``current + 1``, its directory emptied first. A version above
        the manifest's current one is uncommitted by construction, so
        whatever it holds was left by a crashed commit (a compaction's
        base whose manifest rename never ran) and must not outlive the
        commit that reuses the number."""
        path = self._snap_dir(current + 1)
        if os.path.exists(path):
            shutil.rmtree(path)
        return current + 1

    # -- snapshots --------------------------------------------------------
    def write_snapshot(
        self,
        frontier: DataFrame,
        meta: Optional[dict] = None,
        host_state: Optional[DataFrame] = None,
    ) -> int:
        """Write the next snapshot and commit the manifest (checkpoint)."""
        version = self._next_version(self.current_version())

        # bucket the frontier by url_hash so seen-checks and merges are
        # co-partitioned across supersteps (stable partitioning = no
        # avoidable shuffle on the next read). The file count follows
        # the base's size, capped at n_buckets: every later read_keys and
        # read_frontier lists these files, so a few-hundred-row base
        # lands as one file, not n_buckets tiny ones
        n_files = min(
            self.n_buckets, sized_fan_out(frontier.sparkSession, frontier)[0]
        )

        def _frontier_write():
            (
                frontier.withColumn(
                    "partition_salt",
                    F.pmod(F.col("url_hash"), F.lit(self.n_buckets)).cast("int"),
                )
                .repartition(n_files, "partition_salt")
                .write.mode("overwrite")
                .option("compression", CODEC)
                .parquet(self._snap_dir(version, "frontier"))
            )

        # politeness token-bucket (host_state): one row per ACTIVE host
        # — a real table, not manifest JSON, so 10^7-host crawls
        # checkpoint without a driver-side blob. The two tables land in
        # independent directories under an uncommitted version, so their
        # writes run concurrently from driver threads (same overlap as
        # commit_step's delta+host_state pair); the manifest commit below
        # happens only after both succeed.
        if host_state is not None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                futures = [
                    pool.submit(_frontier_write),
                    pool.submit(
                        lambda: host_state.write.mode("overwrite")
                        .option("compression", CODEC)
                        .parquet(self._snap_dir(version, "host_state"))
                    ),
                ]
                for f in futures:
                    f.result()
        else:
            _frontier_write()
        manifest = self._read_manifest()
        manifest["current"] = version
        manifest["base"] = version  # full snapshot resets the delta chain
        manifest["deltas"] = []
        if meta is not None:
            manifest["meta"] = meta
        self._write_manifest(manifest)
        return version

    # -- delta commits ------------------------------------------------------
    def commit_step(
        self,
        spark: SparkSession,
        updates: DataFrame,
        meta: Optional[dict] = None,
        host_state: Optional[DataFrame] = None,
    ) -> int:
        """Commit one superstep as a DELTA: only the updated/new frontier
        rows (and host_state) are written. Reads reconstruct base +
        deltas; every ``compact_every`` deltas the reconstruction is
        rewritten as a new full base (amortized O(batch) per step).

        INVARIANT: ``updates`` must hold each url_hash at most once (the
        superstep's update set is groupBy(url_hash)-deduped by
        construction). The merge-on-read window relies on it for
        latest-wins to be well defined; a violating delta degrades to
        the deterministic column tiebreak in read_frontier, which keeps
        reads stable but silently drops the losing duplicate."""
        from ..plans.superstep import _tracer  # local import, no cycle

        _mark = _tracer()
        manifest = self._read_manifest()
        version = self._next_version(manifest["current"])
        # the delta and host_state writes are independent jobs over data
        # the caller already cached (the superstep materializes the step
        # caches before committing) — run them concurrently from two
        # driver threads so the commit pays one write latency, not two.
        def _delta_write():
            updates.write.mode("overwrite").option("compression", CODEC).parquet(
                self._snap_dir(version, "delta")
            )

        if host_state is not None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                d = pool.submit(_delta_write)
                h = pool.submit(
                    lambda: host_state.write.mode("overwrite")
                    .option("compression", CODEC)
                    .parquet(self._snap_dir(version, "host_state"))
                )
                d.result()
                _mark("delta write")
                h.result()
                _mark("host_state write")
        else:
            _delta_write()
            _mark("delta write")
        manifest["current"] = version
        manifest.setdefault("base", -1)
        manifest.setdefault("deltas", []).append(version)
        if meta is not None:
            manifest["meta"] = meta
        self._write_manifest(manifest)
        if len(manifest["deltas"]) >= self.compact_every:
            # compaction: materialize and rewrite as a full base
            self.write_snapshot(
                self.read_frontier(spark),
                meta=manifest.get("meta"),
                host_state=self.read_host_state(spark),
            )
            _mark("compaction")
        return version

    def read_frontier(self, spark: SparkSession, version: Optional[int] = None) -> DataFrame:
        manifest = self._read_manifest()
        v = manifest["current"] if version is None else version
        if v < 0:
            return local_frame(spark, FRONTIER_DDL)
        base = manifest.get("base", v)
        deltas = [d for d in manifest.get("deltas", []) if d <= v]
        if version is not None and version == base:
            deltas = []
        if base < 0:
            full = local_frame(spark, FRONTIER_DDL)
        else:
            full = spark.read.schema(FRONTIER_DDL).parquet(
                self._snap_dir(base, "frontier")
            )
        if not deltas:
            return full
        # merge-on-read, latest-wins: ONE union + window over (url_hash,
        # version desc) replaces the chained per-delta anti-joins — k
        # deltas cost one shuffle and one window pass instead of k
        # anti-join shuffles and a k-deep plan (driver planning time and
        # stage count per superstep stay flat as the delta chain grows).
        # INVARIANT (see commit_step): each snapshot/delta holds a
        # url_hash at most once, so (version) is a total order per key.
        # The extra ordering columns are a deterministic tiebreak in
        # case an EXTERNALLY written delta ever violates that invariant
        # — the surviving row is then still the same on every read (the
        # zero-delta path returns the base verbatim, duplicates and
        # all; this path must not pick nondeterministically either).
        from pyspark.sql.window import Window

        cols = [f.name for f in full.schema.fields if f.name != "partition_salt"]
        parts = [full.select(*cols).withColumn("_v", F.lit(base))]
        for d in sorted(deltas):
            parts.append(
                spark.read.schema(DELTA_DDL)
                .parquet(self._snap_dir(d, "delta"))
                .select(*cols)
                .withColumn("_v", F.lit(d))
            )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        w = Window.partitionBy("url_hash").orderBy(
            F.desc("_v"), F.asc("state"), F.asc("url"), F.asc("not_before")
        )
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )

    def read_keys(self, spark: SparkSession) -> DataFrame:
        """Every url_hash the store has seen: the frontier's (base +
        deltas) and, after a recrawl compaction, the archive's — the
        crawl's exact seen set.

        Membership-only view for seen-checks: deltas UPSERT rows and
        never delete keys, and compaction moves rows from the base to
        the archive, so the key set is the plain union of the base's,
        every delta's and the archive's url_hash column — no
        merge-on-read join chain. The scan is column-pruned to url_hash
        (at scale: one parquet column instead of k anti-joins over full
        rows). May contain duplicates; fine for anti-join/semi-join
        probes."""
        manifest = self._read_manifest()
        base = manifest.get("base", manifest["current"])
        paths = [] if base < 0 else [self._snap_dir(base, "frontier")]
        paths += [self._snap_dir(d, "delta") for d in manifest.get("deltas", [])]
        if os.path.exists(self.archive_dir):
            paths.append(self.archive_dir)
        if not paths:
            return local_frame(spark, "url_hash long")
        # single multi-path scan, column-pruned to url_hash by the
        # explicit schema (parquet reads by name, so the base's extra
        # partition_salt column never has to line up with the deltas)
        return spark.read.schema("url_hash long").parquet(*paths)

    def read_filters(self, spark: SparkSession) -> DataFrame:
        """An empty bloom-filter table (FILTERS_DDL): the store keeps no
        filters. No engine code reads it; it stays for the benchmark's
        ``seen.bloom_fpr`` probe, which then reads 0, until the
        benchmark change (ROADMAP item 4) retires it."""
        from ..operators.seen import FILTERS_DDL

        return local_frame(spark, FILTERS_DDL)

    def read_host_state(self, spark: SparkSession) -> Optional[DataFrame]:
        """The most recent snapshot/delta that carries a host_state table
        (each commit writes the FULL small table)."""
        manifest = self._read_manifest()
        for v in range(manifest["current"], -1, -1):
            path = self._snap_dir(v, "host_state")
            if os.path.exists(path):
                return spark.read.schema(HOST_STATE_DDL).parquet(path)
        return None

    # -- MERGE ------------------------------------------------------------
    @staticmethod
    def merge_frontier(current: DataFrame, updates: DataFrame) -> DataFrame:
        """MERGE semantics on url_hash: update-or-insert ``updates`` rows.

        Equivalent SQL (the Iceberg path):
            MERGE INTO frontier t USING updates s ON t.url_hash = s.url_hash
            WHEN MATCHED THEN UPDATE SET *  WHEN NOT MATCHED THEN INSERT *
        """
        cols = [f.name for f in current.schema.fields if f.name != "partition_salt"]
        return (
            current.select(*cols)
            .join(updates.select("url_hash"), "url_hash", "left_anti")
            .unionByName(updates.select(*cols))
        )

    # -- append-only side tables -------------------------------------------
    def _append_local(self, dirname: str, table) -> None:
        """Driver-side parquet append for tiny per-step side rows (a
        handful of already-collected counters): one pyarrow file write
        instead of a whole Spark job. Readable by spark.read.parquet
        alongside Spark-written files."""
        import uuid

        import pyarrow.parquet as pq

        d = os.path.join(self.root, dirname)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))

    def append_metrics_rows(self, rows) -> None:
        """rows: (step, scheduled, fetched, disallowed, new_urls) ints —
        values already on the driver (Observation counters)."""
        import pyarrow as pa

        self._append_local(
            "metrics",
            pa.table(
                {
                    "step": pa.array([r[0] for r in rows], pa.int32()),
                    "scheduled": pa.array([r[1] for r in rows], pa.int64()),
                    "fetched": pa.array([r[2] for r in rows], pa.int64()),
                    "disallowed": pa.array([r[3] for r in rows], pa.int64()),
                    "new_urls": pa.array([r[4] for r in rows], pa.int64()),
                }
            ),
        )

    def append_lineage_rows(self, rows) -> None:
        """rows: (partition_id, n_scheduled, n_allowed, step) ints."""
        import pyarrow as pa

        self._append_local(
            "lineage",
            pa.table(
                {
                    "partition_id": pa.array([r[0] for r in rows], pa.int32()),
                    "n_scheduled": pa.array([r[1] for r in rows], pa.int64()),
                    "n_allowed": pa.array([r[2] for r in rows], pa.int64()),
                    "step": pa.array([r[3] for r in rows], pa.int32()),
                }
            ),
        )

    def read_metrics(self, spark: SparkSession) -> Optional[DataFrame]:
        path = os.path.join(self.root, "metrics")
        return spark.read.parquet(path) if os.path.exists(path) else None

    def read_lineage(self, spark: SparkSession) -> Optional[DataFrame]:
        path = os.path.join(self.root, "lineage")
        return spark.read.parquet(path) if os.path.exists(path) else None
