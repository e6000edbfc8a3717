"""Self-feeding streaming crawl: the stream DISCOVERS URLs.

Round-2's streaming layer replayed pre-computed eligible sets; this
module closes the loop (NOTES_r2 caveat 5). Architecture:

    candidate files (src/)  ->  readStream
        -> foreachBatch:
             anti-join against the SEEN log (epochs < batchId)
             union with the PENDING side table (politeness leftovers)
             -> superstep.step_plan     [the batch superstep's step core:
                                         eligibility, schedule, gate,
                                         fetch, link candidates,
                                         politeness advance]
             -> fetched rows written to out/
             -> NEW candidate file written back into src/   <-- feedback

One micro-batch == one crawl step (maxFilesPerTrigger=1; every step
produces exactly one candidate file, url_hash-unique because
seed_frontier and link_candidates both group by url_hash). The query
is stateless: it keeps no Structured Streaming state store and runs no
stateful operator. The URL-seen set is the ``seen/`` log, one parquet
file of admitted url_hashes per epoch, and every candidate is
anti-joined against it exactly; per-host politeness state and the
unscheduled-leftover ("pending") set are side parquet tables swapped
atomically per batch, exactly the batch superstep's host_state
mechanics.

Semantics match run_crawl step for step: both drivers build the step
with the same ``step_plan`` call, so a 2-step batch crawl and this loop
produce the identical (url_hash, fetch_time) fetch set AND the
identical discovered-URL set (pinned in pytest). What stays here is
what the stream keeps instead of a frontier store: the seen log, the
pending/host_state epochs and the feedback file.

Scale notes: the seen log is O(discovered URLs) 8-byte keys;
pending/host_state are O(frontier backlog) and O(active hosts) parquet
tables; the feedback file is O(per-step discoveries). No bloom sits in
front of the seen anti-join: every maybe-seen row would still need the
exact check against the whole log, so a prefilter cannot save the
key-side scan, only trim the batch-sized probe side.

Crash-replay safety — EVERY batch artifact is keyed on the batchId
(round 5; foreachBatch replays a failed batch under the SAME id, and
batchIds resume from the checkpoint after a driver restart):

- reads come only from epochs STRICTLY BELOW the current batch (seen
  anti-join; pending/host_state from the latest complete predecessor
  epoch), writes go only to ``<table>/epoch=<batchId>`` with
  overwrite — read and write sets are disjoint directories, so a
  replayed batch recomputes from exactly the pre-crash inputs and its
  rewrites are idempotent;
- the virtual clock is ``t0 = batchId * step_seconds`` — NOT an
  in-memory step counter, which would reset to 0 on restart while the
  checkpoint resumes batchIds mid-sequence (round-4 ADVICE);
- fetched rows land in ``out/epoch=<batchId>`` (overwrite), so a
  replay can never append duplicate fetch rows (round-4 ADVICE: the
  old ``mode=append`` out/ was the one non-idempotent write left);
- the feedback file name is derived from the batchId, and moving a
  file over an existing path replaces it atomically.

Superseded pending/host_state epochs (< batchId-1) are pruned at the
end of each batch — a replay of batch b only ever reads epoch b-1 —
so the directory listing stays O(1) over long crawls. The seen log
keeps one small file of NEW hashes per epoch (the exact-membership
record), so its listing grows by one file per step.

Every epoch table is read with its schema passed explicitly, as the
frontier store reads its own: the loop owns the layout, so no batch
pays a footer read per prior epoch to infer one.

The whole per-batch step is built by ``make_batch_processor`` —
module-level so the crash-injection test drives it directly with a
simulated mid-commit failure + same-id replay (fail_after).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.superstep import (
    CrawlConfig,
    seed_frontier,
    step_plan,
    window_group_limit_scope,
)
from ..sources.frontier_store import HOST_STATE_DDL

__all__ = ["run_stream_crawl", "make_batch_processor", "CAND_DDL"]

# pending rows are admitted candidates: the candidate columns minus step
PENDING_DDL = (
    "url_hash long, url string, host string, priority double, depth int"
)
CAND_DDL = PENDING_DDL + ", step int"
SEEN_DDL = "url_hash long"


def _write_one_file(df: DataFrame, stage_dir: str, dest: str) -> None:
    """Materialize ``df`` as exactly one parquet file at ``dest`` (the
    file-per-step contract that keeps one micro-batch == one crawl
    step). ``os.replace`` makes re-writing the same dest (a replayed
    batch) an atomic idempotent overwrite."""
    df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
    part = glob.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
    os.replace(part, dest)
    shutil.rmtree(stage_dir, ignore_errors=True)


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
    under the same id) must never anti-join against its own epoch's
    half-committed rows — excluding ``epoch=batch_id`` (and anything
    later) makes the read/write sets disjoint and the replay lossless.
    Completeness is keyed on the _COMMITTED marker, not part-file
    presence."""
    return [
        d
        for d in sorted(glob.glob(os.path.join(table_dir, "epoch=*")), key=_epoch)
        if _epoch(d) < batch_id and _is_complete(d)
    ]


def _latest_epoch_path(table_dir: str, batch_id: float) -> Optional[str]:
    """The most recent COMPLETE epoch partition strictly below
    ``batch_id`` — how a batch reads its predecessor's pending/
    host_state checkpoint. Its own epoch (a crashed attempt's
    half-state) and unmarked dirs (crash between the parquet write and
    the _COMMITTED marker) are never candidates, so a replay sees
    exactly what the first attempt saw."""
    prior = _prior_epoch_paths(table_dir, batch_id)
    return prior[-1] if prior else None


def _completed_steps(workdir: str) -> int:
    """Number of fully-committed crawl steps in ``workdir``, read from
    the durable epoch markers (host_state is the LAST per-batch epoch
    write, so its highest committed epoch is the last completed batch).
    Lets a resumed run whose target is already met return immediately
    instead of waiting out the stream timeout (round-5 ADVICE)."""
    last = _latest_epoch_path(os.path.join(workdir, "host_state"), float("inf"))
    return 0 if last is None else _epoch(last) + 1


def _prune_epochs(table_dir: str, below: int) -> None:
    """Drop superseded epoch partitions (< ``below``): batch b only
    ever reads epoch b-1, so older pending/host_state checkpoints are
    dead weight and the listing stays O(1) over long crawls."""
    for d in glob.glob(os.path.join(table_dir, "epoch=*")):
        if _epoch(d) < below:
            shutil.rmtree(d, ignore_errors=True)


def make_batch_processor(
    spark: SparkSession,
    docs: DataFrame,
    rules,  # RulesBroadcast | RulesTable
    cfg: CrawlConfig,
    workdir: str,
    n_steps: int,
    state: Optional[dict] = None,
    fail_after: Optional[str] = None,
):
    """Build the foreachBatch function for one crawl step. Module-level
    (not a closure private to run_stream_crawl) so the crash-injection
    test can drive batches directly: construct with ``fail_after`` set
    to one of {"seen", "out", "feedback", "pending", "host_state"} to
    raise RIGHT AFTER that write commits — simulating a crash
    mid-batch — then replay the SAME batch_id through a non-failing
    processor, exactly what foreachBatch does after a failure.

    Every read comes from epochs < batch_id, every write goes to
    ``<table>/epoch=<batch_id>`` with overwrite, and the virtual clock
    is ``batch_id * step_seconds`` — see the module docstring for why
    each of these is load-bearing for replay/restart idempotence."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    pending_dir = os.path.join(workdir, "pending")
    hstate_dir = os.path.join(workdir, "host_state")
    seen_dir = os.path.join(workdir, "seen")
    discovered = os.path.join(workdir, "discovered")
    if state is None:
        state = {}

    def _fail(phase: str) -> None:
        if fail_after == phase:
            raise RuntimeError(f"injected crash after {phase} write (test hook)")

    def _process_body(batch_df: DataFrame, batch_id: int) -> None:
        # admission: the batch's candidates minus every url_hash an
        # earlier epoch admitted — the exact seen-set, one path for
        # every row. The batch is one url_hash-unique candidate file,
        # so nothing needs deduping within it.
        fresh = batch_df.select("url_hash", "url", "host", "priority", "depth")
        prior_epochs = _prior_epoch_paths(seen_dir, batch_id)
        if prior_epochs:
            fresh = fresh.join(
                spark.read.schema(SEEN_DDL).parquet(*prior_epochs),
                "url_hash",
                "left_anti",
            )
        fresh = fresh.cache()
        plan = None
        try:
            # record this batch's admissions BEFORE they can re-enter
            # the loop via feedback (epoch overwrite = replay-idempotent)
            fresh.select("url_hash").coalesce(1).write.mode("overwrite").parquet(
                os.path.join(seen_dir, f"epoch={batch_id}")
            )
            _mark_committed(os.path.join(seen_dir, f"epoch={batch_id}"))
            _fail("seen")
            prev_pending = _latest_epoch_path(pending_dir, batch_id)
            if prev_pending:
                cands = (
                    spark.read.schema(PENDING_DDL)
                    .parquet(prev_pending)
                    .unionByName(fresh)
                )
            else:
                cands = fresh
            prev_hs = _latest_epoch_path(hstate_dir, batch_id)
            host_state = (
                spark.read.schema(HOST_STATE_DDL).parquet(prev_hs)
                if prev_hs
                else None
            )
            # the step core at the virtual clock of the DURABLE batch_id:
            # an in-memory step counter resets on driver restart while
            # the checkpoint resumes batch ids mid-sequence, silently
            # rewinding politeness time. Candidates are queued rows that
            # carry no per-row politeness hold; hosts whose clock
            # exceeds t0 sit out inside step_plan and stay pending.
            plan = step_plan(
                cands.withColumns(
                    {"state": F.lit("queued"), "not_before": F.lit(0.0)}
                ),
                host_state,
                docs,
                rules,
                cfg,
                batch_id,
            )
            # fetched rows out (the crawl-order artifact): per-epoch
            # overwrite — a replayed batch can never append duplicates
            plan.gated.where(F.col("allowed")).select(
                "url_hash", "url", "host", "depth", "fetch_time",
                F.lit(batch_id).alias("step"),
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out, f"epoch={batch_id}")
            )
            _fail("out")
            # feedback: the canonical link candidates; the next batch's
            # seen anti-join drops everything already admitted, so this
            # file may feed zero fresh rows — the NEXT batch still
            # fires (one file = one step) and schedules the backlog
            feedback = plan.candidates.select(
                "url_hash", "url", "host", "priority", "depth",
                F.lit(batch_id + 1).alias("step"),
            )
            # intermediate feedback goes back into the stream source
            # (the loop); the FINAL step's discoveries land beside it —
            # part of the discovered-URL set but must not trigger a
            # batch past n_steps (a trigger racing query.stop() fails
            # the query)
            dest = src if batch_id + 1 < n_steps else discovered
            _write_one_file(
                feedback,
                os.path.join(workdir, f"stage_fb{batch_id}"),
                os.path.join(dest, f"step{batch_id + 1}.parquet"),
            )
            _fail("feedback")
            # pending' = candidates not scheduled this step (gated holds
            # every scheduled row; leftovers keep priority/depth and
            # retry next step — batch §8)
            cands.join(
                plan.gated.select("url_hash"), "url_hash", "left_anti"
            ).write.mode("overwrite").parquet(
                os.path.join(pending_dir, f"epoch={batch_id}")
            )
            _mark_committed(os.path.join(pending_dir, f"epoch={batch_id}"))
            _fail("pending")
            plan.host_state.write.mode("overwrite").parquet(
                os.path.join(hstate_dir, f"epoch={batch_id}")
            )
            _mark_committed(os.path.join(hstate_dir, f"epoch={batch_id}"))
            _fail("host_state")
        finally:
            fresh.unpersist()
            if plan is not None:
                plan.gated.unpersist()
        # this batch is fully committed; epochs < batch_id-1 can no
        # longer be read by any future (re)attempt
        _prune_epochs(pending_dir, batch_id - 1)
        _prune_epochs(hstate_dir, batch_id - 1)
        state["done"] = batch_id + 1  # completion sentinel (stop-safety)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # the batch superstep's conf scope, over the whole batch body:
        # schedule_batch's skew guard needs it in effect when the
        # batch's ACTIONS run, and it must not leak into other queries
        # on the session (round-5 ADVICE). Micro-batches keep the
        # session's shuffle fan-out: they plan in the stream's session,
        # and the batch superstep's sized_shuffle_scope does not apply.
        with window_group_limit_scope(spark, cfg.per_host_k):
            _process_body(batch_df, batch_id)

    return _process


def run_stream_crawl(
    spark: SparkSession,
    docs: DataFrame,
    rules,  # RulesBroadcast | RulesTable (sharded, broadcast-free)
    seeds: List[str],
    cfg: CrawlConfig,
    n_steps: int,
    workdir: str,
    timeout_sec: float = 300.0,
    stop_after: Optional[int] = None,
) -> dict:
    """Run ``n_steps`` crawl steps as a self-feeding stream; returns
    {"out": fetched-rows parquet dir, "discovered": discovered-candidate
    parquet glob, "steps": steps executed}.

    ``docs`` is the fetch stand-in corpus (url, doc_id, spans, and
    optionally a precomputed url_hash, checked on step 0 exactly as
    frontier_step checks it); ``rules`` a RulesBroadcast (low-latency;
    rules fit one broadcast) or a RulesTable (sharded cogroup gate — the
    10^7-10^8-host mode, same dual-mode contract as the batch
    run_crawl). The caller owns ``workdir``. An exception raised by a
    batch stops the stream and is re-raised here.

    RESUMABLE: calling again with the same ``workdir`` (and the same
    n_steps — it fixes which step's feedback lands in discovered/)
    continues a stopped crawl from the Structured Streaming checkpoint:
    batch ids resume where they left off, the seed file is written only
    once, and every per-batch artifact is epoch-keyed on the durable
    batchId (see module docstring). ``stop_after`` stops the query once
    the crawl has completed that many steps IN TOTAL — it composes with
    resume ("run to step k now, continue later"); a resumed session
    whose target is already met returns immediately (the durable epoch
    markers say how many steps committed — no stream is started and no
    timeout is paid; round-5 ADVICE)."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    discovered = os.path.join(workdir, "discovered")
    os.makedirs(src, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    os.makedirs(discovered, exist_ok=True)
    dirs = {"out": out, "src": src, "discovered": discovered}

    # resume fast-path: if the durable epoch markers already record the
    # target as met, don't start (and then time out) an idle stream
    target = n_steps if stop_after is None else min(int(stop_after), n_steps)
    already = _completed_steps(workdir)
    if already >= target:
        return {**dirs, "steps": already}

    # step 0's candidate file: the canonicalized, deduped seed set.
    # Written only when absent: on a resume the checkpoint has already
    # consumed it, and the no-op keeps the resume path read-only on src
    seed_path = os.path.join(src, "step0.parquet")
    if not os.path.exists(seed_path):
        seed_df = seed_frontier(spark, seeds).select(
            "url_hash", "url", "host", "priority", "depth", F.lit(0).alias("step")
        )
        _write_one_file(seed_df, os.path.join(workdir, "stage_seed"), seed_path)

    state: dict = {}
    _process = make_batch_processor(
        spark, docs, rules, cfg, workdir, n_steps, state=state
    )

    def _run_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the trigger after the target step can fire before stop()
        # lands, and a batch that starts runs to completion: fail it
        # unrun instead, so the checkpoint replays it on resume and the
        # session completes exactly ``target`` steps
        if batch_id >= target:
            raise RuntimeError(
                f"batch {batch_id} is past this session's {target} steps"
            )
        # keep a failing batch's exception, so the caller gets it as
        # raised (e.g. the step-0 docs.url_hash check's ValueError)
        # instead of waiting out the timeout
        try:
            _process(batch_df, batch_id)
        except Exception as e:
            state["error"] = e
            raise

    stream = (
        spark.readStream.schema(CAND_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    query = (
        stream.writeStream.foreachBatch(_run_batch)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + timeout_sec
    # the sentinel is batch_id+1, i.e. the ABSOLUTE number of completed
    # crawl steps — stop_after composes with resume ("run to step k")
    try:
        # wait on the completion sentinel (set at the END of each
        # foreachBatch), so stop() can never kill a half-written step
        while (
            state.get("done", 0) < target
            and "error" not in state
            and time.time() < deadline
        ):
            time.sleep(0.5)
    finally:
        # read before stop(): a batch that stop() interrupts fails too,
        # and the checkpoint replays it on resume
        failed = "error" in state and state.get("done", 0) < target
        query.stop()
        # a met target stands: the query may have died on the trigger
        # past it, failed on purpose above
        if not failed and state.get("done", 0) < target:
            query.awaitTermination(60)
    if failed:
        raise state["error"]
    # absolute completed steps: the in-memory sentinel when batches ran
    # this session, else what the durable markers already held
    return {**dirs, "steps": max(state.get("done", 0), already)}
