"""Self-feeding streaming crawl: the stream DISCOVERS URLs.

Architecture — micro-batch b is crawl step b of a FrontierStore at
``<workdir>/store``, committed through the batch step's commit path:

    candidate files (src/)  ->  readStream
        -> foreachBatch:
             admit the candidates the store has not seen (anti-join
               against store.read_keys) as queued rows
             -> superstep.step_plan     [the batch superstep's step core:
                over the store's         eligibility, schedule, gate,
                frontier + those rows,   fetch, link candidates,
                with its host_state      politeness advance]
             -> fetched rows written to out/epoch=b
             -> NEW candidate file written back into src/   <-- feedback
             -> superstep.commit_updates: the update set and host_state
                committed as the store's step b

One micro-batch == one crawl step (maxFilesPerTrigger=1; every step
produces exactly one candidate file, url_hash-unique because
seed_frontier and link_candidates both group by url_hash). The query
is stateless: it keeps no Structured Streaming state store and runs no
stateful operator. The store is the crawl's state: its exact key set
is the URL-seen set, its queued rows are the politeness leftovers, and
its host_state is the per-host politeness clock. It compacts every
``compact_every`` steps, so a batch's seen check reads at most
``compact_every`` + 1 snapshot directories however long the crawl
runs. The store writes no bloom filters (no init_crawl: it starts
empty at step -1, and batch 0 admits the seed file), so the seen check
is the exact anti-join alone.

Semantics match run_crawl step for step: both drivers build the step
with the same ``step_plan`` call and commit it with the same
``commit_updates`` call, so a 2-step batch crawl and this loop produce
the identical (url_hash, fetch_time) fetch set AND the identical
discovered-URL set (pinned in pytest). The batch crawl admits step b's
links when it commits b, checked against the keys it had before that
commit; the stream admits them at the start of b+1, against the keys
after b's commit. b's commit adds only keys the store already held
(its scheduled rows), so both admit the same rows, and the stream's
unscheduled queued rows are the batch frontier's.

Crash-replay safety — keyed on the store's manifest (foreachBatch
replays a failed batch under the SAME id, and batch ids resume from
the checkpoint after a driver restart):

- a batch whose step the manifest already records returns at once;
- any other batch reads only the committed store, and its commit is
  its last write and atomic (commit_step renames the manifest last),
  so a replay recomputes from exactly the pre-crash inputs;
- the virtual clock is ``t0 = batchId * step_seconds`` — NOT an
  in-memory step counter, which would reset to 0 on restart while the
  checkpoint resumes batchIds mid-sequence (round-4 ADVICE);
- fetched rows land in ``out/epoch=<batchId>`` (overwrite), so a
  replay can never append duplicate fetch rows (round-4 ADVICE: the
  old ``mode=append`` out/ was the one non-idempotent write left);
- the feedback file name is derived from the batchId, and moving a
  file over an existing path replaces it atomically.

The whole per-batch step is built by ``make_batch_processor`` —
module-level so the crash-injection test drives it directly with a
simulated mid-batch failure + same-id replay (fail_after).
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
    commit_updates,
    seed_frontier,
    step_plan,
    window_group_limit_scope,
)
from ..sizing import sized_shuffle_scope
from ..sources.frontier_store import FrontierStore

__all__ = ["run_stream_crawl", "make_batch_processor", "CAND_DDL"]

CAND_DDL = (
    "url_hash long, url string, host string, priority double, depth int, step int"
)


def _write_one_file(df: DataFrame, stage_dir: str, dest: str) -> None:
    """Materialize ``df`` as exactly one parquet file at ``dest`` (the
    file-per-step contract that keeps one micro-batch == one crawl
    step). ``os.replace`` makes re-writing the same dest (a replayed
    batch) an atomic idempotent overwrite."""
    df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
    part = glob.glob(os.path.join(stage_dir, "part-*.parquet"))[0]
    os.replace(part, dest)
    shutil.rmtree(stage_dir, ignore_errors=True)


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
    """Build the foreachBatch function: batch b runs crawl step b of
    the store at ``<workdir>/store`` and commits it as that store's
    step b. Module-level (not a closure private to run_stream_crawl) so
    the crash-injection test can drive batches directly: construct with
    ``fail_after`` set to one of {"out", "feedback", "commit"} to raise
    RIGHT AFTER that write — simulating a crash mid-batch — then replay
    the SAME batch_id through a non-failing processor, exactly what
    foreachBatch does after a failure.

    A batch whose step the store's manifest already records returns at
    once; any other batch reads only the committed store, writes its
    batch-keyed files with overwrite, and commits last; the virtual
    clock is ``batch_id * step_seconds`` — see the module docstring for
    why each of these is load-bearing for replay/restart idempotence."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    discovered = os.path.join(workdir, "discovered")
    store = FrontierStore(os.path.join(workdir, "store"))
    if state is None:
        state = {}

    def _fail(phase: str) -> None:
        if fail_after == phase:
            raise RuntimeError(f"injected crash after {phase} (test hook)")

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        frontier = store.read_frontier(spark).drop("partition_salt")
        fresh = batch_df.select("url_hash", "url", "host", "priority", "depth")
        # the batch superstep's conf scopes, over the whole step: the
        # skew guard and the sized fan-out are read when the actions
        # run, and must not leak into other queries on the session
        with window_group_limit_scope(spark, cfg.per_host_k), sized_shuffle_scope(
            spark, frontier, fresh, docs
        ):
            # admission: the batch's candidates minus every url_hash the
            # store holds — the exact seen-set. The batch is one
            # url_hash-unique candidate file, so nothing needs deduping
            # within it. Candidates carry no per-row politeness hold;
            # hosts whose clock exceeds t0 sit out inside step_plan and
            # their rows stay queued in the store.
            admitted = (
                fresh.join(store.read_keys(spark), "url_hash", "left_anti")
                .withColumns({"state": F.lit("queued"), "not_before": F.lit(0.0)})
                .cache()
            )
            plan = None
            try:
                # fills the cache both the step and the commit read
                n_admitted = admitted.count()
                # the step core at the virtual clock of the DURABLE
                # batch_id: an in-memory step counter resets on driver
                # restart while the checkpoint resumes batch ids
                # mid-sequence, silently rewinding politeness time
                plan = step_plan(
                    frontier.unionByName(admitted),
                    store.read_host_state(spark),
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
                # feedback: the canonical link candidates; the next
                # batch's admission drops everything the store holds, so
                # this file may feed zero fresh rows — the NEXT batch
                # still fires (one file = one step) and schedules the
                # backlog. Intermediate feedback goes back into the
                # stream source (the loop); the FINAL step's discoveries
                # land beside it — part of the discovered-URL set but
                # must not trigger a batch past n_steps (a trigger
                # racing query.stop() fails the query)
                feedback = plan.candidates.select(
                    "url_hash", "url", "host", "priority", "depth",
                    F.lit(batch_id + 1).alias("step"),
                )
                dest = src if batch_id + 1 < n_steps else discovered
                _write_one_file(
                    feedback,
                    os.path.join(workdir, f"stage_fb{batch_id}"),
                    os.path.join(dest, f"step{batch_id + 1}.parquet"),
                )
                _fail("feedback")
                # the admitted rows this step did not schedule stay
                # queued; a scheduled one enters the delta once, as
                # fetched or disallowed. The step's Observation fired
                # with the out write; with the admitted count it bounds
                # the delta's rows.
                commit_updates(
                    spark,
                    store,
                    plan.gated,
                    admitted.join(
                        plan.gated.select("url_hash"), "url_hash", "left_anti"
                    ),
                    batch_id,
                    int(plan.obs.get["n"] or 0) + n_admitted,
                    plan.host_state,
                )
                _fail("commit")
            finally:
                admitted.unpersist()
                if plan is not None:
                    plan.gated.unpersist()

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if int(store.meta().get("step", -1)) < batch_id:
            _step(batch_df, batch_id)
        state["done"] = batch_id + 1  # completion sentinel (stop-safety)

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
    once, and every batch commits to the store as the step of its
    durable batchId (see module docstring). ``stop_after`` stops the
    query once the crawl has completed that many steps IN TOTAL — it
    composes with resume ("run to step k now, continue later"); a
    resumed session whose target is already met returns immediately
    (the store's manifest says how many steps committed — no stream is
    started and no timeout is paid; round-5 ADVICE)."""
    src = os.path.join(workdir, "src")
    out = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    discovered = os.path.join(workdir, "discovered")
    os.makedirs(src, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    os.makedirs(discovered, exist_ok=True)
    dirs = {"out": out, "src": src, "discovered": discovered}

    # resume fast-path: if the store's manifest already records the
    # target as met, don't start (and then time out) an idle stream
    target = n_steps if stop_after is None else min(int(stop_after), n_steps)
    store = FrontierStore(os.path.join(workdir, "store"))
    already = int(store.meta().get("step", -1)) + 1
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
    # this session, else what the store's manifest already held
    return {**dirs, "steps": max(state.get("done", 0), already)}
