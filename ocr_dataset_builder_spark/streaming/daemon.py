"""D1 — daemon mode as Structured Streaming, and the stream skeleton all
three daemons share.

Reference: an infinite loop that re-lists the input dir every
``watch_interval_seconds`` (default 300 s), diffs against the checkpoint
log, and processes new directories
(video/frame_pipeline.py:437-522 and duplicates). There is no true event
stream — it is incremental batch over a growing file set.

Rebuild: :func:`watch` runs a Structured Streaming file source over an
input parquet directory with ``foreachBatch``; Spark's stream checkpoint
tracks consumed files, so each trigger processes exactly the new ones.
``trigger`` is either :data:`AVAILABLE_NOW` (process the backlog, then
exit — a daemon is this in a scheduler loop) or
``{"processingTime": interval}`` (one long-running query, the reference's
watch loop). Every micro-batch follows the run-commit protocol of
``lineage`` (D2, the reference's "checkpoint only after full success"):

1. the batch's run id is ``<prefix>-b<batch_id>``, the prefix owned by
   the stream checkpoint (:func:`_checkpoint_run_prefix`);
2. guard — a batch whose run id is already committed (re-delivered after
   a crash between the commit and the stream-checkpoint write) returns
   before any write;
3. stage — the daemon's ``stage(batch_df, batch_run)`` writes its
   run-scoped directories with mode=overwrite (a re-delivered
   uncommitted batch replaces its own orphan) and returns the per-doc
   metrics relation, read back from the staged output;
4. commit — ``lineage.commit_run`` appends the checkpoint rows last.

Readers see committed runs only (``lineage.read_committed``). No
watermarks/event-time: the reference has none (D3); batching is
count-based (A2), not time-based. This module's own stage is the
extraction (``pipeline.stage_spans``); streaming/dedup_daemon.py and
streaming/semantic_daemon.py plug theirs into the same :func:`watch`.
:func:`daemon_pass` keeps the reference's literal relist + J5 anti-join
semantics as one ``pipeline.run_extraction`` per pass.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..lineage import commit_run, is_committed, read_checkpoint
from ..pipeline import stage_spans

NESTED_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

AVAILABLE_NOW = {"availableNow": True}

Stage = Callable[[DataFrame, str], DataFrame]


def _batch_processor(output_dir: str, run_id: str, stage: Stage, processed: dict):
    """The shared foreachBatch body: guard, stage, commit last. Metrics
    come from ``stage``'s read-back of its staged output — O(batch),
    never a rescan of the whole output history."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_run = f"{run_id}-b{batch_id}"
        if batch_df.isEmpty() or is_committed(
            read_checkpoint(spark, output_dir), batch_run
        ):
            return
        metrics = stage(batch_df, batch_run)
        n = metrics.count()
        if n:
            commit_run(spark, output_dir, batch_run, metrics)
            processed["n"] += n

    return _process


def _checkpoint_run_prefix(checkpoint_dir: str, run_id: str) -> str:
    """The batch run prefix is OWNED by the stream checkpoint, not by the
    caller: batch_ids are only unique within one checkpoint lineage, and
    the two watch modes share the checkpoint. If each mode used its own
    run_id ('daemon0' vs 'stream0'), a batch re-delivered after a crash
    under the OTHER mode would stage '<other>-b<N>' instead of
    overwriting '<orig>-b<N>' and commit the same docs twice. So the
    first mode to create the checkpoint persists its prefix beside it,
    and every later invocation — either mode — reuses the stored one.

    Migration caveat: a stream checkpoint created before the marker
    existed has committed batches under its original caller's run_id but
    carries no marker — the first post-upgrade invocation's run_id
    becomes the prefix, so that invocation MUST pass the original
    run_id or a re-delivered in-flight batch would still stage under a
    new name. The marker is installed atomically AND exclusively
    (fully-written tmp + os.link, which fails if the marker exists):
    when two processes race the first start, exactly one wins the link
    and the loser ADOPTS the winner's prefix from the read-back — the
    earlier tmp+os.replace flow was last-wins, so the loser could keep
    committing under a prefix that differed from the stored marker,
    recreating the double-commit hazard the marker exists to prevent."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "RUN_PREFIX")

    def _read_marker() -> str:
        try:
            with open(marker) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return ""

    stored = _read_marker()
    if stored:
        return stored
    def _write_tmp() -> str:
        tmp = f"{marker}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(run_id)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp

    tmp = _write_tmp()
    try:
        os.link(tmp, marker)  # atomic + exclusive: first writer wins
        os.unlink(tmp)
    except FileExistsError:
        os.unlink(tmp)
    except OSError:
        # filesystem without hard-link support (FUSE object stores,
        # SMB): degrade to the atomic-but-last-wins install — same
        # guarantee the pre-link code gave there, rather than failing
        # every daemon start on such mounts
        os.replace(tmp, marker)
        return run_id
    stored = _read_marker()
    if stored:
        return stored
    # unreachable unless the marker was externally truncated: link only
    # ever installs a fully-written file — repair it last-wins
    os.replace(_write_tmp(), marker)
    return run_id


def watch(
    spark: SparkSession,
    schema: str,
    input_dir: str,
    output_dir: str,
    run_id: str,
    stage: Stage,
    trigger: dict,
):
    """Start the stream over ``input_dir`` (parquet files of ``schema``)
    whose micro-batches go through ``stage`` under the run-commit
    protocol, committing into ``output_dir``. Returns
    ``(StreamingQuery, processed_counter)``; the caller owns the
    lifecycle. Every daemon keeps its stream checkpoint at
    ``<output_dir>/_stream_checkpoint``, so the two trigger modes share it
    and a deployment can stop the long-running query and drain the
    backlog with an availableNow pass, or vice versa, without ever
    double-processing a file."""
    processed = {"n": 0}
    checkpoint_dir = os.path.join(output_dir, "_stream_checkpoint")
    prefix = _checkpoint_run_prefix(checkpoint_dir, run_id)
    query = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(
            _batch_processor(output_dir, prefix, stage, processed)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
    return query, processed


def _extract_stage(output_dir: str) -> Stage:
    return lambda batch_df, batch_run: stage_spans(batch_df, output_dir, batch_run)


def watch_available_now(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "stream0",
) -> int:
    """Process all not-yet-consumed input files, then stop. Returns the
    number of docs processed in this invocation."""
    query, processed = watch(
        spark, NESTED_SCHEMA, input_dir, output_dir, run_id,
        _extract_stage(output_dir), AVAILABLE_NOW,
    )
    query.awaitTermination()
    return processed["n"]


def watch_continuous(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str = "daemon0",
    interval: str = "300 seconds",
):
    """The reference daemon's infinite watch loop
    (video/frame_pipeline.py:437-522, 300 s default interval) as ONE
    long-running Structured Streaming query: same micro-batch body and
    stream checkpoint as :func:`watch_available_now`, but each
    ``interval`` tick lists the input dir and processes only
    never-consumed files. Returns ``(StreamingQuery, processed_counter)``;
    the caller owns the lifecycle (``query.stop()``)."""
    return watch(
        spark, NESTED_SCHEMA, input_dir, output_dir, run_id,
        _extract_stage(output_dir), {"processingTime": interval},
    )


def daemon_pass(
    spark: SparkSession, nested: DataFrame, output_dir: str, run_id: str
) -> int:
    """One reference-style daemon pass: relist + anti-join + process.
    (The reference sleeps watch_interval_seconds between passes; a
    scheduler does that here.)"""
    from ..pipeline import run_extraction

    return run_extraction(spark, nested, output_dir, run_id=run_id)
