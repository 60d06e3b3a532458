"""Lineage, checkpoint/resume and the run-commit protocol.

Replaces the reference's append-only text checkpoint logs
(video/frame_pipeline.py:169-208, 354-363 and duplicates) with two tables:

* ``checkpoint`` — one row per completed doc (doc_id, run_id, status,
  committed_at). Resume = ``left_anti`` join of inputs against
  status='done' (J5, reference frame_pipeline.py:241-247).
* ``lineage`` — per-partition metrics rows (partition_id, doc_id range,
  docs, frames_processed, ocr_chars, dedup_ratio, status, committed_at)
  per the north rule.

Every writer — ``pipeline.run_extraction`` and the three stream daemons
(``streaming/daemon.watch``) — follows one protocol:

1. **guard** — :func:`is_committed`: a run_id already in the checkpoint
   is never staged again (the batch run refuses, a replayed micro-batch
   returns before any write);
2. **stage** — the run writes its output under its own ``run_id=``
   directory with mode=overwrite, so a retry of an uncommitted run
   replaces its orphan instead of duplicating it;
3. **commit** — :func:`commit_run` appends the checkpoint rows LAST;
4. **read** — :func:`read_committed` shows readers only the run
   directories whose run_id reached the checkpoint, so a crash between
   stage and commit leaves an invisible orphan.

Storage goes through a pluggable table store (``sources/tables.py``):
the default is a directory of parquet appends; passing
``store=IcebergStore(spark, namespace)`` routes the same two operations
through Iceberg ``writeTo(...).append()`` snapshot commits. The Iceberg
path is real code gated on the catalog being present
(tests/test_iceberg_adapter.py skips when the runtime jar is absent,
SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = "doc_id string, run_id string, status string, committed_at timestamp"
LINEAGE_SCHEMA = (
    "run_id string, partition_id int, doc_id_min string, doc_id_max string, "
    "docs bigint, frames_processed bigint, ocr_chars bigint, dedup_ratio double, "
    "status string, committed_at timestamp"
)


def read_table(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet table with an explicit schema, yielding the empty
    typed relation when the path does not exist yet (an existing but
    still-empty directory reads as empty through the schema). The probe
    is the read itself (catching ONLY the PATH_NOT_FOUND condition), NOT
    a driver-local ``os.path.exists`` — which is always false for
    hdfs://, s3a:// and any other non-local URI, and would silently
    restart resume from zero on exactly the distributed deployments this
    targets. Any other AnalysisException (transient storage fault,
    corrupted table) re-raises: treating it as "no checkpoint" would
    restart resume from zero and a second commit would surface duplicate
    rows."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        condition = (
            exc.getCondition() if hasattr(exc, "getCondition") else exc.getErrorClass()
        )
        if condition != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def _store(spark: SparkSession, checkpoint_dir: str, store=None):
    """Resolve the table backend: an explicit store (e.g.
    sources.tables.IcebergStore) wins, else the parquet-directory default."""
    if store is not None:
        return store
    from .sources.tables import ParquetStore

    return ParquetStore(spark, checkpoint_dir)


def read_checkpoint(
    spark: SparkSession, checkpoint_dir: str, store=None
) -> DataFrame:
    return _store(spark, checkpoint_dir, store).read("checkpoint", CHECKPOINT_SCHEMA)


def read_lineage(spark: SparkSession, checkpoint_dir: str, store=None) -> DataFrame:
    return _store(spark, checkpoint_dir, store).read("lineage", LINEAGE_SCHEMA)


def pending_docs(nested: DataFrame, checkpoint: DataFrame) -> DataFrame:
    """J5 resume anti-join: inputs minus completed docs."""
    done = checkpoint.where(F.col("status") == "done").select("doc_id").distinct()
    return nested.join(done, "doc_id", "left_anti")


def is_committed(checkpoint: DataFrame, run_id: str) -> bool:
    """The run guard: True when ``run_id`` already reached the checkpoint.
    A committed run's staging directory must never be rewritten — the
    checkpoint marks its docs done, so resume never re-extracts them."""
    return checkpoint.where(F.col("run_id") == run_id).limit(1).count() > 0


def read_committed(
    spark: SparkSession, path: str, schema: str, checkpoint_dir: str
) -> DataFrame:
    """Committed-only view of a run-partitioned table (``run_id=`` dirs
    under ``path``): run directories whose run_id never reached the
    checkpoint at ``checkpoint_dir`` (a crash between stage and commit)
    are invisible, so retries never surface duplicate rows. The
    committed-run set is tiny (one id per run) — broadcast semi-join.
    ``schema`` names ``run_id`` as a string, which also types a numeric
    run_id partition value as the checkpoint's string column."""
    runs = read_checkpoint(spark, checkpoint_dir).select("run_id").distinct()
    return read_table(spark, path, schema).join(F.broadcast(runs), "run_id", "left_semi")


def commit_run(
    spark: SparkSession,
    checkpoint_dir: str,
    run_id: str,
    doc_metrics: DataFrame,
    n_partitions: int = 16,
    store=None,
) -> None:
    """Append per-doc checkpoint rows + per-partition lineage rollups.

    ``doc_metrics`` columns: doc_id, frames_processed, ocr_chars,
    dedup_ratio. Partition id is a stable hash bucket of doc_id so a
    re-run assigns identical buckets (idempotence under retries). A
    numeric doc_id (the dedup daemons key on bigint ids) is stored as a
    string, the type the table schemas declare.
    """
    backend = _store(spark, checkpoint_dir, store)
    ck = doc_metrics.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(run_id).alias("run_id"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("committed_at"),
    )
    backend.append("checkpoint", ck)

    lin = (
        doc_metrics.withColumn(
            "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_partitions)).cast("int")
        )
        .groupBy("partition_id")
        .agg(
            F.min("doc_id").cast("string").alias("doc_id_min"),
            F.max("doc_id").cast("string").alias("doc_id_max"),
            F.count("*").alias("docs"),
            F.sum("frames_processed").alias("frames_processed"),
            F.sum("ocr_chars").alias("ocr_chars"),
            F.avg("dedup_ratio").alias("dedup_ratio"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "doc_id_min",
            "doc_id_max",
            "docs",
            "frames_processed",
            "ocr_chars",
            "dedup_ratio",
            F.lit("done").alias("status"),
            F.current_timestamp().alias("committed_at"),
        )
    )
    backend.append("lineage", lin)
