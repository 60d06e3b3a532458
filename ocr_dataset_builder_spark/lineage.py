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


def empty_table(spark: SparkSession, schema: str) -> DataFrame:
    """The typed relation with no rows, as a JVM ``LocalRelation``: its
    row count is a plan fact, so Catalyst's empty-relation propagation
    folds joins against it away (an anti-join with an empty right side
    becomes its left side; no shuffle, no job). A Python
    ``createDataFrame([], schema)`` is an RDD scan instead, whose
    emptiness the optimizer cannot see. The one constructor both stores
    (``sources/tables.py``) use for a table that does not exist."""
    jvm = spark.sparkContext._jvm
    jschema = jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
    jdf = spark._jsparkSession.createDataFrame(jvm.java.util.ArrayList(), jschema)
    return DataFrame(jdf, spark)


def read_table(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet table with an explicit schema; a path that does not
    exist yet reads as :func:`empty_table` (an existing but still-empty
    directory reads as empty through the schema).

    "Missing" is asked of the path's own Hadoop ``FileSystem.exists``
    under the session's Hadoop configuration, so hdfs://, s3a:// and
    other non-local URIs resolve through their own filesystem (a
    driver-local ``os.path.exists`` is false for all of them and would
    silently restart resume from zero on exactly the distributed
    deployments this targets). It is asked rather than inferred from a
    failed read: the failed read is the slower probe, logs a WARN stack
    trace on every cold run and, once any ``pyspark.sql.Observation`` has
    fired in the session, an ERROR from the listener bus. Any error of
    the read itself (transient storage fault, corrupted table) raises:
    treating it as "no checkpoint" would restart resume from zero and a
    second commit would surface duplicate rows."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return empty_table(spark, schema)
    return spark.read.schema(schema).parquet(path)


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
    """J5 resume anti-join: the input docs with work to do — at least one
    span — minus completed docs.

    A doc without spans (empty or null array) explodes to no rows, so it
    is never staged or checkpointed; counting it as pending would keep
    every rerun from ever being the no-op it should be. The checkpoint's
    ``doc_id`` column joins as scanned, with no ``distinct``: a left-anti
    join already ignores duplicate keys on its right side, so a distinct
    would only put an aggregate and a shuffle in front of the broadcast
    build side (the registered J5 form ``queries_joins.q_resume_pending``
    has none either)."""
    done = checkpoint.where(F.col("status") == "done").select("doc_id")
    return nested.where(F.size("spans") > 0).join(done, "doc_id", "left_anti")


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
