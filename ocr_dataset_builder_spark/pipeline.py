"""End-to-end extraction pipeline (SURVEY.md §7.1 minimum slice, grown).

documents (nested, contract shape)
  -> posexplode (S1)
  -> route: media spans -> OCR stage (U1, Arrow-batched) -> cleanup (T1)
            text  spans -> cleanup (T1)
  -> W4 sequencing
  -> W6 ordered span reassembly
  -> parquet/Iceberg sink + lineage commit, anti-join resume (J5).

Every stage is declarative DataFrame API; the only Python boundary is the
vectorized OCR batch function, placed AFTER the cheap relational filters so
Catalyst never has to push predicates through an opaque UDF (SURVEY.md §4
note 1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.cleanup import clean_ocr_col
from .lineage import (
    commit_run,
    is_committed,
    pending_docs,
    read_checkpoint,
    read_committed,
)
from .operators.ocr import ocr_scalar_udf

SPAN_COLS = ["doc_id", "span_pos", "kind", "text", "media_ref", "span_offset"]


def extract_spans(nested: DataFrame) -> DataFrame:
    """Flagship transformation: ordered, cleaned span rows per document.

    Output: (doc_id, ord, kind, text, media_ref, span_offset) where text is
    the cleaned OCR text for media spans and the cleaned raw text for text
    spans. `ord` is the 0-based position in the document's span sequence —
    the invariant key (kind, text, media_ref, order).
    """
    # Document order is INTRA-ROW in the contract shape (spans live in one
    # array per doc), so ordering is embarrassingly parallel: sort each
    # row's array by (offset, kind, ...) with array_sort — a per-row JVM
    # kernel — and posexplode's position IS the ordinal. The whole
    # flagship plan contains ZERO exchanges (the earlier window variant
    # needed one shuffle; verified via explain and pinned by
    # tests/test_plan_quality.py).
    def fields(s):
        return F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        )

    sorted_spans = F.array_sort(F.transform("spans", fields))
    seq = nested.select(
        "doc_id", F.posexplode(sorted_spans).alias("ord", "span")
    ).select(
        "doc_id",
        F.col("ord").cast("int").alias("ord"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("span_offset"),
    )

    # The OCR stand-in runs as a SCALAR Arrow-vectorized pandas UDF: only
    # the UDF's argument columns (doc_id, media_ref, offset — all narrow)
    # cross the Python boundary; the text payload never leaves the JVM.
    # Measured against the alternatives on 18M spans: beats the
    # media/text-split + mapInArrow union at both 4 and 16 cores AND does
    # a single scan instead of two (the split needed a second pass over
    # the source). The identity Python crossing is this environment's
    # non-scaling resource, so bytes-through-Python is what we minimize.
    ocr = ocr_scalar_udf(F.col("doc_id"), F.col("media_ref"), F.col("span_offset"))
    return seq.select(
        "doc_id",
        "ord",
        "kind",
        clean_ocr_col(
            F.when(F.col("kind") == "media", ocr).otherwise(F.col("text"))
        ).alias("text"),
        "media_ref",
        "span_offset",
    )


def doc_metrics(extracted: DataFrame) -> DataFrame:
    """Per-doc lineage metrics: frames processed, OCR chars, dedup ratio
    (here: fraction of spans whose text equals the previous span's text —
    the same lag-compare the F:i encoder uses)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    with_dup = extracted.withColumn(
        "_is_dup", (F.col("text") == F.lag("text").over(w)).cast("int")
    )
    return with_dup.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias(
            "frames_processed"
        ),
        F.sum(F.length("text")).alias("ocr_chars"),
        (F.sum(F.coalesce(F.col("_is_dup"), F.lit(0))) / F.count("*")).alias(
            "dedup_ratio"
        ),
    )


def run_path(output_dir: str, run_id: str) -> str:
    return os.path.join(output_dir, "extracted", f"run_id={run_id}")


def next_run_id(spark: SparkSession, output_dir: str, prefix: str = "run") -> str:
    """The first ``<prefix><i>`` not yet committed in the checkpoint —
    the deterministic fresh id the submit CLI's ``--run-id auto`` uses.
    A crash before commit re-derives the SAME id (it never reached the
    checkpoint), so the retry overwrites its own orphan staging dir; a
    committed run bumps the counter. The distinct-run_id set is one row
    per run — a driver-side collect of a tiny relation."""
    committed = {
        r["run_id"]
        for r in read_checkpoint(spark, output_dir).select("run_id").distinct().collect()
    }
    i = 0
    while f"{prefix}{i}" in committed:
        i += 1
    return f"{prefix}{i}"


def stage_spans(nested: DataFrame, output_dir: str, run_id: str) -> DataFrame:
    """The stage step of the run-commit protocol (``lineage``): write
    ``extract_spans(nested)`` under the run's own ``run_id=`` directory
    with mode=overwrite and return its per-doc metrics, read back from
    that directory only — O(this run), never a scan of the whole output
    history."""
    extracted = extract_spans(nested)
    staged = run_path(output_dir, run_id)
    extracted.write.mode("overwrite").parquet(staged)
    # schema given explicitly: a pending-empty run writes no part files
    # and schema inference would fail on the bare directory
    return doc_metrics(
        nested.sparkSession.read.schema(extracted.schema).parquet(staged)
    )


def run_extraction(
    spark: SparkSession,
    nested: DataFrame,
    output_dir: str,
    run_id: str = "run0",
) -> int:
    """Resumable batch run under the run-commit protocol (``lineage``):
    anti-join completed docs, guard the run_id, stage the run's output
    under its own ``run_id=`` directory, commit the checkpoint last.
    Returns number of docs processed this run.

    Nothing pending is a no-op (returns 0 without touching storage — the
    everyday rerun-to-resume case). Reusing a run_id that already reached
    the checkpoint with docs still pending raises: overwriting a committed
    run's directory would truncate data the checkpoint marks done (silent
    permanent loss: those docs are never re-extracted because resume
    skips them). A retry of an *uncommitted* run_id replaces its orphan
    staging dir, which :func:`read_extracted` never shows.
    """
    ck = read_checkpoint(spark, output_dir)
    pending = pending_docs(nested, ck)
    if not pending.limit(1).count():
        return 0
    if is_committed(ck, run_id):
        raise ValueError(
            f"run_id {run_id!r} is already committed in {output_dir!r} but docs "
            "are still pending; pass a fresh run_id — overwriting a committed "
            "run's data directory would lose rows the checkpoint marks done"
        )
    metrics = stage_spans(pending, output_dir, run_id)
    n = metrics.count()
    if n:
        commit_run(spark, output_dir, run_id, metrics)
    return n


EXTRACTED_SCHEMA = (
    "doc_id string, ord int, kind string, text string, media_ref string, "
    "span_offset int, run_id string"
)


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of the extracted output
    (``lineage.read_committed``). A not-yet-existing output dir (no runs,
    or only a dry-run) yields the empty typed relation."""
    return read_committed(
        spark, os.path.join(output_dir, "extracted"), EXTRACTED_SCHEMA, output_dir
    )
