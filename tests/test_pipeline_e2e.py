"""End-to-end span-sequence equality + resume (FIXTURES.md fx_e2e, fx_resume).

Oracle = direct Python execution of the reference semantics (cleanup +
synthetic OCR + offset ordering) over the same derived rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from ocr_dataset_builder_spark import synth
from ocr_dataset_builder_spark.functions.cleanup import clean_ocr_text
from ocr_dataset_builder_spark.pipeline import (
    extract_spans,
    read_extracted,
    run_extraction,
    run_path,
)
from ocr_dataset_builder_spark.lineage import read_checkpoint, read_lineage
from ocr_dataset_builder_spark.streaming.daemon import NESTED_SCHEMA


def python_oracle(sf_dir: str) -> dict[str, list[tuple]]:
    """Reference-semantics oracle: per doc, the ordered (kind, text,
    media_ref) span sequence."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    rows = con.sql(
        f"WITH {synth.DUCKDB_SPANS_CTE} "
        "SELECT doc_id, span_offset, kind, text, media_ref FROM span_rows "
        "ORDER BY doc_id, span_offset"
    ).fetchall()
    docs: dict[str, list[tuple]] = {}
    for doc_id, off, kind, text, media_ref in rows:
        docs.setdefault(doc_id, []).append(
            (kind, oracle_text(doc_id, off, kind, text, media_ref), media_ref)
        )
    return docs


def oracle_text(doc_id: str, off: int, kind: str, text, media_ref) -> str:
    """One span's output text under the reference semantics: cleaned
    synthetic OCR for a media span, the cleaned raw text otherwise."""
    if kind == "media":
        return clean_ocr_text(f"OCR {doc_id}/{media_ref}\nline {off % 5}")
    return clean_ocr_text(text)


def test_span_sequence_equality(spark, sf_dir):
    nested = synth.documents_spans(spark, sf_dir)
    got = extract_spans(nested).collect()
    by_doc: dict[str, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    want = python_oracle(sf_dir)
    assert set(by_doc) == set(want)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["ord"])
        assert [r["ord"] for r in rows] == list(range(len(rows))), doc_id
        got_seq = [(r["kind"], r["text"], r["media_ref"]) for r in rows]
        assert got_seq == want[doc_id], f"span mismatch in doc {doc_id}"


def test_text_only_docs_extract(spark, tmp_path):
    """A batch whose spans are all text has no media_ref at all: the OCR
    UDF must still type its arguments (an untyped all-NULL column reaches
    Arrow as type null, which fails the whole stage write)."""
    spans = {
        "t1": [("text", "hello", None, 0)],
        "t2": [("text", "  b \t b \n\n", None, 5), ("text", "a\r\n  a ", None, 1)],
    }
    nested = spark.createDataFrame(list(spans.items()), NESTED_SCHEMA)
    out = str(tmp_path / "out")
    assert run_extraction(spark, nested, out, run_id="run0") == 2

    got: dict[str, list] = {}
    for r in sorted(read_extracted(spark, out).collect(), key=lambda r: r["ord"]):
        got.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"]))
    want = {
        doc_id: [
            (kind, oracle_text(doc_id, off, kind, text, ref), ref)
            for kind, text, ref, off in sorted(rows, key=lambda s: s[3])
        ]
        for doc_id, rows in spans.items()
    }
    assert got == want


def test_docs_without_spans_are_never_pending(spark, tmp_path):
    """A doc with an empty or NULL spans array has nothing to extract and
    is never checkpointed; it must not count as pending, or a rerun of a
    finished input would refuse its own run_id and every fresh run_id
    would stage an empty orphan directory."""
    nested = spark.createDataFrame(
        [("e1", []), ("n1", None), ("m1", [("media", None, "f0", 0)])], NESTED_SCHEMA
    )
    out = str(tmp_path / "out")
    assert run_extraction(spark, nested, out, run_id="run0") == 1
    assert os.listdir(os.path.join(out, "extracted")) == ["run_id=run0"]

    assert run_extraction(spark, nested, out, run_id="run0") == 0
    assert run_extraction(spark, nested, out, run_id="run1") == 0
    assert os.listdir(os.path.join(out, "extracted")) == ["run_id=run0"]


def test_resume_anti_join_equals_cold_run(spark, sf_dir):
    nested = synth.documents_spans(spark, sf_dir).cache()
    half = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)

    cold_dir = tempfile.mkdtemp(prefix="odb_cold_")
    warm_dir = tempfile.mkdtemp(prefix="odb_warm_")
    try:
        n_cold = run_extraction(spark, nested, cold_dir, run_id="cold")
        # warm: first run processes only half, second run resumes the rest
        n1 = run_extraction(spark, half, warm_dir, run_id="r1")
        n2 = run_extraction(spark, nested, warm_dir, run_id="r2")
        assert n1 + n2 == n_cold
        assert n2 < n_cold  # resume actually skipped completed docs

        cold = sorted(
            map(tuple, read_extracted(spark, cold_dir).drop("run_id").collect())
        )
        warm = sorted(
            map(tuple, read_extracted(spark, warm_dir).drop("run_id").collect())
        )
        assert cold == warm  # outputs identical to a cold run (fx_resume)

        ck = read_checkpoint(spark, warm_dir)
        assert ck.where("status = 'done'").count() == n_cold
        lin = read_lineage(spark, warm_dir)
        assert lin.count() > 0
        assert lin.where("frames_processed is null").count() == 0

        # third run: nothing pending
        n3 = run_extraction(spark, nested, warm_dir, run_id="r3")
        assert n3 == 0
    finally:
        shutil.rmtree(cold_dir, ignore_errors=True)
        shutil.rmtree(warm_dir, ignore_errors=True)

def test_metrics_read_is_run_scoped(spark, sf_dir):
    """The lineage metrics computation must scan ONLY the current run's
    staged directory — never the whole output history (O(history) per
    incremental pass was the round-1 regression)."""
    nested = synth.documents_spans(spark, sf_dir).cache()
    half = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    out = tempfile.mkdtemp(prefix="odb_scoped_")
    try:
        run_extraction(spark, half, out, run_id="r1")
        run_extraction(spark, nested, out, run_id="r2")
        from ocr_dataset_builder_spark.pipeline import doc_metrics

        # reconstruct the r2 metrics input the way run_extraction builds it
        staged = run_path(out, "r2")
        m = doc_metrics(spark.read.parquet(staged))
        files = m.inputFiles()
        assert files, "metrics plan reads no files?"
        assert all("run_id=r2" in f for f in files), files
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_uncommitted_run_invisible_and_retry_idempotent(spark, sf_dir):
    """Crash-window semantics: a run whose data was written but whose
    checkpoint commit never happened (orphan run dir) must be invisible
    to readers, and retrying under the same run_id must replace, not
    duplicate."""
    nested = synth.documents_spans(spark, sf_dir).cache()
    out = tempfile.mkdtemp(prefix="odb_orphan_")
    try:
        n1 = run_extraction(spark, nested, out, run_id="r1")
        committed = read_extracted(spark, out)
        total_committed = committed.count()

        # simulate the crash: stage data for r2 WITHOUT committing
        orphan = extract_spans(nested.limit(5))
        orphan.write.mode("overwrite").parquet(run_path(out, "r2"))
        assert read_extracted(spark, out).count() == total_committed  # invisible

        # retry with the LITERAL committed run_id: everything is done, so
        # the run is a no-op — no write, checkpoint and committed data
        # byte-for-byte unchanged (the overwrite-guard regression test)
        docs_before = read_checkpoint(spark, out).count()
        assert run_extraction(spark, nested, out, run_id="r1") == 0
        assert read_checkpoint(spark, out).count() == docs_before
        assert read_extracted(spark, out).count() == total_committed
        assert n1 > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_committed_run_id_with_pending_docs_refuses(spark, sf_dir):
    """Reusing a committed run_id while docs are still pending must raise,
    not overwrite: mode=overwrite on a committed run dir would truncate
    rows the checkpoint marks done — permanent silent loss (resume never
    re-extracts them)."""
    nested = synth.documents_spans(spark, sf_dir).cache()
    half = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    out = tempfile.mkdtemp(prefix="odb_guard_")
    try:
        n1 = run_extraction(spark, half, out, run_id="r1")
        assert n1 > 0
        committed_before = sorted(
            map(tuple, read_extracted(spark, out).collect())
        )
        with pytest.raises(ValueError, match="already committed"):
            run_extraction(spark, nested, out, run_id="r1")
        # the refused run touched nothing
        committed_after = sorted(
            map(tuple, read_extracted(spark, out).collect())
        )
        assert committed_after == committed_before
        # a fresh run_id picks up the pending half as usual
        assert run_extraction(spark, nested, out, run_id="r2") > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_next_run_id_skips_committed(spark, sf_dir):
    """--run-id auto: fresh before any run, bumps past committed ids,
    stable across a crash that never reached the checkpoint."""
    from ocr_dataset_builder_spark.pipeline import next_run_id

    nested = synth.documents_spans(spark, sf_dir).cache()
    half = nested.where(F.col("doc_id").cast("bigint") % 2 == 0)
    out = tempfile.mkdtemp(prefix="odb_auto_")
    try:
        assert next_run_id(spark, out) == "run0"
        run_extraction(spark, half, out, run_id="run0")
        assert next_run_id(spark, out) == "run1"
        # an orphan staging dir (crash before commit) does NOT consume the id
        extract_spans(nested.limit(3)).write.mode("overwrite").parquet(
            run_path(out, "run1")
        )
        assert next_run_id(spark, out) == "run1"
        run_extraction(spark, nested, out, run_id=next_run_id(spark, out))
        assert next_run_id(spark, out) == "run2"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_read_extracted_empty_before_any_run(spark):
    """read_extracted on a never-written output dir follows the same
    empty-relation convention as the checkpoint/lineage readers (no
    AnalysisException on the missing path)."""
    out = tempfile.mkdtemp(prefix="odb_empty_")
    try:
        df = read_extracted(spark, out)
        assert df.count() == 0
        assert "doc_id" in df.columns and "run_id" in df.columns
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_slice_window_equals_naive_global_slice(spark, sf_dir):
    """F7 two-phase global index == sorted-list slicing, across slice
    boundaries that start/end inside and across bucket (doc) edges."""
    from ocr_dataset_builder_spark.operators.sequencing import slice_window

    flat = synth.span_rows(spark, sf_dir).select("doc_id", "span_offset", "kind")
    rows = sorted(
        flat.collect(), key=lambda r: (r["doc_id"], r["span_offset"])
    )
    n = len(rows)
    for start, end in [(0, 10), (50, 150), (n - 5, n + 10), (0, n), (7, 8), (n, n + 1)]:
        got = sorted(
            map(
                tuple,
                slice_window(flat, start, end, ["doc_id", "span_offset"]).collect(),
            )
        )
        want = sorted(map(tuple, rows[start:end]))
        assert got == want, (start, end)
