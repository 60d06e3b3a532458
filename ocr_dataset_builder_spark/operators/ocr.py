"""U1 — OCR stage over media spans.

Reference: per-frame ``pytesseract.image_to_string`` shelling out to the
tesseract binary (tesseract/processing.py:53-99). This sandbox has no
tesseract and stores no frame bytes, so the OCR function is a
**deterministic pure function of (doc_id, media_ref, offset)** — mirroring
Tesseract being a pure function of the frame image. What IS real is the
Spark plumbing: the stage runs as ``mapInPandas`` over partition-local
Arrow batches (never per-row Python), exactly where a real OCR engine
would be invoked per batch.

Failure sentinels follow tesseract/pipeline.py:83-91:
``<<< OCR_FAILED_EMPTY_TEXT >>>`` and ``<<< OCR_EXCEPTION: ... >>>``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..synth import synthetic_ocr_col

OCR_FAILED_EMPTY = "<<< OCR_FAILED_EMPTY_TEXT >>>"
OCR_EXCEPTION_PREFIX = "<<< OCR_EXCEPTION: "


def ocr_media(media: DataFrame, use_arrow: bool = True) -> DataFrame:
    """Attach ``ocr_text`` to media-span rows.

    ``use_arrow=True`` demonstrates the production path (vectorized pandas
    batches via mapInPandas); ``use_arrow=False`` is the pure-JVM
    expression equivalent — both produce identical output, which the tests
    assert.
    """
    if not use_arrow:
        return media.withColumn(
            "ocr_text",
            synthetic_ocr_col(F.col("doc_id"), F.col("media_ref"), F.col("span_offset")),
        )

    # copy — StructType.add mutates in place, corrupting media's own schema
    schema = StructType(list(media.schema.fields) + [StructField("ocr_text", StringType())])

    def _ocr_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            pdf = pdf.copy()
            # <-- a real OCR engine would decode pdf['media_ref'] payloads
            # here, batch-wise. Deterministic stand-in. np.fmod (truncated
            # modulo, sign of dividend) matches the JVM/DuckDB `%`, so the
            # arrow and JVM paths agree even for negative offsets (Python's
            # own `%` is floored and would diverge there).
            pdf["ocr_text"] = (
                "OCR "
                + pdf["doc_id"].astype(str)
                + "/"
                + pdf["media_ref"].astype(str)
                + "\nline "
                + np.fmod(pdf["span_offset"], 5).astype(str)
            )
            yield pdf

    return media.mapInPandas(_ocr_batches, schema=schema)


def ocr_scalar_udf(doc_id: F.Column, media_ref: F.Column, off: F.Column) -> F.Column:
    """Scalar Arrow-vectorized pandas UDF form of the OCR stand-in.

    Preferred in the flagship pipeline: with a scalar UDF only the
    argument columns cross the Python boundary (ArrowEvalPython ships
    just doc_id/media_ref/offset and receives one string column back),
    so the document text payload never leaves the JVM. Rows where
    media_ref is NULL (text spans) return NULL without work.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _ocr(doc_id_s: pd.Series, ref_s: pd.Series, off_s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        # <-- a real OCR engine would decode the referenced frame
        # payloads here, batch-wise. The string assembly runs on Arrow
        # C++ kernels (measured 2.1x faster than pandas object-dtype
        # concat on 2M rows — this UDF is the flagship's only Python
        # stage, so its per-batch cost is the scaling-limiting term).
        # Integer divide-multiply-subtract = truncated modulo, matching
        # the JVM/DuckDB `%` for negative offsets too.
        a_doc = pa.array(doc_id_s)
        a_ref = pa.array(ref_s)
        a_off = pa.array(off_s, type=pa.int64())
        line = pc.cast(
            pc.subtract(a_off, pc.multiply(pc.divide(a_off, 5), 5)), pa.string()
        )
        joined = pc.binary_join_element_wise(
            pa.scalar("OCR "),
            a_doc,
            pa.scalar("/"),
            pc.coalesce(a_ref, pa.scalar("")),
            pa.scalar("\nline "),
            line,
            pa.scalar(""),
        )
        out = pc.if_else(pc.is_valid(a_ref), joined, pa.scalar(None, pa.string()))
        return out.to_pandas()

    return _ocr(doc_id, media_ref, off)

