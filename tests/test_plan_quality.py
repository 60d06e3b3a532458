"""Plan-quality gates: the physical plans we engineered must not regress.

These assert structural properties of the optimized plans — the same
things a human checks with explain("formatted") — so a future edit that
silently reintroduces a shuffle or a second scan fails CI.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocr_dataset_builder_spark import synth
from ocr_dataset_builder_spark.pipeline import extract_spans


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_only_deliberate_spread(plan: str) -> None:
    """r8: scan-local queries may carry exactly the DELIBERATE
    parallelism spread (_spread's numbered repartition, rendered as
    REPARTITION_BY_NUM) that parallelizes CPU-dense map work over tiny
    single-row-group bench inputs. Any OTHER exchange — an
    ENSURE_REQUIREMENTS shuffle from an accidental join/agg/window —
    still fails the gate."""
    for line in plan.splitlines():
        if "Exchange" in line and "REPARTITION_BY_NUM" not in line:
            raise AssertionError(f"unexpected exchange: {line}\n{plan}")


@pytest.fixture(scope="module", autouse=True)
def _clean_cache(spark):
    """Plan gates must see the PURE plans: earlier tests exercise the
    storage_level persist knobs on shared relations and a leaked cache
    entry substitutes an InMemoryRelation into any later query whose
    subtree canonically matches (its printed form carries the cached
    child's Final+Initial AQE plans, double-counting FileScan)."""
    spark.catalog.clearCache()
    yield


@pytest.fixture(scope="module")
def nested_on_disk(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nested") / "docs")
    synth.documents_spans(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_flagship_plan_has_no_exchange(spark, nested_on_disk):
    """Extraction from a stored nested table must be shuffle-free:
    ordering is intra-row (array_sort), so no Exchange belongs in the
    plan."""
    plan = _executed_plan(extract_spans(nested_on_disk))
    assert "Exchange" not in plan, plan


def test_flagship_single_python_stage(spark, nested_on_disk):
    """Exactly one Python boundary (the scalar OCR UDF)."""
    plan = _executed_plan(extract_spans(nested_on_disk))
    n_py = (
        plan.count("ArrowEvalPython")
        + plan.count("MapInArrow")
        + plan.count("MapInPandas")
    )
    assert n_py == 1, plan


def test_flagship_single_scan_and_no_text_through_python(spark, nested_on_disk):
    """One scan of the source (no split/union double-read), and the text
    payload must not be an argument of the Python UDF node."""
    plan = _executed_plan(extract_spans(nested_on_disk))
    assert plan.count("FileScan") == 1, plan
    udf_lines = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert udf_lines, plan
    for ln in udf_lines:
        assert "text#" not in ln, ln


def test_cold_resume_plan_drops_the_anti_join(spark, nested_on_disk, tmp_path):
    """Over a never-written output dir the checkpoint reads as an empty
    local relation, so Catalyst folds the resume anti-join away and the
    cold extraction is the flagship's zero-exchange plan."""
    from ocr_dataset_builder_spark.lineage import pending_docs, read_checkpoint

    pending = pending_docs(nested_on_disk, read_checkpoint(spark, str(tmp_path / "out")))
    optimized = pending._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized, optimized
    plan = _executed_plan(extract_spans(pending))
    assert "Exchange" not in plan, plan


def test_resume_broadcasts_checkpoint_as_scanned(spark, nested_on_disk, tmp_path):
    """Over a committed checkpoint the anti-join's build side is the
    checkpoint's doc_id column straight from its scan: one broadcast, no
    shuffle and no aggregate in front of it."""
    from ocr_dataset_builder_spark.lineage import commit_run, pending_docs, read_checkpoint

    out = str(tmp_path / "out")
    done = nested_on_disk.select(
        "doc_id",
        F.lit(1).alias("frames_processed"),
        F.lit(1).alias("ocr_chars"),
        F.lit(0.0).alias("dedup_ratio"),
    ).where(F.col("doc_id").cast("bigint") % 2 == 0)
    commit_run(spark, out, "run0", done)

    plan = _executed_plan(pending_docs(nested_on_disk, read_checkpoint(spark, out)))
    assert plan.count("BroadcastExchange") == 1, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_broadcast_join_for_small_dim(spark, sf_dir):
    """J3 summary join must broadcast the small side."""
    from ocr_dataset_builder_spark.queries_joins import q_summary_broadcast

    plan = _executed_plan(q_summary_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """A relational filter over the flat corpus must reach the parquet
    scan as a pushed filter (Catalyst predicate pushdown)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("n_chars") > 300
    ).select("doc_id")
    plan = _executed_plan(d)
    assert "PushedFilters: [" in plan and "n_chars" in plan.split("PushedFilters")[1], plan


def test_simhash_near_plan_has_no_cartesian(spark, sf_dir):
    """Banded simhash near-dup must not regress to a cross join."""
    from ocr_dataset_builder_spark.queries_corpus import q_simhash_near

    plan = _executed_plan(q_simhash_near(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_near_dup_lsh_plan_has_no_cartesian(spark, sf_dir):
    """LSH-composed embedding near-dup must not regress to all-pairs."""
    from ocr_dataset_builder_spark.queries_corpus import q_embedding_near_dup_lsh

    plan = _executed_plan(q_embedding_near_dup_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_jaccard_verify_plan_has_no_cartesian(spark, sf_dir):
    from ocr_dataset_builder_spark.queries_corpus import q_minhash_jaccard_verify

    plan = _executed_plan(q_minhash_jaccard_verify(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_slice_window_row_number_is_partitioned(spark, sf_dir):
    """F7 two-phase slice: the row_number over the FULL relation must be a
    partitioned window (per-bucket local index); only the tiny per-bucket
    offsets relation may pass through a single-partition window."""
    import re

    from ocr_dataset_builder_spark.queries_spans import q_slice_window

    plan = _executed_plan(q_slice_window(spark, sf_dir))
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines, plan
    for ln in rn_lines:
        # partitioned spec lists the partition column WITHOUT a sort
        # direction before the order columns: 'doc_id#N, span_offset#M ASC'
        assert re.search(r"windowspecdefinition\(doc_id#\d+, ", ln), ln
    # the broadcast of the pruned offsets relation must be present
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_length_percentiles_agg_plan_and_equality(spark, sf_dir):
    """The scale twin must (a) return exactly the exact form's rows and
    (b) run its window over the (source, n_chars) pre-aggregate — no
    row_number over the full relation (the near-global per-source sort
    the exact form pays)."""
    import re

    from ocr_dataset_builder_spark.queries_corpus import (
        q_length_percentiles,
        q_length_percentiles_agg,
    )

    exact = sorted(map(tuple, q_length_percentiles(spark, sf_dir).collect()))
    agg = sorted(map(tuple, q_length_percentiles_agg(spark, sf_dir).collect()))
    assert exact == agg

    plan = _executed_plan(q_length_percentiles_agg(spark, sf_dir))
    assert "row_number" not in plan, plan
    # the window's input is the pre-aggregate: a HashAggregate keyed on
    # (source, n_chars) must exist below the window
    assert re.search(r"keys=\[source#\d+, n_chars#\d+L?\]", plan), plan


def test_dataset_sample_plan_shape(spark, sf_dir):
    """The composed query must stay cartesian-free, and the persist knob
    must route the repeated frame-relation derivations through the cache
    (InMemoryTableScan nodes replace repeated source derivations — the
    cached relation still PRINTS its child FileScan inline, so textual
    scan counting would miscount), with identical rows."""
    from ocr_dataset_builder_spark.queries_dataset import dataset_samples

    df = dataset_samples(spark, sf_dir, with_augment=True)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "InMemoryTableScan" not in plan, "pure form must not cache"

    dfp = dataset_samples(
        spark, sf_dir, with_augment=True, storage_level="MEMORY_AND_DISK"
    )
    planp = _executed_plan(dfp)
    assert planp.count("InMemoryTableScan") >= 3, planp  # all 3 big sides

    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, dfp.collect()))
    assert a == b


def test_simhash_near_banded_equals_allpairs(spark, sf_dir):
    """The banding is exact for hamming <= 3 (pigeonhole over 4 disjoint
    15-bit bands): uncapped banded == all-pairs. The production cap only
    ever removes pairs (capped ⊆ uncapped), and the drops it makes are
    observable in the stats query (docs_in_dropped > 0 iff any bucket
    was capped out on this corpus)."""
    from ocr_dataset_builder_spark.queries_corpus import (
        q_simhash_near,
        q_simhash_near_allpairs,
        q_simhash_near_stats,
    )

    uncapped = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in q_simhash_near(spark, sf_dir, bucket_cap=None).collect()
    }
    allp = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in q_simhash_near_allpairs(spark, sf_dir).collect()
    }
    assert uncapped == allp

    capped = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in q_simhash_near(spark, sf_dir).collect()
    }
    assert capped <= uncapped
    if capped != uncapped:  # any recall loss must be visible in the stats
        stats = q_simhash_near_stats(spark, sf_dir).collect()
        assert any(r["n_dropped_buckets"] > 0 for r in stats), stats


def test_quality_repetition_plan_is_scan_local(spark, sf_dir):
    """Repetition signals are in-row folds — no Exchange, no Python."""
    from ocr_dataset_builder_spark.queries_quality import q_quality_repetition

    plan = _executed_plan(q_quality_repetition(spark, sf_dir))
    _assert_only_deliberate_spread(plan)
    assert "Python" not in plan, plan


def test_pii_scrub_plan_is_scan_local(spark, sf_dir):
    """PII scrub is three regexp kernels on one scan — no Exchange."""
    from ocr_dataset_builder_spark.queries_quality import q_pii_scrub

    plan = _executed_plan(q_pii_scrub(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_decontaminate_probe_is_broadcast(spark, sf_dir):
    """The probe shingle set must broadcast; the corpus is never
    self-joined as a cartesian."""
    from ocr_dataset_builder_spark.queries_quality import q_decontaminate

    plan = _executed_plan(q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stratified_sample_and_chunking_are_scan_local(spark, sf_dir):
    """Hash sampling is a pure filter; chunking is in-row + posexplode —
    neither may shuffle or cross into Python."""
    from ocr_dataset_builder_spark.queries_quality import (
        q_doc_chunking,
        q_stratified_sample,
    )

    for q in (q_stratified_sample, q_doc_chunking):
        plan = _executed_plan(q(spark, sf_dir))
        _assert_only_deliberate_spread(plan)
        assert "Python" not in plan, plan


def test_pack_blocks_prefix_sum_is_two_phase(spark, sf_dir):
    """The full-relation windows must be partitioned by the prefix-sum
    bucket; only the tiny (bucket, total) relation may pass through an
    unpartitioned window, and the offsets come back via broadcast."""
    import re

    from ocr_dataset_builder_spark.queries_quality import q_pack_blocks

    plan = _executed_plan(q_pack_blocks(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    tok_windows = [
        ln for ln in plan.splitlines() if "sum(n_tok" in ln and "windowspecdefinition" in ln
    ]
    assert tok_windows, plan
    for ln in tok_windows:
        assert re.search(r"windowspecdefinition\(_b#\d+L?, doc_id", ln), ln


def test_corpus_prep_composition_shape(spark, sf_dir):
    """The composed corpus deliverable keeps the component shapes: probe
    side broadcast, no cartesian, and the pack prefix-sum windows
    partitioned by the bucket."""
    import re

    from ocr_dataset_builder_spark.queries_quality import q_corpus_prep

    plan = _executed_plan(q_corpus_prep(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    tok_windows = [
        ln
        for ln in plan.splitlines()
        if "sum(n_tok" in ln and "windowspecdefinition" in ln
    ]
    assert tok_windows, plan
    for ln in tok_windows:
        assert re.search(r"windowspecdefinition\(_b#\d+L?, doc_id", ln), ln


def test_quality_filter_is_single_scan(spark, sf_dir):
    """The composed keep/drop gate evaluates every rule in one scan —
    no Exchange, no Python, one FileScan."""
    from ocr_dataset_builder_spark.queries_quality import q_quality_filter

    plan = _executed_plan(q_quality_filter(spark, sf_dir))
    _assert_only_deliberate_spread(plan)
    assert "Python" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_unigram_logprob_table_is_broadcast(spark, sf_dir):
    """The vocabulary-sized unigram table must broadcast back onto the
    exploded tokens; no cartesian beyond the 1-row total relation."""
    from ocr_dataset_builder_spark.queries_quality import q_unigram_logprob

    plan = _executed_plan(q_unigram_logprob(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_join_is_merge_scan(spark, sf_dir):
    """The as-of join must be the merge-scan shape: one FileScan, one
    Exchange (the user_id hash), no join node at all."""
    from ocr_dataset_builder_spark.queries_events import q_events_asof_join

    plan = _executed_plan(q_events_asof_join(spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The interval-containment join must run as a broadcast EQUI-join
    on the bucket (+ residual filter) — never a nested-loop range join."""
    from ocr_dataset_builder_spark.queries_events import q_events_range_join

    plan = _executed_plan(q_events_range_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rollup_is_single_scan(spark, sf_dir):
    """ROLLUP grouping sets must expand inside one aggregation over one
    scan — not a UNION of per-granularity re-scans."""
    from ocr_dataset_builder_spark.queries_events import q_events_rollup

    plan = _executed_plan(q_events_rollup(spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan


def test_bm25_is_scan_plus_broadcast(spark, sf_dir):
    """BM25 must be one corpus scan-side projection plus the 1-row
    totals broadcast — no corpus shuffle, no token explode."""
    from ocr_dataset_builder_spark.queries_quality import q_bm25_score

    plan = _executed_plan(q_bm25_score(spark, sf_dir))
    assert "Generate explode" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_skew_stats_topk_is_take_ordered(spark, sf_dir):
    """q_skew_stats must compute its top-k with a distributed
    TakeOrdered (orderBy + limit), never a global row_number window over
    the full per-key counts relation (round-3 verdict item: at 10^9
    distinct docs that window is a single-partition sort)."""
    from ocr_dataset_builder_spark.queries_quality import q_skew_stats

    plan = (
        q_skew_stats(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    # the only window left runs AFTER the limit (over <= k rows): it must
    # sit above the TakeOrdered node, i.e. appear before it in the
    # top-down plan print
    win = plan.find("Window")
    tko = plan.find("TakeOrderedAndProject")
    assert win != -1 and win < tko, plan


def test_corpus_prep_canon_has_no_fp_window(spark, sf_dir):
    """The exact-canonical filter inside corpus_prep / corpus_prep_substr
    must be a partial agg + join back, never a window over the full-text
    fingerprint (hot on a boilerplate-heavy corpus). The prefix-sum
    windows downstream are doc_id/_b-partitioned and allowed; what must
    NOT appear is any windowspecdefinition keyed on fp."""
    import re

    from ocr_dataset_builder_spark.queries_quality import q_corpus_prep
    from ocr_dataset_builder_spark.queries_substr import (
        q_corpus_prep_substr,
        q_paragraph_dedup,
    )

    for df in (
        q_corpus_prep(spark, sf_dir),
        q_corpus_prep_substr(spark, sf_dir),
        # pinned by name per the r5 verdict: keep the skew-safe
        # min-struct form even though it benches ~1.6x the old
        # single-window form — the window dies on a hot paragraph fp
        q_paragraph_dedup(spark, sf_dir),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"windowspecdefinition\(fp#\d+", plan), plan


def test_token_budget_sample_windows_are_bounded(spark, sf_dir):
    """No per-source ranking of the document relation: windows summing
    doc tokens (sum(n_tokens)) must be partitioned down to the prefix
    bucket (_b); the only (source)-partitioned windows may run over the
    exact-quality GROUP relation (sum(g_tok)) or the bucket-offset
    relation (sum(_n)), both with proven size bounds."""
    import re

    from ocr_dataset_builder_spark.queries_quality import (
        q_token_budget_sample,
    )

    plan = _executed_plan(q_token_budget_sample(spark, sf_dir))
    doc_windows = 0
    for ln in plan.splitlines():
        if "windowspecdefinition" not in ln:
            continue
        if "sum(n_tok" in ln:  # matches n_tok (stage 3) and n_tokens
            doc_windows += 1
            assert re.search(
                r"windowspecdefinition\(source#\d+, quality#\d+, _b#\d+L?, doc_id",
                ln,
            ), ln
    assert doc_windows >= 1, plan  # the gate must not be vacuous
