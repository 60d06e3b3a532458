"""The benchmark's workloads: each builds its inputs in ``setup``, makes a
fresh output location per run in ``prepare``, does the timed work in
``run`` through the engine's public entry points, and verifies the result
in ``check`` (outside the timed region).

Why each workload exists, and which layers it loads, is in README.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc

import checks

# the smoke test runs every workload on these tables (under data/)
SMOKE_SCALE = "sf0.001"
# 5,000 sf0.1 documents x REPLICAS; sized so that set-up, the timed runs
# and their output checks fit the benchmark's per-process time budget
REPLICAS = 4
INPUT_FILES = 8
# extract_resume's seed output: this many committed runs, each over one
# hash bucket of the input; the last bucket is left for the timed run
PRIOR_RUNS = 9


class CheckFailed(Exception):
    pass


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class ExtractCold:
    """``pipeline.run_extraction`` of a stored contract-shape input table
    into an empty output dir."""

    scale = "sf0.1"

    def __init__(self, ctx):
        self.ctx = ctx
        self._oracle = None

    def setup(self, timer) -> dict:
        from pyspark.sql import functions as F

        from ocr_dataset_builder_spark import synth

        spark, seed = self.ctx.spark, self.ctx.seed
        self.input_dir = os.path.join(self.ctx.work_dir, "input")
        with timer("synth.input_build_s"):
            flat = spark.read.parquet(os.path.join(self.ctx.data_dir, "documents.parquet"))
            replicated = flat.select(
                "doc_id",
                "text",
                "n_chars",
                F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1))).alias("r"),
            ).select(
                (F.col("doc_id") + F.col("r").cast("bigint") * checks.REPLICA_STRIDE).alias(
                    "doc_id"
                ),
                "text",
                "n_chars",
            )
            nested = synth.nest_span_rows(synth.derive_span_rows(replicated))
            # the seed decides which docs share a file and their order in it
            key = F.xxhash64("doc_id", F.lit(seed))
            nested.repartition(INPUT_FILES, key).sortWithinPartitions(key).write.parquet(
                self.input_dir
            )
        stored = spark.read.parquet(self.input_dir)
        self.expected_ids = checks.sorted_ids(stored.select("doc_id").toArrow())
        spans = stored.select(F.size("spans").alias("n")).toArrow().column("n")
        self._warm_up(stored, timer)
        return {
            "docs": len(spans),
            "spans": pc.sum(spans).as_py(),
            "bytes": _dir_stats(self.input_dir, ".parquet")[1],
            "docs_per_run": len(self.expected_ids),
            "replicas": REPLICAS,
        }

    def prepare(self, i: int) -> dict:
        out = os.path.join(self.ctx.work_dir, f"out{i}")
        self._seed_output(out)
        return {
            "out": out,
            "checkpoint_files": _dir_stats(os.path.join(out, "checkpoint"), ".parquet")[0],
        }

    def _warm_up(self, stored, timer) -> None:
        """One untimed extraction of a quarter of the docs: the first
        extraction in a JVM is 2-2.5x slower than the later ones, which the
        timed runs are. The quarter is taken from every input file, so that
        as many tasks, and Python workers, start as in a timed run."""
        from pyspark.sql import functions as F

        with timer("warmup_s"):
            self._untimed_run(stored.where(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0),
                              os.path.join(self.ctx.work_dir, "warmup"))

    def _seed_output(self, out: str) -> None:
        """What the output dir holds before the run: nothing, here."""

    def _untimed_run(self, nested, out: str) -> None:
        from ocr_dataset_builder_spark import pipeline

        pipeline.run_extraction(self.ctx.spark, nested, out, run_id="warmup")
        shutil.rmtree(out)

    def run(self, state: dict) -> int:
        from ocr_dataset_builder_spark import pipeline

        spark = self.ctx.spark
        return pipeline.run_extraction(spark, spark.read.parquet(self.input_dir), state["out"],
                                       run_id="bench")

    def check(self, state: dict, docs: int) -> dict:
        from pyspark.sql import functions as F

        from ocr_dataset_builder_spark import lineage, pipeline

        spark, out = self.ctx.spark, state["out"]
        if docs != len(self.expected_ids):
            raise CheckFailed(f"committed {docs} docs, expected {len(self.expected_ids)}")
        committed = lineage.read_checkpoint(spark, out).where(F.col("run_id") == "bench")
        ids = checks.sorted_ids(committed.select("doc_id").toArrow())
        if not ids.equals(self.expected_ids):
            raise CheckFailed("the committed doc_id set differs from the input's")
        got = checks.sorted_spans(
            pipeline.read_extracted(spark, out).where(F.col("run_id") == "bench").toArrow()
        )
        if self._oracle is None:
            self._oracle = checks.flagship_oracle(
                checks.duckdb_connect(self.ctx.data_dir, REPLICAS),
                self.ctx.flagship_sql,
                pa.table({"doc_id": self.expected_ids}),
            )
        if not got.equals(self._oracle):
            raise CheckFailed(
                f"extracted spans differ from the flagship_extract oracle "
                f"({got.num_rows} vs {self._oracle.num_rows} rows)"
            )
        return {
            "lineage.out_bytes_per_doc": _dir_stats(out)[1] / docs,
            "lineage.checkpoint_files": state["checkpoint_files"],
        }

    def cleanup(self, state: dict) -> None:
        shutil.rmtree(state["out"], ignore_errors=True)


class ExtractResume(ExtractCold):
    """The same call into a fresh copy of a seed output dir that already
    holds ``PRIOR_RUNS`` committed runs over 90% of the docs, so the
    run commits the remaining 10%."""

    def _warm_up(self, stored, timer) -> None:
        """Builds the seed output dir, then warms up with one untimed resume
        into a copy of it (the first in a JVM is 20-40% slower than the
        later ones, which the timed runs are)."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from ocr_dataset_builder_spark import lineage

        spark = self.ctx.spark
        # the seed decides which docs the earlier runs committed; the buckets
        # are equal, so every seed leaves the same number of docs pending
        ranked = sorted(
            self.expected_ids.to_pylist(),
            key=lambda d: hashlib.sha256(f"{self.ctx.seed}:{d}".encode()).digest(),
        )
        size = len(ranked) // (PRIOR_RUNS + 1)
        assigned = spark.createDataFrame(
            pa.table(
                {
                    "doc_id": ranked,
                    "bucket": [min(i // size, PRIOR_RUNS) for i in range(len(ranked))],
                }
            ).to_pandas()
        ).withColumn("doc_id", F.col("doc_id").cast(stored.schema["doc_id"].dataType))

        def bucket(k: int) -> DataFrame:
            return assigned.where(F.col("bucket") == k).select("doc_id")

        self.seed_dir = os.path.join(self.ctx.work_dir, "seed")
        # the earlier runs only commit their docs (with zero metrics): a
        # resume reads the checkpoint, not the earlier runs' spans, and
        # nine extractions cost more than the benchmark's time allows
        with timer("synth.resume_seed_s"):
            for k in range(PRIOR_RUNS):
                lineage.commit_run(
                    spark,
                    self.seed_dir,
                    f"prior{k}",
                    bucket(k).select(
                        "doc_id",
                        F.lit(0).cast("bigint").alias("frames_processed"),
                        F.lit(0).cast("bigint").alias("ocr_chars"),
                        F.lit(0.0).alias("dedup_ratio"),
                    ),
                )
        with timer("warmup_s"):
            warm = os.path.join(self.ctx.work_dir, "warmup")
            self._seed_output(warm)
            self._untimed_run(stored, warm)
        self.expected_ids = checks.sorted_ids(pa.table({"doc_id": ranked[PRIOR_RUNS * size:]}))

    def setup(self, timer) -> dict:
        inputs = super().setup(timer)
        inputs.update(
            prior_runs=PRIOR_RUNS,
            seed_checkpoint_files=_dir_stats(
                os.path.join(self.seed_dir, "checkpoint"), ".parquet"
            )[0],
        )
        return inputs

    def _seed_output(self, out: str) -> None:
        shutil.copytree(self.seed_dir, out)


class CorpusPrepDedup:
    """The two costliest corpus deliverables in one run, each built (eagerly,
    for its iterative parts) and then forced into the noop sink:
    ``q_corpus_prep_final``, then ``q_dedup_best_of_cluster``."""

    # 500 docs: the DuckDB oracles the outputs are pinned on need minutes
    # and gigabytes already here, and tens of gigabytes at sf0.1
    scale = "sf0.01"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self, timer) -> dict:
        with open(checks.DIGESTS_PATH) as f:
            pinned = json.load(f)["scales"][self.ctx.scale]
        for name, digest in pinned["inputs"].items():
            if checks.file_sha256(os.path.join(self.ctx.data_dir, name)) != digest:
                raise CheckFailed(f"{name} is not the input the oracle digest was pinned on")
        self.expected = pinned["digests"]
        docs = self.ctx.spark.read.parquet(
            os.path.join(self.ctx.data_dir, "documents.parquet")
        ).count()
        return {
            "docs": docs,
            "spans": 0,
            "bytes": _dir_stats(self.ctx.data_dir, ".parquet")[1],
            "docs_per_run": docs,
        }

    def prepare(self, i: int) -> dict:
        return {}

    def run(self, state: dict) -> int:
        # looked up per call: the traced run patches these module attributes
        from ocr_dataset_builder_spark import queries_corpus, queries_final

        spark, sf_dir = self.ctx.spark, self.ctx.data_dir
        for part, build in (
            ("corpus_prep", queries_final.q_corpus_prep_final),
            ("dedup_clusters", queries_corpus.q_dedup_best_of_cluster),
        ):
            df = build(spark, sf_dir)
            with self.ctx.span("sink.noop"):
                df.write.format("noop").mode("overwrite").save()
            state[part] = df
        return self.ctx.docs_per_run

    def check(self, state: dict, docs: int) -> dict:
        for part, df in state.items():
            expected = self.expected[part]
            got = checks.rows_digest(df.columns, df.collect())
            want = {k: expected[k] for k in got}
            if got != want:
                raise CheckFailed(f"{expected['query']} digest {got} != oracle {want}")
        return {"lineage.out_bytes_per_doc": 0.0, "lineage.checkpoint_files": 0}

    def cleanup(self, state: dict) -> None:
        state.clear()


WORKLOADS = {
    "extract_cold": ExtractCold,
    "extract_resume": ExtractResume,
    "corpus_prep_dedup": CorpusPrepDedup,
}
