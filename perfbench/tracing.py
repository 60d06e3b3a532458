"""Spans around the engine's public functions, attributed to Spark work
through job groups and the Spark event log.

``Tracer.span(name)`` records a wall-clock interval and makes the span the
job group of every Spark job its thread submits, so each job, stage and
task in the event log belongs to the innermost open span. ``install``
patches the module functions the workloads call; ``span_metrics`` turns a
run's spans plus the parsed event log into the per-layer numbers.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

# spans reported for every workload (zeros where a workload never opens one)
SPAN_NAMES = [
    "pipeline.run_extraction",
    "lineage.read_checkpoint",
    "lineage.pending_probe",
    "lineage.run_guard",
    "pipeline.stage_write",
    "pipeline.doc_metrics",
    "lineage.commit_run",
    "queries_final.q_corpus_prep_final",
    "queries_corpus.q_semantic_prep",
    "queries_corpus.q_dedup_best_of_cluster",
    "queries_corpus.connected_components",
    "sink.noop",
]
SPAN_FIELDS = (
    "self_s", "driver_only_s", "jobs", "tasks", "slot_busy_share", "shuffle_write_bytes", "gc_s",
)
# the benchmark's own span around each run: the root the self times sum to
ROOT_SPAN = "bench.run"
# DataFrame.count calls made directly by run_extraction, in call order
_EXTRACTION_COUNTS = ["lineage.pending_probe", "lineage.run_guard", "pipeline.doc_metrics"]
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
}


class Tracer:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def innermost(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"span{len(self.spans)}",
            "counts": 0,  # DataFrame.count calls made directly inside this span
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self.innermost()
            if outer is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(outer["group"], outer["name"])

    def wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def install(self) -> None:
        """Patch each function where its caller looks it up."""
        from pyspark.sql import DataFrameWriter

        from ocr_dataset_builder_spark import pipeline, queries_corpus, queries_final

        self.wrap(pipeline, "run_extraction", "pipeline.run_extraction")
        self.wrap(pipeline, "read_checkpoint", "lineage.read_checkpoint")
        self.wrap(pipeline, "commit_run", "lineage.commit_run")
        self.wrap(queries_final, "q_corpus_prep_final", "queries_final.q_corpus_prep_final")
        self.wrap(queries_final, "q_semantic_prep", "queries_corpus.q_semantic_prep")
        self.wrap(queries_corpus, "q_dedup_best_of_cluster",
                  "queries_corpus.q_dedup_best_of_cluster")
        self.wrap(queries_corpus, "connected_components",
                  "queries_corpus.connected_components")

        tracer = self
        # the session's concrete DataFrame class, which defines count
        DataFrame = type(self._spark.range(0))
        count, parquet = DataFrame.count, DataFrameWriter.parquet

        @functools.wraps(count)
        def traced_count(df):
            outer = tracer.innermost()
            if outer is None or outer["name"] != "pipeline.run_extraction":
                return count(df)
            name = _EXTRACTION_COUNTS[min(outer["counts"], len(_EXTRACTION_COUNTS) - 1)]
            outer["counts"] += 1
            with tracer.span(name):
                return count(df)

        @functools.wraps(parquet)
        def traced_parquet(writer, *args, **kwargs):
            outer = tracer.innermost()
            if outer is None or outer["name"] != "pipeline.run_extraction":
                return parquet(writer, *args, **kwargs)
            with tracer.span("pipeline.stage_write"):
                return parquet(writer, *args, **kwargs)

        DataFrame.count = traced_count
        DataFrameWriter.parquet = traced_parquet
        self._patches += [(DataFrame, "count", count), (DataFrameWriter, "parquet", parquet)]

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from a finished (uncompressed) event log."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "checkpoint": any("checkpoint" in n.lower() for n in names),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    ev.get("Properties") or {}
                ).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                rec = {
                    "stage": ev["Stage ID"],
                    "busy_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                }
                for acc in info.get("Accumulables", []):
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        rec[key] = rec.get(key, 0) + int(acc.get("Update") or 0)
                tasks.append(rec)
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


def span_metrics(spans: list[dict], root: int, log: dict, cores: int) -> dict:
    """Per-layer metrics of the run whose root span is ``spans[root]``.

    A span's self intervals are its interval minus its children's; every
    job, and so every task, counts for the innermost span that was open
    when it was submitted."""
    members = {root}
    for i in range(root + 1, len(spans)):
        if spans[i]["parent"] in members:
            members.add(i)
    children = defaultdict(list)
    for i in members:
        if i != root:
            children[spans[i]["parent"]].append(i)
    by_group = {spans[i]["group"]: i for i in members}
    job_iv = [(j["start"], j["end"]) for j in log["jobs"].values() if j["end"] is not None]

    per_span = {i: defaultdict(float) for i in members}
    for j in log["jobs"].values():
        i = by_group.get(j["group"])
        if i is not None:
            per_span[i]["jobs"] += 1
            per_span[i]["checkpoint_jobs"] += j["checkpoint"]
    for t in log["tasks"]:
        i = by_group.get(t["group"])
        if i is None:
            continue
        acc = per_span[i]
        acc["tasks"] += 1
        for k, v in t.items():
            if k not in ("stage", "group"):
                acc[k] += v

    out = {f"{n}.{f}": 0.0 for n in SPAN_NAMES for f in SPAN_FIELDS}
    totals = defaultdict(float)
    self_sum = 0.0
    for i in sorted(members):
        s = spans[i]
        lo, hi = s["start"], s["end"]
        kids = [(spans[c]["start"], spans[c]["end"]) for c in children[i]]
        self_s = (hi - lo) - _union_length(kids, lo, hi)
        self_sum += self_s
        # self intervals with no job running = self - (self ∩ jobs)
        gaps, cursor = [], lo
        for a, b in sorted(kids):
            if a > cursor:
                gaps.append((cursor, a))
            cursor = max(cursor, b)
        if hi > cursor:
            gaps.append((cursor, hi))
        busy = sum(_union_length(job_iv, a, b) for a, b in gaps)
        acc = per_span[i]
        for k, v in acc.items():
            totals[k] += v
        if s["name"] not in SPAN_NAMES:
            continue
        vals = {
            "self_s": self_s,
            "driver_only_s": self_s - busy,
            "jobs": acc["jobs"],
            "tasks": acc["tasks"],
            "slot_busy_share": acc["busy_s"] / (self_s * cores) if self_s > 0 else 0.0,
            "shuffle_write_bytes": acc["shuffle_write_bytes"],
            "gc_s": acc["gc_s"],
        }
        for field, v in vals.items():
            out[f"{s['name']}.{field}"] += v

    ocr = {
        k: sum(per_span[i].get(k, 0) for i in members if spans[i]["name"] == "pipeline.stage_write")
        for k in _PY_METRICS.values()
    }
    out.update(
        {
            # the timing SQL metrics count milliseconds
            "operators.ocr.python_total_s": ocr["python_total_s"] / 1e3,
            "operators.ocr.python_boot_s": ocr["python_boot_s"] / 1e3,
            "operators.ocr.python_bytes_sent": ocr["python_bytes_sent"],
            "spark.checkpoint_jobs": totals["checkpoint_jobs"],
            "spark.spill_bytes": totals["spill_bytes"],
            "spark.input_bytes": totals["input_bytes"],
            "trace.root_s": spans[root]["end"] - spans[root]["start"],
            "trace.self_sum_s": self_sum,
        }
    )
    return out
