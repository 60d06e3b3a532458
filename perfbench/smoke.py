"""Smoke test of the benchmark: every workload on the sf0.001 tables,
untraced and traced, must pass its output check and print every metric
BENCHMARK.json names, with its unit.

    python3 perfbench/smoke.py            # the workloads of BENCHMARK.json
    python3 perfbench/smoke.py corpus_prep_dedup

Takes several minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# spans each workload must open in its traced run
EXTRACTION_SPANS = [
    "pipeline.run_extraction", "lineage.read_checkpoint", "lineage.pending_probe",
    "lineage.run_guard", "pipeline.stage_write", "pipeline.doc_metrics", "lineage.commit_run",
]
SPANS = {
    "extract_cold": EXTRACTION_SPANS,
    "extract_resume": EXTRACTION_SPANS,
    "corpus_prep_dedup": [
        "queries_final.q_corpus_prep_final", "queries_corpus.q_semantic_prep",
        "queries_corpus.q_dedup_best_of_cluster", "queries_corpus.connected_components",
        "sink.noop",
    ],
}


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: rc {proc.returncode}\n"
                             f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    failures = []
    for workload in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            try:
                result = run(workload, trace)
                assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
                assert result["correct"] and result["failed"] == 0, result
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                assert got == want, sorted(set(got.items()) ^ set(want.items()))
                assert all(isinstance(v["value"], (int, float))
                           for v in result["metrics"].values())
                if trace:
                    silent = [s for s in SPANS[workload]
                              if not result["metrics"][f"{s}.self_s"]["value"] > 0]
                    assert not silent, f"spans never opened: {silent}"
                print(f"ok   {workload} trace={trace}: {result['attempted']} runs", flush=True)
            except AssertionError as exc:
                failures.append(workload)
                print(f"FAIL {workload} trace={trace}: {exc}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
