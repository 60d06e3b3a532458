"""Repository benchmark: one workload, one driver process, local[nproc].

    python3 perfbench/run.py --workload extract_cold --seed 1 --seconds 10 --trace 0

Runs from the repository root. Sets up the workload (session, input
tables), then times cold runs until their timed regions add up to
``--seconds`` -- one run, where a run is longer. Each run gets a freshly
built plan and a fresh output location, starts with no cached or
checkpointed blocks, and has its output checked outside the timed region.
A run fails if it raises, fails its check, or the Spark log (the JVM's and
the Python workers' stderr) shows an ERROR record, a Python traceback, or
a JVM stack trace that no WARN or INFO record announced. ``--trace 1``
traces the timed runs and adds an untraced and a traced run after them,
whose difference is the tracing overhead.

Standard output ends with one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it is a self-describing report (host, versions, confs, inputs,
every run). The exit code is 0 only if every run passed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BLAS_PINS = {"OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1"}
# driver log records: log4j lines start with a timestamp and a level; a
# JVM stack trace belongs to the record above it
LOG_RECORD = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (\w+) ")
LOG_TRACE = re.compile(r"^\s+at [\w$.<>/]+\(.*\)\s*$|^Exception in thread ")


def metric_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = None
        self.peak = 0

    def tree_rss(self) -> int:
        total, pending = 0, [(os.getpid(), None)]
        while pending:
            pid, parent_exe = pending.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                # the JVM starts the Python daemon through posix_spawn: until
                # the child execs, it shares the JVM's memory and /proc
                # reports the JVM's resident set for it a second time
                if exe == parent_exe and exe.endswith("/java"):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        pending.extend((int(c), exe) for c in f.read().split())
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self._interval):
            self.peak = max(self.peak, self.tree_rss())

    def __enter__(self):
        self.peak = self.tree_rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree_rss())


class DriverLog:
    """fd 2 of this process -- inherited by the JVM and its Python
    workers -- redirected to a file, scanned per run for failures."""

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        self.console = os.fdopen(self._saved, "w", buffering=1)

    def offset(self) -> int:
        sys.stderr.flush()
        return os.path.getsize(self.path)

    def failures(self, start: int) -> list[str]:
        """ERROR records, Python tracebacks and JVM stack traces that no
        WARN or INFO record announced, logged since ``start``."""
        sys.stderr.flush()
        with open(self.path, errors="replace") as f:
            f.seek(start)
            lines = f.read().splitlines()
        bad, level = [], None
        for line in lines:
            m = LOG_RECORD.match(line)
            if m:
                level = m.group(1)
                if level == "ERROR":
                    bad.append(line)
            elif line.startswith("Traceback (most recent call last)"):
                bad.append(line)
            elif LOG_TRACE.match(line) and level not in ("WARN", "INFO", "ERROR"):
                bad.append(line.strip())
        return bad[:5]


class Context:
    def __init__(self, args, spark, work_dir: str, data_dir: str, flagship_sql: str):
        self.seed = args.seed
        self.scale = os.path.basename(data_dir)
        self.spark = spark
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.flagship_sql = flagship_sql
        self.tracer = None
        self.docs_per_run = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run on the smoke-test tables instead of the workload's own")
    return p.parse_args(argv)


def preflight(data_dir: str) -> None:
    """Refuse to run, before printing anything, outside a full checkout."""
    missing = [
        p
        for p in ("BENCHMARK.json", "__spark_entry__.py", "ocr_dataset_builder_spark/pipeline.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if not os.path.exists(os.path.join(data_dir, "documents.parquet")):
        missing.append(os.path.relpath(data_dir, ROOT))
    if missing:
        raise SystemExit(f"perfbench: not a full checkout, missing: {', '.join(missing)}")


def start_session(work_dir: str, cores: int, traced: bool):
    from ocr_dataset_builder_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        os.makedirs(os.path.join(work_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return session.get_spark(
        "perfbench", cores=cores, shuffle_partitions=2 * cores, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def stored_block_bytes(spark) -> int:
    """Bytes of the RDD blocks stored right now (localCheckpoints, persists)."""
    return sum(info.memSize() + info.diskSize()
               for info in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def drop_blocks(spark) -> None:
    """Release every block earlier runs cached or checkpointed, so that no
    run can skip work an earlier one stored."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    if stored_block_bytes(spark):
        raise RuntimeError("blocks stored by an earlier run are still alive")


def host_facts(spark, cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    sql = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    }
    return {
        "nproc": cores,
        "versions": {
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if k.startswith(("spark.master", "spark.driver.memory", "spark.executorEnv",
                                        "spark.eventLog.enabled"))},
        "sql_conf": sql,
        "blas_pins": {k: os.environ.get(k) for k in BLAS_PINS},
        "env_gates": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
    }


def end_to_end_metrics(runs: list[dict], setup: dict, docs_per_run: int) -> dict:
    measured = [r for r in runs if r["kind"] == "measure"]
    wall = statistics.median(r["wall_s"] for r in measured)
    return {"setup_s": setup["setup_s"], "wall_s": wall, "docs_per_s": docs_per_run / wall}


def layer_metrics(runs: list[dict], setup: dict, tracer, work_dir: str, cores: int) -> dict:
    import tracing

    log_dir = os.path.join(work_dir, "eventlog")
    events = tracing.read_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
    for r in runs:
        if r["traced"]:
            m = tracing.span_metrics(tracer.spans, r["root_span"], events, cores)
            if abs(m["trace.root_s"] - m["trace.self_sum_s"]) > 1e-6:
                raise ValueError(f"span self times do not sum to the root span: {m}")
            r["layer"].update(m)
    measured = [r["layer"] for r in runs if r["kind"] == "measure"]
    out = {k: statistics.median(m[k] for m in measured) for k in measured[0]}
    plain, traced = (next(r for r in runs if r["kind"] == "overhead" and r["traced"] is t)
                     for t in (False, True))
    out["trace.overhead_s"] = traced["layer"]["trace.root_s"] - plain["wall_s"]
    out["peak_rss_mb"] = statistics.median(r["peak_rss_mb"] for r in runs if r["kind"] == "measure")
    out["session.get_spark_s"] = setup["session.get_spark_s"]
    out["synth.input_build_s"] = setup.get("synth.input_build_s", 0.0)
    out["failed_share"] = 0.0  # metrics are only reported when no run failed
    return out


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    import tracing
    from workloads import SMOKE_SCALE, WORKLOADS

    scale = SMOKE_SCALE if args.smoke else WORKLOADS[args.workload].scale
    data_dir = os.path.join(HERE, "data", scale)
    preflight(data_dir)
    from ocr_dataset_builder_spark.queries_spans import SQL_FLAGSHIP

    e2e_units, layer_units = metric_units()
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"))
    os.environ.update(BLAS_PINS)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    log = DriverLog(os.path.join(work_dir, "driver.log"))
    runs: list[dict] = []
    setup: dict[str, float] = {}
    report: dict = {"workload": args.workload, "seed": args.seed, "scale": scale,
                    "trace": args.trace, "runs": runs, "setup": setup}
    spark = ctx = None
    try:
        @contextmanager
        def timer(name):
            t0 = time.perf_counter()
            yield
            setup[name] = time.perf_counter() - t0

        setup_t0 = time.perf_counter()
        with timer("session.get_spark_s"):
            spark = start_session(work_dir, cores, bool(args.trace))
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()
        ctx = Context(args, spark, work_dir, data_dir, SQL_FLAGSHIP)
        wl = WORKLOADS[args.workload](ctx)
        report["host"] = host_facts(spark, cores)
        report["inputs"] = wl.setup(timer)
        ctx.docs_per_run = report["inputs"]["docs_per_run"]
        if log.failures(0):
            raise RuntimeError(f"set-up logged failures: {log.failures(0)}")

        def one_run(kind: str, traced: bool) -> dict:
            i = len(runs)
            rec = {"i": i, "kind": kind, "traced": traced, "ok": False}
            runs.append(rec)
            state = wl.prepare(i)
            try:
                drop_blocks(spark)
                if traced:
                    ctx.tracer = ctx.tracer or tracing.Tracer(spark)
                    ctx.tracer.install()
                log0, jobs0 = log.offset(), dag.numTotalJobs()
                rec["loadavg_before"] = os.getloadavg()[0]
                # sampling /proc costs the driver CPU time, so only the
                # traced runs, which report peak_rss_mb, sample it
                with RssSampler() if traced else nullcontext() as rss:
                    t0 = time.perf_counter()
                    root = len(ctx.tracer.spans) if traced else None
                    with ctx.span(tracing.ROOT_SPAN):
                        docs = wl.run(state)
                    rec["wall_s"] = time.perf_counter() - t0
                rec["jobs"] = dag.numTotalJobs() - jobs0
                block_bytes = stored_block_bytes(spark)
                rec["docs"] = docs
                if traced:
                    ctx.tracer.uninstall()
                    rec["root_span"] = root
                    rec["peak_rss_mb"] = rss.peak / 2**20
                bad = log.failures(log0)
                if bad:
                    raise RuntimeError(f"driver log shows failures during the run: {bad}")
                log0 = log.offset()
                rec["layer"] = wl.check(state, docs)
                rec["layer"]["spark.checkpoint_bytes"] = block_bytes
                rec["loadavg_after"] = os.getloadavg()[0]
                bad = log.failures(log0)
                if bad:
                    raise RuntimeError(f"driver log shows failures during the check: {bad}")
                rec["ok"] = True
            except Exception as exc:  # any failure ends the measurement
                rec["error"] = "".join(traceback.format_exception_only(exc)).strip()
                print(traceback.format_exc(), file=log.console)
            finally:
                if ctx.tracer is not None:
                    ctx.tracer.uninstall()
                wl.cleanup(state)
            return rec

        setup["setup_s"] = time.perf_counter() - setup_t0

        timed = 0.0
        while (rec := one_run("measure", bool(args.trace)))["ok"]:
            timed += rec["wall_s"]
            if timed >= args.seconds:
                break
        if args.trace and all(r["ok"] for r in runs):
            # the untraced runs are made by another process, on another
            # host state: the tracing overhead compares two runs made here
            one_run("overhead", False)
            one_run("overhead", True)
    except Exception:
        print(traceback.format_exc(), file=log.console)
        runs.append({"i": len(runs), "kind": "setup", "ok": False,
                     "error": traceback.format_exc(limit=1)})
    finally:
        if spark is not None:
            stop_session(spark)

    failed = sum(not r["ok"] for r in runs)
    metrics = {}
    if not failed:
        units = layer_units if args.trace else e2e_units
        try:
            values = (layer_metrics(runs, setup, ctx.tracer, work_dir, cores) if args.trace
                      else end_to_end_metrics(runs, setup, ctx.docs_per_run))
            metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        except Exception as exc:  # e.g. a trace that cannot be attributed
            failed += 1
            report["error"] = repr(exc)
            print(traceback.format_exc(), file=log.console)

    shutil.rmtree(work_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work_dir))
    except OSError:
        pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
