"""Benchmark of the realtime-voting Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads (see ``workloads.json``):

* ``vote_stream``  the live tally query: an open loop of vote files at a
  fixed rate, then the drain of a vote backlog;
* ``batch``        a closed loop over voting-analytics and curation keys.

Each run builds its inputs from ``--seed``, times set-up, measures for
``--seconds``, checks every output and prints, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run repeats the measurement with Spark's event log on and reports the
per-layer ones.  All files the run writes stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("vote_stream", "batch")
MODULES = (
    "relational",
    "tpch",
    "tpch_full",
    "events_analytics",
    "dedup",
    "similarity",
    "text",
    "corpus",
    "graph",
)
OPERATOR_COUNTERS = ("jobs", "tasks", "cpu_s", "python_s", "shuffle_bytes", "spill_bytes")
FIXTURE_SF = 0.01  # lineitem 60,000 rows; documents and embeddings 500
STREAM_LAYERS = {
    "stream.latestOffset_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.triggers": "count",
    "stream.processed_rows_per_s": "1/s",
    "stream.jobs_per_trigger": "count",
    "stream.tasks_per_trigger": "count",
    "state.tally.commit_ms": "ms",
    "state.dedup.commit_ms": "ms",
    "state.dedup.updates_ms": "ms",
    "state.partitions": "count",
    "state.dedup.dropped_by_watermark": "count",
    "state.dedup.rows_total": "count",
    "state.dedup.memory_bytes": "bytes",
}
SETUP_CYCLES = 3
DRIVER_MEMORY = "3g"
RUN_LIMIT_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "latency_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "setup.imports_s": "s",
        "setup.session_s": "s",
        "setup.tables_s": "s",
        "setup.warmup_s": "s",
        "jvm_rss_peak_mb": "MB",
        "live.loadgen.late_max_s": "s",
        "tracing.overhead_frac": "ratio",
    }
    for phase in ("backlog", "live"):
        units.update({f"{phase}.{k}": u for k, u in STREAM_LAYERS.items()})
    for m in MODULES:
        units[f"operators.{m}.construct_s"] = "s"
        units[f"operators.{m}.execute_s"] = "s"
        for c in OPERATOR_COUNTERS:
            units[f"operators.{m}.{c}"] = {"cpu_s": "s", "python_s": "s"}.get(c, "count")
        units[f"operators.{m}.shuffle_bytes"] = "bytes"
        units[f"operators.{m}.spill_bytes"] = "bytes"
    return units


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout and let the
    program's own defaults apply (no inherited engine overrides)."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def deploy_conf(event_log: str | None) -> dict[str, str]:
    """Deployment settings only; every engine choice is get_spark's."""
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Setup:
    """Times imports once, then SETUP_CYCLES of session + Tables + warm-up."""

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir
        t0 = time.perf_counter()
        import realtimevotingdataengineer_spark.operators  # noqa: F401  (registers keys)
        from realtimevotingdataengineer_spark import session
        from realtimevotingdataengineer_spark.registry import QUERIES
        from realtimevotingdataengineer_spark.sources.tables import TABLE_NAMES, Tables

        self.imports_s = time.perf_counter() - t0
        self._session, self._queries = session, QUERIES
        self._table_names, self._tables_cls = TABLE_NAMES, Tables
        self.cycles: list[tuple[float, float, float]] = []
        self.spark = self.tables = None

    def cycle(self, event_log: str | None = None, record: bool = True):
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = self._session.get_spark(extra_conf=deploy_conf(event_log))
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        tables = self._tables_cls(spark, self.fixture_dir)
        for name in self._table_names:
            getattr(tables, name)
        t2 = time.perf_counter()
        self._queries["agg_count_rows"](tables).write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        if record:
            self.cycles.append((t1 - t0, t2 - t1, t3 - t2))
        self.spark, self.tables = spark, tables
        return spark, tables

    def metrics(self) -> dict[str, float]:
        s, t, w = (median(c[i] for c in self.cycles) for i in range(3))
        return {
            "setup_s": self.imports_s + median(sum(c) for c in self.cycles),
            "setup.imports_s": self.imports_s,
            "setup.session_s": s,
            "setup.tables_s": t,
            "setup.warmup_s": w,
        }

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: int) -> float:
    """q-th percentile (1..99) by the inclusive method."""
    return quantiles(values, n=100, method="inclusive")[q - 1]


def measure(workload: str, setup: Setup, seed: int, seconds: float, job_group=None, check=True):
    """One measurement; returns (metrics, attempted, failed, detail)."""
    import batch
    import stream

    spark, tables = setup.spark, setup.tables
    if workload == "batch":
        r = batch.run_batch(spark, tables, setup.fixture_dir, seconds, job_group, log, check)
        key_s = [c + e for c, e in r.per_key().values()]
        # a batch user waits for the whole pass; single keys give the tail
        m = {
            "latency_s": sum(key_s),
            "latency_p90_s": pct(key_s, 90),
            "throughput_per_s": len(key_s) / sum(key_s),
            "run_s": sum(key_s),
        }
        return m, r.attempted, r.failed, r
    phases = stream.run_stream(spark, WORK, seed, seconds, log)
    backlog, live = phases["backlog"], phases["live"]
    m = {
        "latency_s": pct(live.latencies, 50),
        "latency_p90_s": pct(live.latencies, 90),
        "throughput_per_s": backlog.events / backlog.seconds,
        "run_s": backlog.seconds,
    }
    attempted = backlog.attempted + live.attempted
    return m, attempted, backlog.failed + live.failed, phases


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    watchdog = threading.Timer(RUN_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()

    if not os.path.isdir(os.path.join(ROOT, "realtimevotingdataengineer_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    _isolate_environment()
    import fixture

    fixture_dir = fixture.write_fixture(os.path.join(WORK, "fixtures"), FIXTURE_SF, args.seed)

    log(f"fixture ready: {fixture_dir}")
    setup = Setup(fixture_dir)
    try:
        for i in range(SETUP_CYCLES):
            setup.cycle()
            log(f"setup cycle {i + 1} done")
        if args.trace:
            metrics, attempted, failed, detail = traced(args, setup)
        else:
            metrics, attempted, failed, detail = measure(
                args.workload, setup, args.seed, args.seconds
            )
            metrics.update(setup.metrics())
        metrics["jvm_rss_peak_mb"] = setup.jvm_peak_rss_mb()
    finally:
        setup.shutdown()
        log("spark stopped")

    units = per_layer_units() if args.trace else END_TO_END
    if args.workload == "batch":
        for k, (c, e) in detail.per_key().items():
            print(f"key {k:38s} construct {c:8.3f} s  execute {e:8.3f} s")
    for name in sorted(metrics):
        print(f"{name:42s} {metrics[name]:>14.6g} {units.get(name, '')}")
    print(f"{'failed_frac':42s} {failed / max(attempted, 1):>14.6g} ratio")
    if failed:
        why = detail.mismatches if args.workload == "batch" else {
            phase: r.extra for phase, r in detail.items()
        }
        print(json.dumps(why, default=str, indent=1), file=sys.stderr)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def traced(args, setup: Setup):
    """Traced measurement (event log on), then an untraced one on the same
    seed for the tracing overhead.  Returns per-layer metrics."""
    import tracing as tr

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, _ = setup.cycle(event_log=log_dir, record=False)
    sc = spark.sparkContext

    def job_group(key: str) -> None:
        sc.setJobGroup(key, key)

    m_traced, attempted, failed, detail = measure(
        args.workload, setup, args.seed, args.seconds, job_group
    )
    setup.cycle(record=False)  # stops the traced session: its log is complete
    # untraced twin of the same measurement; the outputs were checked above
    m_plain, a2, f2, _ = measure(args.workload, setup, args.seed, args.seconds, check=False)

    out = {k: 0.0 for k in per_layer_units()}
    out.update({k: v for k, v in setup.metrics().items() if k in out})
    out["tracing.overhead_frac"] = m_traced["run_s"] / m_plain["run_s"] - 1.0
    events = tr.read_event_log(log_dir)
    if args.workload == "batch":
        from realtimevotingdataengineer_spark.registry import QUERIES

        module_of = {k: QUERIES[k].__module__.rsplit(".", 1)[1] for k in QUERIES}
        for k, (c, e) in detail.per_key().items():
            out[f"operators.{module_of[k]}.construct_s"] += c
            out[f"operators.{module_of[k]}.execute_s"] += e
        runs = {}
        for r in detail.runs:
            runs.setdefault(r.key, 0)
            runs[r.key] += 1

        def label_of(e):
            return e.get("Properties", {}).get("spark.jobGroup.id")

        for key, c in tr.job_counters(events, label_of).items():
            if key not in module_of or key not in runs:
                continue
            for name, v in c.items():  # per run of the key, summed per module
                out[f"operators.{module_of[key]}.{name}"] += v / runs[key]
    else:
        for phase, r in detail.items():
            out.update({f"{phase}.{k}": v for k, v in tr.stream_metrics(r.progress).items()})
            measured = {(p["id"], str(p["batchId"])) for p in r.progress}

            def label_of(e, measured=measured):
                props = e.get("Properties", {})
                trigger = (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId"))
                return "/".join(trigger) if trigger in measured else None

            per_trigger = list(tr.job_counters(events, label_of).values())
            n = max(len(per_trigger), 1)
            out[f"{phase}.stream.jobs_per_trigger"] = sum(c["jobs"] for c in per_trigger) / n
            out[f"{phase}.stream.tasks_per_trigger"] = sum(c["tasks"] for c in per_trigger) / n
        out["live.loadgen.late_max_s"] = detail["live"].extra["loadgen.late_max_s"]
    return out, attempted + a2, failed + f2, detail


def _abort() -> None:
    print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f}s, aborting", file=sys.stderr)
    os._exit(3)


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)  # py4j callback threads must not keep the process alive
