"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a temporary directory under ``perfbench/.work`` before the clock
starts; the engine runs on ``local[<cpus>]`` with every Spark scratch
directory inside that directory, which is removed at exit. Human
readable metric lines go to stdout, and the last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The full record, spans included, is written to
``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.time()  # set-up is timed from here, the start of the script

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"

# (name, unit) — the contract line's metric sets, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("batch_p50_s", "s"),
    ("geomean_s", "s"),
    ("items_per_s", "1/s"),
]
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.driver_residual_s", "s"),
]

# per-layer metrics derived from spans: (metric, span, statistic)
SPAN_LAYERS = [
    ("avro.write_container_dir_s", "avro.write_container_dir", "total_per_op"),
    ("incremental.init_state_s", "incremental.init_state", "total_per_call"),
    ("incremental.score_s", "incremental.ingest_and_commit", "self_per_call"),
    ("incremental.commit_s", "incremental.commit_batch", "total_per_call"),
    ("incremental.jobs_per_batch", "incremental.batch", "jobs_per_call"),
    ("catalog.load_table_s", "catalog.load_table", "total_per_op"),
    ("catalog.load_table_calls", "catalog.load_table", "calls_per_op"),
    ("pinning.pin_s", "pinning.pin", "total_per_op"),
    ("pinning.pin_calls", "pinning.pin", "calls_per_op"),
    ("pinning.pin_if_big_s", "pinning.pin_if_big", "total_per_op"),
    ("pinning.pin_if_big_calls", "pinning.pin_if_big", "calls_per_op"),
    ("dedup.connected_components_s", "dedup.connected_components", "total_per_call"),
    ("dedup.connected_components_jobs", "dedup.connected_components", "jobs_per_call"),
    ("similarity.kmeans_centroids_s", "similarity.kmeans_centroids", "total_per_call"),
]


UNITS = {
    "items_per_s": "1/s", "peak_rss_mb": "MB", "rss_python_mb": "MB", "rss_jvm_mb": "MB",
    "batch_tail_pct": "%",
    "error_rate": "ratio", "rows_per_s": "rows/s", "docs_per_s": "docs/s",
    "stream.dedup_ratio": "ratio", "incremental.write_amplification": "ratio",
    "avro.bytes_per_row": "bytes",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("bytes", "bytes"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    """Descendants of ``pid``, from /proc."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent_of[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Run:
    """One workload run: session, spans, operations and their checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        from tracing import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer(f"{workload}-{seed}") if trace else None
        self.ops: list[dict] = []
        self.batch_times: list[float] = []  # the batch_p50_s/batch_tail_s samples
        self.failures: list[str] = []
        self.metrics: dict = {}
        self.layers: dict = {}
        self.undo: list = []
        self.gen_s = 0.0
        self.spark = None
        self.jvm = None

    # ---------------------------------------------------------- set-up
    def session(self):
        from ingest_spark import session

        extra = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            from tracing import EVENT_LOG_CONF

            os.makedirs(os.path.join(self.work, "eventlog"))
            extra.update(EVENT_LOG_CONF)
            extra["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
        t = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = session.get_spark(f"perfbench-{self.workload}", extra_conf=extra)
        self.layers["session.get_spark_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    def setup(self, warm) -> None:
        """Untimed warm-up; closes the set-up interval (process start to
        here, input generation excluded)."""
        with self.span("setup.warm_up"):
            warm()
        self.metrics["setup_s"] = time.time() - T_START - self.gen_s

    def instrument(self, targets) -> None:
        if self.tracer is not None:
            from tracing import instrument

            self.undo.append(instrument(self.tracer, targets))

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    # ---------------------------------------------------- measured loop
    def begin(self) -> None:
        self.t0 = time.time()

    def time_up(self) -> bool:
        return time.time() >= self.t0 + self.seconds

    def end(self) -> None:
        self.t1 = time.time()
        self.metrics["rss_python_mb"] = _vm_hwm_mb("self")
        self.metrics["rss_jvm_mb"] = _vm_hwm_mb(self.jvm.pid)
        self.metrics["peak_rss_mb"] = self.metrics["rss_python_mb"] + self.metrics["rss_jvm_mb"]

    def op(self, seconds: float, items: int, name: str | None = None) -> int:
        self.ops.append({"s": seconds, "items": items, "name": name, "ok": True})
        return len(self.ops) - 1

    def fail(self, what: str, exc: BaseException) -> None:
        self.failures.append(f"{what}: {exc!r}")
        traceback.print_exception(exc, file=sys.stderr)

    def check(self, idx: int, ok: bool, what: str) -> None:
        if not ok:
            self.ops[idx]["ok"] = False
            print(f"[check failed] {self.workload}: {what}", file=sys.stderr)

    def check_all(self, ok: bool, what: str) -> None:
        for i in range(len(self.ops)):
            self.check(i, ok, what)

    # ------------------------------------------------------- teardown
    def stop(self) -> None:
        while self.undo:
            self.undo.pop()()
        if self.spark is None:
            return
        from pyspark import SparkContext

        workers = _children(self.jvm.pid)
        gateway = SparkContext._gateway
        self.spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        with contextlib.suppress(Exception):
            self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except Exception:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 10
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        self.spark = None

    # ------------------------------------------------------- results
    def attempted(self) -> int:
        return len(self.ops) + len(self.failures)

    def failed(self) -> int:
        return len(self.failures) + sum(not o["ok"] for o in self.ops)

    def end_to_end(self) -> dict:
        times = self.batch_times
        m = dict(self.metrics)
        if times:
            m["batch_p50_s"] = statistics.median(times)
            pct, tail = percentile_tail(times)
            if tail is not None:
                m["batch_tail_s"], m["batch_tail_pct"] = tail, pct
        m["batch_n"] = len(times)
        m["error_rate"] = self.failed() / max(self.attempted(), 1)
        return m

    def span_layers(self) -> dict:
        """Per-layer metrics from spans and the event log (traced run)."""
        from tracing import jobs_by_span, read_event_log, spark_window_metrics, summarize_spans

        log = read_event_log(os.path.join(self.work, "eventlog"))
        n_ops = max(len(self.ops), 1)
        out = spark_window_metrics(log, self.t0, self.t1, n_ops)
        spans = self.tracer.spans
        in_window = [s for s in spans if s["end"] and s["start"] >= self.t0 and s["end"] <= self.t1]
        summary = summarize_spans(in_window, jobs_by_span(log, spans))
        for metric, name, stat in SPAN_LAYERS:
            s = summary.get(name)
            if s is None:
                continue
            out[metric] = {
                "total_per_op": s["total_s"] / n_ops,
                "calls_per_op": s["calls"] / n_ops,
                "total_per_call": s["total_s"] / s["calls"],
                "self_per_call": s["self_s"] / s["calls"],
                "jobs_per_call": s["jobs"] / s["calls"],
            }[stat]
        for name, s in summary.items():
            if name.startswith("queries.") and name != "queries.build":
                out[f"{name}.jobs"] = s["jobs"] / s["calls"]
        return out, summary


def percentile_tail(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least 10 samples beyond it, as
    (percentile, value); (None, None) below 11 samples."""
    n = len(values)
    if n < 11:
        return None, None
    k = n - 11  # 0-based rank with exactly 10 samples above it
    return round(100.0 * (k + 1) / n, 1), sorted(values)[k]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import ingest_spark  # noqa: F401  (fails fast outside a checkout)
    import oracle_harness  # noqa: F401
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed, modest driver heap keeps the JVM small on a shared box; with
    # the engine's 8g default its resident size follows G1's heap growth
    # and peaked anywhere from 2.3 to 3.5 GB between identical runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM Spark starts, its launcher included, keeps its temp files
    # in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark drops in its working directory lands here
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    summary = None
    try:
        try:
            WORKLOADS[args.workload](run)
        except Exception as e:
            if run.spark is None:  # no session: nothing was measured
                raise
            run.fail(f"{args.workload} aborted", e)
        e2e = run.end_to_end()
        if run.trace and hasattr(run, "t1"):
            run.stop()
            layers, summary = run.span_layers()
            run.layers.update(layers)
    finally:
        run.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": run.attempted(), "failed": run.failed(),
        "failures": run.failures, "end_to_end": e2e, "layers": run.layers,
        "span_summary": summary, "spans": run.tracer.spans if run.tracer else None,
        "ops": run.ops, "gen_s": run.gen_s,
    }
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, v in sorted(e2e.items()):
        print(f"{args.workload} end_to_end {k} = {v} {unit_of(k)}")
    for k, v in sorted(run.layers.items()):
        print(f"{args.workload} layer {k} = {v} {unit_of(k)}")
    chosen = PER_LAYER if args.trace else END_TO_END
    source = run.layers if args.trace else e2e
    # a metric a failed run could not measure is null; such a run is
    # never correct, and one that attempted nothing counts as one failure
    metrics = {n: {"value": source.get(n), "unit": u} for n, u in chosen}
    attempted, failed = run.attempted(), run.failed()
    if attempted == 0:
        attempted = failed = 1
    print(json.dumps({
        "correct": failed == 0 and all(m["value"] is not None for m in metrics.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
