"""Per-run state shared by the workloads: work directories inside the
checkout, the Spark session and its repeated set-up, optional tracing,
and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import layers
import measure
import tracing

ENGINE = "advanced_real_time_data_pipeline_and_analytical_processing_spark"
WORK_DIR = ".perfbench_work"
SETUP_REPS = 5
HERE = os.path.dirname(os.path.abspath(__file__))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate_env(tmp: str) -> None:
    """Keep every scratch file Spark, the JVM and Python write inside the
    checkout, and clear the engine's tuning variables so runs compare."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    for k in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DURABLE",
              "SPARK_DRIVER_MEMORY"):
        os.environ.pop(k, None)


def git_head(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Run:
    """One benchmark run of one workload."""

    def __init__(self, args, root: str) -> None:
        self.args = args
        self.root = root
        self.work = os.path.join(root, WORK_DIR)
        self.dir = os.path.join(self.work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        isolate_env(os.path.join(self.dir, "tmp"))
        self.cpus = nproc()
        self.tracer = tracing.Tracer() if args.trace else None
        self.progress: list[dict] = []  # listener records (traced run)
        self.spark = None
        self.procs: list[subprocess.Popen] = []  # load generators started
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.failures: list[str] = []
        self.artifact: dict = {
            "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
            "seconds": args.seconds, "master": f"local[{self.cpus}]", "nproc": self.cpus,
            "head": git_head(root), "phases_s": {},
        }
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when `phase` ended, in seconds since the run began."""
        self.artifact["phases_s"][phase] = time.perf_counter() - self.t0

    # -- tracing -------------------------------------------------------
    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def instrument(self, wraps: list[tuple[object, str]]) -> None:
        """Span each (function, span name) wherever the engine or the
        entry module holds it, and every foreachBatch body."""
        if not self.tracer:
            return
        import __spark_entry__
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        modules = [m for k, m in sorted(sys.modules.items())
                   if k == ENGINE or k.startswith(ENGINE + ".")] + [__spark_entry__]
        for func, name in wraps:
            self.tracer.wrap(modules, func, name)
        self.tracer.wrap_foreach_batch(DataStreamWriter, "streaming.process_batch")

    # -- session -------------------------------------------------------
    def stop_spark(self) -> None:
        """Stop the session; a traced run's event log is complete after."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def _setup_once(self, warm, rep: int) -> None:
        from advanced_real_time_data_pipeline_and_analytical_processing_spark import session

        conf = {}
        if self.tracer:
            conf = tracing.event_log_conf(os.path.join(self.dir, "eventlog"))
        self.stop_spark()
        t0 = time.perf_counter()
        with self.span("session.setup", rep=rep):
            self.spark = session.get_spark(
                f"perfbench-{self.args.workload}", cpus=self.cpus, extra_conf=conf)
            warm(self.spark)
        self.setup_times.append(time.perf_counter() - t0)

    def start_session(self, warm) -> None:
        """First set-up: launch the JVM, start the session and run the
        workload's warm-up action on it."""
        self.setup_times: list[float] = []
        self._setup_once(warm, 0)
        self.artifact["spark_version"] = self.spark.version
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer:
            self.spark.streams.addListener(tracing.make_progress_listener(self.progress))

    def setup_seconds(self, warm) -> float:
        """After the timed window, set up SETUP_REPS - 1 more times (a
        fresh SparkContext in the same JVM each time) so the measurement
        is not disturbed; the median over all set-ups."""
        for rep in range(1, SETUP_REPS):
            self._setup_once(warm, rep)
        self.artifact["setup_reps_s"] = self.setup_times
        return statistics.median(self.setup_times)

    def loadgen(self, *argv: str) -> dict:
        """Run the load generator as its own process; return its summary."""
        out = subprocess.run([sys.executable, os.path.join(HERE, "loadgen.py"), *argv],
                             capture_output=True, text=True, timeout=170, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def loadgen_async(self, *argv: str) -> subprocess.Popen:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"), *argv],
                                stdout=subprocess.PIPE, text=True)
        self.procs.append(proc)
        return proc

    def close(self) -> None:
        """Stop every process the run started and wait for each: load
        generators still running (after an error), the session, and the
        JVM, which exits when its gateway's stdin closes."""
        for proc in self.procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait(timeout=30)
        self.stop_spark()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait(timeout=30)

    def memory_mb(self) -> float:
        """Memory the run holds now: driver JVM heap and non-heap in use
        after a full GC, plus this process's resident set. The heap is read
        after three GCs a quarter of a second apart, keeping the lowest, so that
        references cleared by one collection are gone by the read. (Peak
        RSS moved ±15 % between identical runs with when G1 grew the heap,
        so it only goes to the artifact.)"""
        jvm = self.spark._jvm
        self.artifact["peak_rss_mb"] = measure.peak_rss_mb([self.jvm_pid])
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap = []
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.25)
            heap.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
        self.artifact["heap_reads_mb"] = heap
        parts = {"heap": min(heap),
                 "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
                 "python_rss": measure.rss_mb()}
        self.artifact["memory_mb"] = parts
        return sum(parts.values())

    # -- result --------------------------------------------------------
    def fail(self, op: str, msg: str) -> None:
        """Count operation `op` (a file, batch or query) as failed."""
        self.failed_ops.add(op)
        self.failures.append(f"{op}: {msg}")

    def finish(self, e2e: dict, w0: float, w1: float, extras: dict | None = None) -> dict:
        """Stop the session, write the artifact and return the result line:
        the end-to-end metrics, or for a traced run the per-layer ones over
        the timed window [w0, w1] (`extras` holds those the workload
        measured itself)."""
        self.stop_spark()
        art_dir = os.path.join(self.work, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        last_untraced = os.path.join(art_dir, f"{self.args.workload}-untraced-last.json")
        self.artifact.update(attempted=self.attempted, failures=self.failures[:50], e2e=e2e)
        metrics = e2e
        if self.tracer:
            self.tracer.restore()
            log = tracing.read_event_log(os.path.join(self.dir, "eventlog"))
            per_layer, breakdown = layers.compute(self, w0, w1, log, extras or {})
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
            self.artifact.update(layers=metrics, breakdown=breakdown,
                                 spans=self.tracer.spans, progress=self.progress)
            if os.path.exists(last_untraced):
                with open(last_untraced) as fh:
                    base = json.load(fh)["e2e"]
                self.artifact["tracing_overhead"] = {
                    k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base}
        kind = "trace" if self.tracer else "untraced"
        path = os.path.join(art_dir, f"{self.args.workload}-{kind}-{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(self.artifact, fh, indent=1, default=str)
        if not self.tracer:
            shutil.copyfile(path, last_untraced)
        shutil.rmtree(self.dir, ignore_errors=True)
        return {"correct": not self.failures, "attempted": self.attempted,
                "failed": len(self.failed_ops), "metrics": metrics}


def e2e_metrics(setup_s: float, latency_s: float, throughput: float, memory: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_s": {"value": latency_s, "unit": "s"},
        "throughput_per_s": {"value": throughput, "unit": "1/s"},
        "memory_mb": {"value": memory, "unit": "MB"},
    }
