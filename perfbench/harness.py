"""Shared run machinery: the run directory, the Spark session, the timed
closed loop, Spark counters and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

from perfbench.trace import RssSampler, Tracer, process_start_time


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Run:
    """One benchmark run: owns the run directory, the tracer, the
    session and the numbers the result line is made of."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.t_proc = process_start_time()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = os.getcwd()
        self.dir = os.path.join(self.root, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tracer = Tracer(trace)
        self.rss = RssSampler().start()
        self.record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- session ---------------------------------------------------------

    def start_spark(self):
        """``get_spark`` on ``local[nproc]`` with every scratch path
        inside the run directory. Returns seconds from process start to
        a usable session, minus input generation."""
        from big_data___knowledge_graph_construction_with_llm_spark import get_spark

        nproc = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    # -XX:-UsePerfData: no hsperfdata file under /tmp.
                    # -XX:CICompilerCount=2: one C1 and one C2 compiler
                    # thread instead of the three the JVM picks for 4
                    # CPUs. After the warm-up, JIT compilation still
                    # takes ~1.4 cores through the first timed build, on
                    # top of local[nproc] tasks; with two threads builds
                    # were faster and spread less (5 seeds: 8.6% vs 12%).
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
                    f" -Dderby.system.home={tmp} -XX:-UsePerfData -XX:CICompilerCount=2",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setCheckpointDir(self.path("checkpoints"))
        self.nproc = nproc
        return time.time() - self.t_proc - self.gen_s

    def describe_env(self) -> None:
        import pyspark

        sc = self.spark.sparkContext
        self.record.update(
            nproc=self.nproc,
            python=platform.python_version(),
            pyspark=pyspark.__version__,
            java=self.spark._jvm.System.getProperty("java.version"),
            master=sc.master,
            storage_memory_bytes=self.storage_memory(),
        )

    def storage_memory(self) -> int:
        try:
            execs = self.spark.sparkContext._jsc.sc().statusStore().executorList(True)
            return sum(int(execs.apply(i).maxMemory()) for i in range(execs.size()))
        except Exception:  # noqa: BLE001 - status store shape differs across versions
            return 0

    def last_job_id(self) -> int:
        jobs = self.spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def collector(self):
        from big_data___knowledge_graph_construction_with_llm_spark.metrics import MetricsCollector

        mc = MetricsCollector(self.spark)
        mc.start()
        return mc

    # -- outcome bookkeeping ----------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a wrong answer is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    # -- end of run ---------------------------------------------------------

    def finish(self, e2e: dict, layers: dict) -> None:
        """Print the run record, write spans, stop the session and its
        JVM, remove the run directory and print the result line: the
        end-to-end metrics, or with tracing the per-layer metrics.
        Layers a workload does not call report 0."""
        with open(os.path.join(self.root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.rss.stop()
        e2e = {**e2e, "peak_rss_mb": (self.rss.peak / 2**20, "MB")}
        self.record["peak_rss_split_mb"] = {k: v / 2**20 for k, v in self.rss.peak_split.items()}
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
        if missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
        self.record["ops_failed_frac"] = f"{self.failed}/{self.attempted}"
        if self.failures:
            self.record["failures"] = self.failures
        if self.trace:
            self.record["e2e_traced"] = {k: v for k, (v, _) in e2e.items()}
            spans = self.tracer.by_name()
            self.record["span_self_s"] = {name: a["self_s"] for name, a in sorted(spans.items())}
            get_spark = spans.get("session.get_spark", {}).get("total_s", 0.0)
            layers = {**layers, "session.get_spark_s": (get_spark, "s")}
            layers = {
                m["name"]: layers.get(m["name"], (0.0, m["unit"])) for m in spec["per_layer"]
            }
        print("run record: " + json.dumps(self.record, sort_keys=True, default=str))
        if self.trace:
            spans_path = os.path.join(
                self.root, ".perfbench_run", f"spans-{self.workload}-{self.seed}.jsonl"
            )
            self.tracer.write(spans_path)
            print(f"spans written: {os.path.relpath(spans_path, self.root)}"
                  f" ({len(self.tracer.spans)} spans)")
        self.stop_spark()
        shutil.rmtree(self.dir, ignore_errors=True)
        metrics = layers if self.trace else e2e
        out = {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        sys.stdout.flush()
        print(json.dumps(out), flush=True)

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - gateway already gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: do not leave the JVM behind
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


@contextmanager
def timed_materialize(run: Run):
    """In traced runs, route the engine's ``materialize`` seam through a
    span (``materialize.calls`` / ``materialize.s``); otherwise a no-op."""
    if not run.trace:
        yield
        return
    from big_data___knowledge_graph_construction_with_llm_spark import materialize as M

    inner = M.get_materializer()

    def timed(df):
        with run.tracer.span("materialize"):
            return inner(df)

    with M.using_materializer(timed):
        yield


def spark_layers(d: dict, jobs: int, nops: int) -> dict:
    """Spark's own counters (a ``MetricsCollector`` record and a job
    count) over the timed window, per operation."""
    return {
        "spark.jobs": (jobs / nops, "count"),
        "spark.tasks": (d["tasks"] / nops, "count"),
        "spark.task_s": (d["task_time_ms"] / 1000 / nops, "s"),
        "spark.gc_s": (d["gc_time_ms"] / 1000 / nops, "s"),
        "spark.shuffle_read_bytes": (d["shuffle_read_bytes"] / nops, "B"),
        "spark.shuffle_write_bytes": (d["shuffle_write_bytes"] / nops, "B"),
        "spark.input_bytes": (d["input_bytes"] / nops, "B"),
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs)
