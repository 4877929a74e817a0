"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) into a
   work directory under ``.perfbench_work/`` (outside every metric);
2. sets up from a fresh process: package import, ``get_spark()`` (JVM
   launch) and two untimed warm-up iterations of the workload, the first
   on inputs 1/100 of the timed size; this is ``setup_s``;
3. runs timed iterations until ``--seconds`` have passed (at least
   ``MIN_ITERATIONS``); with ``--trace 1`` every second iteration is
   traced (``spans.py``) and the untraced ones give the tracing overhead;
   a traced run then runs its workload's extra pass once, traced;
4. checks every iteration's output (``checks.py``);
5. prints run metadata, one line per metric, and last one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Exits 2 without a result when the engine package is not next to
``perfbench/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dbms_data_anonymity_differential_privacy_spark"
WORKLOAD_NAMES = ("anon_release", "corpus_curation")
MIN_ITERATIONS = 2
EXTRA = -1  # iteration id of the spans of the extra pass
SETTLE_S = 1.0

END_TO_END = {"setup_s": "s", "wall_s": "s", "ok_frac": "frac"}

# per-layer metric -> unit; layers a workload does not exercise report 0
PER_LAYER = {
    "session.start_s": "s", "session.tasks": "count", "session.task_busy_frac": "frac",
    "session.task_failures": "count",
    "sources.read.self_s": "s", "sources.read.rows": "count",
    "sources.write.self_s": "s", "sources.write.mb": "MB", "sources.write.files": "count",
    "functions.binning.self_s": "s", "functions.binning.jobs": "count",
    "operators.kanonymity.self_s": "s", "operators.kanonymity.jobs": "count",
    "operators.kanonymity.tasks": "count", "operators.kanonymity.calls": "count",
    "operators.kanonymity.kept_frac": "frac",
    "operators.tcloseness.self_s": "s", "operators.tcloseness.jobs": "count",
    "operators.tcloseness.shuffle_mb": "MB", "operators.tcloseness.pass_frac": "frac",
    "operators.metrics.self_s": "s", "operators.metrics.jobs": "count",
    "operators.clustering.self_s": "s", "operators.clustering.jobs": "count",
    "operators.dp.self_s": "s", "operators.dp.jobs": "count", "operators.dp.epsilon_spent": "eps",
    "operators.rollup.self_s": "s", "operators.rollup.suppressed_frac": "frac",
    "operators.pii.self_s": "s", "operators.pii.redacted_frac": "frac",
    "operators.quality.self_s": "s", "operators.quality.pass_frac": "frac",
    "operators.dedup.self_s": "s", "operators.dedup.jobs": "count",
    "operators.dedup.survivor_frac": "frac", "operators.dedup.shuffle_mb": "MB",
    "operators.dedup.spill_mb": "MB",
    "operators.similarity.self_s": "s", "operators.similarity.shuffle_mb": "MB",
    "streaming.self_s": "s", "streaming.jobs": "count", "streaming.batches": "count",
    "streaming.rows_per_batch": "count", "streaming.add_batch_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "operators.util.cached_released": "count",
    "pipelines.self_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.unattributed_frac": "frac",
}


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _configure_env(run_dir: str) -> None:
    """Keep every file Spark writes inside the run directory and turn the
    console progress bar off, before pyspark starts the JVM."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # no hsperfdata file in the system temp dir; a 3 GB initial heap (the
        # JVM's peak resident size in a run) so that heap growth, which
        # differs from run to run, does not vary the timed region
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData -Xms3g'",
        "pyspark-shell",
    ])


def _reset_hwm(pid: int) -> None:
    """Reset the peak resident set size of ``pid`` to its current size."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _status_mb(pid: int, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) written under ``path``."""
    mb, files = 0.0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                mb += os.path.getsize(os.path.join(dirpath, n)) / 1e6
                files += 1
    return mb, files


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.meta: dict = {}
        self.extra = None  # outputs of the workload's extra pass, traced runs only
        self.extra_stats: dict = {}

    # -- set-up ------------------------------------------------------------

    def generate(self) -> None:
        import gen

        w, seed = self.args.workload, self.args.seed
        self.data = os.path.join(self.run_dir, "data-bench")
        self.smoke_data = os.path.join(self.run_dir, "data-smoke")
        t = time.perf_counter()
        self.meta["input_rows"] = gen.generate(w, "bench", seed, self.data)
        gen.generate(w, "smoke", seed, self.smoke_data)
        self.meta["generate_s"] = round(time.perf_counter() - t, 3)
        self.meta["input_size_reason"] = gen.SIZE_NOTES[w]

    def _release(self) -> int:
        from dbms_data_anonymity_differential_privacy_spark.operators.util import (
            release_cached_relations,
        )

        n = release_cached_relations()
        self.spark.catalog.clearCache()
        return n

    def set_up(self) -> None:
        """Fresh process to settled timings: import, JVM launch, two warm-up
        iterations. The first iteration in a cold JVM costs ~3x a warm one
        whatever the input size, so it runs the smallest inputs; the second,
        on the timed inputs, still runs ~25% slow (JIT compilation), after
        which iteration times settle. Both belong to set-up."""
        t0 = time.perf_counter()
        import dbms_data_anonymity_differential_privacy_spark as engine
        import checks  # noqa: F401  (imports the engine's registry and DuckDB)
        from spans import NullTracer
        from workloads import WORKLOADS, Ctx

        t1 = time.perf_counter()
        self.spark = engine.get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        for i, data in enumerate((self.smoke_data, self.data)):
            ctx = Ctx(self.spark, data, os.path.join(self.run_dir, "warm"), NullTracer())
            WORKLOADS[self.args.workload](ctx, i)
            self._release()
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.start_s = t2 - t1
        self.meta["setup"] = {
            "import_s": round(t1 - t0, 3), "get_spark_s": round(t2 - t1, 3),
            "warm_up_s": round(t3 - t2, 3),
        }

    # -- timed region ------------------------------------------------------

    def measure(self) -> None:
        from spans import NullTracer, Tracer
        from workloads import WORKLOADS, Ctx

        run = WORKLOADS[self.args.workload]
        self.iterations: list[tuple[bool, object]] = []
        self.errors: list[str] = []
        self.released: list[int] = []
        self.tracer = Tracer(self.spark, f"perfbench-{os.getpid()}")
        self._settle()
        for pid in (os.getpid(), self.jvm_pid):
            _reset_hwm(pid)
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < deadline or i < MIN_ITERATIONS:
            traced = bool(self.args.trace) and i % 2 == 1
            tracer = self.tracer if traced else NullTracer()
            ctx = Ctx(self.spark, self.data, os.path.join(self.run_dir, "out"), tracer)
            tracer.begin_iteration(i)
            try:
                with tracer.span("bench"):
                    it = run(ctx, i)
                self.iterations.append((traced, it))
            except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
                self.errors.append(traceback.format_exc(limit=3))
                print(self.errors[-1], file=sys.stderr)
            tracer.end_iteration()
            self.released.append(self._release())
            i += 1
        peak_rss = _status_mb(os.getpid(), "VmHWM") + _status_mb(self.jvm_pid, "VmHWM")
        self.meta["iterations"] = i
        self.meta["iteration_wall_s"] = [round(it.wall_s, 3) for _, it in self.iterations]
        if self.iterations:
            self.meta["last_iteration_steps_s"] = {
                name: round(s, 3) for name, s in self.iterations[-1][1].steps}
        self.meta["peak_rss_mb"] = round(peak_rss, 1)

    def extra_pass(self) -> None:
        from workloads import EXTRA_PASSES, Ctx

        ctx = Ctx(self.spark, self.data, os.path.join(self.run_dir, "extra"), self.tracer)
        self.tracer.begin_iteration(EXTRA)
        try:
            self.extra = EXTRA_PASSES[self.args.workload](ctx)
        except Exception:  # noqa: BLE001 - counted as a failed check, not fatal
            self.errors.append(traceback.format_exc(limit=3))
            print(self.errors[-1], file=sys.stderr)
        self.tracer.end_iteration()

    def _settle(self) -> None:
        """Let the JIT compiler queue drain before the timed region. The JVM
        heap is deliberately not collected: a full GC shrinks it, and
        re-growing it page-faults fresh memory inside the timed region."""
        gc.collect()
        time.sleep(SETTLE_S)

    # -- checks ------------------------------------------------------------

    def check(self) -> None:
        """Every check run counts as attempted; an iteration that raised
        counts as one failed check."""
        from checks import CHECKS, EXTRA_CHECKS

        try:
            results = CHECKS[self.args.workload](
                self.data, [it.outputs for _, it in self.iterations], bool(self.args.trace))
        except Exception:  # noqa: BLE001 - checks that cannot run fail each iteration
            print(traceback.format_exc(limit=3), file=sys.stderr)
            results = [({"check_raised": False}, {})] * len(self.iterations)
        if self.extra is not None:
            ok, self.extra_stats = EXTRA_CHECKS[self.args.workload](self.data, self.extra)
            results.append((ok, {}))
        self.stats = [stats for _, stats in results]
        self.failures = [name for ok, _ in results for name, passed in ok.items() if not passed]
        self.failures += ["iteration_raised"] * len(self.errors)
        self.attempted = sum(len(ok) for ok, _ in results) + len(self.errors)

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict:
        """``wall_s`` is the median over the untraced timed iterations; each
        op's median latency goes to ``meta.op_median_s``."""
        untraced = [it for traced, it in self.iterations if not traced]
        by_op: dict[str, list[float]] = {}
        for it in untraced:
            for name, s in it.steps:
                by_op.setdefault(name, []).append(s)
        self.meta["op_median_s"] = {k: round(statistics.median(v), 3) for k, v in by_op.items()}
        attempted = max(self.attempted, 1)
        return {
            "setup_s": self.setup_s,
            "wall_s": statistics.median(it.wall_s for it in untraced),
            "ok_frac": (attempted - len(self.failures)) / attempted,
        }

    def per_layer(self) -> dict:
        from spans import self_times

        traced = [it for t, it in self.iterations if t]
        untraced = [it for t, it in self.iterations if not t]
        n = max(len(traced), 1)
        selfs = self_times(self.tracer.spans)
        # the extra pass runs once per run, outside the iterations
        spans = [s for s in self.tracer.spans if s.iteration != EXTRA]
        out = dict.fromkeys(PER_LAYER, 0.0)
        for s in self.tracer.spans:
            if s.iteration == EXTRA:
                out[f"{s.layer}.self_s"] += selfs[s.span_id]
                out[f"{s.layer}.jobs"] += s.jobs
        out.update(self.extra_stats)

        def add(name, value):
            out[name] += value / n

        for s in spans:
            layer = s.layer
            if f"{layer}.self_s" in out:
                add(f"{layer}.self_s", selfs[s.span_id])
            if f"{layer}.jobs" in out:
                add(f"{layer}.jobs", s.jobs)
            if f"{layer}.tasks" in out:
                add(f"{layer}.tasks", s.tasks)
            if f"{layer}.calls" in out:
                add(f"{layer}.calls", 1)
            if f"{layer}.shuffle_mb" in out:
                add(f"{layer}.shuffle_mb", s.shuffle_bytes / 1e6)
            if f"{layer}.spill_mb" in out:
                add(f"{layer}.spill_mb", s.spill_bytes / 1e6)
            if layer == "sources.read":
                add("sources.read.rows", s.rows)
            add("session.tasks", s.tasks)
            add("session.task_failures", s.failed_tasks)
        roots = [s for s in spans if s.layer == "bench"]
        traced_wall = sum(s.duration for s in roots)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        run_s = sum(s.run_ms for s in spans) / 1000.0
        out["session.task_busy_frac"] = run_s / (cores * traced_wall) if traced_wall else 0.0
        out["session.start_s"] = self.start_s
        if traced:
            out["trace.wall_s"] = statistics.median(it.wall_s for it in traced)
            out["trace.overhead_s"] = (
                out["trace.wall_s"] - statistics.median(it.wall_s for it in untraced))
        out["trace.unattributed_frac"] = (
            sum(selfs[s.span_id] for s in roots) / traced_wall if traced_wall else 0.0
        )
        out["operators.util.cached_released"] = statistics.mean(self.released)
        for (is_traced, _), (mb, files), stats in zip(self.iterations, self.written, self.stats):
            if is_traced:
                add("sources.write.mb", mb)
                add("sources.write.files", files)
                for k, v in stats.items():
                    if k in out:
                        add(k, v)
        return out

    def record_writes(self) -> None:
        """(MB, files) each iteration published."""
        self.written = [
            _dir_stats(it.outputs.get("release_dir", ""))
            for _, it in self.iterations
        ]

    def shut_down(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def main() -> int:
    args = _parse()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run it from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _configure_env(run_dir)
    sys.path.insert(0, ROOT)
    bench = Bench(args, run_dir)
    try:
        bench.meta.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_before": os.getloadavg(),
        })
        bench.generate()
        bench.set_up()
        bench.jvm_pid = __import__("pyspark").SparkContext._gateway.proc.pid
        bench.meta.update(_versions(bench.spark))
        bench.measure()
        if args.trace:
            bench.extra_pass()
        if not bench.iterations or not any(not t for t, _ in bench.iterations):
            print("perfbench: no iteration completed", file=sys.stderr)
            return 1
        bench.record_writes()
        t = time.perf_counter()
        bench.check()
        bench.meta["check_s"] = round(time.perf_counter() - t, 3)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        units = PER_LAYER if args.trace else END_TO_END
        bench.meta["loadavg_after"] = os.getloadavg()
        bench.meta["failed_checks"] = sorted(set(bench.failures))
        bench.shut_down()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"meta": bench.meta}, default=str))
    for name, value in metrics.items():
        print(f"{name:36s} {value:14.4f} {units[name]}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
