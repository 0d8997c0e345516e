"""Benchmark of the point-in-time featurizer at ``local[4]``.

    python3 perfbench/run.py --workload pages_backfill --seed 1 --seconds 4 --trace 0

Builds the workload's input from ``--seed`` (under
``.perfbench/inputs/<workload>``), sets up the session and the
input several times, warms the session with a checked execution,
then runs the workload end to end until ``--seconds`` of timed executions have
passed, checking every output outside the timed region. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it also makes one traced
execution plus one call into each layer and reports the per-layer
metrics, writing the spans to ``.perfbench/trace-<workload>.jsonl``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is ``{"host": ...}``, the CPU calibration taken before and after the
timed executions, so runs from differently throttled windows can be
told apart. All files the run
writes stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CPUS = 4
SETUP_ROUNDS = 3
MIN_EXECUTIONS = 3
# checked like the timed ones: the check runs the plan into another sink,
# and with unchecked warm-ups the execution after the first check ran
# slower than those around it
WARMUP_EXECUTIONS = 1
DRIVER_MEMORY = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "scan.rows": "count", "scan.input_bytes": "bytes", "scan.busy_s": "s",
    "extraction.busy_s": "s", "extraction.rows": "count", "extraction.html_bytes": "bytes",
    "resample.busy_s": "s", "resample.rows": "count",
    "featurize.windows_busy_s": "s", "auto_chunk.s": "s", "auto_chunk.spark_jobs": "count",
    "windows.busy_s": "s", "sessionize.busy_s": "s",
    "asof.busy_s": "s", "asof.left_rows": "count", "asof.matched_ratio": "ratio",
    "skew.chunked_busy_s": "s", "skew.plain_busy_s": "s",
    "resume.busy_s": "s", "resume.buckets_processed": "count",
    "resume.rows_written": "count", "resume.output_bytes": "bytes",
    "resume.files_written": "count",
    "audit.busy_s": "s", "audit.rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "trace.wall_s": "s", "trace.uncovered_s": "s", "trace.overhead_s": "s",
    "jvm.peak_heap_mb": "MB",
    "host.calib_iters_per_s": "1/s", "scaling.eff_1to4": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_calibration(seconds: float = 0.5) -> float:
    """Pure-Python loop iterations per second on one core: a stamp that
    nothing in Spark can influence, exposing throttled windows."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / (time.perf_counter() - t0)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (``/proc/stat``); a rise during a run marks a contended
    window."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> dict[str, str]:
    """Environment and Spark settings that keep every file the run
    writes inside the checkout and size the driver for the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    }


class Session:
    """The run's SparkSession, restartable in the same JVM, and the
    shutdown that waits for the JVM and its Python workers to end."""

    def __init__(self, conf: dict[str, str]):
        self.conf = conf
        self.spark = None

    def start(self, cpus: int = CPUS):
        from slowfast_feature_extractor_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=self.conf)
        return self.spark

    def shutdown(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench import engine

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            tree = engine.process_tree(engine.jvm_pid(self.spark))
        except Exception:  # noqa: BLE001 - the JVM is already gone
            tree = []
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in tree):
            if time.monotonic() > deadline:
                for p in tree:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                break
            time.sleep(0.1)


class Runner:
    def __init__(self, args, session: Session, work: str):
        from perfbench import workloads

        self.args = args
        self.session = session
        self.work = work
        self.cls = workloads.WORKLOADS[args.workload]
        self.attempted = 0
        self.failures: list[str] = []  # one per failed execution
        self.sampler = None

    def execute(self, wl, tag: str, timing=None, keep: bool = False) -> tuple[float, bool]:
        """One checked execution: its wall time and whether it passed.
        ``timing`` is a context around the run alone (the traced
        execution's span); ``keep`` leaves the output for the layer
        calls."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with timing or contextlib.nullcontext():
                result = wl.run(tag)
            wall = time.perf_counter() - t0
            fails = wl.check(result)
            log(f"[perfbench] {tag}: {wall:.3f}s, checked in "
                f"{time.perf_counter() - t0 - wall:.3f}s")
        except Exception as e:  # noqa: BLE001 - counted as a failed execution
            wall = time.perf_counter() - t0
            traceback.print_exc()
            fails = [f"raised {e!r}"]
        finally:
            if not keep:
                wl.cleanup()
        if fails:
            self.failures.append(f"{tag}: " + "; ".join(fails))
            log(f"[perfbench] {tag} FAILED: {fails}")
        return wall, not fails

    def setup(self):
        """SETUP_ROUNDS rounds of session start plus input generation,
        then WARMUP_EXECUTIONS checked warm-up executions. The first
        round's input is the one the run uses; later rounds regenerate it
        into scratch directories to measure set-up again. Returns
        (workload, setup_s, first session start)."""
        from perfbench import engine, gen

        rounds, first_start = [], None
        data_dir = os.path.join(STATE, "inputs", self.cls.name)
        manifest = None
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            spark = self.session.start()
            if r == 0:
                first_start = time.perf_counter() - t0
                self.sampler = engine.RssSampler(engine.jvm_pid(spark)).start()
                shutil.rmtree(data_dir, ignore_errors=True)
                manifest = gen.write(spark, self.cls.spec, self.args.seed, data_dir)
            else:
                regen = os.path.join(self.work, f"regen-{r}")
                gen.write(spark, self.cls.spec, self.args.seed, regen)
                shutil.rmtree(regen)
            rounds.append(time.perf_counter() - t0)
        wl = self.cls(self.session.spark, data_dir, manifest, self.args.seed, self.work)
        wl.prepare()
        t0 = time.perf_counter()
        for i in range(WARMUP_EXECUTIONS):
            self.execute(wl, f"warmup{i}")
        warm = time.perf_counter() - t0
        log(f"[perfbench] setup rounds {rounds}, warm-up {warm:.3f}s")
        return wl, statistics.median(rounds) + warm, first_start

    def timed(self, wl) -> tuple[list[float], list[int]]:
        """Wall times of the timed executions and the peak resident
        memory during each: of those that passed their check, or of all
        when none did."""
        runs: list[tuple[float, int, bool]] = []
        while len(runs) < MIN_EXECUTIONS or sum(r[0] for r in runs) < self.args.seconds:
            # start every execution from a collected heap, so garbage
            # left by the previous check does not land in its time
            self.session.spark.sparkContext._jvm.System.gc()
            self.sampler.reset()
            wall, ok = self.execute(wl, f"t{len(runs)}")
            runs.append((wall, self.sampler.reset(), ok))
        self.sampler.stop()
        kept = [r for r in runs if r[2]] or runs
        return [r[0] for r in kept], [r[1] for r in kept]

    def traced(self, wl, wall_s: float, first_start: float, calib: float) -> dict:
        from perfbench import engine, spans, workloads

        tracer = spans.Tracer(engine.EngineCounters(self.session.spark))
        heap = engine.HeapPeak(self.session.spark)
        e2e = f"e2e:{wl.name}"
        with tracer.span(f"workload:{wl.name}", seed=self.args.seed):
            with workloads.patched(tracer, wl.traced_patches()):
                self.session.spark.sparkContext._jvm.System.gc()
                heap.reset()
                self.execute(wl, "traced", timing=tracer.span(e2e, counted=True), keep=True)
                peak_heap = heap.peak_bytes()
            wl.open_layer_inputs()
            for name, _, call in wl.layer_calls():
                with tracer.span(name, counted=True) as attrs:
                    attrs.update(call())
            wl.cleanup()
        path = os.path.join(STATE, f"trace-{wl.name}.jsonl")
        tracer.write(path)
        log(f"[perfbench] spans written to {path}")

        m = {"session.start_s": first_start, "host.calib_iters_per_s": calib,
             "jvm.peak_heap_mb": peak_heap / 2**20}
        for name, busy, _ in wl.layer_calls():
            span = tracer.by_name(name)
            for b in busy:
                m[b] = span["end"] - span["start"]
            m.update({k: v for k, v in span["attrs"].items() if k in PER_LAYER})
        m["scan.rows"] = tracer.by_name("layer:sources.load_table")["attrs"]["spark.input_rows"]
        auto = tracer.by_name("layer:plans.featurize.auto_chunk_decision")["attrs"]
        m["auto_chunk.spark_jobs"] = auto["spark.jobs"]
        top = tracer.by_name(e2e)
        m.update({k: v for k, v in top["attrs"].items() if k.startswith("spark.")
                  and k in PER_LAYER})
        m["trace.wall_s"] = top["end"] - top["start"]
        m["trace.uncovered_s"] = tracer.self_time(top)
        m["trace.overhead_s"] = m["trace.wall_s"] - wall_s

        # the same execution on one core: local[4] throughput over four
        # times local[1] throughput
        wl.spark = self.session.start(cpus=1)
        wall_1, _ = self.execute(wl, "local1")
        m["scaling.eff_1to4"] = wall_1 / (CPUS * wall_s)
        return m


def report(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"  {name:<26} {value:>16.6g} {unit:<6} {note}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    session = Session(configure_env(work))
    try:
        from perfbench import workloads

        if args.workload not in workloads.WORKLOADS:
            p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        runner = Runner(args, session, work)
        wl, setup_s, first_start = runner.setup()
        calib_before, steal0 = cpu_calibration(), steal_s()
        walls, peaks = runner.timed(wl)
        host = {"calib_iters_per_s_before": calib_before,
                "steal_s": steal_s() - steal0,
                "calib_iters_per_s_after": cpu_calibration()}
        calib = statistics.mean((calib_before, host["calib_iters_per_s_after"]))
        wall_s = statistics.median(walls)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "rows_per_s": wl.rows / wall_s,
            "peak_rss_mb": statistics.median(peaks) / 2**20,
        }
        units = END_TO_END
        if args.trace:
            metrics = runner.traced(wl, wall_s, first_start, calib)
            units = PER_LAYER
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    n = len(walls)
    failed = len(runner.failures)
    print(f"perfbench {args.workload} seed={args.seed} local[{CPUS}] "
          f"input_rows={wl.rows} trace={args.trace}")
    if not args.trace:
        report("setup_s", setup_s, "s", f"median of {SETUP_ROUNDS} set-up rounds "
               f"+ {WARMUP_EXECUTIONS} checked warm-up execution")
        # the highest percentile with at least 10 samples beyond it
        tail = (f"p{math.floor(100 * (1 - 10 / n))}={sorted(walls)[-11]:.6g}s"
                if n >= 11 else "no percentile has 10 samples beyond it")
        report("wall_s", wall_s, "s", f"median, n={n}; {tail}")
        report("rows_per_s", metrics["rows_per_s"], "1/s", f"n={n}")
        report("peak_rss_mb", metrics["peak_rss_mb"], "MB",
               f"median of per-execution peaks, n={len(peaks)}; driver JVM + Python workers")
        report("host.calib_iters_per_s", calib, "1/s",
               "one-core loop rate, mean of before and after the timed executions")
    else:
        for k in PER_LAYER:
            report(k, metrics[k], PER_LAYER[k])
    report("failed_ratio", failed / runner.attempted, "ratio",
           f"{failed} of {runner.attempted} executions")
    verdict = "PASS" if not runner.failures else "FAIL: " + " | ".join(runner.failures)
    print(f"  output check: {verdict}")
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
