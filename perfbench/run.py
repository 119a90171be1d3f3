"""The repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` (tests/make_corpus.py), starts one local[nproc] session
(io.spark_session), warms up, then repeats the workload until
``--seconds`` have passed, one Spark job at a time, checking every run's
output. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json (medians
over the runs); ``--trace 1`` makes one traced run in place of the
measured ones and reports the per-layer metrics instead, from spans
around the library calls and from Spark's event log. ``--size tiny``
shrinks every input to a few hundred rows for the benchmark's own tests;
``--corrupt`` damages each run's output before its check, which must
then fail.

Everything the run writes stays under .perfbench_work/ (removed at exit)
and .perfbench_out/ (the span file of a traced run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from probes import HostStamp, SparkProcs, Tracer, event_log_metrics  # noqa: E402
from workloads import TRACE_GROUP, WORKLOADS  # noqa: E402

from textpipe_spark.io import spark_session  # noqa: E402

# wall_s and files_per_s rise with host steal (README, "Steadiness"), so
# BENCHMARK.json bounds the other end-to-end metrics; these two go on the
# info line only
INFO_ONLY_UNITS = {"wall_s": "s", "files_per_s": "1/s"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def metric_spec() -> dict[str, list[dict]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def configure_env(work: str, event_dir: str | None) -> None:
    """Keep the JVM, the Python workers and temp files inside ``work``;
    turn on the event log for a traced run (submit args, so the session
    factory itself is unchanged)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Runner:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload](args.size)
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {"wall_s": [], "cpu_s": [], "peak_rss_mb": []}
        self.rss_reset_failures = 0
        self._state_seq = 0

    def state_dir(self) -> str:
        self._state_seq += 1
        return os.path.join(self.work, "state", str(self._state_seq))

    def setup(self) -> float:
        t0 = time.monotonic()
        self.wl.make_inputs(os.path.join(self.work, "inputs"), self.args.seed)
        gen = time.monotonic() - t0
        t0 = time.monotonic()
        self.spark = spark_session(
            app="perfbench", cores=len(os.sched_getaffinity(0)), driver_mem="2g"
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.procs = self.wl.procs = SparkProcs(self.spark.sparkContext._gateway.proc.pid)
        t1 = time.monotonic()
        self.wl.prepare(self.spark)
        for _ in range(self.wl.warm_runs):
            state = self.state_dir()
            self.wl.warm(self.spark, state)
            self.finish_run(state)
        self.setup_parts = {
            "gen_s": gen, "session_s": t1 - t0, "warm_s": time.monotonic() - t1,
        }
        return sum(self.setup_parts.values())

    def finish_run(self, state: str) -> None:
        """Fresh state for the next run: caches dropped, outputs removed."""
        self.spark.catalog.clearCache()
        shutil.rmtree(state, ignore_errors=True)

    def one_run(self, tracer) -> tuple[float, object, str] | None:
        """One checked run; returns (wall, result, state) or None if it
        raised. Untraced runs add their samples and clean up at once."""
        state = self.state_dir()
        self.attempted += 1
        try:
            self.rss_reset_failures += self.procs.reset_peak_rss()
            c0 = sum(self.procs.cpu_seconds())
            t0 = time.monotonic()
            result = self.wl.run(self.spark, state, tracer)
            wall = time.monotonic() - t0
            cpu = sum(self.procs.cpu_seconds()) - c0
            rss = self.procs.peak_rss_mb()
            if self.args.corrupt:
                self.wl.corrupt(state, result)
            errors = self.wl.check(result, state)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.finish_run(state)
            return None
        if errors:
            self.failed += 1
            print(f"run {self.attempted} failed its check: {errors}", file=sys.stderr)
        self.samples["wall_s"].append(wall)
        self.samples["cpu_s"].append(cpu)
        self.samples["peak_rss_mb"].append(rss)
        if not tracer.enabled:
            self.finish_run(state)
        return wall, result, state

    def measure(self) -> None:
        off = Tracer("untraced", enabled=False)
        end = time.monotonic() + self.args.seconds
        while True:
            self.one_run(off)
            if time.monotonic() >= end:
                break

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        wall = median(self.samples["wall_s"])
        return {
            "wall_s": wall,
            "files_per_s": self.wl.input_rows / wall if wall else 0.0,
            "cpu_s": median(self.samples["cpu_s"]),
            "peak_rss_mb": median(self.samples["peak_rss_mb"]),
            "setup_s": setup_s,
        }

    def traced(self, event_dir: str) -> dict[str, float]:
        """One traced run plus the workload's layer probes, then the event
        log digest (read after the session stops). The run replaces the
        measured runs: on backfill both would not fit the time limit."""
        # Python workers are sampled as each span of the run closes; one
        # counts if it is new since the run started or has used CPU since
        before = self.procs.python_workers()
        seen: dict[int, int] = {}
        tracer = Tracer(
            f"{self.args.workload}-{self.args.seed}",
            on_end=lambda: seen.update(self.procs.python_workers()),
        )
        sc = self.spark.sparkContext
        py0 = self.procs.cpu_seconds()[1]
        sc.setJobGroup(f"{TRACE_GROUP}run", "traced run")
        with tracer.span("run", workload=self.args.workload):
            out = self.one_run(tracer)
        tracer.on_end = None
        overhead = tracer.self_s
        sc.setJobGroup("layers", "layer probes")
        m = {
            "udfs.py_cpu_s": self.procs.cpu_seconds()[1] - py0,
            "udfs.py_workers": sum(cpu > before.get(pid, -1) for pid, cpu in seen.items()),
            "trace.overhead_s": overhead,
        }
        if out:
            _, result, state = out
            m.update(self.wl.layers(self.spark, state, tracer, result))
            self.finish_run(state)
        stop_session(self.spark)
        self.spark = None
        digest = event_log_metrics(event_dir, TRACE_GROUP)
        parts = [n for g, n in digest.pop("jobs_by_group").items() if "/part-" in g]
        if parts:
            m["lineage.jobs_per_partition"] = statistics.median(parts)
        m.update({f"spark.{k}": v for k, v in digest.items()})
        tracer.write(os.path.join(
            REPO, ".perfbench_out", f"spans-{self.args.workload}-{self.args.seed}.json"
        ))
        return m


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spec = metric_spec()
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    configure_env(work, event_dir)
    runner = Runner(args, work)
    try:
        setup_s = runner.setup()
        stamp = HostStamp()
        if args.trace:
            layers = runner.traced(event_dir)
        else:
            runner.measure()
        e2e = runner.end_to_end(setup_s)
    finally:
        if getattr(runner, "spark", None) is not None:
            stop_session(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    host = stamp.as_dict()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": runner.wl.input_rows,
        "runs": runner.attempted,
        "failed_frac": runner.failed / runner.attempted,
        "rss_reset_failures": runner.rss_reset_failures,
        "setup": runner.setup_parts,
        "samples": {k: [round(x, 3) for x in v] for k, v in runner.samples.items()},
        "host": host,
        **{k: {"value": e2e[k], "unit": u} for k, u in INFO_ONLY_UNITS.items()},
    }
    print(json.dumps(info))
    if args.trace:
        layers.update({f"host.{k}": v for k, v in host.items()})
        values, wanted = layers, spec["per_layer"]
    else:
        values, wanted = e2e, spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
