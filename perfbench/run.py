#!/usr/bin/env python3
"""End-to-end benchmark: YAML pipelines run the way a user runs them.

Run from the repository root::

    python3 perfbench/run.py --workload neardup_dedup --seed 1 --seconds 10 --trace 0

Each run times session set-up, generates (or reuses) its seeded
corpus, then drives ``cli.main(["run", "-c", <yaml>, "--metrics-dir", <dir>])``
in one process at ``local[nproc]``: one cold run, then warm runs for
``--seconds``. Every run's written output is checked against the
generator's ground truth. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer split (see
``README.md`` beside this file).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
import host  # noqa: E402
import workloads as W  # noqa: E402

PACKAGE = "webscale_multimodal_datapipeline_spark"
WORK_DIR = ".perfbench_work"
# Spark driver heap: the session default (16g) does not fit beside other jobs
# on a 15 GB host. A heap the workloads fill on every run also makes the
# JVM's resident size, and so peak_rss_mb, repeat from run to run.
DRIVER_MEM = "1g"
# Timed warm runs per untraced run, at least. The cold run is the only
# warm-up: one more untimed run would not fit the time budget of a full
# measurement (4 + 22 runs per workload in 3420 s).
MIN_WARM_RUNS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(root: str, work: str, cpus: int) -> None:
    """Environment every Spark process of the run inherits."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package by name: put the checkout on
    # their path, and run them with this interpreter.
    env["PYTHONPATH"] = os.pathsep.join([root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Keep every scratch file inside the checkout.
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session():
    """Package import (the CLI, the compiler and every operator module it
    registers) plus ``session.get_spark``: the set-up a one-shot ``cli
    run`` pays. It runs before anything else imports the package, so it
    always pays the same imports. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from webscale_multimodal_datapipeline_spark import cli, compiler  # noqa: F401
    from webscale_multimodal_datapipeline_spark.session import get_spark

    spark = get_spark("cli-run")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers it
    forked) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    host.wait_children()


class Runner:
    """Drives ``cli run`` for one workload and checks each output."""

    def __init__(self, spark, wl: W.Workload, corpus: C.Corpus, work: str, seed: int):
        from webscale_multimodal_datapipeline_spark import cli

        self.cli = cli
        self.spark = spark
        self.wl = wl
        self.corpus = corpus
        self.seed = seed
        self.out = os.path.join(work, "out", f"{wl.name}-c{os.environ['SPARK_GRAFT_CPUS']}")
        self.metrics_dir = os.path.join(self.out, "metrics")
        self.yaml_path = os.path.join(work, f"{wl.name}.yaml")
        self.yaml = wl.yaml(corpus, self.out)
        with open(self.yaml_path, "w") as f:
            f.write(self.yaml)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.id_hashes: set[str] = set()

    def reset(self) -> None:
        """State a fresh ``cli run`` process would start from: no cached
        tables of the previous run, no appended metrics."""
        self.spark.catalog.clearCache()
        shutil.rmtree(self.metrics_dir, ignore_errors=True)

    def cli_run(self) -> float | None:
        """One timed ``cli run``; None when it raised or its output is wrong."""
        self.reset()
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.cli.main(["run", "-c", self.yaml_path, "--metrics-dir", self.metrics_dir])
            wall = time.perf_counter() - t0
            if rc != 0:
                raise RuntimeError(f"cli run exited {rc}")
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            self._fail(traceback.format_exc(limit=3))
            return None
        return wall if self.check() else None

    def check(self) -> bool:
        try:
            errs = self.wl.check(self.corpus, self.out, self.seed)
            self.id_hashes.add(C.id_set_hash(W.read_ids(W.output_dir(self.out))))
        except Exception:  # noqa: BLE001 — unreadable output is a wrong output
            errs = [traceback.format_exc(limit=3)]
        if len(self.id_hashes) > 1:
            errs.append("output id-set hash differs between runs")
        if errs:
            self._fail("; ".join(errs))
        return not errs

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"[{self.wl.name}] run {self.attempted} failed: {msg}", file=sys.stderr)


def untraced(runner: Runner, seconds: float, setup_s: float) -> tuple[dict, dict]:
    walls, peaks = [], []
    with host.RssSampler() as rss:
        cold = runner.cli_run()
        rss.take_peak()
        t_end = time.perf_counter() + seconds
        while len(walls) < MIN_WARM_RUNS or time.perf_counter() < t_end:
            walls.append(runner.cli_run())
            peaks.append(rss.take_peak())
    ok = [w for w in walls if w is not None]
    wall = statistics.median(ok) if ok else float("nan")
    return {
        "setup_s": (setup_s, "s"),
        "cold_wall_s": (cold if cold is not None else float("nan"), "s"),
        "wall_s": (wall, "s"),
        "rec_per_s": (runner.corpus.n_docs / wall, "1/s"),
        # per warm run, as a one-shot ``cli run`` would peak; median
        "peak_rss_mb": (statistics.median(peaks), "MB"),
    }, {"warm_walls_s": walls, "warm_peaks_mb": peaks, "rss_sampler_cpu_s": rss.cpu_s}


def single_core_wall(args) -> float:
    """The workload's warm ``cli run`` wall at ``local[1]``, in its own
    process (the single-threaded baseline)."""
    out = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--size", str(args.size or 0),
            "--single-core-probe",
            "--cpus", "1",
        ],
        capture_output=True,
        text=True,
        timeout=170,
    )
    if out.returncode != 0:
        raise RuntimeError(f"single-core run exited {out.returncode}: {out.stderr[-2000:]}")
    return float(json.loads(out.stdout.strip().splitlines()[-1])["wall_s"])


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0, help="corpus rows (0: the workload's size)")
    p.add_argument("--cpus", type=int, default=0, help="local[N] width (0: nproc)")
    p.add_argument("--single-core-probe", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR)
    cpus = args.cpus or nproc()
    pin_env(root, work, cpus)
    os.chdir(work)  # stray Spark files (warehouse, logs) land in the work dir

    wl = W.WORKLOADS[args.workload]
    cpu0, load0 = host.cpu_times(), host.loadavg()
    spark, t_setup = start_session()
    try:
        corpus = C.load_or_generate(wl.kind, args.seed, args.size or wl.n_docs, os.path.join(work, "corpus"))
        runner = Runner(spark, wl, corpus, work, args.seed)
        if args.single_core_probe:
            runner.cli_run()  # cold
            wall = runner.cli_run()
            print(json.dumps({"wall_s": wall}))
            return 0 if wall is not None else 1
        if args.trace:
            import traced

            metrics, record = traced.run(runner, args, t_setup, single_core_wall)
        else:
            metrics, record = untraced(runner, args.seconds, t_setup)
    finally:
        stop_session(spark)

    annotations = {
        "steal_pct": round(host.steal_pct(cpu0, host.cpu_times()), 3),
        "loadavg_start": load0,
        "loadavg_end": host.loadavg(),
        "cpus": cpus,
        "n_docs": corpus.n_docs,
    }
    record.update(annotations, setup_s=t_setup, errors=runner.errors)
    with open(os.path.join(work, f"record-{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    fail_rate = runner.failed / max(1, runner.attempted)
    print(
        f"# {wl.name} seed={args.seed} trace={args.trace} fail_rate={fail_rate:.4f} ratio "
        + " ".join(f"{k}={v}" for k, v in annotations.items())
    )
    correct = runner.failed == 0 and runner.attempted > 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                # a failed run can leave a metric unmeasured (NaN): null
                "metrics": {k: {"value": v if v == v else None, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
