#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload extract_dense --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its corpus from the seed
(``corpus.py``, profiles in ``workloads.json``), opens its session through
``dere_spark.session.get_spark`` on ``local[nproc]``, sets up
``SETUP_REPS`` times, then drives the workload's operation as a closed
loop with one client for ``--seconds``. Every output is checked. The last
line of stdout is the result object; the line before it holds the run's
detail (walls, digests, loadavg at start and end).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer profile of the same corpus (``layers.py``). All files go under
``.perfbench_work/`` in the checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Callable, Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402


#: Set-ups per untraced run; ``setup_s`` comes from their median CPU. The
#: first also launches the JVM and compiles cold, the second is a warm-JVM
#: re-setup, so the median of the two weighs both equally.
SETUP_REPS = 2
#: Documents in the slice each set-up warms the operation on.
WARMUP_DOCS = 100
#: Fewest calls the median is taken over. The JVM keeps getting faster for
#: several calls after warm-up; with a fixed count the median falls on the
#: same call of that curve in every run. No call is left unmeasured: the
#: first full-size call, still partly unjitted, is the slowest, so it does
#: not set the median.
MIN_OPS = 4
#: The yardstick: a fixed Spark SQL job (string building, a regex rewrite,
#: a split and a grouped count over this many rows) that runs none of the
#: program's code. It runs after every measured call. How much CPU the same
#: work takes drifts with the load on the physical host, by up to a third
#: within a day; each call is divided by the yardstick run under the same
#: load, which took out about half of that drift between two sets of runs.
REF_ROWS = 300_000
#: Unmeasured yardstick calls before the loop: its CPU falls by half over
#: its first two or three calls while the JIT compiles it.
REF_WARM = 3
#: ``setup_s`` is the set-up's CPU seconds scaled to a host on which one
#: yardstick call takes this many CPU seconds, by the median yardstick call
#: of the same run. The same cold start took 55, 44 and 32 CPU seconds in
#: three periods of host load on one day; scaled, 22-24 s.
REF_NOMINAL_S = 1.0
#: SQL settings of the yardstick's own session, so that the program's
#: session defaults do not reach it.
REF_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "true",
}


def _load_json(name: str) -> Dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


class Run:
    """State of one benchmark process: session, corpus and accounting."""

    def __init__(self, workload: str, seed: int, profile: Dict) -> None:
        self.workload = workload
        self.seed = seed
        self.profile = profile
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.warm_dir = os.path.join(self.work, "warm")
        self.spark = None
        self.table = None
        self.injected_pairs: List = []
        self.text_bytes = 0
        self.attempted = 0
        self.n_ops = 0
        self.n_refs = 0
        self.failed = 0
        self.failed_checks: List[str] = []

    # -- accounting --------------------------------------------------------
    def timed(self, fn: Callable):
        """Count one operation; an exception propagates to the caller's
        boundary, which counts the failure."""
        self.attempted += 1
        return fn()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failed_checks.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.fail(f"check: {what}")

    def check_expected(self, outcome) -> str:
        """Check a triple digest against the one recorded for this workload
        and seed in ``expected.json``; returns ``"match"``, ``"mismatch"``
        or, for a seed with no record, ``"unrecorded"`` (a warning only)."""
        want = _load_json("expected.json").get(self.workload, {}).get(str(self.seed))
        if want is None:
            print(f"perfbench: WARNING no recorded triples for {self.workload} "
                  f"seed {self.seed}; only run-internal agreement is checked",
                  file=sys.stderr)
            return "unrecorded"
        ok = outcome is not None and list(outcome) == want
        self.check(f"triples equal the recorded digest {want}, got {outcome}", ok)
        return "match" if ok else "mismatch"

    def guarded(self, what: str, fn: Callable):
        """Boundary for one operation or profile section."""
        try:
            return fn()
        except Exception:  # a failed operation is counted, the run goes on
            traceback.print_exc()
            self.fail(f"error: {what}")
            return None

    # -- session -----------------------------------------------------------
    def _prepare_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def start_session(self, cpus: int) -> None:
        from dere_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def restart_session(self, cpus: int) -> None:
        self.spark.stop()
        self.start_session(cpus)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- corpus and operations -----------------------------------------------
    def generate(self) -> None:
        import corpus

        self.table, self.injected_pairs = corpus.write_corpus(
            self.seed, self.profile, self.corpus_dir
        )
        self.text_bytes = sum(len(t.encode()) for t in self.table.column("text").to_pylist())
        warm = self.table.slice(0, WARMUP_DOCS)
        corpus.write_table(warm, os.path.join(self.warm_dir, "documents.parquet"))

    def op(self, corpus_dir: str = ""):
        """One uncached documents -> triples extract. Returns its wall, the
        JVM's CPU seconds during it, its tasks' executor CPU seconds and the
        triple digest; the CPU figures are read after the call returns."""
        import ops

        self.n_ops += 1
        cpu0 = sparkstats.jvm_cpu_s(self.spark)
        with sparkstats.traced(self.spark, f"op-{self.n_ops}") as g:
            out = ops.extract(self.spark, corpus_dir or self.corpus_dir)
        jvm_cpu = sparkstats.jvm_cpu_s(self.spark) - cpu0
        return g.wall_s, jvm_cpu, g.task_cpu_s(), out

    def reference(self) -> float:
        """Executor CPU seconds of one call of the yardstick job."""
        self.n_refs += 1
        ref = self.spark.newSession()
        for key, value in REF_CONF.items():
            ref.conf.set(key, value)
        df = (
            ref.range(0, REF_ROWS, 1, 8)
            .selectExpr("concat_ws(' ', 'alpha', cast(id * 7919 % 100003 AS string), 'beta',"
                        " cast(id % 97 AS string), 'gamma delta') AS t")
            .selectExpr("regexp_replace(t, '([a-z]+) ([0-9]+)', '$2 $1') AS t")
            .selectExpr("explode(split(t, ' ')) AS w")
            .groupBy("w")
            .count()
        )
        with sparkstats.traced(ref, f"ref-{self.n_refs}") as g:
            df.write.format("noop").mode("overwrite").save()
        return g.task_cpu_s()


def setup(run: Run, reps: int) -> Dict:
    """``reps`` set-ups; each stops any session, starts one, writes the
    corpus and warms the operation with one call on a slice of it (the
    same code paths, and the first call in a new session, for less). The
    first also launches the JVM and compiles the plan cold.

    A set-up is measured in CPU seconds of this process and the JVM.
    Returns the median rep, the first (cold) rep's CPU, each rep's CPU and
    wall, and the wall parts of the first."""
    cpus, walls, first = [], [], {}
    for rep in range(reps):
        t0, p0 = time.perf_counter(), time.process_time()
        jvm0 = 0.0
        if run.spark is not None:
            jvm0 = sparkstats.jvm_cpu_s(run.spark)
            run.spark.stop()
        run.start_session(run.cpus)
        t1 = time.perf_counter()
        run.generate()
        t2 = time.perf_counter()
        run.timed(lambda: run.op(run.warm_dir))
        t3 = time.perf_counter()
        cpus.append(sparkstats.jvm_cpu_s(run.spark) - jvm0 + time.process_time() - p0)
        walls.append(t3 - t0)
        if rep == 0:
            first = {"session_s": t1 - t0, "generate_s": t2 - t1, "warmup_s": t3 - t2}
    return {"median_cpu_s": statistics.median(cpus), "cold_cpu_s": cpus[0], "cpu_s": cpus,
            "walls": walls, **first}


def closed_loop(run: Run, seconds: float) -> Dict:
    """Call the operation back to back until ``seconds`` have passed and at
    least ``MIN_OPS`` calls have returned. The yardstick job runs after
    each call, outside its timing; ``ref_cpu_s[i]`` pairs with call i
    (None if it failed)."""
    walls, jvm_cpu, task_cpu, ref_cpu, outcomes = [], [], [], [], []
    for _ in range(REF_WARM):
        run.guarded("yardstick", run.reference)
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_OPS or time.perf_counter() < deadline:
        res = run.guarded("operation", lambda: run.timed(run.op))
        if res is None:
            if time.perf_counter() >= deadline:
                break
            continue
        walls.append(res[0])
        jvm_cpu.append(res[1])
        task_cpu.append(res[2])
        outcomes.append(res[3])
        ref_cpu.append(run.guarded("yardstick", run.reference))
    run.check("every operation returns the same triples", len(set(outcomes)) <= 1)
    outcome = outcomes[0] if outcomes else None
    return {
        "walls": walls,
        "jvm_cpu_s": jvm_cpu,
        "task_cpu_s": task_cpu,
        "ref_cpu_s": ref_cpu,
        "outcome": outcome,
        "expected": run.check_expected(outcome),
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    profiles = _load_json("workloads.json")["workloads"]
    if args.workload not in profiles:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import dere_spark.session  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    load_start = os.getloadavg()
    run = Run(args.workload, args.seed, profiles[args.workload])
    run._prepare_env()
    detail: Dict = {"workload": args.workload, "seed": args.seed, "cpus": run.cpus}
    metrics: Dict = {}
    try:
        # the traced run reports the parts of the first set-up, not setup_s
        reps = 1 if args.trace else SETUP_REPS
        parts = run.guarded("set-up", lambda: setup(run, reps))
        if parts is not None and args.trace:
            import layers

            metrics = layers.profile(run, parts, detail)
            metrics["session.peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(run.spark)
        elif parts is not None:
            detail["setup_walls"] = parts["walls"]
            detail["setup_cpu_s"] = parts["cpu_s"]
            steal0 = _steal_s()
            loop = closed_loop(run, args.seconds)
            detail["loop_steal_s"] = _steal_s() - steal0
            detail.update(loop)
            detail["peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(run.spark)
            n = run.table.num_rows
            med = {k: statistics.median(loop[k]) if loop[k] else None
                   for k in ("walls", "jvm_cpu_s", "task_cpu_s")}
            # each call against the yardstick run right after it, under the
            # same host load
            ratios = [ref / cpu for cpu, ref in zip(loop["task_cpu_s"], loop["ref_cpu_s"])
                      if ref and cpu]
            detail["docs_per_s"] = n / med["walls"] if med["walls"] else None
            detail["docs_per_jvm_cpu_s"] = n / med["jvm_cpu_s"] if med["jvm_cpu_s"] else None
            detail["docs_per_task_cpu_s"] = n / med["task_cpu_s"] if med["task_cpu_s"] else None
            refs = [ref for ref in loop["ref_cpu_s"] if ref]
            ref_med = statistics.median(refs) if refs else None
            detail["setup_median_cpu_s"] = parts["median_cpu_s"]
            metrics = {
                "docs_per_ref": n * statistics.median(ratios) if ratios else None,
                "setup_s": parts["median_cpu_s"] * REF_NOMINAL_S / ref_med if ref_med else None,
            }
    finally:
        run.close()
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    detail["loadavg"] = {"start": load_start, "end": os.getloadavg()}
    detail["failed_checks"] = run.failed_checks
    units = _units(args.trace)
    missing = [name for name in units if metrics.get(name) is None]
    for name in missing:
        run.fail(f"metric {name} not measured")
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {
            name: {"value": metrics.get(name), "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def _steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this VM, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _units(trace: int) -> Dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


if __name__ == "__main__":
    sys.exit(main())
