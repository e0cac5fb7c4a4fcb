#!/usr/bin/env python3
"""laradb_spark benchmark: one seeded workload, measured end to end.

Usage, from the root of a laradb_spark checkout:

    python3 perfbench/run.py --workload lara_analytics --seed 1 --seconds 8 --trace 0

One process, one client thread, ``local[nproc]``. The run generates its
inputs from the seed under ``.perfbench_work/`` in the checkout, starts the
session, sets the workload up (index builds, one verified warm-up pass),
then runs timed passes of the workload's request mix until ``--seconds``
have gone by. Every timed request writes its result through the ``noop``
sink, with ``clearCache()`` before it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with the Spark event log, one job group per request and the
QueryExecution phase tracker, and prints the per-layer metrics
(``tracing.py``). The last stdout line is the JSON result; the line before
it, prefixed ``perfbench-info``, records the seed, host, versions, sample
counts and per-kind latencies.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"
OUT = ".perfbench_out"
# Percentile reported as read_tail_s. A run times 8-24 (index_lifecycle)
# or 24 (lara_analytics) reads, so no percentile has ten samples above it;
# the 75th is the highest with at least one above it on every workload.
TAIL_PCT = 75
# Input scale: TPC-H-style tables at SF, plus documents and embeddings.
SF = 0.02
DOCUMENTS = 1000
EMBEDDINGS = 1000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child."""

    def hwm_kb(pid: str) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    me = os.getpid()
    total = hwm_kb("self")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            total += hwm_kb(pid)
    return total / 1024.0


def dir_stats(paths: list[str]) -> tuple[int, int]:
    """(bytes, data files) under ``paths``, ignoring hidden/metadata files."""
    size = files = 0
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def git_sha(root: str) -> "str | None":
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs requests and records what the result line reports."""

    def __init__(self, ctx, tracer):
        self.ctx = ctx
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.latency: dict[str, list[float]] = {"read": [], "write": []}
        self.by_kind: dict[str, list[float]] = {}
        self.result_rows: dict[str, int] = {}

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{kind}: {msg}")
        print(f"perfbench: FAILED {kind}: {msg}", file=sys.stderr)

    def verify(self, requests) -> None:
        """Run a pass with each output collected and checked (untimed)."""
        spark = self.ctx.spark
        for r in requests:
            self.attempted += 1
            spark.catalog.clearCache()
            self.ctx.oracle.last_rows = None
            try:
                out = r.build()
                err = r.check(out)
            except Exception:  # a failing request is a measured outcome
                self._fail(r.kind, traceback.format_exc(limit=3))
                continue
            if err:
                self._fail(r.kind, err)
            if r.op == "read" and self.ctx.oracle.last_rows is not None:
                self.result_rows[r.kind] = self.ctx.oracle.last_rows

    def timed(self, requests) -> float:
        """Run a pass through the noop sink; returns its wall time."""
        from pyspark.sql import DataFrame

        spark = self.ctx.spark
        wall = 0.0
        for r in requests:
            self.attempted += 1
            spark.catalog.clearCache()
            span = self.tracer.request(r.kind, r.op)
            t0 = time.perf_counter()
            try:
                with span.phase("build"):
                    out = r.build()
                span.note_result(out)
                if isinstance(out, DataFrame):
                    with span.phase("execute"):
                        out.write.format("noop").mode("overwrite").save()
            except Exception:
                wall += time.perf_counter() - t0
                span.end(failed=True)
                self._fail(r.kind, traceback.format_exc(limit=3))
                continue
            latency = time.perf_counter() - t0
            span.end()
            wall += latency
            self.latency[r.op].append(latency)
            self.by_kind.setdefault(r.kind, []).append(latency)
        return wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("laradb_spark/__init__.py", "__spark_entry__.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(root, need)):
            return fail(f"{need} not found: run from the root of a laradb_spark checkout")

    # Run hygiene: clean scratch roots of this run's own inside the
    # checkout, local[nproc].
    work = os.path.join(root, WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "eventlog", "state", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    confs = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
        # keep JVM scratch inside the checkout, and no hsperfdata file outside it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} "
        f"-Dderby.system.home={dirs['tmp']} -XX:-UsePerfData",
    }
    if args.trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.dir"] = f"file://{dirs['eventlog']}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    sys.path[:0] = [HERE, root]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, root, dirs, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def run(args, root: str, dirs: dict, cpus: int) -> int:
    """Set up, verify, measure and print the result of one run."""
    import numpy as np
    import pyspark

    import datagen
    import tracing
    from oracle import Oracle
    from workloads import Context, all_workloads

    workloads = all_workloads()
    if args.workload not in workloads:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    wl = workloads[args.workload]
    scale = datagen.Scale(SF, DOCUMENTS, EMBEDDINGS)
    seeds = np.random.SeedSequence(args.seed).spawn(2)
    data_seed = int(seeds[0].generate_state(1)[0])
    rng = np.random.default_rng(seeds[1])

    spark = None
    try:
        t0 = time.perf_counter()
        from laradb_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        # Inputs and oracle, then the workload's stored state (index builds).
        t0 = time.perf_counter()
        data_dir = os.path.join(dirs["state"], "data")
        datagen.write_tables(data_dir, data_seed, scale)
        ctx = Context(spark, data_dir, os.path.join(dirs["state"], "root"), Oracle(data_dir))
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup(ctx, rng)
        build_s = time.perf_counter() - t0

        # One verified pass at the benchmark's scale: warm-up and output check.
        runner = Runner(ctx, tracing.Tracer(spark, enabled=False))
        t0 = time.perf_counter()
        runner.verify(wl.verify_requests(ctx, rng))
        warm_s = time.perf_counter() - t0
        setup_s = session_s + inputs_s + build_s + warm_s

        if args.trace:
            runner.tracer = tracing.Tracer(spark, enabled=True)
        pass_s = []
        deadline = time.perf_counter() + args.seconds
        while not pass_s or (time.perf_counter() < deadline and len(pass_s) != wl.max_passes):
            pass_s.append(runner.timed(wl.requests(ctx, rng)))
        store_bytes, store_files = dir_stats(wl.store_dirs)
        rss = peak_rss_mb()
        ctx.oracle.close()
    finally:
        if spark is not None:
            stop_session(spark)

    reads = runner.latency["read"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cpus,
        "git_sha": git_sha(root),
        "pyspark": pyspark.__version__,
        "scale": {"sf": SF, "documents": DOCUMENTS, "embeddings": EMBEDDINGS},
        "samples": {"passes": len(pass_s), "reads": len(reads), "writes": len(runner.latency["write"])},
        "pass_s": pass_s,
        "read_tail_pct": TAIL_PCT,
        "setup": {"session_s": session_s, "inputs_s": inputs_s, "build_s": build_s,
                  "warm_s": warm_s},
        "kinds_p50_s": {k: statistics.median(v) for k, v in sorted(runner.by_kind.items())},
        "peak_rss_mb": rss,
        "recall": ctx.oracle.recalls,
        "errors": runner.errors[:20],
    }
    if runner.latency["write"]:
        w = runner.latency["write"]
        info["write_p50_s"] = statistics.median(w)
        info["write_tail_s"] = percentile(w, TAIL_PCT)
    if wl.input_bytes():
        info["store_amplification"] = store_bytes / wl.input_bytes()
    if args.trace:
        spans = os.path.join(root, OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        metrics = runner.tracer.summary(
            dirs["eventlog"], statistics.median(pass_s), info, spans,
            runner.result_rows, store_files,
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
            "read_p50_s": {"value": statistics.median(reads), "unit": "s"},
            "read_tail_s": {"value": percentile(reads, TAIL_PCT), "unit": "s"},
        }
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
