#!/usr/bin/env python3
"""Benchmark of themis_tritonsort_spark: two workloads, one client,
closed loop, on local[N] with N = min(2, nproc), from one process.

Run from the repository root:

    python3 perfbench/run.py --workload graysort --seed 1 --seconds 24 --trace 0

Workloads: graysort, catalog (see workloads.py).  A run starts the
session, runs the workload's untimed warm-up passes (the first cold),
then runs timed passes, each calling every operation once (the
catalog's sub-second queries twice) in an order drawn from the seed.
The number of passes is ``--seconds`` over the workload's nominal pass
time, at least three, so a run measures about ``--seconds`` of
operation time and every run of a workload measures the same work.
The last timed pass checks every output: GraySort outputs with valsort
against the generator's checksum, the others against the digest
expected.json holds.  GraySort outputs are checked on every pass.
Before every timed pass the cache and every persisted block are
released, and block-manager storage memory must be back at its
post-warm-up level.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes (at least two of each, and one more pass
than an untraced run) and reports the per-layer metrics, taken from
spans around the benchmark's calls into each layer and from Spark's
per-stage task metrics.  The last line of
standard output is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``.  A full record of the run (environment, passes,
spans) is written to ``.perfbench_out/`` at exit.  ``--record`` stores
the digests this run computes in expected.json instead of checking them.

Exit codes: 0 all outputs correct; 1 a check failed, an operation
raised or a pass started with storage memory held (the result line is
still printed); 2 the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import ExitStack, nullcontext
from statistics import median

# Set-up time counts from here, so it includes importing Spark.
T0 = time.perf_counter()

import pyspark  # noqa: E402

from checks import digest, valsort_errors  # noqa: E402
from layers import SparkCounters, Tracer, patched, plan_seconds  # noqa: E402
from report import layer_metrics, print_summary  # noqa: E402
from stats import contended, steal_pct  # noqa: E402
from workloads import WORKLOADS, SortOp  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
EXPECTED = os.path.join(HERE, "expected.json")
PACKAGE = "themis_tritonsort_spark"

# Task threads.  Two leave the rest of a four-core host to the Python
# workers they feed, the driver and the JVM's compiler and GC threads;
# with four, those queue behind the tasks and a run's time follows the
# scheduler.  On a four-core host, GraySort's wall_s spread 6% across
# four runs with two and 14% with four, runs interleaved.
CORES = 2
DRIVER_MEM = "3g"
# Storage memory left above the post-start level after releasing blocks
# that still counts as "back to baseline".
STORAGE_SLACK = 1 << 20
# A pass that starts after this many seconds of the whole run is the
# last.
RUN_LIMIT_S = 130.0
# A traced run alternates untraced and traced passes, starting untraced,
# and makes at least two of each: the tracing overhead is measured
# against the untraced passes after the first.
MIN_TRACE_PASSES = 4

END_TO_END = {"wall_s": "s", "op_p50_s": "s", "setup_s": "s"}


def prepare_environment(cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and make the package importable in workers."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {d: os.path.join(WORK, d) for d in ("tmp", "local", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


class Bench:
    """One run of one workload."""

    def __init__(self, spark, workload, counters, tracer, expected, record):
        self.spark = spark
        self.w = workload
        self.counters = counters
        self.tracer = tracer
        self.expected = expected
        self.record = record
        self.recorded: dict[str, str] = {}
        self.checked: set[str] = set()
        self.attempted = 0
        self.failures: list[str] = []
        self.checksums: dict[tuple, int] = {}
        self.checksum_s = 0.0
        self.baseline = 0
        self.leaks: list[int] = []
        self.warm_calls: list[dict] = []

    # -- one operation -------------------------------------------------
    def call(self, op, check: bool) -> dict:
        """Build and force ``op`` once, timed; check its output when
        the op checks every call, or when ``check`` and no earlier call
        of the op was checked."""
        tr = self.tracer
        self.attempted += 1
        s0 = self.counters.next_stage_id() if tr.enabled else 0
        rec = {"op": op.name, "ok": True}
        t0 = time.perf_counter()
        try:
            with tr.span("op", op=op.name) as op_span:
                with tr.span("build"):
                    df = op.build()
                if tr.enabled:
                    with tr.span("plan") as ps:
                        ps.attrs["catalyst_s"] = plan_seconds(df)
                with tr.span("action") as act:
                    if tr.enabled:
                        act.attrs["stage_lo"] = self.counters.next_stage_id()
                    op.force(df)
                    if tr.enabled:
                        act.attrs["stage_hi"] = self.counters.next_stage_id()
            rec["s"] = time.perf_counter() - t0
            if tr.enabled:
                rec["span"] = op_span.id
                rec["stages"] = (s0, self.counters.next_stage_id())
            if op.check_every_call or (check and op.name not in self.checked):
                self.checked.add(op.name)
                self.check(op, df, rec)
        except Exception:
            rec["s"] = time.perf_counter() - t0
            rec["ok"] = False
            self.fail(op.name, traceback.format_exc())
        return rec

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr, flush=True)

    def check(self, op, df, rec: dict) -> None:
        if isinstance(op, SortOp):
            from themis_tritonsort_spark.sources.gensort import (
                gensort_range_checksum,
                valsort_check,
            )

            key = (op.records, op.start, op.skewed)
            if key not in self.checksums:
                t = time.perf_counter()
                with self.tracer.span("sources.checksum"):
                    self.checksums[key] = gensort_range_checksum(
                        self.spark, op.records, start=op.start, skewed=op.skewed
                    )
                self.checksum_s += time.perf_counter() - t
            t = time.perf_counter()
            with self.tracer.span("sources.valsort"):
                summary = valsort_check(self.spark, op.out_dir)
            rec["valsort_s"] = time.perf_counter() - t
            rec["output_b"] = op.output_bytes()
            rec["records"] = op.records
            shutil.rmtree(op.out_dir, ignore_errors=True)
            errors = valsort_errors(summary, op.records, self.checksums[key])
        else:
            key = f"{self.w.name}/{op.name}"
            got = digest(df)
            if self.record:
                self.recorded[key] = got
                return
            want = self.expected.get(key)
            errors = [] if got == want else [f"digest {got}, expected {want}"]
        if errors:
            rec["ok"] = False
            self.fail(op.name, "; ".join(errors))

    # -- passes ---------------------------------------------------------
    def isolate(self) -> int:
        """Release every cached and checkpointed block; return the
        storage memory still in use above the baseline."""
        self.counters.release_blocks()
        deadline = time.perf_counter() + 10
        while True:
            self.counters.settle()
            extra = self.counters.storage_used() - self.baseline
            if extra <= STORAGE_SLACK or time.perf_counter() > deadline:
                return extra
            time.sleep(0.2)

    def warm_up(self) -> float:
        """Run the warm-up passes; return the seconds taken.
        The storage memory left after releasing its blocks is the
        baseline every timed pass must start from: what stays is owned
        by the program for the life of the session (e.g. broadcast
        UDFs), what a pass adds on top of it is a leak."""
        t = time.perf_counter()
        for op in (op for ops in self.w.warm_passes for op in ops):
            self.attempted += 1
            t1 = time.perf_counter()
            try:
                op.force(op.build())
            except Exception:
                self.fail(f"warm-up {op.name}", traceback.format_exc())
            self.warm_calls.append({"op": op.name, "s": time.perf_counter() - t1})
        seconds = time.perf_counter() - t
        self.counters.release_blocks()
        self.counters.settle()
        self.baseline = self.counters.storage_used()
        return seconds

    def run_pass(self, order, traced: bool, check: bool) -> dict:
        residual = self.isolate()
        if residual > STORAGE_SLACK:
            # Not an operation's failure, but the run's numbers are not
            # comparable: the run fails.
            self.leaks.append(residual)
            print(f"perfbench: FAILED isolation: {residual} bytes of storage memory "
                  "held before a timed pass", file=sys.stderr, flush=True)
        self.tracer.enabled = traced
        calls = [self.call(op, check) for op in order]
        self.tracer.enabled = False
        return {
            "traced": traced,
            "wall_s": sum(c["s"] for c in calls),
            "calls": calls,
            "storage_residual_b": residual,
        }


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    """``wall_s`` is one pass's time, as the sum over operations of each
    operation's median, which one slow call moves less than the median
    of pass totals would.  ``op_p50_s`` is the median of the same
    per-operation medians: the median of all calls would jump from one
    operation's time to another's as calls of different operations
    trade places around the middle."""
    timed = [c for p in passes if not p["traced"] for c in p["calls"]]
    per_op: dict[str, list[float]] = {}
    for c in timed:
        per_op.setdefault(c["op"], []).append(c["s"])
    op_s = [median(v) for v in per_op.values()]
    return {
        "wall_s": sum(op_s),
        "op_p50_s": median(op_s),
        "setup_s": setup_s,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's digests in expected.json")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to {os.path.basename(HERE)}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = min(CORES, nproc())
    prepare_environment(cores)
    from bench import CONTENDED_X, STEAL_PCT_X, _steal_jiffies
    from themis_tritonsort_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    counters = SparkCounters(spark)
    tracer = Tracer(counters, enabled=False)
    try:
        workload = WORKLOADS[args.workload](spark, args.seed, os.path.join(WORK, "out"))
        bench = Bench(spark, workload, counters, tracer, load_expected(), args.record)

        with _traced_layers(tracer, bool(args.trace)):
            warmup_s = bench.warm_up()
            setup_s = time.perf_counter() - T0

            rng = random.Random(args.seed)
            passes: list[dict] = []
            n = workload.passes(args.seconds)
            if args.trace:
                # Untraced and traced passes, alternating.
                n = max(n + 1, MIN_TRACE_PASSES)
            st0, m0 = _steal_jiffies(), time.perf_counter()
            for i in range(n):
                # The last pass checks outputs, so the digest jobs do
                # not run between the earlier passes' calls.
                last = i == n - 1 or time.perf_counter() - T0 > RUN_LIMIT_S
                order = list(workload.ops)
                rng.shuffle(order)
                passes.append(bench.run_pass(order, traced=bool(args.trace) and i % 2 == 1,
                                             check=last))
                if last:
                    break
            measured_s = time.perf_counter() - m0
            st1 = _steal_jiffies()

        sc = spark.sparkContext
        load1 = os.getloadavg()[0]
        steal = steal_pct(st0, st1, measured_s, nproc())
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": nproc(),
            "load1": round(load1, 2),
            "steal_pct": None if steal is None else round(steal, 2),
            "contended": contended(load1, steal, nproc(), CONTENDED_X, STEAL_PCT_X),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "passes": len(passes),
            "op_samples": sum(len(p["calls"]) for p in passes if not p["traced"]),
            "notes": workload.notes,
        }
        e2e = end_to_end(passes, setup_s)
        layers = None
        if args.trace:
            layers = layer_metrics(passes, tracer, counters, bench, start_s, warmup_s, cores)
        if args.record:
            exp = load_expected()
            exp.update(bench.recorded)
            with open(EXPECTED, "w") as f:
                json.dump(dict(sorted(exp.items())), f, indent=1)
                f.write("\n")
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    metrics = layers if args.trace else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {
        "correct": not bench.failures and not bench.leaks,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }
    tracer.write(
        os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {"env": env, "end_to_end": e2e, "warm_up": bench.warm_calls, "passes": passes,
         "failures": bench.failures, "storage_leaks_b": bench.leaks,
         "checksum_s": bench.checksum_s},
    )
    shutil.rmtree(WORK, ignore_errors=True)
    print_summary(env, e2e, passes, bench, workload, layers)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _traced_layers(tracer, trace: bool):
    """In a traced run, record every call into ``data.table`` (through
    both names the package reaches it by) and into the streaming
    replay."""
    if not trace:
        return nullcontext()
    import themis_tritonsort_spark.data as data
    import themis_tritonsort_spark.queries as queries
    import themis_tritonsort_spark.streaming.budget as budget

    table = tracer.wrap("data.table", data.table)
    stack = ExitStack()
    stack.enter_context(patched(data, "table", table))
    stack.enter_context(patched(queries, "table", table))
    stack.enter_context(patched(budget, "token_budget_replay",
                                tracer.wrap("streaming.replay", budget.token_budget_replay)))
    return stack


if __name__ == "__main__":
    sys.exit(main())
