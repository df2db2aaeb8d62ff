#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {note_dump,catalog} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process is one closed-loop client:
it issues one operation at a time against ``local[nproc]``. The run
makes its inputs from ``--seed``, sets up once (driver JVM launch,
session, warm-up and the program's fixture work), runs one cold pass,
then the untimed full-value check (which also settles the JIT), then
warm passes for ``--seconds``, and checks every operation's output. The
last line of stdout is the JSON result; progress and a summary go to
stderr, and the full report to ``.perfbench_work/reports/``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs
untraced and then traced warm passes with a Spark event log, and
reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import eventlog
import harness
import layers
from spans import OPERATOR_LAYERS, Tracer
from workloads import WORKLOADS, Catalog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "omop_dump_to_parquet_spark"

OP_METRICS = {
    "s": "s",
    "plan_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_run_ms": "ms",
    "gc_ms": "ms",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "py_worker_ms": "ms",
    "driver_gap_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {
        "session.start_s": "s",
        "session.confs_s": "s",
        "parquet.s": "s",
        "jdbc.load_s": "s",
        "jdbc.read_s": "s",
        "jdbc.read_1conn_s": "s",
        "dump.s": "s",
        "dump.jobs": "count",
        "dump.driver_gap_s": "s",
        "sink.write_s": "s",
        "sink.files": "count",
        "sink.row_groups": "count",
        "sink.bytes": "B",
        "sink.stored_bytes_per_src_byte": "B/B",
        "verify.full_s": "s",
        "verify.fast_s": "s",
    }
    for layer in OPERATOR_LAYERS:
        for key, unit in OP_METRICS.items():
            units[f"{layer}.{key}"] = unit
    for qid in Catalog.ops + Catalog.probe_ops:
        units[f"{qid}.s"] = "s"
    units.update(
        {
            "d04.candidates_s": "s",
            "d04.verify_s": "s",
            "d04.n_candidates": "count",
            "d04.pairs": "count",
            "d04.verify_yield": "ratio",
            "d06.cc_rounds": "count",
            "parquet.input_bytes": "B",
            "trace.overhead_s": "s",
        }
    )
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}


class Run:
    """One benchmark run: counts attempts and failures, times passes."""

    def __init__(self, workload, seconds: float, trace: bool) -> None:
        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failures: list[str] = []
        self.tokens: list[tuple[str, str]] = []  # (job group, op) in run order
        self.op_seconds: dict[str, list[float]] = {}
        self.spark = None  # the live session, stopped by main() on any exit
        self.stat_start = harness.cpu_stat()

    def attempt(self, label: str, fn):
        """Run one checked operation; a raise or mismatch is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 - count it and keep running
            self.failures.append(f"{label}: {type(ex).__name__}: {str(ex)[:300]}")
            return None

    def run_pass(self, spark, k: int, phase: str, tracer=None) -> float:
        """One pass in a seeded order; returns its wall seconds (the sum
        of its operations')."""
        total = 0.0
        for op in self.wl.pass_order(k):
            harness.gc(spark)
            token = f"{phase}{k}:{op}"
            if self.trace:
                spark.sparkContext.setJobGroup(token, op)
                self.tokens.append((token, op))
            if tracer is not None:
                tracer.op = token
            with harness.Stopwatch() as sw:
                seconds = self.attempt(token, lambda: self.wl.run_op(spark, op, tracer))
            if seconds is None:  # failed: count the time it took
                seconds = sw.seconds
            self.op_seconds.setdefault(f"{phase}:{op}", []).append(seconds)
            total += seconds
        return total

    def passes_for(self, spark, phase: str, first: int, budget: float, least: int):
        """Passes until ``budget`` seconds have gone, at least ``least``."""
        passes = []
        t0 = time.perf_counter()
        while len(passes) < least or time.perf_counter() - t0 < budget:
            passes.append(self.run_pass(spark, first + len(passes), phase))
        return passes

    def warm_passes(self, spark, budget: float) -> list[float]:
        """The workload's settling passes, unmeasured, then measured
        passes for ``budget`` seconds, at least the workload's
        ``min_passes``."""
        settled = self.passes_for(spark, "settle", 1, 0, self.wl.settle_passes)
        return self.passes_for(
            spark, "warm", 1 + len(settled), budget, self.wl.min_passes
        )

    def set_up(self, warm_path: str):
        """Driver JVM launch, session, warm-up and the program's fixture
        work; returns the session."""
        self.spark = harness.start_session()
        harness.warm_up(self.spark, warm_path)
        self.wl.fixture(self.spark)
        return self.spark

    def warm_pass_seconds(self) -> float:
        """A warm pass: the sum of each operation's median over the
        measured passes, so one slow operation in one pass (often the
        first, while the JIT still compiles the plans) does not move
        it."""
        return sum(
            harness.median(self.op_seconds[f"warm:{op}"]) for op in self.wl.ops
        )

    def stop(self) -> None:
        if self.spark is not None:
            spark, self.spark = self.spark, None
            harness.shutdown(spark)


def measure_end_to_end(run: Run, warm_path: str) -> tuple[dict, dict]:
    wl = run.wl
    with harness.Stopwatch() as sw:
        spark = run.set_up(warm_path)
    cold = run.run_pass(spark, 0, "cold")
    # the full-value check runs every operation once more, untimed; right
    # after the cold pass it is also the settling pass of the measured ones
    with harness.Stopwatch() as check:
        wl.check_values(spark, run.attempt, wl.ops)
    warm = run.warm_passes(spark, run.seconds)
    rss_kb = harness.vm_hwm_kb() + harness.vm_hwm_kb(harness.jvm_pid(spark))
    run.stop()
    metrics = {
        "setup_s": sw.seconds,
        "cold_pass_s": cold,
        "pass_s": run.warm_pass_seconds(),
        "peak_rss_mb": rss_kb / 1024.0,
    }
    detail = {
        "warm_passes_s": warm,
        "check_s": check.seconds,
        "pass_samples": len(warm),
        "pass_tail_percentile": harness.tail_percentile(len(warm)),
        "op_seconds": run.op_seconds,
        "cpu_steal_frac": harness.steal_fraction(run.stat_start),
        **wl.fixture_metrics,
    }
    ratios = getattr(wl, "stored_ratios", None)
    if ratios:
        detail["stored_bytes_per_src_byte"] = harness.median(ratios)
    return metrics, detail


def measure_traced(run: Run, warm_path: str, work: str) -> tuple[dict, dict]:
    wl = run.wl
    with harness.Stopwatch() as sw:
        spark = run.spark = harness.start_session()
    session_start = sw.seconds
    harness.warm_up(spark, warm_path)
    wl.fixture(spark)
    app_id = spark.sparkContext.applicationId
    run.run_pass(spark, 0, "cold")
    spark.sparkContext.setJobGroup("check", "full-value check")
    wl.check_values(spark, run.attempt, wl.ops + wl.probe_ops)
    run.passes_for(spark, "settle", 1, 0, wl.settle_passes)
    # one untraced pass on each side of the traced one, so JIT warm-up
    # does not read as (negative) tracing overhead
    untraced = [run.run_pass(spark, 2, "plain")]
    tracer = Tracer()
    wrapped = tracer.install()
    try:
        traced = [run.run_pass(spark, 3, "traced", tracer)]
        probe_tokens = []
        for op in wl.probe_ops:
            harness.gc(spark)
            token = f"probe:{op}"
            spark.sparkContext.setJobGroup(token, op)
            tracer.op = token
            probe_tokens.append((token, op))
            run.attempt(token, lambda: wl.run_op(spark, op, tracer))
    finally:
        tracer.uninstall()
    untraced.append(run.run_pass(spark, 4, "plain"))
    spark.sparkContext.setJobGroup("probes", "layer probes")
    probe_metrics = wl.probes(spark, run.attempt)
    run.stop()  # also closes the event log

    jobs = eventlog.fold_jobs(
        eventlog.read_events(os.path.join(work, "eventlog", app_id))
    )
    traced_tokens = [t for t in run.tokens if t[0].startswith("traced")]
    metrics = layers.layer_metrics(wl, tracer.spans, jobs, traced_tokens, len(traced))
    if probe_tokens:
        # operators modules that only the probes exercise take their
        # numbers from the probes (one run of each probe query)
        timed = {wl.layer_of(op) for op in wl.ops}
        probed = layers.layer_metrics(wl, tracer.spans, jobs, probe_tokens, 1)
        metrics.update(
            {
                k: v
                for k, v in probed.items()
                if k.split(".", 1)[0] in set(OPERATOR_LAYERS) - timed
            }
        )
        for token, op in probe_tokens:
            metrics[f"{op}.s"] = layers.op_seconds(tracer.spans, [token])
    metrics.update(probe_metrics)
    metrics.update(wl.fixture_metrics)
    metrics["session.start_s"] = session_start
    metrics["parquet.input_bytes"] = wl.input_bytes
    metrics["trace.overhead_s"] = harness.median(traced) - harness.median(untraced)
    detail = {
        "spark_per_operation": layers.op_table(
            eventlog.fold_groups(jobs.values()), run.tokens + probe_tokens
        ),
        "functions_wrapped": wrapped,
        "untraced_passes_s": untraced,
        "traced_passes_s": traced,
        "spans": len(tracer.spans),
        "jobs": len(jobs),
    }
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    reports = os.path.join(work, "reports")
    if os.path.isdir(work):
        for entry in os.listdir(work):
            if entry != "reports":
                shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    os.makedirs(reports, exist_ok=True)
    pinned = harness.pin_environment(ROOT, work, bool(args.trace))

    wl = WORKLOADS[args.workload](work, args.seed)
    with harness.Stopwatch() as prepare:
        wl.prepare(with_probes=bool(args.trace))
    warm_path = os.path.join(work, "warm.parquet")
    harness.write_warm_table(warm_path)
    run = Run(wl, args.seconds, bool(args.trace))
    try:
        if args.trace:
            values, detail = measure_traced(run, warm_path, work)
            units = per_layer_units()
        else:
            values, detail = measure_end_to_end(run, warm_path)
            units = END_TO_END_UNITS
    finally:
        run.stop()
    unknown = set(values) - set(units)
    if unknown:
        raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "source": harness.source_identity(ROOT, PACKAGE),
        "environment": pinned,
        "failed_frac": len(run.failures) / run.attempted,
        "prepare_s": prepare.seconds,
        "failures": run.failures,
        "detail": detail,
        **result,
    }
    path = os.path.join(
        reports, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    for k, m in metrics.items():
        if args.trace == 0 or m["value"]:
            harness.log(f"{k} = {m['value']:.6g} {m['unit']}")
    harness.log(
        f"failed_frac = {report['failed_frac']:.4g} ({len(run.failures)}/{run.attempted})"
    )
    for k, v in detail.items():
        if not isinstance(v, (list, dict)):
            harness.log(f"{k} = {v}")
    for failure in run.failures:
        harness.log(f"FAILED {failure}")
    harness.log(f"report -> {path}")
    for entry in os.listdir(work):
        if entry != "reports":
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
