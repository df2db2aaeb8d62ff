"""Per-layer numbers of a traced run, from its spans and event log.

For each traced operation (one job group): every span's self time goes
to its layer; every Spark job goes to the innermost span open when the
job was submitted, or, when that is the harness's own span (the forcing
action of a lazily planned query), to the operators module that
registered the query. Totals are divided by the number of traced passes,
so they read as "per pass".
"""

from __future__ import annotations

from collections import defaultdict

import harness
from eventlog import covered, fold_groups
from spans import OPERATOR_LAYERS, innermost_span, self_times

#: the event-log totals reported per operators module
JOB_TOTALS = ("tasks", "exec_run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes", "py_worker_ms")


def op_seconds(spans, tokens: list[str]) -> float:
    """Median duration of the ``op:`` spans of ``tokens``."""
    wanted = set(tokens)
    return harness.median(
        [s.duration for s in spans if s.op in wanted and s.name.startswith("op:")]
    )


def op_table(groups: dict, tokens: list[tuple[str, str]]) -> dict:
    """Per-operation Spark totals (one row per job group), for the report."""
    return {
        token: {k: v for k, v in groups[token].items() if k != "intervals"}
        for token, _ in tokens
        if token in groups
    }


def layer_metrics(wl, spans, jobs: dict, tokens: list[tuple[str, str]], n_passes: int) -> dict:
    selfs = self_times(spans)
    by_op: dict[str, list] = defaultdict(list)
    for s in spans:
        by_op[s.op].append(s)
    jobs_by_group: dict[str, list] = defaultdict(list)
    for job in jobs.values():
        jobs_by_group[job.group].append(job)
    groups = fold_groups(jobs.values())

    out: dict[str, float] = defaultdict(float)
    per_op: dict[str, list[float]] = defaultdict(list)
    dump_s, dump_gap, dump_jobs = [], [], []
    for token, op in tokens:
        op_spans = by_op.get(token, [])
        root = next((s for s in op_spans if s.name == f"op:{op}"), None)
        if root is None:
            continue
        home = wl.layer_of(op)
        group = groups.get(token, {"jobs": 0, "intervals": []})
        intervals = [(a / 1000.0, b / 1000.0) for a, b in group["intervals"]]
        per_op[op].append(root.duration)
        for s in op_spans:
            if s.layer == "session":
                out["session.confs_s"] += selfs[s.span_id]
            elif s.layer == "parquet":
                out["parquet.s"] += selfs[s.span_id]
            elif s.layer in OPERATOR_LAYERS:
                out[f"{s.layer}.s"] += selfs[s.span_id]
            if s.name.startswith("query:"):
                out[f"{home}.plan_s"] += s.duration
        for job in jobs_by_group.get(token, []):
            s = innermost_span(op_spans, job.submit_ms / 1000.0)
            layer = s.layer if s is not None and s.layer in OPERATOR_LAYERS else home
            out[f"{layer}.jobs"] += 1
            for k in JOB_TOTALS:
                out[f"{layer}.{k}"] += job.totals[k]
        if home == "dump":
            dump = next(s for s in op_spans if s.name == "dump.dump_table")
            dump_s.append(dump.duration)
            dump_jobs.append(group["jobs"])
            dump_gap.append(dump.duration - covered(intervals, dump.start, dump.end))
        else:
            out[f"{home}.driver_gap_s"] += root.duration - covered(
                intervals, root.start, root.end
            )

    metrics = {
        k: v / n_passes
        for k, v in out.items()
        if k.split(".", 1)[0] in OPERATOR_LAYERS
        or k in ("session.confs_s", "parquet.s")
    }
    if dump_s:
        metrics["dump.s"] = harness.median(dump_s)
        metrics["dump.jobs"] = harness.median(dump_jobs)
        metrics["dump.driver_gap_s"] = harness.median(dump_gap)
    else:
        for op, durations in per_op.items():
            metrics[f"{op}.s"] = harness.median(durations)
    return metrics
