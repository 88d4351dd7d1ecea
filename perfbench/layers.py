"""Per-layer numbers from the traced spans.

A layer's time is reported as its share of the operation it blocks (self
time of the named call / wall time of the op), so a layer a workload does not
exercise reads 0 rather than a fake time; `e2e.*_op.s` carries each op's
traced wall time, so share x op time gives seconds.
"""

from __future__ import annotations

from perfbench.harness import median


def _within(tracer, op_name: str) -> tuple[dict[str, list[dict]], dict[str, dict]]:
    """(op id -> the spans recorded inside each `op_name` span, op id -> that span)."""
    ops = {s["op"]: s for s in tracer.by_name(op_name)}
    groups: dict[str, list[dict]] = {op: [] for op in ops}
    for s in tracer.spans:
        if s.get("op") in groups and "end" in s:
            groups[s["op"]].append(s)
    return {op: groups[op] for op in ops}, ops


def _self_time(span: dict, spans: list[dict]) -> float:
    kids = sorted((c for c in spans if c["parent"] == span["id"]), key=lambda c: c["start"])
    covered, cur = 0.0, span["start"]
    for c in kids:
        lo, hi = max(c["start"], cur), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cur = hi
    return span["end"] - span["start"] - covered


def call_stats(tracer, op_name: str, calls: list[str], require: str | None = None) -> dict:
    """Medians over every traced `op_name` op (only those containing a
    `require` span, if given): the op's wall time and Spark jobs/tasks, and
    per call its self-time share of the op and the jobs and tasks started
    inside it (children included)."""
    groups, ops = _within(tracer, op_name)
    if require is not None:
        groups = {op: g for op, g in groups.items() if any(s["name"] == require for s in g)}
    per: dict[str, dict[str, list[float]]] = {c: {"share": [], "jobs": [], "tasks": []} for c in calls}
    op_s, jobs, tasks = [], [], []
    for op, spans in groups.items():
        top = ops[op]
        dur = top["end"] - top["start"]
        op_s.append(dur)
        jobs.append(top["spark_jobs"])
        tasks.append(top["spark_tasks"])
        for c in calls:
            mine = [s for s in spans if s["name"] == c]
            per[c]["share"].append(sum(_self_time(s, spans) for s in mine) / dur)
            per[c]["jobs"].append(sum(s["spark_jobs"] for s in mine))
            per[c]["tasks"].append(sum(s["spark_tasks"] for s in mine))
    out = {}
    for c, v in per.items():
        out[f"{c}.share"] = median(v["share"])
        out[f"{c}.spark_jobs"] = median(v["jobs"])
        out[f"{c}.spark_tasks"] = median(v["tasks"])
    return {"op_s": median(op_s), "jobs": median(jobs), "tasks": median(tasks), "calls": out}
