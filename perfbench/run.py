"""Benchmark entry point: one workload (or all of them) through the engine's
public job and operator functions on local[nproc].

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from --seed into a
fresh run root under the checkout (removed at exit). Set-up is what a
deployment pays once at start: a fresh JVM through session.get_spark, the
one-time state the workload builds (a published index), and the
per-process state it opens. After the workload's warm-up it measures a fixed
amount of work, closed loop (hot_stream's paced phase is open loop), and at
least --seconds of it; its outputs are checked, and every metric in
BENCHMARK.json is printed by name with its unit: the end-to-end metrics with
--trace 0, the per-layer metrics (from spans kept in memory around each
public call) with --trace 1. The last stdout line is the JSON result.
`--workload all` runs lake_batch, hot_stream, curation and ann_serve in one
session (each after the first restarts the session in the same JVM) and
prefixes each metric with its workload.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_UNITS = {"s", "ms"}
# `all` runs the four the benchmark is built from; ingest folds lake_batch,
# hot_stream's drain and curation's admission pass into one declared run
ALL = ("lake_batch", "hot_stream", "curation", "ann_serve")
WORKLOADS = ("ingest",) + ALL


def _workload(name: str, root, seed: int):
    if name == "lake_batch":
        from perfbench.lake_batch import LakeBatch as W
    elif name == "hot_stream":
        from perfbench.hot_stream import HotStream as W
    elif name == "curation":
        from perfbench.curation import Curation as W
    elif name == "ingest":
        from perfbench.ingest import Ingest as W
    else:
        from perfbench.ann_serve import AnnServe as W
    return W(root, seed)


def run_one(name: str, seed: int, seconds: float, trace: bool, root, session, log) -> dict:
    """Prepare, set up once, measure, check. Returns the workload's
    end-to-end values, per-layer values and report lines."""
    from perfbench.harness import Clock, Tracer, jit_cpu_s, tree_cpu_s

    w = _workload(name, root, seed)
    info = w.prepare()
    log(f"[{name}] inputs: {json.dumps(info)}")
    tracer = Tracer(trace)
    t0 = time.perf_counter()
    spark = session.start()
    get_s = time.perf_counter() - t0
    tracer.spark = spark
    w.build_state(spark, tracer)
    w.open_state(spark, tracer)
    setup_s = time.perf_counter() - t0
    log(f"[{name}] setup: get_spark={get_s:.3f}s state={setup_s - get_s:.3f}s")
    t0 = time.perf_counter()
    w.warmup(spark, tracer)
    warmup_s = time.perf_counter() - t0
    log(f"[{name}] warm-up: {warmup_s:.3f}s")
    setup_spans = tracer.spans
    tracer.spans = []
    c0 = tree_cpu_s()
    j0 = jit_cpu_s()
    clock = Clock(seconds)
    w.measure(spark, tracer, clock)
    measured = time.perf_counter() - clock.t0
    measured_cpu = tree_cpu_s() - c0
    measured_jit = jit_cpu_s() - j0
    failures = w.check(spark)
    failures += session.idle_check()
    attempted, failed = w.ops()
    if failures and not failed:
        failed = 1  # a run-level check (e.g. a stream left running) failed
    for f in failures:
        log(f"[{name}] CHECK FAILED: {f}")
    raw = w.e2e()
    report = raw["report"]
    e2e = {
        "setup_s": setup_s,
        "items_per_cpu_s": raw["items"] / raw["items_cpu_s"],
        "op_cpu_ms": 1000 * raw["op_cpu_s"],
        "op_wall_ms": 1000 * raw["op_wall_s"],
    }
    report["setup_s"] = (e2e["setup_s"], "s")
    report["warmup_s"] = (warmup_s, "s")
    report["measured_s"] = (measured, "s")
    report["measured_cpu_s"] = (measured_cpu, "s")
    report["measured_jit_cpu_s"] = (measured_jit, "s")
    layers = {}
    if trace:
        layers = w.layers(tracer)
        layers["session.get_spark.s"] = get_s
        layers["jvm.jit.measured_cpu_s"] = measured_jit
        if hasattr(w, "setup_layers"):
            layers.update(w.setup_layers(setup_spans, e2e["setup_s"]))
    return {
        "e2e": e2e,
        "layers": layers,
        "report": report,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "spans": setup_spans + tracer.spans,
    }


def _metric_block(spec: list[dict], values: dict, prefix: str = "") -> dict:
    out = {}
    for m in spec:
        name = m["name"]
        if name not in values:
            if m["unit"] in TIME_UNITS:
                raise KeyError(f"metric {name} was not measured")
            values[name] = 0  # a count or share of a layer this workload does not use
        out[prefix + name] = {"value": float(values[name]), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # run against the checkout's engine, in this process and in Spark's
    # Python workers alike
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    sys.path.insert(0, CHECKOUT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import clinical_search_data_pipeline_spark  # noqa: F401  (fails without the engine)

    from perfbench.harness import RunRoot, Session

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ALL if args.workload == "all" else (args.workload,)
    root = RunRoot(CHECKOUT)
    session = Session(root)

    def log(msg: str) -> None:
        print(msg, flush=True)

    results = {}
    try:
        for name in names:
            results[name] = run_one(name, args.seed, args.seconds, bool(args.trace), root, session, log)
    finally:
        session.stop()
        root.close()

    metrics = {}
    for name, r in results.items():
        prefix = f"{name}." if args.workload == "all" else ""
        for k, (v, unit) in r["report"].items():
            log(f"[{name}] {k} = {v:.6g} {unit}")
        if args.trace:
            log(f"[{name}] traced end-to-end: {json.dumps(r['e2e'])}")
            for k, v in sorted(r["layers"].items()):
                log(f"[{name}] layer {k} = {v:.6g}")
            out = os.path.join(CHECKOUT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{name}-seed{args.seed}-spans.json")
            with open(path, "w") as f:
                json.dump(r["spans"], f)
            log(f"[{name}] spans written to {os.path.relpath(path, CHECKOUT)}")
        block = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = r["layers"] if args.trace else r["e2e"]
        metrics.update(_metric_block(block, dict(values), prefix))
        log(f"[{name}] attempted={r['attempted']} failed={r['failed']}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    correct = not any(r["failures"] for r in results.values()) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report and exit non-zero without a result line
        traceback.print_exc()
        sys.exit(1)
