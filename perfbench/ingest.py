"""ingest: every path that writes data, in one run of one fresh JVM.

1. lake_batch's cycle: the full cold-path rebuild over the click-event log,
   then a one-day late-data backfill.
2. hot_stream's drain: silver_streaming_job over a backlog of re-delivered
   and out-of-order events, then hot_marts_realtime_job over the silver lake.
3. curation's admission pass: ingest_admission_job over a document
   increment, all seven gates in one foreachBatch.

Throughput counts the events of the two full passes (rebuild and drain) per
CPU-second of them; the op is the two increments (backfill and admission),
their CPU and wall time summed. hot_stream's paced phase and curation's
training export are left to those workloads: folding the drain and the
admission pass in here keeps every streaming and admission layer inside the
run budget of the declared benchmark.
"""

from __future__ import annotations

from perfbench.curation import Curation
from perfbench.hot_stream import HotStream
from perfbench.lake_batch import LakeBatch

# per-layer totals that add up over the parts: (key, parts it sums over)
_SUMMED = {
    "e2e.throughput_op.s": ("lake", "hot"),
    "spark.jobs.throughput_op": ("lake", "hot"),
    "spark.tasks.throughput_op": ("lake", "hot"),
    "e2e.latency_op.s": ("lake", "cur"),
    "spark.jobs.latency_op": ("lake", "cur"),
    "spark.tasks.latency_op": ("lake", "cur"),
}


class Ingest:
    name = "ingest"

    def __init__(self, root, seed: int):
        self.parts = {
            "lake": LakeBatch(root, seed),
            "hot": HotStream(root, seed, paced=False),
            "cur": Curation(root, seed, export=False),
        }

    def prepare(self) -> dict:
        return {w.name: w.prepare() for w in self.parts.values()}

    def build_state(self, spark, tracer) -> None:
        """None: no part has one-time state."""

    def open_state(self, spark, tracer) -> None:
        """No per-process state beyond the session."""

    def warmup(self, spark, tracer) -> None:
        """None: every part is measured on its first pass."""

    def measure(self, spark, tracer, clock) -> None:
        for w in self.parts.values():
            w.measure(spark, tracer, clock)

    def check(self, spark) -> list[str]:
        return [e for w in self.parts.values() for e in w.check(spark)]

    def ops(self) -> tuple[int, int]:
        counts = [w.ops() for w in self.parts.values()]
        return sum(a for a, _ in counts), sum(f for _, f in counts)

    def e2e(self) -> dict:
        e = {k: w.e2e() for k, w in self.parts.items()}
        report = {f"{self.parts[k].name}.{m}": v for k, r in e.items() for m, v in r["report"].items()}
        return {
            "items": e["lake"]["items"] + e["hot"]["items"],
            "items_cpu_s": e["lake"]["items_cpu_s"] + e["hot"]["items_cpu_s"],
            "op_cpu_s": e["lake"]["op_cpu_s"] + e["cur"]["op_cpu_s"],
            "op_wall_s": e["lake"]["op_wall_s"] + e["cur"]["op_wall_s"],
            "report": report,
        }

    def layers(self, tracer) -> dict:
        per = {k: w.layers(tracer) for k, w in self.parts.items()}
        out = {m: v for layer in per.values() for m, v in layer.items()}
        for m, parts in _SUMMED.items():
            out[m] = sum(per[k][m] for k in parts)
        return out
