"""ann_serve: one closed-loop client querying a persisted IVF-PQ index.

Set-up builds the index from the generated vectors (build_ann_index ->
write_ann_index -> read_ann_index) into the run's own directory. Each request
is a fixed, seeded set of query vectors: probes call ann_index_topk(k, nprobe),
reranks add the exact re-score of a pool of R candidates. Latency is the
ann_index_topk call plus the collect.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import gen
from perfbench.harness import median, tail, tree_cpu_s

# The first requests of a session run 2x the CPU of later ones and only
# settle over dozens (JIT compilation); eight warm-up requests reach the
# flatter part of that curve while keeping a run under a minute.
WARMUP_REQUESTS = 8
# The figures come from the first MEASURED requests after the warm-up, so
# every run reads the same stretch of that curve however fast it runs.
MEASURED = 8
# recall@10 over the sixteen requests of a run read 0.670-0.703 over eleven
# seeds (nprobe=2 on this mixture); the floor is the lowest minus 0.05, so a
# speed change that probes less or reranks worse fails the run rather than
# reading as a gain
RECALL_FLOOR = 0.62


class AnnServe:
    name = "ann_serve"

    def __init__(self, root, seed: int):
        self.root = root
        self.seed = seed
        self.p = gen.PROPS[self.name]
        self.requests: list[dict] = []
        self.warm: list[dict] = []

    def prepare(self) -> dict:
        import pyarrow.parquet as pq

        self.inputs = os.path.join(self.root.path, "inputs", self.name)
        info = gen.generate(self.name, self.seed, self.inputs)
        with open(f"{self.inputs}/requests.json") as f:
            self.plan = json.load(f)
        q = pq.read_table(f"{self.inputs}/queries.parquet").to_pydict()
        self.query_rows = dict(zip(q["vec_id"], q["embedding"]))
        # exact cosine top-k per query, the recall reference (untimed)
        e = pq.read_table(f"{self.inputs}/embeddings.parquet").to_pydict()
        x = np.asarray(e["embedding"], dtype=np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        ids = np.asarray(e["vec_id"])
        qids = list(self.query_rows)
        qv = np.asarray([self.query_rows[i] for i in qids], dtype=np.float64)
        qv /= np.linalg.norm(qv, axis=1, keepdims=True)
        sims = qv @ x.T
        k = self.p["k"]
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        self.exact = {qid: set(ids[top[r]].tolist()) for r, qid in enumerate(qids)}
        return info

    def build_state(self, spark, tracer) -> None:
        """Publish the index once: build_ann_index -> write_ann_index."""
        from clinical_search_data_pipeline_spark.operators import ann_index as A
        from clinical_search_data_pipeline_spark.sources.readers import read_table

        self.index_root = self.root.fresh("ann_index")
        vectors = read_table(spark, self.inputs, "embeddings")
        with tracer.span("operators.ann_index.build_ann_index", op="setup"):
            index = A.build_ann_index(vectors)
        with tracer.span("operators.ann_index.write_ann_index", op="setup"):
            A.write_ann_index(index, self.index_root)

    def open_state(self, spark, tracer) -> None:
        """What a serving process does at start: open the committed index."""
        from clinical_search_data_pipeline_spark.operators import ann_index as A
        from clinical_search_data_pipeline_spark.sources.readers import read_table

        self.vectors = read_table(spark, self.inputs, "embeddings")
        with tracer.span("operators.ann_index.read_ann_index", op="setup"):
            self.index = A.read_ann_index(spark, self.index_root)

    def _request(self, spark, tracer, i: int, op: str) -> dict:
        from clinical_search_data_pipeline_spark.operators.ann_index import ann_index_topk

        req = self.plan[i % len(self.plan)]
        queries = spark.createDataFrame(
            [(qid, self.query_rows[qid], 0) for qid in req["query_ids"]],
            "vec_id long, embedding array<float>, label int",
        )
        kind = req["kind"]
        rerank = dict(rerank=self.p["rerank_pool"], vectors=self.vectors) if kind == "rerank" else {}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("request", op=op):
            with tracer.span("operators.ann_index.ann_index_topk.plan"):
                df = ann_index_topk(self.index, queries, k=self.p["k"], nprobe=self.p["nprobe"], **rerank)
            t1 = time.perf_counter()
            with tracer.span(f"operators.ann_index.ann_index_topk.exec_{kind}"):
                rows = df.collect()
        t2 = time.perf_counter()
        return {
            "cpu_s": tree_cpu_s() - c0,
            "kind": kind, "query_ids": req["query_ids"], "rows": rows,
            "latency_s": t2 - t0, "plan_s": t1 - t0, "exec_s": t2 - t1, "error": None,
        }

    def warmup(self, spark, tracer) -> None:
        """The plan's first WARMUP_REQUESTS requests, discarded."""
        self.warm = [self._request(spark, tracer, i, f"warmup{i}") for i in range(WARMUP_REQUESTS)]

    def measure(self, spark, tracer, clock) -> None:
        i = WARMUP_REQUESTS
        while len(self.requests) < MEASURED or clock.left() > 0:
            try:
                self.requests.append(self._request(spark, tracer, i, f"req{i}"))
            except Exception as exc:  # noqa: BLE001 - a failed request is counted, not fatal
                self.requests.append({"error": f"{type(exc).__name__}: {exc}"})
            i += 1

    def check(self, spark) -> list[str]:
        """Every query returns exactly k rows; recall@k against the numpy
        exact search is computed over all of them and must clear the floor."""
        k = self.p["k"]
        hits = total = 0
        for r in self.warm + self.requests:
            if r["error"]:
                continue
            got: dict[int, set] = {q: set() for q in r["query_ids"]}
            n: dict[int, int] = {q: 0 for q in r["query_ids"]}
            for row in r["rows"]:
                got[row.query_id].add(row.neighbor_id)
                n[row.query_id] += 1
            short = [q for q, c in n.items() if c != k]
            if short:
                r["error"] = f"queries {short[:3]} returned {[n[q] for q in short[:3]]} rows, want {k}"
                continue
            for q in r["query_ids"]:
                hits += len(got[q] & self.exact[q])
                total += k
        self.recall = hits / total if total else 0.0
        errs = [r["error"] for r in self.warm + self.requests if r["error"]]
        if total and self.recall < RECALL_FLOOR:
            errs.append(f"recall@{k} {self.recall:.3f} below {RECALL_FLOOR}")
        return errs

    def ops(self) -> tuple[int, int]:
        return len(self.requests), sum(1 for r in self.requests if r["error"])

    def e2e(self) -> dict:
        ok = [r for r in self.requests[:MEASURED] if not r["error"]]
        lat = [r["latency_s"] * 1000 for r in ok]
        cpu = [r["cpu_s"] * 1000 for r in ok]
        q = self.p["queries_per_request"]
        t, pct, n = tail(lat)
        return {
            "items": q * len(ok), "items_cpu_s": sum(cpu) / 1000,
            "op_cpu_s": median(cpu) / 1000, "op_wall_s": median(lat) / 1000,
            "report": {
                "latency_p50_ms": (median(lat), "ms"),
                f"latency_tail_ms (p{pct:g} of {n})": (t, "ms"),
                "probe_p50_ms": (median([r["latency_s"] * 1000 for r in ok if r["kind"] == "probe"]), "ms"),
                "rerank_p50_ms": (median([r["latency_s"] * 1000 for r in ok if r["kind"] == "rerank"]), "ms"),
                "query_vectors_per_s": (q * len(ok) / (sum(lat) / 1000), "1/s"),
                "request_cpu_p50_ms": (median(cpu), "ms"),
                "recall_at_10": (self.recall, "ratio"),
                "requests": (len(self.requests), "count"),
            },
        }

    def layers(self, tracer) -> dict:
        from perfbench.layers import call_stats

        plan = "operators.ann_index.ann_index_topk.plan"
        st = call_stats(tracer, "request", [plan])
        out = {f"{plan}.share": st["calls"][f"{plan}.share"]}
        for kind in ("probe", "rerank"):
            name = f"operators.ann_index.ann_index_topk.exec_{kind}"
            for k, v in call_stats(tracer, "request", [name], require=name)["calls"].items():
                out[k] = v
        out["e2e.throughput_op.s"] = out["e2e.latency_op.s"] = st["op_s"]
        out["spark.jobs.throughput_op"] = out["spark.jobs.latency_op"] = st["jobs"]
        out["spark.tasks.throughput_op"] = out["spark.tasks.latency_op"] = st["tasks"]
        return out

    def setup_layers(self, spans: list[dict], setup_s: float) -> dict:
        """Each index step's share of set-up (read: median of the opens)."""
        out = {}
        for step in ("build_ann_index", "write_ann_index", "read_ann_index"):
            name = f"operators.ann_index.{step}"
            out[f"{name}.share"] = median([s["end"] - s["start"] for s in spans if s["name"] == name]) / setup_s
        return out
