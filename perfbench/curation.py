"""curation: the LLM-data admission path on a generated corpus.

One op pair = ingest_admission_job over the incoming increment (it builds
the gate indexes from the standing corpus, then runs all seven admission
gates in one foreachBatch: near-dup vs corpus, importance, spans, classifier,
and the image/audio/video fingerprint screens) followed by
training_export_job(snapshot=True) over the whole corpus. The first pair of
the process is measured, cold, like a scheduled job. With export=False (as
ingest runs it) an op is the admission pass alone.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import gen
from perfbench.harness import dir_bytes, median, tree_cpu_s
from perfbench.progress import ProgressLog


class Curation:
    name = "curation"

    def __init__(self, root, seed: int, export: bool = True):
        self.root = root
        self.export = export
        self.seed = seed
        self.p = gen.PROPS[self.name]
        self.runs: list[dict] = []
        self.progress = None

    def prepare(self) -> dict:
        self.inputs = os.path.join(self.root.path, "inputs", self.name)
        info = gen.generate(self.name, self.seed, self.inputs)
        with open(f"{self.inputs}/planted.json") as f:
            self.planted = json.load(f)
        return info

    def build_state(self, spark, tracer) -> None:
        """No one-time state: the job builds its gate indexes itself."""

    def open_state(self, spark, tracer) -> None:
        """No per-process state beyond the session."""

    def warmup(self, spark, tracer) -> None:
        """None: the measured pair is the first one (see the module doc)."""

    def _run(self, spark, tracer, op: str) -> dict:
        from clinical_search_data_pipeline_spark.jobs import pipelines as P

        d = self.root.fresh("curation")
        rec = {"dir": d, "error": None}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("admission", op=f"{op}-admission"):
            with tracer.span("jobs.pipelines.ingest_admission_job"):
                rec["summary"] = P.ingest_admission_job(
                    spark, self.inputs, f"{d}/verdicts",
                    corpus_split=self.p["corpus_docs"],
                    snapshot_table=f"{d}/admitted",
                    staging_dir=f"{self.inputs}/increment",
                )
        rec["admission_s"], rec["admission_cpu"] = time.perf_counter() - t0, tree_cpu_s() - c0
        if not self.export:
            return rec
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("export", op=f"{op}-export"):
            with tracer.span("jobs.pipelines.training_export_job"):
                rec["export"] = P.training_export_job(spark, self.inputs, f"{d}/export", snapshot=True)
        rec["export_s"], rec["export_cpu"] = time.perf_counter() - t0, tree_cpu_s() - c0
        rec["export_bytes"] = dir_bytes(f"{d}/export")[0]
        return rec

    def measure(self, spark, tracer, clock) -> None:
        if tracer.enabled:
            self.progress = ProgressLog()
            spark.streams.addListener(self.progress.listener)
        try:
            # one pair: it outlasts the clock on its own
            try:
                self.runs.append(self._run(spark, tracer, "run0"))
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                self.runs.append({"error": f"{type(exc).__name__}: {exc}"})
        finally:
            if self.progress is not None:
                spark.streams.removeListener(self.progress.listener)

    def check(self, spark) -> list[str]:
        """Screened == increment size; every planted exact duplicate was
        rejected; the export stays within TOKEN_BUDGET per language."""
        for r in self.runs:
            if r["error"]:
                continue
            try:
                r["error"] = self._check_run(spark, r)
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails its op
                r["error"] = f"check raised {type(exc).__name__}: {exc}"
        return [r["error"] for r in self.runs if r["error"]]

    def _check_run(self, spark, r: dict) -> str | None:
        from pyspark.sql import functions as F

        from clinical_search_data_pipeline_spark.operators.curation import TOKEN_BUDGET
        from clinical_search_data_pipeline_spark.sinks import manifest

        errs = []
        if r["summary"]["docs_screened"] != self.p["increment_docs"]:
            errs.append(f"screened {r['summary']['docs_screened']} != {self.p['increment_docs']}")
        verdicts = spark.read.parquet(f"{r['dir']}/verdicts")
        planted = self.planted["exact"] + self.planted["near"]
        rejected = {
            row.doc_id for row in verdicts.filter(F.col("doc_id").isin(planted) & ~F.col("admitted")).collect()
        }
        leaked = sorted(set(self.planted["exact"]) - rejected)
        if leaked:
            errs.append(f"planted exact duplicates admitted: {leaked[:5]}")
        r["planted_rejected"] = len(rejected) / len(planted)
        if not self.export:
            return "; ".join(errs) or None
        over = [
            (row.lang, row.t)
            for row in manifest.read_snapshot(spark, f"{r['dir']}/export")
            .groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()
            if row.t > TOKEN_BUDGET
        ]
        if over:
            errs.append(f"export over TOKEN_BUDGET {TOKEN_BUDGET}: {over}")
        return "; ".join(errs) or None

    def ops(self) -> tuple[int, int]:
        """An admission run, and an export when it has one, per pair."""
        per = 2 if self.export else 1
        bad = sum(1 for r in self.runs if r["error"])
        return per * len(self.runs), per * bad

    def e2e(self) -> dict:
        ok = [r for r in self.runs if not r["error"]]
        n = self.p["increment_docs"]
        adm = median([r["admission_s"] for r in ok])
        adm_cpu = median([r["admission_cpu"] for r in ok])
        report = {
            "docs_per_s": (n / adm, "docs/s"),
            "admission_s": (adm, "s"),
            "admission_cpu_s": (adm_cpu, "s"),
            "admitted_ratio": (median([r["summary"]["docs_admitted"] / n for r in ok]), "ratio"),
            "planted_dups_rejected_ratio": (median([r["planted_rejected"] for r in ok]), "ratio"),
        }
        out = {"items": n, "items_cpu_s": adm_cpu, "op_cpu_s": adm_cpu, "op_wall_s": adm, "report": report}
        if self.export:
            exp, exp_cpu = median([r["export_s"] for r in ok]), median([r["export_cpu"] for r in ok])
            report["export_s"] = (exp, "s")
            report["export_cpu_s"] = (exp_cpu, "s")
            out["op_cpu_s"], out["op_wall_s"] = exp_cpu, exp
        return out

    def layers(self, tracer) -> dict:
        from perfbench.layers import call_stats

        ok = [r for r in self.runs if not r["error"]]
        ad = call_stats(tracer, "admission", ["jobs.pipelines.ingest_admission_job"])
        out = dict(ad["calls"])
        out["e2e.throughput_op.s"] = out["e2e.latency_op.s"] = ad["op_s"]
        out["spark.jobs.throughput_op"] = out["spark.jobs.latency_op"] = ad["jobs"]
        out["spark.tasks.throughput_op"] = out["spark.tasks.latency_op"] = ad["tasks"]
        if self.export:
            ex = call_stats(tracer, "export", ["jobs.pipelines.training_export_job"])
            out.update(ex["calls"])
            out["e2e.latency_op.s"] = ex["op_s"]
            out["spark.jobs.latency_op"], out["spark.tasks.latency_op"] = ex["jobs"], ex["tasks"]
            out["sinks.manifest.bytes_written"] = median([r["export_bytes"] for r in ok])
        ms = [b["ms"] for b in (self.progress.batches if self.progress else []) if b["rows"]]
        if ms:
            out["streaming.runner.batch.share"] = median(ms) / 1000 / ad["op_s"]
            out["streaming.runner.microbatches"] = len(ms) / max(1, len(ok))
        n = self.p["increment_docs"]
        out["operators.curation.admitted_ratio"] = median([r["summary"]["docs_admitted"] / n for r in ok])
        out["operators.curation.planted_dups_rejected_ratio"] = median([r["planted_rejected"] for r in ok])
        out["sinks.manifest.snapshot_versions"] = median([r["summary"]["snapshot_versions"] for r in ok])
        return out
