"""hot_stream: the reference's streaming path, drained and then paced.

Drain (closed loop): silver_streaming_job over a backlog of raw event files
carrying re-delivered duplicates and out-of-order rows, then
hot_marts_realtime_job over the resulting silver lake.

Paced (open loop): the drain's own silver files (one per day after its
compaction) are moved, one at a time and on a fixed schedule, into a hot
source directory (an atomic rename, so the
stream never sees a partial file) that run_foreach_batch consumes with a
processingTime trigger through make_hot_mart_processor. Freshness is the time
from a file's due time to the end of the micro-batch that consumed it, so a
stall also delays every file queued behind it.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from perfbench import gen
from perfbench.harness import median, tail, tree_cpu_s
from perfbench.progress import ProgressLog

# A file every PACE_S seconds: sustainable with headroom (a paced micro-batch
# takes ~0.5 s on 4 cores once warm) so freshness measures latency, not a
# growing queue.
PACE_S = 1.2
TRIGGER = "250 milliseconds"
WATERMARK = gen.PROPS["hot_stream"]["watermark"]
KEYS = ("event_id",)


def _stream(spark, path: str, files_per_trigger: int):
    """Streaming scan of raw event files, normalized exactly as
    stream_queries.events_stream does (same timeops columns)."""
    from clinical_search_data_pipeline_spark.functions import timeops

    physical = spark.read.parquet(path).schema
    ts = physical["ts"].dataType
    return (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
        .withColumn("ts", timeops.to_epoch_ns(ts))
        .withColumn("ts_sec", timeops.epoch_sec("ts"))
        .withColumn("event_ts", timeops.ts_micros("ts"))
        .withColumn("event_date", timeops.event_date("ts"))
    )


def _key(path: str) -> str:
    """A file's partition directory and name: Spark reuses a file name across
    the partitions of one write."""
    return "/".join(path.rsplit("/", 2)[-2:])


def _batch_files(checkpoint: str, batch_id: int) -> set[str]:
    """Keys (see _key) of the files the file source assigned to `batch_id`, from
    its own source log in the query checkpoint (written before the batch
    runs; every tenth log file is a compaction holding all earlier ones)."""
    log = os.path.join(checkpoint, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        path = os.path.join(log, name)
        if os.path.exists(path):
            with open(path) as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
            return {_key(e["path"]) for e in entries if e["batchId"] == batch_id}
    return set()


class HotStream:
    name = "hot_stream"

    def __init__(self, root, seed: int, paced: bool = True):
        self.root = root
        self.with_paced = paced
        self.seed = seed
        self.drains: list[dict] = []
        self.paced: dict = {}
        self.progress = None

    def prepare(self) -> dict:
        self.inputs = os.path.join(self.root.path, "inputs", self.name)
        self.info = gen.generate(self.name, self.seed, self.inputs)
        return self.info

    def build_state(self, spark, tracer) -> None:
        """No one-time state: the paced phase re-feeds the drain's output."""

    def open_state(self, spark, tracer) -> None:
        """No per-process state beyond the session."""

    def warmup(self, spark, tracer) -> None:
        """None: a stream restarted in a fresh JVM drains its backlog cold,
        so the measured drain is the first one."""

    def _sink(self, tracer, acc: dict):
        def sink(df, table):
            with tracer.span(f"streaming.hot_marts.sink.{table}"):
                rows = df.collect()
            if table == "mart_traffic_minute":
                acc["event_count"] = acc.get("event_count", 0) + sum(r.event_count for r in rows)
        return sink

    def _drain(self, spark, tracer, op: str) -> dict:
        from clinical_search_data_pipeline_spark.jobs import pipelines as P

        silver = self.root.fresh("silver")
        rec = {"silver": silver, "error": None}
        stream = _stream(spark, f"{self.inputs}/backlog", 1)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("drain", op=op):
            with tracer.span("jobs.pipelines.silver_streaming_job"):
                P.silver_streaming_job(stream, silver, dedup_keys=KEYS, watermark=WATERMARK)
            with tracer.span("jobs.pipelines.hot_marts_realtime_job"):
                P.hot_marts_realtime_job(spark, silver, sink=self._sink(tracer, rec), max_files_per_trigger=1)
        rec["drain_s"] = time.perf_counter() - t0
        rec["drain_cpu"] = tree_cpu_s() - c0
        return rec

    def _paced(self, spark, tracer, silver: str) -> dict:
        import pyarrow.parquet as pq

        from clinical_search_data_pipeline_spark.streaming.hot_marts import make_hot_mart_processor
        from clinical_search_data_pipeline_spark.streaming.runner import run_foreach_batch

        files = sorted(
            os.path.join(d, f) for d, _, names in os.walk(silver) for f in names if f.endswith(".parquet")
        )[: gen.PROPS[self.name]["paced_files"]]
        self.paced_rows = sum(pq.read_metadata(f).num_rows for f in files)
        schema = spark.read.parquet(silver).schema
        d = self.root.fresh("paced")
        stage, hot, ckpt = f"{d}/stage", f"{d}/hot", f"{d}/checkpoint"
        names = []
        for f in files:
            part = os.path.basename(os.path.dirname(f))  # event_date=...
            os.makedirs(f"{stage}/{part}", exist_ok=True)
            os.makedirs(f"{hot}/{part}", exist_ok=True)
            shutil.copyfile(f, f"{stage}/{part}/{os.path.basename(f)}")
            names.append(f"{part}/{os.path.basename(f)}")
        rec = {"batches": [], "due": {}, "moved": {}, "error": None}
        inner = make_hot_mart_processor(self._sink(tracer, rec))
        done = threading.Event()
        last = names[-1]

        def process(batch_df, batch_id):
            c0 = tree_cpu_s()
            start = time.perf_counter()
            files = _batch_files(ckpt, batch_id)
            with tracer.span("streaming.hot_marts.process", op=f"paced{batch_id}"):
                inner(batch_df, batch_id)
            rec["batches"].append({
                "files": files, "start": start, "end": time.perf_counter(), "cpu": tree_cpu_s() - c0,
            })
            if last in files:
                done.set()

        def pacer():
            try:
                started = time.perf_counter()
                while not spark.streams.active:
                    if time.perf_counter() - started > 60:
                        rec["error"] = "paced stream did not start in 60 s"
                        return
                    time.sleep(0.05)
                t0 = time.perf_counter() + 0.5
                for i, name in enumerate(names):
                    due = t0 + i * PACE_S
                    time.sleep(max(0.0, due - time.perf_counter()))
                    os.rename(f"{stage}/{name}", f"{hot}/{name}")
                    rec["due"][name] = due
                    rec["moved"][name] = time.perf_counter()
                rec["last_moved"] = time.perf_counter()
                if not done.wait(60):
                    rec["error"] = "paced stream did not consume the last file in 60 s"
            finally:
                for q in spark.streams.active:
                    q.stop()

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", len(names))
            .parquet(hot)
        )
        th = threading.Thread(target=pacer, name="perfbench-pacer", daemon=True)
        th.start()
        try:
            run_foreach_batch(
                stream, process, trigger={"processingTime": TRIGGER},
                timeout_sec=150, checkpoint_location=ckpt,
            )
        finally:
            th.join(90)
        if th.is_alive():
            rec["error"] = "pacer thread did not finish"
        return rec

    def measure(self, spark, tracer, clock) -> None:
        if tracer.enabled:
            self.progress = ProgressLog()
            spark.streams.addListener(self.progress.listener)
        try:
            # one cold drain (it outlasts the clock on its own), then the
            # paced phase over its output
            try:
                self.drains.append(self._drain(spark, tracer, "drain0"))
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                self.drains.append({"error": f"{type(exc).__name__}: {exc}"})
            if self.with_paced:
                try:
                    silver = next(r["silver"] for r in self.drains if not r["error"])
                    self.paced = self._paced(spark, tracer, silver)
                except Exception as exc:  # noqa: BLE001
                    self.paced = {"error": f"{type(exc).__name__}: {exc}", "batches": []}
        finally:
            if self.progress is not None:
                spark.streams.removeListener(self.progress.listener)

    def check(self, spark) -> list[str]:
        """Drain: silver rows equal the distinct generated keys (no duplicate
        survived, no original was dropped as late) and the traffic-minute
        mart's event_count sums to the silver rows. Paced: every file was
        consumed and its event_count sums to the rows of the files moved."""
        from pyspark.sql import functions as F

        want = self.info["backlog_keys"]
        for r in self.drains:
            if r["error"]:
                continue
            try:
                silver = spark.read.parquet(r["silver"])
                n, nd = silver.agg(F.count("*"), F.countDistinct(*KEYS)).first()
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails its op
                r["error"] = f"check raised {type(exc).__name__}: {exc}"
                continue
            r["silver_rows"] = n
            errs = []
            if n != want or nd != want:
                errs.append(f"silver rows {n} (distinct {nd}) != generated keys {want}")
            if r.get("event_count") != n:
                errs.append(f"traffic-minute event_count {r.get('event_count')} != silver rows {n}")
            r["error"] = "; ".join(errs) or None
        p = self.paced
        if self.with_paced and not p.get("error"):
            consumed = set().union(*(b["files"] for b in p["batches"])) if p["batches"] else set()
            missing = set(p["due"]) - consumed
            if missing or len(p["due"]) != gen.PROPS[self.name]["paced_files"]:
                p["error"] = f"paced files not consumed: {sorted(missing)[:3]} of {len(p['due'])}"
            elif p.get("event_count") != self.paced_rows:
                p["error"] = f"paced event_count {p.get('event_count')} != {self.paced_rows}"
        return [r["error"] for r in self.drains if r["error"]] + ([p["error"]] if p.get("error") else [])

    def ops(self) -> tuple[int, int]:
        """A drain is one op; each paced file is one op."""
        n_files = gen.PROPS[self.name]["paced_files"] if self.with_paced else 0
        failed = sum(1 for r in self.drains if r["error"])
        if self.paced.get("error"):
            failed += n_files
        return len(self.drains) + n_files, failed

    def _freshness(self) -> tuple[list[float], list[float]]:
        p = self.paced
        fresh, wait = [], []
        for name, due in p.get("due", {}).items():
            b = next((b for b in p["batches"] if name in b["files"]), None)
            if b is not None:
                fresh.append(b["end"] - due)
                wait.append(b["start"] - due)
        return fresh, wait

    def e2e(self) -> dict:
        ok = [r for r in self.drains if not r["error"]]
        rows = self.info["backlog_rows"]
        drain = median([r["drain_s"] for r in ok])
        drain_cpu = median([r["drain_cpu"] for r in ok])
        report = {
            "events_per_s": (rows / drain, "events/s"),
            "drain_s": (drain, "s"),
            "drain_cpu_s": (drain_cpu, "s"),
        }
        # a drain has no increment op: with the paced phase, a paced
        # micro-batch is the op; without it (ingest) the op counts as zero
        out = {"items": rows, "items_cpu_s": drain_cpu, "op_cpu_s": 0.0, "op_wall_s": 0.0, "report": report}
        if not self.with_paced:
            return out
        fresh, wait = self._freshness()
        t, pct, n = tail(fresh)
        late = [self.paced["moved"][k] - self.paced["due"][k] for k in self.paced.get("due", {})]
        batch_cpu = median([b["cpu"] for b in self.paced.get("batches", [])])
        out["op_cpu_s"] = batch_cpu
        out["op_wall_s"] = median([b["end"] - b["start"] for b in self.paced.get("batches", [])])
        report.update({
            "freshness_p50_s": (median(fresh), "s"),
            f"freshness_tail_s (p{pct:g} of {n})": (t, "s"),
            "queue_wait_p50_s": (median(wait), "s"),
            "paced_batch_cpu_p50_ms": (1000 * batch_cpu, "ms"),
            "pacer_late_max_s": (max(late) if late else float("nan"), "s"),
            "paced_microbatches": (len(self.paced.get("batches", [])), "count"),
        })
        return out

    def layers(self, tracer) -> dict:
        from perfbench.layers import call_stats

        dr = call_stats(tracer, "drain", [
            "jobs.pipelines.silver_streaming_job",
            "jobs.pipelines.hot_marts_realtime_job",
        ])
        out = dict(dr["calls"])
        out["e2e.throughput_op.s"] = out["e2e.latency_op.s"] = dr["op_s"]
        out["spark.jobs.throughput_op"] = out["spark.jobs.latency_op"] = dr["jobs"]
        out["spark.tasks.throughput_op"] = out["spark.tasks.latency_op"] = dr["tasks"]
        ok = [r for r in self.drains if not r["error"]]
        out["streaming.dedup.out_in_ratio"] = median([r["silver_rows"] / self.info["backlog_rows"] for r in ok])
        if self.progress is not None:
            states = [b["state_rows"] for b in self.progress.batches if b["state_rows"]]
            out["streaming.dedup.state_rows"] = max(states) if states else 0
        procs = tracer.by_name("streaming.hot_marts.process")
        paced_ids = {s["id"] for s in procs}
        marts = ("mart_traffic_minute", "mart_top_docs", "mart_clinical_trend", "mart_anomaly_sessions")
        if not self.with_paced:
            # the drain's sinks run on the stream's callback thread, outside
            # the drain span's stack: their summed time as a share of the drain
            for mart in marts:
                sinks = [s for s in tracer.by_name(f"streaming.hot_marts.sink.{mart}") if s["parent"] is None]
                out[f"streaming.hot_marts.sink.{mart}.share"] = sum(s["end"] - s["start"] for s in sinks) / dr["op_s"]
            return out
        fresh, wait = self._freshness()
        f50 = median(fresh)
        out["e2e.latency_op.s"] = f50
        out["spark.jobs.latency_op"] = median([s["spark_jobs"] for s in procs])
        out["spark.tasks.latency_op"] = median([s["spark_tasks"] for s in procs])
        proc_s = median([s["end"] - s["start"] for s in procs])
        out["streaming.hot_marts.process.share"] = proc_s / f50
        out["streaming.hot_marts.process.spark_jobs"] = out["spark.jobs.latency_op"]
        for mart in marts:
            sinks = [s for s in tracer.by_name(f"streaming.hot_marts.sink.{mart}") if s["parent"] in paced_ids]
            out[f"streaming.hot_marts.sink.{mart}.share"] = median([s["end"] - s["start"] for s in sinks]) / proc_s
        out["streaming.runner.microbatches"] = len(self.paced.get("batches", []))
        out["streaming.runner.queue_wait.share"] = median(wait) / f50
        last = self.paced.get("last_moved", 0)
        out["streaming.runner.backlog_files_end"] = sum(
            1 for name in self.paced.get("due", {})
            if not any(name in b["files"] and b["start"] <= last for b in self.paced["batches"])
        )
        return out
