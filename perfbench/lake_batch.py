"""lake_batch: the reference's cold path on generated click events.

One cycle = a full rebuild (bronze_archive_job -> mart_etl_job ->
mart_load_job, all snapshot-published) followed by one-day late-data
backfills (mart_etl_incremental_job + a pinned mart_load_job of that day).
One cycle is measured, the first of the process.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import dir_bytes, median, tree_cpu_s

AS_OF = "2024-01-31 00:00:00"
MARTS = (
    "mart_session_analysis",
    "mart_daily_traffic",
    "mart_clinical_areas",
    "mart_popular_documents",
)
ORACLES = {
    "mart_session_analysis": "q_session_analysis",
    "mart_daily_traffic": "q_daily_traffic",
    "mart_clinical_areas": "q_clinical_areas",
    "mart_popular_documents": "q_popular_documents",
}
# One-day backfills per cycle, each on its own late day, all measured (the
# run budget leaves room for one).
BACKFILLS = 1


class LakeBatch:
    name = "lake_batch"

    def __init__(self, root, seed: int):
        self.root = root
        self.seed = seed
        self.cycles: list[dict] = []

    def prepare(self) -> dict:
        """Generate inputs (untimed)."""
        self.inputs = os.path.join(self.root.path, "inputs", self.name)
        info = gen.generate(self.name, self.seed, self.inputs)
        self.late_days = info["late_days"]
        self.events_file = f"{self.inputs}/events.parquet"
        self.clicklog = f"{self.inputs}/clicklog"
        self.raw_bytes = dir_bytes(self.clicklog)[0]
        self.n_events = info["events"]
        return info

    def build_state(self, spark, tracer) -> None:
        """No one-time state: every cycle starts from the inputs."""

    def open_state(self, spark, tracer) -> None:
        """No per-process state beyond the session."""

    def warmup(self, spark, tracer) -> None:
        """None: a scheduled batch job runs once in a fresh JVM, so the
        measured cycle is the first one, JIT compilation included. (A
        warm-up cycle would also double the run's length; see README.)"""

    def _cycle(self, spark, tracer, op: str) -> dict:
        from clinical_search_data_pipeline_spark.jobs import pipelines as P
        from clinical_search_data_pipeline_spark.sources.readers import load_events

        d = self.root.fresh("lake")
        sf = f"{d}/sf"
        # a directory named events.parquet: load_events reads it like the
        # fixture file, and the late file can be linked in later
        os.makedirs(f"{sf}/events.parquet")
        os.link(self.events_file, f"{sf}/events.parquet/part-base.parquet")
        bronze, marts = f"{d}/bronze", f"{d}/marts"

        def sink(df, table):
            with tracer.span(f"sinks.manifest.read_snapshot.{table}"):
                df.write.format("noop").mode("overwrite").save()

        rec = {"dir": d, "late": [], "day_loaded": {}, "backfill_s": [], "backfill_cpu": []}
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span("rebuild", op=f"{op}-rebuild"):
            with tracer.span("jobs.pipelines.bronze_archive_job"):
                rec["bronze_rows"] = P.bronze_archive_job(spark, self.clicklog, bronze, as_of=AS_OF)
            events = load_events(spark, sf)
            with tracer.span("jobs.pipelines.mart_etl_job"):
                P.mart_etl_job(events, marts, snapshot=True)
            with tracer.span("jobs.pipelines.mart_load_job"):
                P.mart_load_job(spark, marts, MARTS, sink, snapshot=True)
        rec["rebuild_s"] = time.perf_counter() - t0
        rec["rebuild_cpu"] = tree_cpu_s() - c0
        before = set(_files(marts))
        for day in self.late_days[:BACKFILLS]:
            late_file = f"{self.inputs}/late/{day}.parquet"
            os.link(late_file, f"{sf}/events.parquet/part-late-{day}.parquet")
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("backfill", op=f"{op}-backfill-{day}"):
                events = load_events(spark, sf)
                with tracer.span("jobs.pipelines.mart_etl_incremental_job"):
                    P.mart_etl_incremental_job(events, marts, (day,), snapshot=True)
                with tracer.span("jobs.pipelines.mart_load_job.backfill"):
                    rec["day_loaded"][day] = P.mart_load_job(
                        spark, marts, MARTS, sink, snapshot=True, where={"event_date": day}
                    )
            rec["backfill_s"].append(time.perf_counter() - t0)
            rec["backfill_cpu"].append(tree_cpu_s() - c0)
            rec["late"].append(late_file)
        rec["backfill_bytes"] = sum(os.path.getsize(f) for f in set(_files(marts)) - before) / BACKFILLS
        lake_bytes, lake_files = dir_bytes(bronze)
        mb, mf = dir_bytes(marts)
        rec["lake_bytes"], rec["files"] = lake_bytes + mb, lake_files + mf
        return rec

    def measure(self, spark, tracer, clock) -> None:
        """One cycle: it outlasts the clock on its own."""
        try:
            rec = self._cycle(spark, tracer, "cycle0")
            rec["error"] = None
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec = {"error": f"{type(exc).__name__}: {exc}"}
        self.cycles.append(rec)

    def check(self, spark) -> list[str]:
        """Per cycle: bronze rows equal the events; every mart, read back at
        its pinned version, equals the registry's DuckDB oracle over
        base + late events (so each backfilled day equals a full recompute);
        each pinned one-day load shipped exactly that day's oracle rows."""
        for rec in self.cycles:
            if rec["error"]:
                continue
            try:
                rec["error"] = self._check_cycle(spark, rec)
            except Exception as exc:  # noqa: BLE001 - a check that cannot run fails its op
                rec["error"] = f"check raised {type(exc).__name__}: {exc}"
        return [r["error"] for r in self.cycles if r["error"]]

    def _check_cycle(self, spark, rec: dict) -> str | None:
        import duckdb

        from clinical_search_data_pipeline_spark.jobs import pipelines as P
        from clinical_search_data_pipeline_spark.operators import marts as _marts  # noqa: F401  (registers the oracles)
        from clinical_search_data_pipeline_spark.registry import oracle_of
        from clinical_search_data_pipeline_spark.sinks import manifest
        from clinical_search_data_pipeline_spark.testing import compare_frames

        errs = []
        if rec["bronze_rows"] != self.n_events:
            errs.append(f"bronze rows {rec['bronze_rows']} != {self.n_events}")
        con = duckdb.connect()
        try:
            files = [self.events_file, *rec["late"]]
            con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
            pins = P.resolve_mart_versions(spark, f"{rec['dir']}/marts")
            for mart in MARTS:
                got = manifest.read_snapshot(
                    spark, f"{rec['dir']}/marts/{mart}", version=pins[mart]
                ).toPandas()
                want = con.sql(oracle_of(ORACLES[mart])).df()
                errs += [f"{mart}: {e}" for e in compare_frames(got, want)[:3]]
                if "event_date" in want.columns:
                    for day, loaded in rec["day_loaded"].items():
                        n_day = int((want["event_date"].astype(str) == day).sum())
                        if loaded[mart] != n_day:
                            errs.append(f"{mart}: {day} load {loaded[mart]} != {n_day}")
        finally:
            con.close()
        return "; ".join(errs) or None

    def ops(self) -> tuple[int, int]:
        """(attempted, failed): a rebuild and BACKFILLS backfills per cycle."""
        bad = sum(1 for r in self.cycles if r["error"])
        return (1 + BACKFILLS) * len(self.cycles), (1 + BACKFILLS) * bad

    def e2e(self) -> dict:
        ok = [r for r in self.cycles if not r["error"]]
        rebuild = median([r["rebuild_s"] for r in ok])
        backfill = median([s for r in ok for s in r["backfill_s"]])
        rebuild_cpu = median([r["rebuild_cpu"] for r in ok])
        backfill_cpu = median([c for r in ok for c in r["backfill_cpu"]])
        return {
            "items": self.n_events, "items_cpu_s": rebuild_cpu,
            "op_cpu_s": backfill_cpu, "op_wall_s": backfill,
            "report": {
                "events_per_s": (self.n_events / rebuild, "events/s"),
                "backfill_s": (backfill, "s"),
                "rebuild_s": (rebuild, "s"),
                "rebuild_cpu_s": (rebuild_cpu, "s"),
                "backfill_cpu_s": (backfill_cpu, "s"),
            },
        }

    def layers(self, tracer) -> dict:
        """Per-layer numbers from the traced cycles."""
        from perfbench.layers import call_stats

        ok = [r for r in self.cycles if not r["error"]]
        out = {}
        rb = call_stats(tracer, "rebuild", [
            "jobs.pipelines.bronze_archive_job",
            "jobs.pipelines.mart_etl_job",
            "jobs.pipelines.mart_load_job",
            *[f"sinks.manifest.read_snapshot.{m}" for m in MARTS],
        ])
        bf = call_stats(tracer, "backfill", ["jobs.pipelines.mart_etl_incremental_job"])
        # per-mart sink spans: their share only (each is one noop write)
        out.update({k: v for k, v in rb["calls"].items() if "read_snapshot" not in k or k.endswith(".share")})
        out.update(bf["calls"])
        out["e2e.throughput_op.s"] = rb["op_s"]
        out["e2e.latency_op.s"] = bf["op_s"]
        out["spark.jobs.throughput_op"], out["spark.tasks.throughput_op"] = rb["jobs"], rb["tasks"]
        out["spark.jobs.latency_op"], out["spark.tasks.latency_op"] = bf["jobs"], bf["tasks"]
        out["sinks.manifest.write_amplification"] = median(
            [r["lake_bytes"] / self.raw_bytes for r in ok]
        )
        out["sinks.manifest.files_written"] = median([r["files"] for r in ok])
        out["sinks.manifest.backfill_bytes_rewritten"] = median([r["backfill_bytes"] for r in ok])
        return out


def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]
