"""End-to-end job tests: the five reference pipelines run on fixtures with
tmp-dir lakes and recorder sinks (jobs/pipelines.py)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.jobs import pipelines
from clinical_search_data_pipeline_spark.operators import marts
from clinical_search_data_pipeline_spark.operators.ingest import stage_click_log
from clinical_search_data_pipeline_spark.sources.readers import load_events
from clinical_search_data_pipeline_spark.streaming.stream_queries import events_stream
from tests.conftest import SF_SMOKE


def test_silver_streaming_job(spark, tmp_path):
    lake = str(tmp_path / "silver")
    stream = events_stream(spark, SF_SMOKE)
    pipelines.silver_streaming_job(
        stream,
        lake,
        dedup_keys=("user_id", "event_type", "event_date"),
        event_time_col="event_ts",
    )
    got = spark.read.parquet(lake)
    want = (
        load_events(spark, SF_SMOKE)
        .select("user_id", "event_type", "event_date")
        .distinct()
    )
    assert got.count() == want.count()
    # compaction leaves one file per partition
    per_part = {
        d: len(glob.glob(d + "/*.parquet"))
        for d in glob.glob(lake + "/event_date=*")
    }
    assert per_part and all(n == 1 for n in per_part.values())


def test_bronze_archive_job(spark, tmp_path):
    raw_dir = stage_click_log(spark, SF_SMOKE)  # JSON-lines wire staging
    bronze = str(tmp_path / "bronze")
    n_events = load_events(spark, SF_SMOKE).count()
    n1 = pipelines.bronze_archive_job(spark, raw_dir, bronze, as_of="2024-01-31 00:00:00")
    assert n1 == n_events
    # append semantics: a second run doubles the lake but reports per-run rows
    n2 = pipelines.bronze_archive_job(spark, raw_dir, bronze, as_of="2024-02-01 00:00:00")
    assert n2 == n_events
    assert spark.read.parquet(bronze).count() == 2 * n_events
    assert set(spark.read.parquet(bronze).select("ingestion_type").distinct().toPandas()["ingestion_type"]) == {"batch"}


def test_mart_etl_and_load_jobs(spark, tmp_path):
    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    written = pipelines.mart_etl_job(events, out)
    assert set(written) == set(pipelines.COLD_MART_BUILDERS)
    assert all(n > 0 for n in written.values())
    # overwrite is idempotent
    rewritten = pipelines.mart_etl_job(events, out)
    assert rewritten == written

    recorded: dict[str, int] = {}
    loaded = pipelines.mart_load_job(
        spark,
        out,
        tuple(written),
        sink=lambda df, table: recorded.__setitem__(table, df.count()),
    )
    assert loaded == written == recorded


def test_mart_etl_incremental_touches_only_target_partitions(spark, tmp_path):
    """An incremental backfill of one day must replace exactly that day's
    partition in each partitioned mart and leave every other partition's
    files untouched (dynamic partition overwrite — the 100 TB late-data
    path)."""
    import os

    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    pipelines.mart_etl_job(events, out)
    target = "2024-01-03"
    mart_dir = f"{out}/mart_daily_traffic"
    before = {
        d: sorted(os.listdir(os.path.join(mart_dir, d)))
        for d in os.listdir(mart_dir)
        if d.startswith("event_date=")
    }
    written = pipelines.mart_etl_incremental_job(events, out, (target,))
    assert written and all(n > 0 for n in written.values())
    after = {
        d: sorted(os.listdir(os.path.join(mart_dir, d)))
        for d in os.listdir(mart_dir)
        if d.startswith("event_date=")
    }
    assert set(before) == set(after)
    changed = [d for d in before if before[d] != after[d]]
    assert changed == [f"event_date={target}"]
    # values for the backfilled day equal a full recompute
    full = marts.daily_traffic(events).filter(F.col("event_date") == target)
    incr = spark.read.parquet(mart_dir).filter(F.col("event_date") == target)
    assert incr.count() == full.count() == 1


def test_late_data_replay_reconciles_with_full_recompute(spark, tmp_path):
    """T7 reconciliation contract (reference mart/mart.md:64-76): events
    arriving AFTER a day's marts were built must be absorbed by an
    incremental re-run of that day, landing every partitioned mart in
    exactly the state a full recompute over the updated silver lake would
    produce — not just the same row counts."""
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    events.write.partitionBy("event_date").parquet(silver)

    def read_silver():
        # partition-type inference turns event_date into DATE; the marts
        # contract (and the lake convention) is the yyyy-MM-dd string
        return spark.read.parquet(silver).withColumn(
            "event_date", F.col("event_date").cast("string")
        )

    pipelines.mart_etl_job(read_silver(), gold)

    # late arrivals for day N-2: fresh sessions (shifted ids) so every
    # mart's aggregates for that day genuinely change
    dates = sorted(r.event_date for r in events.select("event_date").distinct().collect())
    target = dates[-3]
    late = (
        events.filter(F.col("event_date") == target)
        .limit(200)
        .withColumn("user_id", F.col("user_id") + 1_000_000)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    late.write.mode("append").partitionBy("event_date").parquet(silver)

    updated = read_silver()
    written = pipelines.mart_etl_incremental_job(updated, gold, (target,))
    assert written and all(n > 0 for n in written.values())

    for name, build in pipelines.COLD_MART_BUILDERS.items():
        full = build(updated)
        if "event_date" not in full.columns:
            continue
        got = (
            spark.read.parquet(f"{gold}/{name}")
            .withColumn("event_date", F.col("event_date").cast("string"))
        )
        cols = sorted(full.columns)
        want_rows = sorted(map(tuple, full.select(cols).collect()))
        got_rows = sorted(map(tuple, got.select(cols).collect()))
        assert got_rows == want_rows, f"{name} diverged after late-data replay"
        # and the replay really changed the target day (late rows absorbed)
        assert got.filter(F.col("event_date") == target).count() > 0


def test_silver_checkpoint_recovery(spark, tmp_path):
    """Kill the silver stream mid-run, restart with the SAME checkpoint:
    the lake must converge to exactly the batch-distinct key set with no
    duplicates (file-sink transactionality + checkpointed source offsets)."""
    import shutil

    from clinical_search_data_pipeline_spark.schemas import EVENTS_SCHEMA
    from clinical_search_data_pipeline_spark.sources.readers import fan_out
    from clinical_search_data_pipeline_spark.streaming.dedup import (
        silver_writer,
        watermark_dedup,
    )
    from clinical_search_data_pipeline_spark.streaming.stream_queries import (
        events_stream,
    )

    # stage the source as MANY files so the run spans several micro-batches
    src = str(tmp_path / "src")
    fan_out(load_events(spark, SF_SMOKE).select(*EVENTS_SCHEMA.fieldNames()), 8).write.parquet(src)
    lake = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def build_stream():
        from clinical_search_data_pipeline_spark.functions import timeops

        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        enriched = (
            raw.withColumn("ts_sec", timeops.epoch_sec("ts"))
            .withColumn("event_ts", timeops.ts_micros("ts"))
            .withColumn("event_date", timeops.event_date("ts"))
        )
        return watermark_dedup(
            enriched, ["user_id", "event_type", "event_date"]
        ).select("user_id", "event_type", "event_date")

    # first run: stop after the first micro-batch commits
    q = (
        build_stream()
        .writeStream.foreachBatch(silver_writer(lake))
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    for _ in range(120):
        time.sleep(0.5)
        if q.lastProgress and q.lastProgress["batchId"] >= 1:
            break
    q.stop()
    q.awaitTermination(60)

    # restart from the same checkpoint, drain the rest
    q2 = (
        build_stream()
        .writeStream.foreachBatch(silver_writer(lake))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)

    got = spark.read.parquet(lake)
    want = (
        load_events(spark, SF_SMOKE)
        .select("user_id", "event_type", "event_date")
        .distinct()
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_hot_marts_realtime_job(spark, tmp_path):
    silver = str(tmp_path / "silver_lake")
    events = load_events(spark, SF_SMOKE)
    events.write.parquet(silver)

    captured: dict[str, list] = {}
    pipelines.hot_marts_realtime_job(
        spark,
        silver,
        sink=lambda df, table: captured.setdefault(table, []).append(df.cache()),
        max_files_per_trigger=2,
    )
    assert set(captured) == {
        "mart_traffic_minute",
        "mart_top_docs",
        "mart_clinical_trend",
        "mart_anomaly_sessions",
    }
    parts = captured["mart_traffic_minute"]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    total = merged.agg(F.sum("event_count")).collect()[0][0]
    assert total == events.count()


def test_training_export_job_deterministic_and_within_budget(spark, tmp_path):
    """The export lake is lang-partitioned, every picked doc is admitted
    and inside the per-lang token budget, order_idx is a 1..N permutation,
    and a re-run (overwrite) is byte-deterministic."""
    import glob

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        training_export_job,
    )
    from clinical_search_data_pipeline_spark.operators.curation import TOKEN_BUDGET

    sf = SF_SMOKE
    lake = str(tmp_path / "train_lake")
    summary = training_export_job(spark, sf, lake)
    assert summary["docs_exported"] > 0
    assert glob.glob(lake + "/lang=*/*.parquet")

    out = spark.read.parquet(lake)
    n = out.count()
    assert n == summary["docs_exported"]
    # per-lang budget respected (sum of exported tokens per lang <= budget)
    for r in out.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect():
        assert r["t"] <= TOKEN_BUDGET, (r["lang"], r["t"])
    # order_idx is a dense 1..N permutation across the whole export
    idx = out.agg(
        F.min("order_idx").alias("lo"),
        F.max("order_idx").alias("hi"),
        F.countDistinct("order_idx").alias("nd"),
    ).collect()[0]
    assert (idx["lo"], idx["hi"], idx["nd"]) == (1, n, n)

    # deterministic rerun: same summary, same content hash
    h1 = out.select(F.md5(F.concat_ws("|", "doc_id", "order_idx", "text")).alias("h"))
    h1 = h1.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).collect()[0][0]
    assert training_export_job(spark, sf, lake) == summary
    out2 = spark.read.parquet(lake)
    h2 = out2.select(F.md5(F.concat_ws("|", "doc_id", "order_idx", "text")).alias("h"))
    h2 = h2.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).collect()[0][0]
    assert h1 == h2


def test_ingest_admission_job_matches_oneshot_batch(spark, tmp_path):
    """The combined seven-gate foreachBatch job must equal one-shot batch
    application of the seven gates to the whole batch partition — the
    micro-batch-invariance composition claim."""
    from pyspark.sql import functions as F

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.operators.classifier import (
        nb_quality_model,
        quality_labels,
        quality_score,
    )
    from clinical_search_data_pipeline_spark.operators.audiofp import (
        AF_HAM_MAX,
        audio_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.operators.phash import (
        dhash_neardup_images,
        image_vs_corpus,
    )
    from clinical_search_data_pipeline_spark.operators.videofp import (
        VF_HAM_MAX,
        video_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
        batch_vs_corpus,
        corpus_prefix_index,
    )
    from clinical_search_data_pipeline_spark.operators.importance import (
        DSIR_GATE,
        dsir_model,
        dsir_score,
    )
    from clinical_search_data_pipeline_spark.operators.spans import (
        corpus_gram_index,
        span_contamination,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    out_dir = str(tmp_path / "admission")
    summary = ingest_admission_job(spark, SF_SMOKE, out_dir)
    got = {
        r.doc_id: (
            r.dup_status,
            r.dsir_status,
            r.span_status,
            r.quality_status,
            r.image_status,
            r.audio_status,
            r.video_status,
            r.admitted,
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    assert spark.read.parquet(out_dir).dtypes == [
        ("doc_id", "bigint"),
        ("dup_status", "string"),
        ("n_corpus_matches", "bigint"),
        ("logw", "double"),
        ("dsir_status", "string"),
        ("covered_words", "bigint"),
        ("longest_run", "int"),
        ("span_status", "string"),
        ("quality_logit", "double"),
        ("quality_status", "string"),
        ("n_image_matches", "bigint"),
        ("image_status", "string"),
        ("n_audio_matches", "bigint"),
        ("audio_status", "string"),
        ("n_video_matches", "bigint"),
        ("video_status", "string"),
        ("admitted", "boolean"),
    ]

    docs = read_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") < INCREMENT_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    dup = {
        r.doc_id: r.status
        for r in batch_vs_corpus(corpus_prefix_index(corpus), batch).collect()
    }
    imp = {
        r.doc_id: "admitted" if r.logw >= DSIR_GATE else "rejected"
        for r in dsir_score(batch, dsir_model(corpus)).collect()
    }
    span = {
        r.doc_id: r.status
        for r in span_contamination(batch, corpus_gram_index(corpus)).collect()
    }
    qual = {
        r.doc_id: r.status
        for r in quality_score(
            batch, nb_quality_model(quality_labels(corpus))
        ).collect()
    }
    img = {
        r.doc_id: r.status
        for r in image_vs_corpus(
            dhash_neardup_images(corpus, wrap_base=INCREMENT_SPLIT),
            dhash_neardup_images(batch, wrap_base=INCREMENT_SPLIT),
        ).collect()
    }
    aud = {
        r.doc_id: r.status
        for r in image_vs_corpus(
            audio_neardup_fingerprints(corpus, wrap_base=INCREMENT_SPLIT),
            audio_neardup_fingerprints(batch, wrap_base=INCREMENT_SPLIT),
            ham_max=AF_HAM_MAX,
            dup_status="dup_audio",
        ).collect()
    }
    vid = {
        r.doc_id: r.status
        for r in image_vs_corpus(
            video_neardup_fingerprints(corpus, wrap_base=INCREMENT_SPLIT),
            video_neardup_fingerprints(batch, wrap_base=INCREMENT_SPLIT),
            ham_max=VF_HAM_MAX,
            dup_status="dup_video",
        ).collect()
    }
    assert set(got) == set(dup)
    for d, (ds, is_, ss, qs, ims, aus, vs, adm) in got.items():
        assert (ds, is_, ss, qs, ims, aus, vs) == (
            dup[d], imp[d], span[d], qual[d], img[d], aud[d], vid[d]
        )
        assert adm == (
            ds == "admitted"
            and is_ == "admitted"
            and ss == "clean"
            and qs == "admitted"
            and ims == "admitted"
            and aus == "admitted"
            and vs == "admitted"
        )
    # every perceptual gate must actually bite: planted cross-split copies
    assert any(v == "dup_image" for v in img.values())
    assert any(v == "dup_audio" for v in aud.values())
    assert any(v == "dup_video" for v in vid.values())
    assert summary["docs_screened"] == len(got) > 0
    assert summary["docs_admitted"] == sum(1 for v in got.values() if v[7])

    # rerun guard: replaying into the populated out_dir would append a
    # second copy of every verdict and silently double the summary — the
    # job must refuse instead
    import pytest

    with pytest.raises(FileExistsError):
        ingest_admission_job(spark, SF_SMOKE, out_dir)


def test_ingest_admission_job_cold_start_admits_everything(spark, tmp_path):
    """corpus_split=0 is day one of a standing corpus: no index can match
    (dedup/span/image admit) and the DSIR/quality models have ZERO
    evidence, so they must degrade to the NEUTRAL smoothed model (score
    0 -> the >= 0 gates ADMIT) — not to NULL scores that silently reject
    the whole first batch (the bug this pins: sum() over an empty bucket
    relation is NULL, not 0)."""
    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        ingest_admission_job,
    )
    from tests.conftest import SF_SMOKE

    out_dir = str(tmp_path / "cold")
    summary = ingest_admission_job(spark, SF_SMOKE, out_dir, corpus_split=0)
    rows = spark.read.parquet(out_dir).collect()
    assert summary["docs_screened"] == len(rows) > 0
    assert summary["docs_admitted"] == len(rows)
    for r in rows:
        assert r.admitted, r
        assert r.logw == 0.0 and r.quality_logit == 0.0, r


def test_every_admission_gate_is_total_over_degenerate_docs(spark):
    """A missing verdict row would make the admission job's five-way join
    silently DROP a document from the lake, so every gate must emit one
    row per incoming doc even for one-word and empty-text input (no
    shingles, no k-grams, no bigrams)."""
    from pyspark.sql import functions as F

    from clinical_search_data_pipeline_spark.operators.classifier import (
        nb_quality_model,
        quality_labels,
        quality_score,
    )
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
        batch_vs_corpus,
        corpus_prefix_index,
    )
    from clinical_search_data_pipeline_spark.operators.importance import (
        dsir_model,
        dsir_score,
    )
    from clinical_search_data_pipeline_spark.operators.audiofp import (
        audio_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.operators.phash import (
        dhash_neardup_images,
        image_vs_corpus,
    )
    from clinical_search_data_pipeline_spark.operators.spans import (
        corpus_gram_index,
        span_contamination,
    )
    from clinical_search_data_pipeline_spark.operators.videofp import (
        video_neardup_fingerprints,
    )
    from clinical_search_data_pipeline_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    corpus = read_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < INCREMENT_SPLIT
    )
    batch = spark.createDataFrame(
        [
            (9001, "alpha", "en", "webcrawl", 5),
            (9002, "", "en", "webcrawl", 0),
            (9003, "alpha beta", "en", "webcrawl", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    ids = {9001, 9002, 9003}
    gates = {
        "dup": batch_vs_corpus(corpus_prefix_index(corpus), batch),
        "span": span_contamination(batch, corpus_gram_index(corpus)),
        "dsir": dsir_score(batch, dsir_model(corpus)),
        "quality": quality_score(
            batch, nb_quality_model(quality_labels(corpus))
        ),
        "image": image_vs_corpus(
            dhash_neardup_images(corpus, wrap_base=INCREMENT_SPLIT),
            dhash_neardup_images(batch, wrap_base=INCREMENT_SPLIT),
        ),
        "audio": image_vs_corpus(
            audio_neardup_fingerprints(corpus, wrap_base=INCREMENT_SPLIT),
            audio_neardup_fingerprints(batch, wrap_base=INCREMENT_SPLIT),
            dup_status="dup_audio",
        ),
        "video": image_vs_corpus(
            video_neardup_fingerprints(corpus, wrap_base=INCREMENT_SPLIT),
            video_neardup_fingerprints(batch, wrap_base=INCREMENT_SPLIT),
            dup_status="dup_video",
        ),
    }
    for name, df in gates.items():
        got = {r.doc_id for r in df.select("doc_id").collect()}
        assert got == ids, (name, got)


def test_ingest_admission_job_snapshot_publish(spark, tmp_path):
    """Opt-in manifest publish: each non-empty micro-batch's admitted
    documents land as ONE append snapshot — the latest snapshot equals the
    admitted set in the verdict sink, every intermediate version is a
    prefix of the next (append never rewrites parent files), and a reader
    pinned to version 1 still resolves after the stream finishes."""
    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from tests.conftest import SF_SMOKE

    out_dir = str(tmp_path / "admission")
    table = str(tmp_path / "curated")
    summary = ingest_admission_job(spark, SF_SMOKE, out_dir, snapshot_table=table)
    assert summary["snapshot_rows"] == summary["docs_admitted"] > 0
    assert summary["snapshot_versions"] >= 1

    verdicts = spark.read.parquet(out_dir)
    admitted_ids = {r.doc_id for r in verdicts.filter("admitted").collect()}
    latest_ids = {r.doc_id for r in m.read_snapshot(spark, table).collect()}
    assert latest_ids == admitted_ids

    log = m.snapshots(table)
    assert [s["version"] for s in log] == list(range(1, len(log) + 1))
    prev: set = set()
    for s in log:
        ids = {
            r.doc_id
            for r in m.read_snapshot(spark, table, version=s["version"]).collect()
        }
        assert prev < ids  # strictly growing, prefix-preserving
        prev = ids
    # a reader pinned to the first publish is unaffected by later commits
    v1 = m.read_snapshot(spark, table, version=1)
    assert 0 < v1.count() <= summary["docs_admitted"]


def test_mart_etl_snapshot_publish_and_load(spark, tmp_path):
    """snapshot=True publishes each mart atomically through the manifest
    sink: a rebuild creates version 2 per mart while a reader pinned to
    version 1 still resolves; mart_load_job(snapshot=True) ships the
    latest committed version."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    written = pipelines.mart_etl_job(events, out, snapshot=True)
    assert set(written) == set(pipelines.COLD_MART_BUILDERS)
    rewritten = pipelines.mart_etl_job(events, out, snapshot=True)
    assert rewritten == written
    for table, n in written.items():
        log = m.snapshots(f"{out}/{table}")
        assert [s["version"] for s in log] == [1, 2]
        # v1 (pre-rebuild) stays pinnable and identical for this input
        assert m.read_snapshot(spark, f"{out}/{table}", version=1).count() == n

    recorded: dict[str, int] = {}
    loaded = pipelines.mart_load_job(
        spark,
        out,
        tuple(written),
        sink=lambda df, table: recorded.__setitem__(table, df.count()),
        snapshot=True,
    )
    assert loaded == written == recorded

    # Partition-pruned incremental serving refresh: the event_date marts
    # publish hive-partitioned through the manifest, so a one-day load
    # opens ONLY that day's files (inputFiles-pinned); global marts
    # (no event_date column) skip the predicate and load whole.
    dated = [
        t for t in written
        if "event_date" in m.read_snapshot(spark, f"{out}/{t}").columns
    ]
    assert dated, "at least one mart must carry event_date"
    day = (
        m.read_snapshot(spark, f"{out}/{dated[0]}")
        .selectExpr("min(event_date) AS d").collect()[0].d
    )
    pruned_frames: dict[str, object] = {}
    pipelines.mart_load_job(
        spark,
        out,
        tuple(written),
        sink=lambda df, table: pruned_frames.__setitem__(table, df),
        snapshot=True,
        where={"event_date": str(day)},
    )
    for t in dated:
        opened = pruned_frames[t].inputFiles()
        assert opened and all(f"event_date={day}" in f for f in opened), t
    for t in set(written) - set(dated):
        assert pruned_frames[t].count() == written[t], t


def test_training_export_snapshot_epochs(spark, tmp_path):
    """snapshot=True publishes each export run as one atomic version: two
    epochs (different seeds) land as v1/v2, the latest equals the seed-2
    export, and epoch 1 stays pinnable with its own ordering."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    lake = str(tmp_path / "lake")
    s1 = pipelines.training_export_job(
        spark, SF_SMOKE, lake, token_budget=2000, seed="epoch0", snapshot=True
    )
    s2 = pipelines.training_export_job(
        spark, SF_SMOKE, lake, token_budget=2000, seed="epoch1", snapshot=True
    )
    assert [s["version"] for s in m.snapshots(lake)] == [1, 2]
    latest = m.read_snapshot(spark, lake)
    assert latest.count() == s2["docs_exported"] > 0
    v1 = m.read_snapshot(spark, lake, version=1)
    assert v1.count() == s1["docs_exported"] > 0
    # different seeds draw different budget prefixes/orders: the two
    # pinned epochs differ while each stays internally consistent
    k1 = {(r.doc_id, r.order_idx) for r in v1.collect()}
    k2 = {(r.doc_id, r.order_idx) for r in latest.collect()}
    assert k1 != k2


def test_gate_index_refresh_flags_dup_of_admitted_doc(spark, tmp_path):
    """VERDICT r8 #5: with refresh_every set, documents ADMITTED earlier in
    the run are folded into the standing corpus (an atomic snapshot
    version on `<snapshot_table>_corpus`) and every gate index rebuilds —
    so a later duplicate of an admitted (not original-corpus) document is
    flagged. Without refresh the same duplicate sails through the frozen
    indexes: the control half of the claim."""
    from pyspark.sql import functions as F

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from clinical_search_data_pipeline_spark.sources.readers import read_table
    from tests.conftest import SF_SMOKE

    # Phase 1 — discovery + baseline: run the stock job once, pick a doc
    # the gates genuinely admit (no hand-picked fixture knowledge).
    out1 = str(tmp_path / "baseline")
    ingest_admission_job(spark, SF_SMOKE, out1)
    admitted_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(out1).filter("admitted").collect()
    )
    assert admitted_ids, "fixture must admit at least one increment doc"
    a_id = admitted_ids[0]

    docs = read_table(spark, SF_SMOKE, "documents")
    doc_a = docs.filter(F.col("doc_id") == a_id)
    copy_id = a_id + 1_000_000
    doc_copy = doc_a.withColumn("doc_id", F.lit(copy_id).cast("long")).select(
        *docs.columns
    )

    # scripted two-micro-batch stream: batch 0 = the novel doc, batch 1 =
    # its duplicate under a fresh doc_id
    import os
    import time

    staging = str(tmp_path / "staging")
    doc_a.coalesce(1).write.parquet(f"{staging}/f0")
    doc_copy.coalesce(1).write.parquet(f"{staging}/f1")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    now = time.time()
    for i, sub in enumerate(("f0", "f1")):
        src = next(
            p for p in os.listdir(f"{staging}/{sub}") if p.endswith(".parquet")
        )
        dst = os.path.join(flat, f"batch-{i}.parquet")
        os.link(os.path.join(staging, sub, src), dst)
        os.utime(dst, (now - 60 + i * 30, now - 60 + i * 30))

    # Phase 2 — refreshing run: duplicate rejected after the fold-in
    out2 = str(tmp_path / "refresh")
    lake2 = str(tmp_path / "lake2")
    s2 = ingest_admission_job(
        spark,
        SF_SMOKE,
        out2,
        snapshot_table=lake2,
        refresh_every=1,
        staging_dir=flat,
    )
    v2 = {r.doc_id: r for r in spark.read.parquet(out2).collect()}
    assert v2[a_id].admitted, "the novel doc itself must still be admitted"
    assert not v2[copy_id].admitted, "dup of an ADMITTED doc must be flagged"
    assert (
        v2[copy_id].dup_status != "admitted"
        or v2[copy_id].span_status != "clean"
    )
    # the refresh is an atomic snapshot version on the standing corpus
    assert s2["index_refreshes"] >= 1
    assert s2["corpus_versions"] >= 2
    corpus_tip = m.read_snapshot(spark, f"{lake2}_corpus")
    assert corpus_tip.filter(F.col("doc_id") == a_id).count() == 1

    # Phase 3 — control: same stream, NO refresh -> the duplicate is
    # admitted (frozen indexes know nothing of batch 0's admission)
    out3 = str(tmp_path / "frozen")
    lake3 = str(tmp_path / "lake3")
    ingest_admission_job(
        spark, SF_SMOKE, out3, snapshot_table=lake3, staging_dir=flat
    )
    v3 = {r.doc_id: r for r in spark.read.parquet(out3).collect()}
    assert v3[copy_id].admitted, "control: frozen indexes admit the dup"


def test_gate_indexes_persist_and_reuse(spark, tmp_path):
    """gate_index_root: run 1 builds + publishes the ten index relations
    (+ meta pin); run 2 probes the committed artifacts without
    re-deriving or republishing anything — and produces IDENTICAL
    verdicts, so the persisted admission path is interchangeable with the
    built one (the BM25/ANN index discipline applied to the gates)."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    root = str(tmp_path / "gidx")
    out1 = str(tmp_path / "run1")
    s1 = pipelines.ingest_admission_job(
        spark, SF_SMOKE, out1, gate_index_root=root
    )
    assert s1["gate_index_source"] == "built"
    v_after_build = {
        t: m.snapshots(f"{root}/{t}")[-1]["version"]
        for t in (*pipelines.GATE_INDEX_TABLES, "meta")
    }
    assert all(v == 1 for v in v_after_build.values())

    out2 = str(tmp_path / "run2")
    s2 = pipelines.ingest_admission_job(
        spark, SF_SMOKE, out2, gate_index_root=root
    )
    assert s2["gate_index_source"] == "read"
    # the read-path run republished nothing
    assert v_after_build == {
        t: m.snapshots(f"{root}/{t}")[-1]["version"]
        for t in (*pipelines.GATE_INDEX_TABLES, "meta")
    }
    key = lambda df: {  # noqa: E731
        r.doc_id: (
            r.dup_status, r.dsir_status, r.span_status, r.quality_status,
            r.image_status, r.audio_status, r.video_status, r.admitted,
        )
        for r in df.collect()
    }
    assert key(spark.read.parquet(out1)) == key(spark.read.parquet(out2))


def test_mart_incremental_snapshot_backfill(spark, tmp_path):
    """snapshot=True incremental backfill: one day's late data lands as
    ONE atomic replace version per partitioned mart — untouched
    partitions' files carried by reference, values equal to a full
    recompute for the target day, pre-backfill version pinnable."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    pipelines.mart_etl_job(events, out, snapshot=True)

    dates = sorted(
        r.event_date for r in events.select("event_date").distinct().collect()
    )
    target = dates[-3]
    late = (
        events.filter(F.col("event_date") == target)
        .limit(200)
        .withColumn("user_id", F.col("user_id") + 1_000_000)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    updated = events.unionByName(late)
    written = pipelines.mart_etl_incremental_job(
        updated, out, (target,), snapshot=True
    )
    assert written and all(n > 0 for n in written.values())
    for name in written:
        table = f"{out}/{name}"
        log = m.snapshots(table)
        assert [s["version"] for s in log] == [1, 2]
        assert log[-1]["mode"] == "replace"
        # untouched partitions: identical file references across versions
        v1 = {
            e["path"]
            for e in m._entries(m._read_manifest(table, 1))
            if e["partition"].get("event_date") != target
        }
        v2 = {
            e["path"]
            for e in m._entries(m._read_manifest(table, 2))
            if e["partition"].get("event_date") != target
        }
        assert v1 == v2
        # backfilled day equals a full recompute over the updated events
        full = pipelines.COLD_MART_BUILDERS[name](updated).filter(
            F.col("event_date") == target
        )
        got = m.read_snapshot(spark, table, where={"event_date": target})
        cols = sorted(full.columns)
        assert sorted(map(tuple, got.select(cols).collect())) == sorted(
            map(tuple, full.select(cols).collect())
        )
        # pre-backfill state pinnable
        assert m.read_snapshot(spark, table, version=1).count() > 0


def _scripted_two_batch_stream(spark, tmp_path, doc_a, doc_copy):
    """Two-micro-batch staged stream: batch 0 = the novel doc, batch 1 =
    its duplicate under a fresh doc_id (mtime-ordered flat files)."""
    import os
    import time

    staging = str(tmp_path / "staging")
    doc_a.coalesce(1).write.parquet(f"{staging}/f0")
    doc_copy.coalesce(1).write.parquet(f"{staging}/f1")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    now = time.time()
    for i, sub in enumerate(("f0", "f1")):
        src = next(
            p for p in os.listdir(f"{staging}/{sub}") if p.endswith(".parquet")
        )
        dst = os.path.join(flat, f"batch-{i}.parquet")
        os.link(os.path.join(staging, sub, src), dst)
        os.utime(dst, (now - 60 + i * 30, now - 60 + i * 30))
    return flat


def test_incremental_refresh_verdicts_equal_full_rebuild(spark, tmp_path):
    """VERDICT r9 #2: incremental_refresh folds the admitted increment
    into the gate indexes in O(increment) — change-feed read, corpus
    APPEND (not a rewrite), set/fingerprint unions, novel-gram bloom_add,
    frozen-order prefix appends. The pin: per-doc verdict rows from the
    incremental run equal the full-rebuild run EXACTLY (including the
    dup-of-admitted-doc rejection after the refresh), and the standing
    corpus accrues append commits rather than merge rewrites."""
    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    out0 = str(tmp_path / "discover")
    ingest_admission_job(spark, SF_SMOKE, out0)
    admitted_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(out0).filter("admitted").collect()
    )
    assert admitted_ids
    a_id = admitted_ids[0]
    docs = read_table(spark, SF_SMOKE, "documents")
    doc_a = docs.filter(F.col("doc_id") == a_id)
    copy_id = a_id + 1_000_000
    doc_copy = doc_a.withColumn(
        "doc_id", F.lit(copy_id).cast("long")
    ).select(*docs.columns)
    flat = _scripted_two_batch_stream(spark, tmp_path, doc_a, doc_copy)

    def run(label, incremental):
        out = str(tmp_path / f"out_{label}")
        lake = str(tmp_path / f"lake_{label}")
        s = ingest_admission_job(
            spark, SF_SMOKE, out,
            snapshot_table=lake, refresh_every=1, staging_dir=flat,
            incremental_refresh=incremental,
        )
        rows = {
            r.doc_id: (
                r.dup_status, r.dsir_status, r.span_status,
                r.quality_status, r.image_status, r.audio_status,
                r.video_status, r.admitted, r.n_corpus_matches,
                r.covered_words, r.longest_run,
            )
            for r in spark.read.parquet(out).collect()
        }
        return s, rows, lake

    s_full, v_full, _ = run("full", incremental=False)
    s_inc, v_inc, lake_inc = run("inc", incremental=True)

    assert v_inc == v_full  # the whole point
    assert v_inc[a_id][7] is True
    assert v_inc[copy_id][7] is False  # dup of ADMITTED doc flagged
    assert s_inc["refresh_mode"] == "incremental"
    assert s_inc["index_refreshes"] >= 1
    # with NO gate_index_root there is no durable pin to anchor a replay
    # against, so the fold is a doc_id-keyed merge_snapshot — idempotent
    # under a watermark-reset restart (ADVICE r11). merge publishes
    # overwrite commits; the O(increment) pinned-base APPEND discipline
    # lives on the durable-artifact path and is pinned in
    # test_incremental_refresh_publishes_appendy_artifacts.
    modes = [c["mode"] for c in m.snapshots(f"{lake_inc}_corpus")]
    assert all(mode == "overwrite" for mode in modes)
    assert len(modes) >= 2  # seed + at least one refresh fold
    # and the incremental corpus content equals the full-rebuild semantics:
    # original corpus + every admitted doc exactly once
    corpus = m.read_snapshot(spark, f"{lake_inc}_corpus")
    assert corpus.filter(F.col("doc_id") == a_id).count() == 1
    assert (
        corpus.groupBy("doc_id").count().filter("count > 1").count() == 0
    )


def test_incremental_refresh_publishes_appendy_artifacts(spark, tmp_path):
    """publish_gate_index_increment: an incremental refresh maintains the
    persisted gate artifacts with per-relation APPEND commits (O(increment)
    data written; prefix_dfreq untouched, Bloom/models overwritten small),
    and a SECOND job run probing the refreshed artifacts flags a duplicate
    of the first run's admitted doc — the persisted increment really
    carries."""
    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        GATE_INDEX_TABLES,
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    out0 = str(tmp_path / "discover")
    ingest_admission_job(spark, SF_SMOKE, out0)
    a_id = sorted(
        r.doc_id
        for r in spark.read.parquet(out0).filter("admitted").collect()
    )[0]
    docs = read_table(spark, SF_SMOKE, "documents")
    doc_a = docs.filter(F.col("doc_id") == a_id)
    copy_id = a_id + 1_000_000
    doc_copy = doc_a.withColumn(
        "doc_id", F.lit(copy_id).cast("long")
    ).select(*docs.columns)

    root = str(tmp_path / "gidx")
    # Run 1: admit ONLY the novel doc, with an incremental refresh after
    # its batch — the artifacts must absorb it via appends.
    flat1 = str(tmp_path / "flat1")
    import os

    os.makedirs(flat1)
    src_dir = str(tmp_path / "src1")
    doc_a.coalesce(1).write.parquet(src_dir)
    src = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
    os.link(os.path.join(src_dir, src), os.path.join(flat1, "b0.parquet"))
    s1 = ingest_admission_job(
        spark, SF_SMOKE, str(tmp_path / "out1"),
        snapshot_table=str(tmp_path / "lake1"), refresh_every=1,
        staging_dir=flat1, gate_index_root=root, incremental_refresh=True,
    )
    assert s1["index_refreshes"] == 1
    # artifact commit log: v1 = the build's overwrite, v2 = the refresh's
    # APPEND for the six increment relations; dfreq stays at v1
    for t in ("prefix_sets", "prefix_prefixes", "gram_index",
              "image_index", "audio_index", "video_index"):
        log = m.snapshots(f"{root}/{t}")
        assert [c["mode"] for c in log] == ["overwrite", "append"], t
    assert len(m.snapshots(f"{root}/prefix_dfreq")) == 1
    pins = {
        r.table: r.version
        for r in m.read_snapshot(spark, f"{root}/meta").collect()
    }
    assert pins["prefix_dfreq"] == 1 and pins["gram_index"] == 2
    # the ten index relations + the lake watermark + the corpus pin
    assert set(pins) == set(GATE_INDEX_TABLES) | {
        "__corpus_lake_version__", "__corpus_table_version__"
    }
    # the durable path folds the corpus by PINNED-BASE APPENDS (O(increment)
    # publish, replay-safe): seed overwrite then append commits only, and
    # the meta pin names the corpus tip those artifacts reflect
    corpus_log = m.snapshots(f"{str(tmp_path / 'lake1')}_corpus")
    assert [c["mode"] for c in corpus_log] == ["overwrite", "append"]
    assert pins["__corpus_table_version__"] == corpus_log[-1]["version"]

    # Run 2: fresh job, artifacts read back (no rebuild) — the duplicate
    # of run 1's admitted doc must now be flagged by the persisted index.
    flat2 = str(tmp_path / "flat2")
    os.makedirs(flat2)
    src_dir2 = str(tmp_path / "src2")
    doc_copy.coalesce(1).write.parquet(src_dir2)
    src2 = next(p for p in os.listdir(src_dir2) if p.endswith(".parquet"))
    os.link(os.path.join(src_dir2, src2), os.path.join(flat2, "b0.parquet"))
    out2 = str(tmp_path / "out2")
    s2 = ingest_admission_job(
        spark, SF_SMOKE, out2, staging_dir=flat2, gate_index_root=root,
    )
    assert s2["gate_index_source"] == "read"
    v = {r.doc_id: r for r in spark.read.parquet(out2).collect()}
    assert not v[copy_id].admitted
    assert (
        v[copy_id].dup_status != "admitted"
        or v[copy_id].span_status != "clean"
    )


@pytest.mark.parametrize(
    "first_incremental", [True, False], ids=["incremental", "full"]
)
def test_incremental_refresh_restart_resumes_from_watermark(
    spark, tmp_path, first_incremental
):
    """Restart safety for the incremental loop: the artifacts record the
    admitted-lake version they reflect (a meta-pin sentinel), a restarted
    job resumes the change feed from it instead of re-folding history
    (no duplicate index rows), and the standing corpus is not re-seeded
    over its folded-in admissions. The first run's refresh is either
    incremental or a full rebuild; both pin the lake tip they folded in."""
    import os

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        gate_index_lake_version,
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    out0 = str(tmp_path / "discover")
    ingest_admission_job(spark, SF_SMOKE, out0)
    a_id = sorted(
        r.doc_id
        for r in spark.read.parquet(out0).filter("admitted").collect()
    )[0]
    docs = read_table(spark, SF_SMOKE, "documents")
    doc_a = docs.filter(F.col("doc_id") == a_id)
    copy_id = a_id + 1_000_000
    doc_copy = doc_a.withColumn(
        "doc_id", F.lit(copy_id).cast("long")
    ).select(*docs.columns)

    def stage_one(name, df):
        flat = str(tmp_path / name)
        os.makedirs(flat)
        src_dir = str(tmp_path / f"{name}_src")
        df.coalesce(1).write.parquet(src_dir)
        src = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        os.link(os.path.join(src_dir, src), os.path.join(flat, "b0.parquet"))
        return flat

    root = str(tmp_path / "gidx")
    lake = str(tmp_path / "lake")
    ingest_admission_job(
        spark, SF_SMOKE, str(tmp_path / "out1"),
        snapshot_table=lake, refresh_every=1,
        staging_dir=stage_one("flat1", doc_a),
        gate_index_root=root, incremental_refresh=first_incremental,
    )
    wm1 = gate_index_lake_version(spark, root)
    lake_tip = m.snapshots(lake)[-1]["version"]
    assert wm1 == lake_tip >= 1
    sets_log_1 = len(m.snapshots(f"{root}/prefix_sets"))
    corpus_log_1 = len(m.snapshots(f"{lake}_corpus"))

    # RESTART with the SAME lake + artifacts; the only new doc is the
    # duplicate, which the refreshed artifacts must reject — so nothing
    # is admitted, no refresh fires, and nothing is re-folded.
    s2 = ingest_admission_job(
        spark, SF_SMOKE, str(tmp_path / "out2"),
        snapshot_table=lake, refresh_every=1,
        staging_dir=stage_one("flat2", doc_copy),
        gate_index_root=root, incremental_refresh=True,
    )
    assert s2["gate_index_source"] == "read"
    v = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert not v[copy_id].admitted
    # no re-fold: the index tables gained no commits, the corpus was not
    # re-seeded, and the watermark still matches the (unchanged) lake tip
    assert len(m.snapshots(f"{root}/prefix_sets")) == sets_log_1
    assert len(m.snapshots(f"{lake}_corpus")) == corpus_log_1
    assert gate_index_lake_version(spark, root) == wm1
    # and doc_a appears exactly once in the standing corpus
    corpus = m.read_snapshot(spark, f"{lake}_corpus")
    assert corpus.filter(F.col("doc_id") == a_id).count() == 1


def test_incremental_refresh_replayed_fold_does_not_duplicate(spark, tmp_path):
    """ADVICE r10 (medium): a crash between the corpus fold and the
    watermark pin replays the feed range on restart. The fold appends
    against the META-PINNED corpus version, so the crashed append's rows
    are orphaned and the replay lands each document exactly once — no
    duplicate doc_ids biasing the rebuilt dsir/NB models."""
    import os

    from clinical_search_data_pipeline_spark.jobs.pipelines import (
        gate_index_corpus_version,
        ingest_admission_job,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest as m
    from clinical_search_data_pipeline_spark.sources.readers import read_table

    out0 = str(tmp_path / "discover")
    ingest_admission_job(spark, SF_SMOKE, out0)
    adm = sorted(
        r.doc_id
        for r in spark.read.parquet(out0).filter("admitted").collect()
    )
    a_id, b_id = adm[0], adm[1]
    docs = read_table(spark, SF_SMOKE, "documents")
    doc_a = docs.filter(F.col("doc_id") == a_id)
    doc_b = docs.filter(F.col("doc_id") == b_id)

    def stage_one(name, df):
        flat = str(tmp_path / name)
        os.makedirs(flat)
        src_dir = str(tmp_path / f"{name}_src")
        df.coalesce(1).write.parquet(src_dir)
        src = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        os.link(os.path.join(src_dir, src), os.path.join(flat, "b0.parquet"))
        return flat

    root = str(tmp_path / "gidx")
    lake = str(tmp_path / "lake")
    ingest_admission_job(
        spark, SF_SMOKE, str(tmp_path / "out1"),
        snapshot_table=lake, refresh_every=1,
        staging_dir=stage_one("flat1", doc_a),
        gate_index_root=root, incremental_refresh=True,
    )
    corpus_table = f"{lake}_corpus"
    pinned = gate_index_corpus_version(spark, root)
    assert pinned == m.latest_version(corpus_table)

    # Simulate the crashed refresh: doc_b's admission landed on the lake
    # and its increment was appended to the corpus, but the job died
    # before the meta pin — watermark AND corpus pin still pre-crash.
    lake_schema = m.read_snapshot(spark, lake).schema
    m.write_snapshot(
        doc_b.select(*(f.name for f in lake_schema.fields)),
        lake, mode="append",
    )
    m.write_snapshot(
        doc_b.select(*(f.name for f in lake_schema.fields)),
        corpus_table, mode="append", base_version=pinned,
    )
    crashed_v = m.latest_version(corpus_table)
    assert gate_index_corpus_version(spark, root) == pinned  # pin not moved

    # Restart: the replayed feed range re-folds doc_b; the pinned-base
    # append orphans the crashed version instead of stacking on it.
    doc_copy = doc_a.withColumn(
        "doc_id", (F.col("doc_id") + 1_000_000).cast("long")
    ).select(*docs.columns)
    ingest_admission_job(
        spark, SF_SMOKE, str(tmp_path / "out2"),
        snapshot_table=lake, refresh_every=1,
        staging_dir=stage_one("flat2", doc_copy),
        gate_index_root=root, incremental_refresh=True,
    )
    new_pin = gate_index_corpus_version(spark, root)
    assert new_pin is not None and new_pin > crashed_v
    corpus = m.read_snapshot(spark, corpus_table, version=new_pin)
    assert corpus.filter(F.col("doc_id") == b_id).count() == 1
    assert corpus.filter(F.col("doc_id") == a_id).count() == 1


def test_mart_meta_pin_gives_all_old_or_all_new(spark, tmp_path):
    """VERDICT r11 #4: the four marts must tell ONE story. mart_etl_job
    lands a `_mart_meta` pin AFTER every mart commits; readers resolving
    through it see the complete old set mid-ETL (a torn rebuild — some
    marts re-published, pin not yet landed — is invisible), the complete
    new set after, never a mix. A crash before the pin leaves the old set
    live."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    written = pipelines.mart_etl_job(events, out, snapshot=True)
    v1 = pipelines.resolve_mart_versions(spark, out)
    assert v1 == {t: 1 for t in written}

    # simulate a torn rebuild / crash before the pin: HALF the marts get
    # a new (here: visibly different) version, the pin is never updated
    tables = sorted(written)
    torn = tables[: len(tables) // 2]
    for t in torn:
        one = m.read_snapshot(spark, f"{out}/{t}").limit(1)
        m.write_snapshot(one, f"{out}/{t}", mode="overwrite")
    # the pinned read still ships v1 of EVERY mart — all-old, no mix
    recorded: dict[str, int] = {}
    loaded = pipelines.mart_load_job(
        spark, out, tuple(tables),
        sink=lambda df, table: recorded.__setitem__(table, df.count()),
        snapshot=True,
    )
    assert loaded == written == recorded
    assert pipelines.resolve_mart_versions(spark, out) == v1

    # the next complete ETL lands a new pin; readers flip to all-new
    pipelines.mart_etl_job(events, out, snapshot=True)
    v2 = pipelines.resolve_mart_versions(spark, out)
    assert all(v2[t] > v1[t] for t in tables)
    loaded2 = pipelines.mart_load_job(
        spark, out, tuple(tables),
        sink=lambda df, table: None,
        snapshot=True,
    )
    assert loaded2 == written


def test_mart_incremental_backfill_updates_pin(spark, tmp_path):
    """The one-day backfill (replace_partitions per dated mart) refreshes
    the pin too, carrying the untouched global marts' versions forward —
    the consistent set stays complete across incremental publishes."""
    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    pipelines.mart_etl_job(events, out, snapshot=True)
    v1 = pipelines.resolve_mart_versions(spark, out)
    day = events.selectExpr("min(event_date) AS d").collect()[0].d
    written = pipelines.mart_etl_incremental_job(
        events, out, (str(day),), snapshot=True
    )
    assert written  # at least the dated marts were backfilled
    v2 = pipelines.resolve_mart_versions(spark, out)
    assert set(v2) == set(v1)
    for t in v1:
        if t in written:
            assert v2[t] == v1[t] + 1, t
        else:
            assert v2[t] == v1[t], t  # untouched mart carried forward


def test_mart_etl_expectations_refuse_bad_rebuild(spark, tmp_path):
    """mart_etl_job(expect=...): a mart rebuild violating its declared
    expectation is refused with the previous version AND the previous
    consistent pin still live — BI keeps serving the last good set."""
    import pytest

    from clinical_search_data_pipeline_spark.sinks import manifest as m

    out = str(tmp_path / "gold")
    events = load_events(spark, SF_SMOKE)
    good = {"mart_daily_traffic": {"events_nonneg": "total_events >= 0"}}
    pipelines.mart_etl_job(events, out, snapshot=True, expect=good)
    v1 = pipelines.resolve_mart_versions(spark, out)
    assert m._read_stored(f"{out}/mart_daily_traffic", 1)["expectations"] == {
        "events_nonneg": 0
    }
    bad = {"mart_daily_traffic": {"impossible": "total_events < 0"}}
    with pytest.raises(m.ExpectationViolation):
        pipelines.mart_etl_job(events, out, snapshot=True, expect=bad)
    # the violating rebuild left version AND pin untouched
    assert pipelines.resolve_mart_versions(spark, out) == v1
    assert m.latest_version(f"{out}/mart_daily_traffic") == 1


def test_mart_etl_expect_requires_snapshot(spark, tmp_path):
    """ADVICE r12: only the snapshot sink can refuse-and-keep-previous,
    so declaring expectations on the plain-parquet path must raise
    loudly instead of silently skipping the gate."""
    import pytest

    events = load_events(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="snapshot=True"):
        pipelines.mart_etl_job(
            events,
            str(tmp_path / "gold"),
            snapshot=False,
            expect={"mart_daily_traffic": {"x": "total_events >= 0"}},
        )


def test_ingest_admission_expectations_quarantine(spark, tmp_path):
    """ingest_admission_job(expect=...): rows passing the seven admission
    gates but violating a declared lake expectation quarantine instead of
    landing in the curated snapshot."""
    from clinical_search_data_pipeline_spark.sinks import manifest as m

    out = str(tmp_path / "verdicts")
    lake = str(tmp_path / "lake")
    summary = pipelines.ingest_admission_job(
        spark, SF_SMOKE, out,
        snapshot_table=lake,
        expect={"has_text": "length(text) > 0"},
    )
    assert summary["docs_admitted"] > 0
    lake_rows = m.read_snapshot(spark, lake)
    assert lake_rows.filter("length(text) = 0").count() == 0
    # every commit carries the evidence the gate ran
    for s in m.snapshots(lake):
        assert "has_text" in m._read_stored(lake, s["version"]).get(
            "expectations", {}
        )
