from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def encoded_payloads(encoder, doc_ids) -> dict[int, bytes]:
    """{doc_id: payload} — a media encoder batch generator
    (phash._image_encoder, audiofp._audio_encoder, videofp._video_encoder)
    run in process on a pandas frame of the given doc_ids."""
    import pandas as pd

    frame = pd.DataFrame({"doc_id": sorted(int(d) for d in doc_ids)})
    return {
        int(d): bytes(p)
        for pdf in encoder(iter([frame]))
        for d, p in zip(pdf["doc_id"], pdf["payload"])
    }


@pytest.fixture(scope="session")
def spark():
    from clinical_search_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="csdp-tests",
        master="local[4]",
        extra_confs={"spark.sql.shuffle.partitions": "4"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def registry_plans(spark):
    """One rendering pass over every registered BATCH query's plans at the
    smoke SF, shared by the registry-wide sweeps (test_plans cartesian
    check, test_scale_lint's lint sweep): {name: (simple, formatted,
    analyzed_tree)}. Building + explaining ~150 plans costs ~1 min of
    Catalyst work — previously each sweep paid it separately (guide §1.2:
    don't compute things twice). Streaming queries are excluded exactly as
    in both consumers (building them executes the stream)."""
    from clinical_search_data_pipeline_spark.caching import release_caches
    from clinical_search_data_pipeline_spark.plans import introspect as pl
    from clinical_search_data_pipeline_spark.registry import all_specs

    out = {}
    for name, spec in sorted(all_specs().items()):
        if name.startswith("q_stream_"):
            continue
        try:
            df = spec.builder(spark, SF_SMOKE)
            out[name] = (
                pl.physical_plan(df, "simple"),
                pl.physical_plan(df),
                df._jdf.queryExecution().analyzed().treeString(),
            )
        finally:
            release_caches()
    return out


@pytest.fixture(params=["posix", "memory"])
def commit_backend(request):
    """Run the requesting test under BOTH commit-log backends (VERDICT
    r12 #2): the default PosixCommitStore (create-exclusive os.link) and
    the S3-semantics MemoryCommitStore (conditional PUT, read-after-write
    GET/HEAD/LIST — no link, no rename, no POSIX primitive at all). A
    test passing under "memory" proves the snapshot sink's protocol never
    smuggles a filesystem assumption past the CommitStore interface. Data
    files stay on the real filesystem either way — only the metadata log
    is backend-routed, the exact scope an S3 deployment needs
    (sinks/commitstore.py module docs). test_manifest_sink.py and
    test_change_feed.py apply this autouse — ONE policy definition here,
    so the two modules cannot drift (code review r13)."""
    if request.param == "posix":
        yield request.param
    else:
        from clinical_search_data_pipeline_spark.sinks import manifest as m
        from clinical_search_data_pipeline_spark.sinks.commitstore import (
            MemoryCommitStore,
        )

        with m.commit_store(MemoryCommitStore()):
            yield request.param
