"""SparkSession factory and engine runtime configuration.

The reference pins nothing beyond jars/checkpoints (see SURVEY.md §4.1;
reference: processing/spark/jobs/streaming_to_curated_stream.py:94-100), so
everything here is our scale posture:

* UTC session timezone — all event-time derivations in this engine are defined
  over epoch arithmetic, so results are timezone-independent; UTC is pinned
  anyway so ad-hoc `date_format`/`hour` calls match the DuckDB oracle.
* AQE on (coalesce + skew-join): at 100 TB, runtime re-planning replaces the
  reference's hand-tuned ``spark.sql.shuffle.partitions=4``.
* Event-time physical types are handled adaptively at the read boundary
  (functions/timeops.to_epoch_ns), NOT via reader confs: round 3 proved
  ``spark.sql.legacy.parquet.nanosAsLong`` is accepted-but-ignored by
  PySpark 4.1.2, so the engine no longer depends on any conf for time
  correctness.
* Arrow on for the few Pandas-UDF operators (multimodal, embeddings).
* Python workers fork from the engine's daemon (`pydaemon`). PySpark's
  worker calls `importlib.invalidate_caches()` before every Python task, and
  on Python 3.11 each zip importer on the worker path (pyspark.zip, py4j,
  the spark-core jar) then re-reads its archive's whole directory: 100-185 ms
  per task, measured inside workers on 4 vCPUs, for tasks whose work takes a
  few milliseconds. The daemon re-reads an archive only when it changed; a
  1-row Python task's launch-to-function latency fell from 231 to 84 ms
  (median of 15). Workers must be able to import this package, as the
  engine's `mapInPandas` closures already require. A session built
  elsewhere and handed in (`apply_runtime_confs`) keeps PySpark's default
  daemon.
"""

from __future__ import annotations

import os
import warnings
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")

# Confs that are runtime-settable (SQL confs). Applied both at build time and
# defensively at read time (`apply_runtime_confs`) because the driver harness
# may hand us a session we did not build.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size-based partition coalescing, not parallelism-first: honor
    # advisoryPartitionSizeInBytes so a small post-shuffle stage collapses to
    # few tasks instead of inheriting spark.sql.shuffle.partitions (the
    # setting Spark's own docs recommend when target size matters). Measured
    # on the dedup/similarity suite under a default-conf (200-partition)
    # session: 5-10x less task-launch overhead, identical results.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Let AQE re-plan cached relations too: a cached intermediate (shingle
    # relation, etc.) otherwise pins its materialization AND every scan of it
    # to the static shuffle width.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow transfer for pandas_udf / mapInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dynamic partition overwrite: replaces the reference's JVM
    # FileSystem.delete+rename compaction swap (streaming_to_curated_stream.py:203-212)
    # with an atomic-per-partition overwrite.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # InferFiltersFromGenerate synthesizes `size(g) > 0 AND isnotnull(g)`
    # below every explode and pushes it through projections by SUBSTITUTION:
    # for this engine's explodes the generator input is always a derived
    # higher-order-function array (k-word shingles, passage chunks, band
    # keys), so the inferred filter re-inlines the ENTIRE build expression —
    # with its `split(text)` child re-executed per element_at — into a
    # pre-filter evaluated per input row, roughly squaring the narrow-stage
    # cost. Measured on the k=5 shingle relation at sf0.1: 6.6 s -> 0.3 s
    # with the rule excluded. The rule only ever pays off when the generator
    # input is a cheap stored column that is often empty — a shape this
    # engine does not have.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

# Build-time-only confs (can't be changed on a live session).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.warehouse.dir": "/tmp/csdp_spark_warehouse",
    # fork Python workers from the engine's daemon, which skips the per-task
    # zip-archive re-read (module docstring)
    "spark.python.daemon.module": "clinical_search_data_pipeline_spark.pydaemon",
}


# Confs that did not verifiably take effect on the current session, keyed by
# conf name → reason. Inspectable by tests and surfaced once via warnings.
CONF_FAILURES: dict[str, str] = {}
_conf_warned: set[str] = set()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime SQL confs to an existing session — and
    VERIFY each one took effect.

    Round 3's root failure mode was a conf that "set" successfully but did
    nothing (`nanosAsLong` under PySpark 4.1.2), hidden by a blind
    ``except: pass`` (VERDICT r03 #3). Every conf is now read back after
    setting; a mismatch is recorded in ``CONF_FAILURES`` and warned once.
    None of these confs is load-bearing for *correctness* (event-time math is
    tz-free epoch arithmetic), so a failure degrades performance, not
    results — hence warn, not raise.
    """
    for key, value in RUNTIME_CONFS.items():
        reason = None
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # locked by the host session
            reason = f"set failed: {exc.__class__.__name__}"
        if reason is None:
            try:
                observed = spark.conf.get(key, None)
            except Exception as exc:
                observed = None
                reason = f"get failed: {exc.__class__.__name__}"
            if reason is None and observed != value:
                reason = f"set accepted but readback={observed!r}"
        if reason is None:
            CONF_FAILURES.pop(key, None)
        else:
            CONF_FAILURES[key] = reason
            if key not in _conf_warned:
                _conf_warned.add(key)
                warnings.warn(
                    f"runtime conf {key}={value!r} not in effect ({reason}); "
                    "continuing — correctness does not depend on it",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(
    app_name: str = "clinical-search-data-pipeline-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)


def run_concurrently(spark: SparkSession, *thunks: Callable[[], T]) -> list[T]:
    """Run independent thunks (Spark actions on disjoint outputs) each on
    its own thread and return their results in order.

    Overlapping independent jobs lets one job's tasks back-fill the other's
    straggler tail. Each thunk is wrapped with PySpark's
    `inheritable_thread_target` in the calling thread, so its jobs carry
    the caller's local properties (job tags, job group, description) and
    session tags, and a caller's job tag counts every job they start."""
    targets = [inheritable_thread_target(spark)(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
