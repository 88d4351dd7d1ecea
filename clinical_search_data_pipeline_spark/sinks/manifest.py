"""Snapshot-committed parquet sink: atomic publish, time travel, partition
pruning, file skipping, and vacuum.

The reference publishes marts by rewriting directories in place (the K2/K4
overwrite + compaction path, streaming_to_curated_stream.py:186-214): a
reader racing the writer can list a half-written directory. Table formats
solve this with a commit log; this sink implements the minimal, dependency-
free core of that idea — enough to make a 100 TB mart publish atomic —
without importing a lakehouse:

* data files are written ONCE into an immutable writer-unique stage
  directory (``files/stage-<uuid>/``) by Spark's normal parallel
  committer;
* a snapshot becomes visible only when a single JSON **manifest** naming
  exactly its files is linked into ``_manifests/v<version>.json``. The link
  is ``os.link`` (create-exclusive, atomic on POSIX; fails with EEXIST
  instead of silently replacing — on an object store this step is a
  conditional PUT / putIfAbsent);
* readers resolve a manifest FIRST and read only the files it names
  (``spark.read.parquet(*files)``), so a reader can never observe a partial
  snapshot, and every retained older version stays readable (time travel);
* ``partition_by=`` writes hive-layout data files and records each file's
  partition values AND its parquet footer min/max column stats in the
  manifest, so ``read_snapshot(where=...)`` can prune partitions and skip
  files without opening them — the property that makes a date-partitioned
  100 TB silver table scan-bounded (the reference's layout,
  batch_to_archive_raw.py:170-176). Pruning is an optimization only:
  the residual predicate is always re-applied to the returned frame;
* ``mode="append"`` commits a manifest that references the parent
  snapshot's files PLUS the new directory — an incremental publish reuses
  already-written data files, the property that makes per-batch publishing
  affordable at scale;
* every writer is a per-attempt PLAN (base version, entries it keeps,
  frames it stages, change rows, mode) handed to ONE optimistic commit
  primitive, ``_commit``, which stages, builds the manifest, links it and
  retries — every DML statement is one optimistic log commit, as in
  Delta Lake. A writer that loses the race for a version (single winner
  per version — Delta/Iceberg's commit point) does one of three things:
  a stage-once writer (``write_snapshot``, ``replace_partitions``)
  re-links the files it already staged onto the new tip, re-running no
  Spark job; a pinned writer (``expected_parent=``) raises
  `SnapshotConflict`; a read-modify-write writer (merge, DELETE, UPDATE,
  CDC apply, compact) discards its stage and re-plans from the new tip,
  so a concurrent commit is folded in, never dropped (lost-update
  protection — Delta's "serializable commit" check). The primitive
  deletes every directory an attempt staged but did not link;
* ``delete_from_snapshot`` is ``DELETE FROM ... WHERE`` — partition/stats
  pruning picks the touched files, only those rewrite without their
  matching rows, everything else carries by reference, and the deleted
  rows are recorded as change files for the feed. O(touched files);
* ``update_snapshot`` is ``UPDATE ... SET ... WHERE`` on the same
  stats-pruned rewrite machinery: matched rows re-emit with their set
  expressions applied (cast to the existing column types), change files
  record delete(pre-image)+insert(post-image) so the feed and the JDBC
  CDC apply compose unchanged. O(touched files);
* ``snapshot_change_feed`` derives row-level deltas (insert/delete +
  commit version) across append, merge, replace-partitions, and
  compaction commits — Delta's change data feed: merge commits record
  their matched pre-images + increment as change files at commit time
  (O(delta)), replace commits derive deletes/inserts from the replaced
  partitions' file sets, compactions contribute zero rows, and opaque
  overwrites still refuse. Feed horizon = vacuum retention;
* ``publish_pins`` / ``read_pins`` give a SET of tables one commit point
  (the per-table discipline lifted one level): the members commit first,
  then a ``(table, version)`` pin table, and readers resolve every member
  through one pin version — a crash or a reader racing the publish sees
  the previous complete set (the marts' ``_mart_meta``, the ANN and
  gate-index ``meta`` tables);
* ``read_snapshot(as_of_ts=...)`` resolves a version by commit wall-clock
  (``committed_at`` recorded per manifest) — Delta's timestampAsOf;
* ``write_snapshot(mode="append", allow_new_columns=True)`` and
  ``merge_snapshot(..., allow_new_columns=True)`` opt into widen-only
  schema evolution: new nullable columns null-fill the parent files (and
  the merge's carried-forward rows) at read time, the manifest records
  the schema per version, and time travel to a pre-evolution version
  returns the old schema;
* ``vacuum`` deletes data directories no retained manifest references,
  but never a stage directory younger than ``retention`` seconds — an
  in-flight writer's staged-but-uncommitted data is not garbage (the same
  reasoning as Delta VACUUM's retention window). Every commit
  additionally re-verifies its staged files exist immediately before the
  link and aborts if a rogue vacuum removed them, so a manifest can never
  name deleted files. A writer killed between staging and its link
  leaves its stage for vacuum.

Layout:
    table/
      files/stage-*/part-*.parquet       (immutable data, staged once)
      _manifests/v00000001.json          (the ordered commit log)
      _manifests/v00000002.json          (delta commits store add/remove)
      _manifests/_tip.json               (tip accelerator, best-effort)
      _checkpoints/v00000010.json        (periodic full-state sidecars)

Log scaling (the Delta-log design, adopted after the engine's own
streaming-ingest and CDC paths started committing once per micro-batch —
version count grows with trigger count, so per-commit metadata cost must
be O(changed files), never O(live files)):

* rewriting commits that touch few files (append, replace_partitions,
  DELETE, UPDATE) STORE only their file delta — ``{"delta": {"vs": V,
  "add": [entries], "remove": [paths]}}`` — so commit JSON is
  O(increment). Overwrite-family commits (plain overwrite, merge,
  compact, CDC apply) rewrite the table anyway: their full file list IS
  their delta, and the full form doubles as a natural checkpoint;
* every CHECKPOINT_INTERVAL-th delta commit also writes a full-state
  **checkpoint sidecar** under ``_checkpoints/``, bounding any manifest
  materialization to < CHECKPOINT_INTERVAL delta replays (plus an
  in-process memo keyed by inode, so steady-state committers fold
  forward in O(1));
* tip resolution reads the ``_tip.json`` hint and probes FORWARD with
  existence checks — never a directory listing. The hint is written
  after the commit link (last-writer-wins, lag-only), so the probe, not
  the hint, is authoritative — Delta's `_last_checkpoint` pattern;
* the COMMIT POINT is unchanged: one create-exclusive link per version,
  expected_parent CAS on top. Readers still resolve one logical manifest
  and scan exactly its files; vacuum writes a checkpoint sidecar for any
  retained delta commit whose chain it is about to unlink, so every
  retained version stays materializable, then reclaims superseded
  commit files and sidecars.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time
import uuid
from typing import Callable, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from clinical_search_data_pipeline_spark.sinks.commitstore import (
    CommitStore,
    PosixCommitStore,
)

_MANIFEST_DIR = "_manifests"
_CHECKPOINT_DIR = "_checkpoints"
_TIP_HINT = "_tip.json"
_FILES_DIR = "files"
_UNSET = object()  # sentinel: expected_parent not supplied (no CAS check)

# A checkpoint sidecar (full materialized file list) is written after every
# Nth delta commit, bounding materialization to <N delta replays from the
# nearest checkpoint/full commit. Delta Lake's default is every 10 commits
# for the same reason. Tests monkeypatch this to exercise the cadence.
CHECKPOINT_INTERVAL = 10

# Stage directories younger than this are presumed in-flight and are never
# vacuumed, even though no manifest references them yet (Delta VACUUM's
# retention-window reasoning). Tests pass retention=0 to reclaim eagerly.
DEFAULT_RETENTION_SECONDS = 24 * 3600


class SnapshotConflict(RuntimeError):
    """A commit found a different parent version than the caller pinned
    with ``expected_parent`` — the table moved between the caller's read
    and its write. Re-read and publish again."""


class ExpectationViolation(ValueError):
    """A write-time data-quality expectation failed under
    ``on_violation='fail'``: nothing was committed, the previous version
    stays live. ``counts`` maps expectation name -> violating rows."""

    def __init__(self, table: str, counts: dict[str, int]):
        self.counts = counts
        bad = {k: v for k, v in counts.items() if v}
        super().__init__(
            f"snapshot publish to {table} refused: data-quality "
            f"expectations violated (name -> rows): {bad}. The previous "
            "version stays live; fix the data or publish with "
            "on_violation='quarantine' to route the rows aside."
        )


QUARANTINE_SUFFIX = "__quarantine"


def quarantine_table(table: str) -> str:
    """The sibling snapshot table quarantined rows land in."""
    return table + QUARANTINE_SUFFIX


def _predicates(param: str, preds: dict | None) -> dict:
    """{name: Column} for an `expect`/`expect_agg` mapping, or ValueError
    naming the contract — checked once, before anything runs."""
    from pyspark.sql import Column

    out = {}
    for name, p in (preds or {}).items():
        if not isinstance(p, (str, Column)):
            raise ValueError(
                f"write_snapshot {param}[{name!r}] must be a SQL string or "
                f"a Column, got {type(p).__name__}"
            )
        out[name] = F.expr(p) if isinstance(p, str) else p
    return out


def _enforce_agg_expectations(
    df: DataFrame, table: str, expect_agg: dict
) -> dict[str, int]:
    """Table-level expectations: each value is a boolean AGGREGATE Column
    over the publishing frame (`count(DISTINCT k) = count(k)`, `count(*)
    >= 100`, ...). All evaluate in ONE exact aggregation — a collected
    result row, which task retries cannot inflate the way they can the
    accumulators behind observed metrics; any false/NULL refuses the
    publish (`ExpectationViolation`; nothing staged). Returns {name: 0}
    for the manifest — the recorded zero is the evidence the gate ran and
    held."""
    aggs = [
        F.coalesce(col, F.lit(False)).alias(name)
        for name, col in expect_agg.items()
    ]
    row = df.agg(*aggs).collect()[0]
    failed = {name: 1 for name in expect_agg if not row[name]}
    if failed:
        raise ExpectationViolation(table, failed)
    return {name: 0 for name in expect_agg}


def _enforce_expectations(
    df: DataFrame, table: str, expect: dict, on_violation: str
):
    """Write-time expectations (the reference's unchecked Great
    Expectations TODO — README.md:215, mart/mart.md:524 — as an engine
    primitive, VERDICT r11 #5). ``expect`` maps expectation name -> a
    pyspark Column predicate or SQL string; a row VIOLATES when the
    predicate is false OR NULL (a quality gate that lets NULL slide is
    how null keys reach serving — stricter than SQL CHECK on purpose).

    ``on_violation='fail'``: any violation raises ExpectationViolation
    and nothing commits — the previous version stays live. On
    write_snapshot's observed-metrics path the data IS staged first (the
    gate metrics ride the staged write) and the commit primitive deletes
    the stage directory as the gate raises; this pinned path (taken with
    table-level gates, or when CollectMetrics rejects a gate) raises
    before staging.
    A crash between staging and the delete leaves an unreferenced stage
    directory that readers never see and `vacuum` reclaims.
    ``'quarantine'``: violating rows are appended to the sibling
    ``<table>__quarantine`` snapshot table (with a `_violations` array
    naming the failed expectations and a `_quarantined_at` stamp), the
    passing rows publish, and the publish's manifest records the counts.
    The quarantine append commits before the main publish: a crash
    between the two can re-quarantine rows on replay (at-least-once),
    but can never publish unvalidated rows.

    Returns (passing_df, counts). Cost: one aggregation over `df` plus —
    only when quarantining — the split writes; O(increment) for appends."""
    from pyspark.sql import Column

    if on_violation not in ("fail", "quarantine"):
        raise ValueError(f"unknown on_violation: {on_violation!r}")
    preds: dict[str, Column] = {
        name: F.coalesce(col, F.lit(False))  # NULL -> violation
        for name, col in expect.items()
    }
    counts_row = df.agg(
        *[
            F.coalesce(
                F.sum((~p).cast("long")), F.lit(0)
            ).alias(name)
            for name, p in preds.items()
        ]
    ).collect()[0]
    counts = {name: int(counts_row[name]) for name in preds}
    if not any(counts.values()):
        return df, counts
    if on_violation == "fail":
        raise ExpectationViolation(table, counts)
    ok = None
    for p in preds.values():
        ok = p if ok is None else (ok & p)
    violations = F.filter(
        F.array(
            *[
                F.when(~p, F.lit(name)).otherwise(F.lit(None))
                for name, p in preds.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    bad = (
        df.filter(~ok)
        .withColumn("_violations", violations)
        .withColumn("_quarantined_at", F.current_timestamp())
    )
    # append unconditionally: a first append to an empty table commits a
    # valid v1, and an existence-checked overwrite would let two racing
    # first-time quarantiners hide each other's rows (code review r12)
    write_snapshot(
        bad,
        quarantine_table(table),
        mode="append",
        # the quarantine follows the main table's schema evolution
        allow_new_columns=True,
    )
    return df.filter(ok), counts


# Every metadata-log read/write goes through ONE CommitStore (VERDICT r12
# #2): the POSIX backend by default; swap for an object-store backend with
# `set_commit_store` / the `commit_store` context manager. Data files are
# NOT in scope — Spark writes them, and they become visible only through
# the log (see sinks/commitstore.py module docs).
_STORE: CommitStore = PosixCommitStore()


def get_commit_store() -> CommitStore:
    return _STORE


def set_commit_store(store: CommitStore) -> CommitStore:
    """Install the commit-log backend for this process; returns the
    previous one. The materialized-manifest memo is cleared — its
    fingerprints are backend-specific."""
    global _STORE
    prev = _STORE
    _STORE = store
    _MATERIALIZE_CACHE.clear()
    return prev


class commit_store:
    """``with commit_store(MemoryCommitStore()): ...`` — scoped backend
    swap for tests and embedded runs."""

    def __init__(self, store: CommitStore) -> None:
        self._store = store
        self._prev: CommitStore | None = None

    def __enter__(self) -> CommitStore:
        self._prev = set_commit_store(self._store)
        return self._store

    def __exit__(self, *exc) -> None:
        assert self._prev is not None
        set_commit_store(self._prev)


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:08d}.json")


def _versions(table: str) -> list[int]:
    out = []
    for name in _STORE.list(os.path.join(table, _MANIFEST_DIR)):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _CHECKPOINT_DIR, f"v{version:08d}.json")


def _tip(table: str) -> int | None:
    """Resolve the current tip version in O(1) amortized: read the tip
    hint, then probe FORWARD with os.path.exists until the first missing
    version. The hint is written best-effort after each commit
    (last-writer-wins, may lag but never leads — a version becomes
    visible only through its create-exclusive manifest link, so the hint
    can only name an already-committed version), which is why the
    forward probe, not the hint, is authoritative. Falls back to the
    directory listing when no hint exists (pre-hint tables, or the first
    commit racing the hint write). This is the Delta `_last_checkpoint`
    pattern: pointer as accelerator, log as truth."""
    hint_path = os.path.join(table, _MANIFEST_DIR, _TIP_HINT)
    v: int | None = None
    try:
        raw = _STORE.get(hint_path)
        if raw is not None:
            hinted = int(json.loads(raw)["version"])
            if _STORE.exists(_manifest_path(table, hinted)):
                v = hinted
    except (OSError, ValueError, KeyError, TypeError):
        # TypeError: valid JSON that is not an object (null, a list) —
        # the hint is best-effort, so ANY unreadable form falls back
        v = None
    if v is None:
        versions = _versions(table)
        if not versions:
            return None
        v = versions[-1]
    while _STORE.exists(_manifest_path(table, v + 1)):
        v += 1
    return v


def _write_tip_hint(table: str, version: int) -> None:
    """Best-effort tip accelerator (last-writer-wins whole-object put).
    A racing older writer may briefly regress the hint; `_tip`'s forward
    probe recovers, so correctness never depends on this object. Catches
    Exception, not OSError: the CommitStore contract does not pin the
    backend's error type (boto3 raises ClientError, not OSError), and a
    failed hint after a LANDED commit must never fail the commit (code
    review r13)."""
    try:
        _STORE.put(
            os.path.join(table, _MANIFEST_DIR, _TIP_HINT),
            json.dumps({"version": version}).encode(),
        )
    except Exception:
        pass


# Materialized-manifest memo: manifest/checkpoint objects are immutable
# once published (create-exclusive; vacuum only ever DELETES), so a (path
# -> materialized dict) cache is coherent as long as the path still names
# the same object — entries carry the backend's fingerprint (POSIX:
# (st_ino, st_mtime_ns, st_size) — inode alone is NOT enough, ext4 reuses
# inodes after unlink, ADVICE r12; object stores: etag/generation) and a
# hit revalidates with one stat()/HEAD. Bounded FIFO: delta replay
# re-materializes on miss, so eviction costs time, never correctness.
# Concurrency: committers race through here (test_concurrent_appends runs
# 8 threads), so every removal is a tolerant .pop(key, None) — two threads
# may both observe a stale entry, and the dict itself is GIL-atomic per op.
_MATERIALIZE_CACHE: dict[str, tuple[object, dict]] = {}
_MATERIALIZE_CACHE_MAX = 64


def _cache_put(path: str, man: dict) -> None:
    fp = _STORE.fingerprint(path)
    if fp is None:
        return  # racing a delete — not cacheable
    while len(_MATERIALIZE_CACHE) >= _MATERIALIZE_CACHE_MAX:
        try:
            victim = next(iter(_MATERIALIZE_CACHE))
        except StopIteration:  # rival threads emptied it under us
            break
        _MATERIALIZE_CACHE.pop(victim, None)
    _MATERIALIZE_CACHE[path] = (fp, man)


def _cache_get(path: str) -> dict | None:
    hit = _MATERIALIZE_CACHE.get(path)
    if hit is None:
        return None
    fp, man = hit
    if _STORE.fingerprint(path) == fp:
        return man
    _MATERIALIZE_CACHE.pop(path, None)
    return None


def _read_stored(table: str, version: int) -> dict:
    """The commit object exactly as stored: full (has 'files') or delta
    (has 'delta': {'vs', 'add', 'remove'})."""
    raw = _STORE.get(_manifest_path(table, version))
    if raw is None:
        raise FileNotFoundError(_manifest_path(table, version))
    return json.loads(raw)


def _read_manifest(table: str, version: int) -> dict:
    """The FULL manifest of a version — every reader/writer calls this.
    Full commits return as stored. Delta commits materialize: walk the
    `delta.vs` chain back to the nearest full commit, checkpoint sidecar,
    or cached materialization, then fold the deltas forward (remove by
    path, append added entries — preserving the carried-then-new entry
    order every writer produced before the delta log existed). Chain
    length is bounded by CHECKPOINT_INTERVAL, so this is O(K deltas) on a
    cold cache and O(1) warm."""
    key = os.path.abspath(_manifest_path(table, version))
    cached = _cache_get(key)
    if cached is not None:
        return cached
    stored = _read_stored(table, version)
    if "files" in stored:
        return stored  # full commit: nothing to materialize or cache
    # a sidecar for the requested version short-circuits entirely (and is
    # the only resolution path once vacuum has unlinked its chain)
    raw = _STORE.get(_checkpoint_path(table, version))
    if raw is not None:
        man = json.loads(raw)
        _cache_put(key, man)
        return man
    # walk the delta chain back to something resolvable
    pending: list[dict] = []
    cur = stored
    cur_version = version
    base: dict | None = None
    while True:
        pending.append(cur)
        vs = cur["delta"]["vs"]
        vs_key = os.path.abspath(_manifest_path(table, vs))
        cached = _cache_get(vs_key)
        if cached is not None:
            base = cached
            break
        raw = _STORE.get(_checkpoint_path(table, vs))
        if raw is not None:
            base = json.loads(raw)
            _cache_put(vs_key, base)
            break
        try:
            prev = _read_stored(table, vs)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"manifest chain of v{cur_version} at {table} needs "
                f"v{vs}, which was vacuumed without a checkpoint — the "
                "version is no longer materializable"
            ) from None
        if "files" in prev:
            base = prev
            _cache_put(vs_key, prev)
            break
        cur = prev
        cur_version = vs
    files = _entries(base)
    for delta_man in reversed(pending):
        d = delta_man["delta"]
        removed = set(d["remove"])
        files = [e for e in files if e["path"] not in removed] + d["add"]
    out = {k: v for k, v in stored.items() if k != "delta"}
    out["files"] = files
    _cache_put(key, out)
    return out


def _write_checkpoint(
    table: str, version: int, manifest: dict, best_effort: bool
) -> None:
    """Persist the full materialized manifest as the version's sidecar —
    idempotent (create-exclusive publish; a racing duplicate loses
    harmlessly). ``best_effort`` swallows backend errors for the cadence
    path (a missed sidecar only lengthens the next materialization walk;
    any Exception, not just OSError — the CommitStore contract does not
    pin the backend's error type, code review r13); vacuum passes False
    because it is about to unlink the chain — a silently missing sidecar
    there would strand the retained version."""
    path = _checkpoint_path(table, version)
    try:
        if _STORE.exists(path):
            return
        _STORE.put_if_absent(path, json.dumps(manifest).encode())
    except Exception:
        if not best_effort:
            raise


def _maybe_write_checkpoint(table: str, version: int, manifest: dict) -> None:
    """Checkpoint sidecar cadence: after every CHECKPOINT_INTERVAL-th
    commit, persist the full materialized manifest so delta chains stay
    short."""
    if version % CHECKPOINT_INTERVAL != 0:
        return
    _write_checkpoint(table, version, manifest, best_effort=True)


def _commit_manifest(
    table: str,
    version: int,
    manifest: dict,
    delta: dict | None = None,
) -> bool:
    """The single commit point every writer funnels through: publish the
    version's JSON create-exclusively through the CommitStore (returns
    False on a lost race so `_commit` retries), then write the tip hint
    and any due checkpoint sidecar.

    ``manifest`` always carries the FULL file list (writers build it in
    memory anyway — list/pointer work, not serialization). ``delta``
    opts the STORED form down to O(changed files): `{"vs": version,
    "add": [entries], "remove": [paths]}` such that
    materialize(vs).files - remove + add == manifest["files"]. Overwrite
    commits pass delta=None — their file list IS the delta, so the full
    form is already minimal and doubles as a natural checkpoint."""
    if delta is None:
        stored = manifest
    else:
        stored = {k: v for k, v in manifest.items() if k != "files"}
        stored["delta"] = delta
    if not _STORE.put_if_absent(
        _manifest_path(table, version), json.dumps(stored).encode()
    ):
        return False
    if delta is not None:
        # pre-warm the memo so the next committer folds forward instead
        # of replaying the chain
        _cache_put(
            os.path.abspath(_manifest_path(table, version)), dict(manifest)
        )
        # full commits are natural checkpoints — only delta commits need
        # the periodic sidecar to bound their chains
        _maybe_write_checkpoint(table, version, manifest)
    _write_tip_hint(table, version)
    return True


def _carry_watermark(base_man: dict) -> dict | None:
    """CDC replay watermark to carry into a maintenance commit.

    `apply_changes_to_snapshot` records `applied_source_tip` in the
    commit it publishes and short-circuits redelivered ranges by reading
    the field off the replica's TIP manifest. Row-preserving commits
    between applies (compact, DELETE, UPDATE, merge, replace_partitions,
    and plain appends) build fresh manifests — if they dropped the
    field, the next redelivery would re-apply and emit spurious change
    rows in the replica's own feed (ADVICE r12). They carry it forward
    instead: maintenance reshapes the replica's content, it does not
    un-apply the source range. Only a wholesale overwrite
    (write_snapshot mode='overwrite' direct) drops it on purpose —
    replacement really does sever the replica from the feed's history."""
    tip = base_man.get("applied_source_tip")
    return {"applied_source_tip": tip} if tip is not None else None


def _entries(manifest: dict) -> list[dict]:
    """File entries, tolerating the pre-partition manifest format where
    ``files`` was a list of relative path strings."""
    out = []
    for e in manifest["files"]:
        if isinstance(e, str):
            e = {"path": e, "partition": {}, "stats": {}}
        out.append(e)
    return out


def _list_part_files(data_dir: str) -> list[str]:
    """Relative paths of the committed parquet parts, recursing through
    hive partition directories (Spark's _SUCCESS / .crc bookkeeping
    excluded)."""
    rel = []
    for root, dirs, names in os.walk(data_dir):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(".parquet") and not name.startswith("."):
                rel.append(
                    os.path.relpath(os.path.join(root, name), data_dir)
                )
    return rel


def _partition_of(rel_path: str) -> dict[str, str]:
    """Hive partition values parsed from a relative file path
    (``event_date=2017-01-01/part-0.parquet`` -> {"event_date": ...}).
    Values are the hive directory strings; the reader recovers typed
    columns via Spark's basePath partition discovery."""
    from urllib.parse import unquote

    part: dict[str, str] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            part[unquote(k)] = unquote(v)
    return part


def _json_scalar(v):
    """Footer stat value -> JSON-serializable, or None if not storable.
    Dates/timestamps keep their sort order as ISO-8601 strings."""
    if isinstance(v, bool) or v is None:
        return None  # boolean min/max is useless for skipping
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return None


def _footer_stats(abs_path: str) -> tuple[int, dict[str, list]]:
    """(num_rows, {column: [min, max]}) from the parquet footer. Only
    top-level scalar columns with complete min/max across every row group
    are kept — a column missing from the map simply isn't skippable.
    Footers are KBs; this runs once per NEWLY-STAGED file at commit time
    (append never re-reads parent files), so the cost is proportional to
    the increment, not the table."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    stats: dict[str, list] = {}
    complete: dict[str, bool] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested
            st = col.statistics
            if st is None or not st.has_min_max:
                complete[name] = False
                continue
            lo, hi = _json_scalar(st.min), _json_scalar(st.max)
            if lo is None or hi is None:
                complete[name] = False
                continue
            if name not in stats:
                stats[name] = [lo, hi]
                complete.setdefault(name, True)
            else:
                try:
                    stats[name][0] = min(stats[name][0], lo)
                    stats[name][1] = max(stats[name][1], hi)
                except TypeError:
                    complete[name] = False
    return md.num_rows, {
        k: v for k, v in stats.items() if complete.get(k, False)
    }


def _shape(schema: StructType) -> list[tuple]:
    """Field names and types: schemas compare on these, because a parquet
    read is always nullable while an in-memory frame may carry non-null
    fields for the same data."""
    return [(f.name, f.dataType) for f in schema.fields]


class _Plan(NamedTuple):
    """One commit attempt of a writer, planned against the tip `_commit`
    resolved. ``base`` is the version whose files ``keep`` carries by
    reference (for a plain overwrite, None); its manifest ``base_man``
    also lends the commit its CDC replay watermark. ``data`` stages as the
    new data files, ``changes`` (cdf ``"rows"``) as the commit's change
    files. ``cdf`` is ``"rows"``, ``"fileset"`` (replaced files are
    deletes, staged files inserts) or a recorded value such as
    ``{"kind": "noop"}``."""

    mode: str
    schema: str
    partition_by: list[str]
    data: DataFrame
    base: int | None = None
    base_man: dict | None = None
    keep: Sequence[dict] = ()
    changes: DataFrame | None = None
    cdf: str | dict | None = None
    extra: dict | None = None


def _commit(
    table: str,
    plan: Callable[[int | None], _Plan | int],
    what: str,
    retries: int,
    expected_parent: int | None = _UNSET,  # type: ignore[assignment]
    replan: bool = False,
    collect_stats: bool = True,
    staged_fields: Callable[[], dict] | None = None,
) -> int:
    """The one optimistic copy-on-write commit every writer runs; returns
    the committed version. Each attempt resolves the tip, asks `plan` for
    the commit against it (an int instead means "nothing to commit: the
    table stays at this version"), stages the planned frames under
    writer-unique ``stage-``/``cdf-`` directories with footer stats,
    checks that the staged files still exist (a rogue vacuum may have
    reclaimed them), builds the manifest and links it create-exclusively
    (`_commit_manifest`, which refuses a version a rival took).
    ``staged_fields`` runs once after staging and returns manifest fields
    only the staged write decides (expectation counts); raising from it
    aborts the commit.

    A lost race is handled one of three ways:

    * pinned (``expected_parent`` given): raise `SnapshotConflict`;
    * ``replan``: discard the staged directories and plan again from the
      new tip (the read-modify-write writers);
    * otherwise: plan again, but re-link the files already staged — no
      Spark job re-runs.

    Every directory this call staged and did not link is deleted when it
    returns or raises, a lost race included; a hard kill leaves it to
    `vacuum`."""
    pinned = expected_parent is not _UNSET
    files_dir = os.path.join(table, _FILES_DIR)
    staged: list[str] = []  # directories staged here and not linked
    new_entries: list[dict] = []
    changes_dir = None
    fields: dict = {}

    def stage(frame: DataFrame, kind: str, partition_by=()) -> str:
        # writer-unique: the version is only decided at link time, so two
        # racing writers never write into the same directory
        name = f"{kind}-{uuid.uuid4().hex}"
        staged.append(name)
        writer = frame.write.mode("error")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(files_dir, name))
        return name

    try:
        for _ in range(retries):
            parent = _tip(table)
            if pinned and parent != expected_parent:
                raise SnapshotConflict(
                    f"{table}: expected parent {expected_parent}, "
                    f"found {parent}"
                )
            p = plan(parent)
            if not isinstance(p, _Plan):
                return p
            if not staged:
                data_dir = stage(p.data, "stage", p.partition_by)
                new_entries = []
                for rel in _list_part_files(os.path.join(files_dir, data_dir)):
                    rows, stats = (
                        _footer_stats(os.path.join(files_dir, data_dir, rel))
                        if collect_stats
                        else (None, {})
                    )
                    new_entries.append(
                        {
                            "path": f"{data_dir}/{rel}",
                            "partition": _partition_of(rel),
                            "rows": rows,
                            "stats": stats,
                        }
                    )
                changes_dir = (
                    stage(p.changes, "cdf") if p.changes is not None else None
                )
                fields = staged_fields() if staged_fields else {}
            paths = [e["path"] for e in new_entries]
            kept = {e["path"] for e in p.keep}
            removed = (
                [e["path"] for e in _entries(p.base_man)
                 if e["path"] not in kept]
                if p.base_man is not None
                else []
            )
            files = list(p.keep) + new_entries
            version = (parent or 0) + 1
            manifest = {
                "version": version,
                "parent": parent,
                "mode": p.mode,
                "schema": p.schema,
                "partition_by": p.partition_by,
                "files": files,
                "num_files": len(files),
                "committed_at": time.time(),
            }
            if p.mode == "append" and p.base is not None:
                # the version whose files this append folded in — the
                # change feed diffs against it (≠ parent only under
                # base_version)
                manifest["append_base"] = p.base
            if p.cdf == "rows":
                manifest["cdf"] = {"kind": "rows", "dir": changes_dir}
            elif p.cdf == "fileset":
                manifest["cdf"] = {
                    "kind": "fileset",
                    "removed": removed,
                    "added": paths,
                }
            elif p.cdf is not None:
                manifest["cdf"] = p.cdf
            if p.base_man is not None:
                # a commit that keeps its base's rows carries the CDC
                # replay watermark; only a plain overwrite severs it
                manifest.update(_carry_watermark(p.base_man) or {})
            manifest.update(p.extra or {})
            manifest.update(fields)
            # rewriting commits that keep part of their base store only
            # their file delta; an overwrite's file list IS its delta
            delta = (
                {"vs": p.base, "add": new_entries, "remove": removed}
                if p.base is not None and p.mode != "overwrite"
                else None
            )
            # last check before the link: a rogue vacuum may have reclaimed
            # the staged files, and a manifest naming them would poison the
            # version for every reader
            gone = [
                path
                for path in paths + ([changes_dir] if changes_dir else [])
                if not os.path.exists(os.path.join(files_dir, path))
            ]
            if gone:
                raise RuntimeError(
                    f"staged files vanished before commit at {table} "
                    f"(vacuumed?): {gone[:3]}"
                    f"{'...' if len(gone) > 3 else ''}"
                )
            # once linked, only an empty rewrite's data dir (every touched
            # row deleted) stays unreferenced
            linked_leftover = [] if paths else [data_dir]
            try:
                won = _commit_manifest(table, version, manifest, delta)
            except BaseException:
                # the CAS itself raised: delete only what provably did
                # not link (an ambiguous put may have landed)
                try:
                    ours = _read_stored(table, version).get(
                        "committed_at"
                    ) == manifest["committed_at"]
                except FileNotFoundError:
                    ours = False
                except Exception:
                    ours = True  # unknown: leave the files to vacuum
                if ours:
                    staged = linked_leftover
                raise
            if won:
                staged = linked_leftover
                return version
            if replan:
                for name in staged:
                    shutil.rmtree(
                        os.path.join(files_dir, name), ignore_errors=True
                    )
                staged = []
        raise RuntimeError(
            f"{what} lost {retries} races on {table}; giving up"
        )
    finally:
        for name in staged:
            shutil.rmtree(os.path.join(files_dir, name), ignore_errors=True)


def write_snapshot(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    max_retries: int = 10,
    partition_by: list[str] | tuple[str, ...] | None = None,
    expected_parent: int | None = _UNSET,  # type: ignore[assignment]
    collect_stats: bool = True,
    base_version: int | None = None,
    allow_new_columns: bool = False,
    expect: dict | None = None,
    on_violation: str = "fail",
    expect_agg: dict | None = None,
) -> int:
    """Publish `df` as a new snapshot of `table`; returns the version.

    ``overwrite``: the new snapshot is exactly `df`. ``append``: the new
    snapshot is the parent snapshot's files plus `df`'s — the parent data
    is NOT rewritten. Either way nothing is visible until the manifest
    link lands. `df` is staged once: a commit that loses a race re-links
    the same files onto the new tip.

    ``partition_by`` writes hive-layout files and records each file's
    partition values (plus footer min/max stats when ``collect_stats``) in
    the manifest for `read_snapshot(where=...)` pruning. An append must
    use the parent's partitioning.

    ``expected_parent`` (optional) pins the parent version this commit
    must land on: if the table's latest version differs at commit time,
    raises `SnapshotConflict` instead of publishing. ``None`` means
    "expect an empty table".

    ``base_version`` (append mode only) folds in the files of THAT
    committed version instead of the current tip's. A publisher whose
    source of truth is an external pin (e.g. the ANN index's meta table)
    appends relative to its pinned version: rows appended by a commit
    whose pin never landed (a crashed or race-losing publisher) are
    thereby never folded forward, instead of silently duplicating.

    ``allow_new_columns`` (append mode only) opts into schema evolution:
    `df` may carry NEW nullable columns beyond the parent schema (same
    name+type for every parent field, order-insensitive). The manifest
    records the EVOLVED schema, under which readers null-fill the parent's
    files for the missing columns (explicit-schema parquet scan); time
    travel to a pre-evolution version still reads the old schema. The
    default remains refuse-on-drift — silent widening is how column typos
    become permanent.

    ``expect`` maps expectation name -> predicate (pyspark Column or SQL
    string) enforced at write time (`_enforce_expectations`): under
    ``on_violation='fail'`` (default) a violating publish raises
    `ExpectationViolation` with nothing committed; under ``'quarantine'``
    the violating rows land in ``<table>__quarantine`` and the passing
    rows publish, with per-expectation counts recorded in the manifest
    either way.

    ``expect_agg`` maps expectation name -> a TABLE-LEVEL boolean
    aggregate (SQL string or Column), e.g. ``"count(*) > 0"`` or the
    key-uniqueness gate ``"count(DISTINCT k) = count(k)"`` — the
    replication precondition `net_changes` enforces downstream, checked
    at the source instead. Decided EXACTLY, before anything is staged:
    one collected aggregation over the pinned (row-gated) frame
    (`_enforce_agg_expectations`), never observed metrics, whose
    accumulators stage retries or speculative tasks can inflate into a
    false pass. False or NULL refuses the publish outright — there is no
    quarantine for a table-level property, so these fail even under
    ``on_violation='quarantine'``. Recorded in the manifest as 0 (held)
    per name. Row-level ``expect`` gates alone ride the write as observed
    metrics: an inflated violation count can only fail closed.

    Every ``expect``/``expect_agg`` value must be a SQL string or a
    Column; anything else raises ValueError before any work."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported snapshot mode: {mode}")
    if base_version is not None and mode != "append":
        raise ValueError("base_version is only meaningful for append mode")
    partition_by = list(partition_by or [])
    for c in partition_by:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in dataframe")
    expect = _predicates("expect", expect)
    expect_agg = _predicates("expect_agg", expect_agg)
    if (expect or expect_agg) and on_violation not in ("fail", "quarantine"):
        raise ValueError(f"unknown on_violation: {on_violation!r}")

    def plan(parent: int | None, frame: DataFrame) -> _Plan:
        schema_json = frame.schema.json()
        if mode == "overwrite" or parent is None:
            return _Plan(mode, schema_json, partition_by, frame)
        base = parent if base_version is None else base_version
        if not _STORE.exists(_manifest_path(table, base)):
            raise FileNotFoundError(
                f"append base_version v{base} not found at {table}"
            )
        pm = _read_manifest(table, base)
        if pm["schema"] != schema_json:
            if _shape(
                StructType.fromJson(json.loads(pm["schema"]))
            ) == _shape(frame.schema):
                # nullability-only difference (a parquet read is always
                # nullable, an in-memory frame may not be): keep the
                # base's recorded, always-nullable form
                schema_json = pm["schema"]
            else:
                schema_json = (
                    _evolved_schema_json(pm["schema"], frame.schema)
                    if allow_new_columns
                    else None
                )
                if schema_json is None:
                    # mixing schemas under one manifest would make the
                    # reader null-fill silently (explicit-schema parquet
                    # scan) — fail loudly unless the caller opted into a
                    # strict widen-only evolution
                    raise ValueError(
                        f"append schema differs from snapshot v{base} at "
                        f"{table}; publish mode='overwrite' to change "
                        "schema, or pass allow_new_columns=True to add "
                        "columns"
                    )
        if pm.get("partition_by", []) != partition_by:
            raise ValueError(
                f"append partitioning {partition_by} differs from "
                f"snapshot v{base} at {table} "
                f"({pm.get('partition_by', [])})"
            )
        return _Plan(
            mode, schema_json, partition_by, frame, base, pm, _entries(pm)
        )

    def commit(frame: DataFrame, fields=None) -> int:
        return _commit(
            table,
            lambda parent: plan(parent, frame),
            "snapshot commit",
            max_retries,
            expected_parent=expected_parent,
            collect_stats=collect_stats,
            staged_fields=fields,
        )

    if not (expect or expect_agg):
        return commit(df)
    if not expect_agg:
        # Fast path (guide §2.6/§5: fold the gate into the write action):
        # row-level predicates ride the staged write itself as observed
        # metrics (`DataFrame.observe` / CollectMetrics), so the common
        # all-pass publish pays ZERO extra actions. The metrics are computed
        # on EXACTLY the rows the write staged (code review r12's
        # nondeterministic-lineage concern), and a retried task can only
        # inflate a violation count, which fails closed. On violation the
        # gate raises inside the commit, which deletes the staged
        # directory (never visible to readers: the manifest link has not
        # landed) before the raise propagates or the quarantine split
        # below runs.
        try:
            from pyspark.sql import Observation

            observation = Observation()
            df = df.observe(
                observation,
                *[
                    F.coalesce(
                        F.sum((~F.coalesce(col, F.lit(False))).cast("long")),
                        F.lit(0),
                    ).alias(name)
                    for name, col in expect.items()
                ],
            )
        except Exception:
            # CollectMetrics rejects some shapes at analysis time — take
            # the pinned path below, identical semantics
            observation = None
        if observation is not None:

            def observed() -> dict:
                got = observation.get  # blocks on the staging write
                counts = {name: int(got[name]) for name in expect}
                if any(counts.values()):
                    raise ExpectationViolation(table, counts)
                return {"expectations": counts}

            try:
                return commit(df, observed)
            except ExpectationViolation:
                if on_violation == "fail":
                    raise
            # quarantine: re-run the pinned split path — the discarded
            # staged copy is replaced wholesale by the survivors' write,
            # so the published rows and the gate still see one evaluation
    # pinned path: the row gate, then the exact table-level gate over the
    # frame that will PUBLISH (the row-gated survivors under quarantine
    # mode), all before staging
    gated = df.persist()
    try:
        counts: dict[str, int] = {}
        if expect:
            df, row_counts = _enforce_expectations(
                gated, table, expect, on_violation
            )
            counts.update(row_counts)
        if expect_agg:
            counts.update(_enforce_agg_expectations(df, table, expect_agg))
        # evidence the gate ran: per-expectation violation counts (zeros
        # under on_violation='fail'; quarantined row counts under
        # 'quarantine')
        return commit(df, lambda: {"expectations": counts})
    finally:
        gated.unpersist()


def _evolved_schema_json(old_schema_json: str, new_schema) -> str | None:
    """Widen-only evolution for `allow_new_columns` appends: every old
    field must survive with the same name+type (order-insensitive);
    returns the schema to record for the commit, with every ADDED field
    coerced NULLABLE — old files have no values for it, so readers
    null-fill, and a non-nullable declaration would lie (Delta records
    evolution-added columns nullable for the same reason). None when the
    change is not a pure widen (dropped/retyped fields)."""
    old = StructType.fromJson(json.loads(old_schema_json))
    new_by_name = {f.name: f for f in new_schema.fields}
    if any(
        f.name not in new_by_name
        or new_by_name[f.name].dataType != f.dataType
        for f in old.fields
    ):
        return None
    old_names = {f.name for f in old.fields}
    fields = [
        f if f.name in old_names else f.__class__(f.name, f.dataType, True)
        for f in new_schema.fields
    ]
    return StructType(fields).json()


def merge_snapshot(
    df: DataFrame,
    table: str,
    keys: list[str] | tuple[str, ...],
    max_conflict_retries: int = 5,
    allow_new_columns: bool = False,
) -> int:
    """Keyed upsert into the snapshot table — the lake twin of
    `sinks/jdbc.upsert_to_jdbc`: rows of the latest snapshot whose key
    matches an incoming row are replaced, everything else is carried
    forward, and the result publishes atomically as ONE new overwrite
    snapshot (readers see the pre-merge or post-merge table, never a mix).

    Replay-idempotent by construction: merging the same `df` twice yields
    the same table. Lost-update safe: if a concurrent writer (e.g. the
    ingest_admission_job micro-batch append) commits between this merge's
    read and its write, the WHOLE read-merge-write re-runs against the new
    latest version, so the concurrent rows are merged, never dropped. The
    anti-join + union is a key-partitioned shuffle of the current
    snapshot — at 100 TB, partition the table so the merge prunes to
    affected partitions (the same discipline the JDBC staged merge
    documents).

    ``allow_new_columns`` opts merge into the same widen-only schema
    evolution appends have (Delta's mergeSchema): `df` may carry NEW
    nullable columns; the carried-forward snapshot rows null-fill them,
    the commit records the evolved schema, and the change files record
    pre-images under the widened schema too (the feed and its consumers
    stay composable across the evolution). Default remains
    refuse-on-drift."""
    spark = df.sparkSession

    def plan(base: int | None) -> _Plan:
        if base is None:  # bootstrap: the merge is the first snapshot
            return _Plan("overwrite", df.schema.json(), [], df)
        man = _read_manifest(table, base)
        current = read_snapshot(spark, table, version=base)
        incoming = df
        if _shape(current.schema) != _shape(df.schema):
            evolved = (
                _evolved_schema_json(man["schema"], df.schema)
                if allow_new_columns
                else None
            )
            if evolved is None:
                raise ValueError(
                    f"merge schema differs from the latest snapshot at "
                    f"{table}"
                    + (
                        "" if allow_new_columns
                        else "; pass allow_new_columns=True to add "
                        "nullable columns"
                    )
                )
            widened = StructType.fromJson(json.loads(evolved))
            for f in widened.fields:
                if f.name not in current.columns:
                    current = current.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
            order = [f.name for f in widened.fields]
            current = current.select(*order)
            incoming = df.select(*order)
        keyset = incoming.select(*keys).distinct()
        merged = current.join(keyset, list(keys), "left_anti").unionByName(
            incoming
        )
        # Change-data-feed record: the merge's row-level delta is the
        # matched pre-images (deletes) plus the increment (inserts) —
        # O(delta + matched), computed from joins the merge performs
        # anyway, and written ONCE at commit time so downstream
        # incremental consumers never diff two full snapshots.
        matched = current.join(keyset, list(keys), "left_semi")
        changes = matched.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(incoming.withColumn("_change_type", F.lit("insert")))
        return _Plan(
            "overwrite", merged.schema.json(), man.get("partition_by", []),
            merged, base, man, changes=changes, cdf="rows",
        )

    return _commit(table, plan, "merge", max_conflict_retries, replan=True)


def replace_partitions(
    df: DataFrame,
    table: str,
    partition_col: str,
    values: list | tuple | None = None,
    max_retries: int = 10,
    collect_stats: bool = True,
) -> int:
    """Delta's `replaceWhere` for hive partitions: publish a new snapshot
    in which the partitions named by `values` contain exactly `df`'s rows
    and EVERY other partition's files are carried forward BY REFERENCE —
    a one-day mart backfill stages one day's files and relinks the rest,
    never rewriting 100 TB to correct 100 GB. The swap is atomic like
    every commit here; the pre-backfill version stays time-travel
    readable; `snapshot_changes` treats the commit as a history rewrite
    (mode="replace") and refuses to derive deltas across it.

    `values` defaults to `df`'s distinct partition values (a bounded
    driver read — a backfill touches few partitions by construction).
    Rows of `df` outside `values` raise: silently dropping them or
    silently leaking them into surviving partitions are both wrong.
    The table must already exist partitioned by exactly [partition_col].
    `df` is staged once: a commit that loses a race re-links the same
    files onto the new tip."""
    if values is None:
        values = [
            r[0] for r in df.select(partition_col).distinct().collect()
        ]
    values = list(values)
    if not values:
        raise ValueError("replace_partitions needs at least one value")
    # null-safe: NULL.isin(...) is NULL, which a plain ~filter drops — a
    # null-partition row would then silently duplicate against the carried
    # __HIVE_DEFAULT_PARTITION__ entries
    stray = (
        df.filter(
            (~F.col(partition_col).isin(values))
            | F.col(partition_col).isNull()
        )
        .limit(1)
        .count()
    )
    if stray:
        raise ValueError(
            f"df contains rows outside the replaced {partition_col} "
            f"values {values} (or NULL); they would corrupt surviving "
            "partitions"
        )
    value_strs = {str(v) for v in values}

    def plan(parent: int | None) -> _Plan:
        if parent is None:
            raise FileNotFoundError(
                f"replace_partitions needs an existing snapshot at {table}"
            )
        pm = _read_manifest(table, parent)
        if pm.get("partition_by", []) != [partition_col]:
            raise ValueError(
                f"{table} is partitioned by {pm.get('partition_by', [])}, "
                f"not [{partition_col!r}]"
            )
        parent_schema = StructType.fromJson(json.loads(pm["schema"]))
        if _shape(parent_schema) != _shape(df.schema):
            raise ValueError(
                f"replace schema differs from snapshot v{parent} at {table}"
            )
        carried = [
            e
            for e in _entries(pm)
            if e.get("partition", {}).get(partition_col) not in value_strs
        ]
        # keep the PARENT's recorded schema: the carried files were
        # written under it, and it is the always-nullable read form —
        # declaring a new frame's non-null fields over old files would
        # misstate the carried data. Change feed: the replaced partitions'
        # old files are row-level deletes, the staged files row-level
        # inserts; untouched partitions (carried by reference) contribute
        # none.
        return _Plan(
            "replace", pm["schema"], [partition_col], df, parent, pm, carried,
            cdf="fileset",
        )

    return _commit(
        table, plan, "replace_partitions", max_retries,
        collect_stats=collect_stats,
    )


def delete_from_snapshot(
    spark: SparkSession,
    table: str,
    where: dict,
    max_conflict_retries: int = 5,
    collect_stats: bool = True,
) -> tuple[int, int]:
    """``DELETE FROM table WHERE ...`` for snapshot tables — the third
    rewriting commit next to `merge_snapshot` (keyed upsert) and
    `replace_partitions` (partition swap). `where` uses `read_snapshot`'s
    predicate form (column -> value or inclusive (lo, hi) range; multiple
    columns AND together; NULLs never match, SQL semantics).

    Cost is O(touched files), not O(table): the manifest's partition
    values + footer stats prune to the files that may contain matching
    rows; only those are read and rewritten without their matching rows,
    every other file carries forward BY REFERENCE. The commit records the
    deleted rows as change files, so `snapshot_change_feed` reports
    exactly them (kind 'rows', all deletes) and a downstream consumer
    stays O(delta). A predicate matching nothing commits nothing.

    Returns (version, n_deleted) — version is the unchanged tip when
    n_deleted == 0. Lost-update safe: a concurrent commit between read
    and link re-runs the whole prune-rewrite against the new tip."""
    n_deleted = 0

    def plan(base: int | None) -> _Plan | int:
        nonlocal n_deleted
        n_deleted = 0  # a replan may find nothing left to touch
        if base is None:
            raise FileNotFoundError(f"no committed snapshots at {table}")
        man = _read_manifest(table, base)
        schema = StructType.fromJson(json.loads(man["schema"]))
        pb = man.get("partition_by", [])
        # NULLs never match, and ~match must keep them
        match = F.coalesce(_where_match(where, schema), F.lit(False))
        entries = _entries(man)
        touched = [e for e in entries if _keep_entry(e, where, pb)]
        if not touched:
            return base
        tdf = _scan_entries(spark, table, touched, schema, pb)
        deleted = tdf.filter(match)
        n_deleted = deleted.count()
        if n_deleted == 0:
            return base  # stats were conservative; nothing to rewrite
        carried = [e for e in entries if not _keep_entry(e, where, pb)]
        return _Plan(
            "delete", man["schema"], pb, tdf.filter(~match), base, man,
            carried,
            changes=deleted.withColumn("_change_type", F.lit("delete")),
            cdf="rows",
        )

    version = _commit(
        table, plan, "delete", max_conflict_retries, replan=True,
        collect_stats=collect_stats,
    )
    return version, n_deleted


def update_snapshot(
    spark: SparkSession,
    table: str,
    where: dict,
    set: dict,
    max_conflict_retries: int = 5,
    collect_stats: bool = True,
) -> tuple[int, int]:
    """``UPDATE table SET ... WHERE ...`` for snapshot tables — completes
    the DML surface next to merge (keyed upsert), replace_partitions, and
    DELETE (VERDICT r10 #3). `where` uses `read_snapshot`'s predicate form
    (column -> value or inclusive (lo, hi) range, AND-ed; NULLs never
    match). `set` maps column -> new value: a Python literal or a pyspark
    Column expression (e.g. ``F.col("v") + 1``) evaluated per matched
    row; results are cast to the column's existing type so the snapshot
    schema never drifts through an update.

    Cost is O(touched files), not O(table) — the same manifest
    partition-value + footer-stats pruning as DELETE: only files that may
    contain matching rows are read and rewritten (kept rows byte-for-byte,
    matched rows updated), every other file carries forward BY REFERENCE.
    The commit records the matched pre-images as deletes and the updated
    post-images as inserts in its change files, so `snapshot_change_feed`
    reports the update as delete(old)+insert(new) under one version —
    exactly the shape `apply_changes_to_jdbc`/`serve_changes_job` already
    consume; a downstream sync stays O(delta).

    Updating a partition column is allowed (updated rows move to their
    new partition directory in the rewrite); predicates on OTHER columns
    still prune. Returns (version, n_updated) — the unchanged tip when
    nothing matches. Lost-update safe like DELETE: a concurrent commit
    re-runs the whole prune-rewrite against the new tip."""
    from pyspark.sql import Column

    n_updated = 0

    def plan(base: int | None) -> _Plan | int:
        nonlocal n_updated
        n_updated = 0  # a replan may find nothing left to touch
        if base is None:
            raise FileNotFoundError(f"no committed snapshots at {table}")
        man = _read_manifest(table, base)
        schema = StructType.fromJson(json.loads(man["schema"]))
        pb = man.get("partition_by", [])
        # NULLs never match, and ~match must keep them
        match = F.coalesce(_where_match(where, schema), F.lit(False))
        unknown = [c for c in set if c not in schema.fieldNames()]
        if unknown:
            raise KeyError(f"set columns not in snapshot schema: {unknown}")
        if not set:
            raise ValueError("update_snapshot needs at least one set column")
        entries = _entries(man)
        touched = [e for e in entries if _keep_entry(e, where, pb)]
        if not touched:
            return base
        tdf = _scan_entries(spark, table, touched, schema, pb)
        matched = tdf.filter(match)
        n_updated = matched.count()
        if n_updated == 0:
            return base  # stats were conservative; nothing to rewrite
        # ALL set expressions evaluate against the PRE-IMAGE row (SQL
        # UPDATE semantics): one select, never sequential withColumns —
        # {'a': col('b'), 'b': col('a')} must swap, not cascade, and the
        # result must not depend on dict order
        types = {f.name: f.dataType for f in schema.fields}
        exprs = []
        for name in schema.fieldNames():
            if name in set:
                val = set[name]
                expr = val if isinstance(val, Column) else F.lit(val)
                exprs.append(expr.cast(types[name]).alias(name))
            else:
                exprs.append(F.col(name))
        updated = matched.select(*exprs)
        carried = [e for e in entries if not _keep_entry(e, where, pb)]
        return _Plan(
            "update", man["schema"], pb,
            tdf.filter(~match).unionByName(updated), base, man, carried,
            changes=matched.withColumn(
                "_change_type", F.lit("delete")
            ).unionByName(updated.withColumn("_change_type", F.lit("insert"))),
            cdf="rows",
        )

    version = _commit(
        table, plan, "update", max_conflict_retries, replan=True,
        collect_stats=collect_stats,
    )
    return version, n_updated


def _cmp_key(v):
    """Order-preserving comparison key across JSON stat types and hive
    partition strings: numbers compare numerically when both sides parse,
    everything else lexically. Returns (tag, value) so mixed types never
    raise."""
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, (datetime.date, datetime.datetime)):
        # Normalize to the same ISO-8601 form _json_scalar stores in the
        # footer stats: str(datetime) uses a space separator (' ' < 'T'
        # lexically), which would falsely prune files whose stats bracket
        # the queried instant.
        return (1, v.isoformat())
    if isinstance(v, (int, float)):
        return (0, float(v))
    if isinstance(v, str):
        try:
            return (0, float(v))
        except ValueError:
            return (1, v)
    return (1, str(v))


def _overlaps(lo, hi, want_lo, want_hi) -> bool:
    """May [lo, hi] intersect [want_lo, want_hi]? Incomparable -> True
    (never prune on uncertainty)."""
    klo, khi = _cmp_key(lo), _cmp_key(hi)
    wlo, whi = _cmp_key(want_lo), _cmp_key(want_hi)
    if klo[0] != wlo[0] or khi[0] != whi[0]:
        return True
    return khi >= wlo and klo <= whi


def _bounds(pred) -> tuple:
    """Normalize a `where` predicate to an inclusive [lo, hi]."""
    if isinstance(pred, tuple) and len(pred) == 2:
        return pred
    return (pred, pred)


def _where_match(where: dict, schema: StructType):
    """A `where` mapping (column -> value, or inclusive (lo, hi)) as one
    AND-ed Column predicate, None when empty; KeyError names columns the
    schema lacks. NULLs never match."""
    unknown = [c for c in where if c not in schema.fieldNames()]
    if unknown:
        raise KeyError(f"where columns not in snapshot schema: {unknown}")
    match = None
    for col, pred in where.items():
        lo, hi = _bounds(pred)
        cond = (
            F.col(col) == F.lit(lo)
            if lo is hi or lo == hi
            else F.col(col).between(F.lit(lo), F.lit(hi))
        )
        match = cond if match is None else (match & cond)
    return match


def _keep_entry(entry: dict, where: dict, partition_by: list[str]) -> bool:
    for col, pred in where.items():
        lo, hi = _bounds(pred)
        if col in entry.get("partition", {}):
            pv = entry["partition"][col]
            if not _overlaps(pv, pv, lo, hi):
                return False
        elif col in entry.get("stats", {}):
            slo, shi = entry["stats"][col]
            if not _overlaps(slo, shi, lo, hi):
                return False
    return True


def _scan_entries(
    spark: SparkSession,
    table: str,
    entries: list[dict],
    schema: StructType,
    partition_by: list[str],
) -> DataFrame:
    """Scan exactly these manifest file entries under `schema`. For
    partitioned layouts the partition columns live in directory names, not
    the files; basePath-anchored reads recover them — one scan per stage
    directory (bounded by versions-since-compaction), unioned."""
    if not entries:
        return spark.createDataFrame([], schema)
    if not partition_by:
        return spark.read.schema(schema).parquet(
            *(os.path.join(table, _FILES_DIR, e["path"]) for e in entries)
        )
    by_stage: dict[str, list[str]] = {}
    for e in entries:
        stage = e["path"].split("/", 1)[0]
        by_stage.setdefault(stage, []).append(
            os.path.join(table, _FILES_DIR, e["path"])
        )
    parts = [
        spark.read.schema(schema)
        .option("basePath", os.path.join(table, _FILES_DIR, stage))
        .parquet(*paths)
        .select(*schema.fieldNames())
        for stage, paths in sorted(by_stage.items())
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _committed_at(table: str, version: int) -> float:
    """Commit wall-clock of a version: the manifest's recorded
    `committed_at`, falling back to the manifest file's mtime for
    manifests written before the field existed."""
    m = _read_stored(table, version)  # committed_at needs no file list
    ts = m.get("committed_at")
    if ts is not None:
        return float(ts)
    return _STORE.mtime(_manifest_path(table, version))


def version_as_of(table: str, ts) -> int:
    """The newest retained version committed at or before `ts` (epoch
    seconds, datetime, or ISO-8601 string) — Delta's `timestampAsOf`.
    Raises if every retained version is newer (the asked-for state is
    before the table existed or was vacuumed away).

    Naive datetimes / ISO strings are interpreted as UTC — `committed_at`
    is a UTC epoch (time.time()), so letting `.timestamp()` apply the
    host's local zone would resolve a version shifted by the UTC offset
    on any non-UTC host (ADVICE r10). Pass a tz-aware datetime for any
    other zone."""
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        ts = ts.timestamp()
    eligible = [
        v for v in _versions(table) if _committed_at(table, v) <= float(ts)
    ]
    if not eligible:
        raise FileNotFoundError(
            f"no retained snapshot at {table} committed at or before {ts}"
        )
    return eligible[-1]


def latest_version(table: str) -> int:
    """The current tip version (raises on an empty table) — resolve once
    and pass `version=` to reads that must agree on one commit. O(1)
    amortized: tip-hint + forward probe, never a directory listing."""
    tip = _tip(table)
    if tip is None:
        raise FileNotFoundError(f"no committed snapshots at {table}")
    return tip


def snapshot_schema(table: str, version: int | None = None) -> StructType:
    """The recorded schema of a committed version (latest by default),
    straight from the manifest — no Spark scan, no file listing."""
    if version is None:
        version = latest_version(table)
    return StructType.fromJson(
        json.loads(_read_manifest(table, version)["schema"])
    )


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where: dict | None = None,
    as_of_ts=None,
) -> DataFrame:
    """Read a committed snapshot (latest, a pinned `version`, or the
    version current as of wall-clock `as_of_ts` — epoch seconds, datetime,
    or ISO string). Resolves the manifest first and scans ONLY the files
    it names, so concurrent writers/vacuums of other versions are
    invisible.

    ``where`` maps column -> value (equality) or (lo, hi) inclusive range.
    Files are pruned with the manifest's partition values and footer
    min/max stats BEFORE Spark ever lists them — a one-partition read of a
    date-partitioned table opens that partition's files only. Pruning is
    conservative (incomparable stats keep the file) and the predicate is
    re-applied to the returned frame, so the result is exact either way."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version= or as_of_ts=, not both")
        version = version_as_of(table, as_of_ts)
    if version is None:
        version = _tip(table)
        if version is None:
            raise FileNotFoundError(f"no committed snapshots at {table}")
    elif not _STORE.exists(_manifest_path(table, version)):
        raise FileNotFoundError(f"snapshot v{version} not found at {table}")
    manifest = _read_manifest(table, version)
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    partition_by = manifest.get("partition_by", [])
    where = where or {}
    match = _where_match(where, schema)
    entries = [
        e
        for e in _entries(manifest)
        if _keep_entry(e, where, partition_by)
    ]
    df = _scan_entries(spark, table, entries, schema, partition_by)
    return df if match is None else df.filter(match)


PIN_SCHEMA = "table string, version int"  # one row per member table


def publish_pins(
    spark: SparkSession,
    meta_table: str,
    pins: dict[str, int],
    expected_parent: int | None = _UNSET,  # type: ignore[assignment]
) -> int:
    """Commit the pin set `pins` ({table: version}) as one overwrite
    snapshot of `meta_table`; returns its version. Call it after every
    member commit has returned. ``expected_parent`` is the CAS a
    read-modify-write publisher passes (the version `read_pins` returned);
    a full publish names its whole set and may omit it."""
    return write_snapshot(
        spark.createDataFrame(sorted(pins.items()), PIN_SCHEMA),
        meta_table,
        mode="overwrite",
        expected_parent=expected_parent,
    )


def read_pins(spark: SparkSession, meta_table: str) -> tuple[int, dict[str, int]]:
    """(pin version, {table: version}) of the latest pin set. The version
    is resolved ONCE and the pins read at it, so a CAS against the
    returned version covers exactly the pins that were read (raises
    FileNotFoundError when no pin set was published)."""
    version = latest_version(meta_table)
    pins = read_snapshot(spark, meta_table, version=version).collect()
    return version, {r.table: r.version for r in pins}


def net_changes(changes: DataFrame, keys, strict: bool = True) -> DataFrame:
    """Latest-commit-wins net-out of a change-feed frame: at most one row
    per key survives (within one commit the insert post-image beats its
    own delete pre-image), so any consumer applies a multi-commit range
    as one keyed pass. Shared by the JDBC CDC apply and the lake replica
    apply.

    Keyed application REQUIRES the source to be key-unique per commit:
    if one commit carries two inserts for the same key (an append of a
    non-key-unique batch, or a merge whose df repeated a key), "the row
    for this key" is undefined and any survivor choice silently diverges
    the replica from the source. ``strict`` (default) detects that and
    raises instead — one delta-sized aggregation, the price of replication
    that fails loudly rather than nondeterministically (ADVICE r11). Pass
    strict=False only for feeds already proven key-unique per commit."""
    from pyspark.sql import Window

    if strict:
        dup = (
            changes.filter(F.col("_change_type") == "insert")
            .groupBy(*keys, "_commit_version")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            r = dup[0]
            raise ValueError(
                "change feed is not key-unique per commit: commit "
                f"v{r['_commit_version']} carries {r['count']} inserts for "
                f"key {tuple(r[k] for k in keys)} — keyed application is "
                "undefined for a non-key-unique source (dedupe upstream, "
                "or choose keys that are actually unique)"
            )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes_to_snapshot(
    changes: DataFrame,
    table: str,
    keys: list[str] | tuple[str, ...],
    max_conflict_retries: int = 5,
) -> int:
    """Lake-side CDC apply: fold a `snapshot_change_feed` frame into
    ANOTHER snapshot table — cross-lake replication and derived-table
    maintenance, the third feed consumer next to the JDBC serving apply.
    Per-key changes net out latest-commit-wins (`net_changes`), net
    deletes anti-join the current replica, net inserts fold in, and the
    result publishes as ONE atomic commit carrying its OWN row-level
    change files — a replica's feed is itself consumable, so replication
    chains compose.

    Replay-idempotent IN VERSION HISTORY too, not just content: every
    apply records the feed's max `_commit_version` in the replica's
    manifest (`applied_source_tip`), and a range whose tip is at or
    below the recorded watermark (the at-least-once redelivery case)
    short-circuits to the unchanged replica tip in O(1) metadata —
    so chained replicas and serving consumers see zero spurious change
    rows on replay, and the steady-state apply never pays a replica
    scan to find that out. Maintenance commits between applies
    (compact / DELETE / UPDATE / merge / replace_partitions) carry the
    watermark forward (`_carry_watermark`), so the short-circuit
    survives them; only a wholesale manual overwrite drops it. (Assumes
    the replica is fed from ONE source feed, the function's contract
    anyway — commit versions from two different sources are not
    comparable.) Bootstrap: applying a feed from version 0 into an empty
    table materializes the source. An empty net delta commits nothing.
    Lost-update safe: a concurrent replica writer makes the apply re-run
    against the new tip. Cost: the feed read is O(delta); the publish
    rewrites the replica (merge_snapshot's posture — partition the
    replica so a production apply prunes to affected partitions).

    Returns the replica's new (or unchanged) tip version."""
    spark = changes.sparkSession
    keys = list(keys)
    net = net_changes(changes, keys)
    data_cols = [
        c for c in changes.columns
        if c not in ("_change_type", "_commit_version")
    ]
    deletes_keys = net.select(*keys).distinct()
    inserts = net.filter(F.col("_change_type") == "insert").select(*data_cols)
    # the feed range's high-water mark — one O(delta) scalar, recorded in
    # the commit and compared on the next apply for replay detection
    incoming_tip = changes.agg(
        F.max("_commit_version").alias("t")
    ).collect()[0].t
    watermark = (
        {"applied_source_tip": int(incoming_tip)}
        if incoming_tip is not None
        else None
    )

    def plan(base: int | None) -> _Plan | int:
        if base is None:
            if inserts.limit(1).count() == 0:
                raise FileNotFoundError(
                    f"no committed snapshots at {table} and the feed "
                    "range nets to zero inserts — nothing to bootstrap"
                )
            return _Plan(
                "overwrite", inserts.schema.json(), [], inserts,
                extra=watermark,
            )
        if net.limit(1).count() == 0:
            return base
        man = _read_manifest(table, base)
        applied = man.get("applied_source_tip")
        if (
            applied is not None
            and incoming_tip is not None
            and int(incoming_tip) <= int(applied)
        ):
            # at-least-once redelivery of an already-applied range: the
            # keyed apply would converge to identical content, so skip
            # the commit entirely — O(1) metadata, no replica scan
            return base
        schema = StructType.fromJson(json.loads(man["schema"]))
        if [f.name for f in schema.fields] != data_cols:
            raise ValueError(
                f"feed columns {data_cols} do not match the replica "
                f"schema at {table}: {[f.name for f in schema.fields]}"
            )
        current = read_snapshot(spark, table, version=base)
        merged = current.join(deletes_keys, keys, "left_anti").unionByName(
            inserts
        )
        # the replica's own change record: its matched pre-images as
        # deletes + the net inserts — O(delta + matched), like merge
        matched = current.join(deletes_keys, keys, "left_semi")
        # lake-replica CDC consumers join the same streaming lint sweep
        # as the admission gates (no-op unless a collector is active)
        from clinical_search_data_pipeline_spark.plans.introspect import (
            collect_stream_lint,
        )

        collect_stream_lint(merged)
        changes = matched.withColumn(
            "_change_type", F.lit("delete")
        ).unionByName(inserts.withColumn("_change_type", F.lit("insert")))
        return _Plan(
            "overwrite", merged.schema.json(), man.get("partition_by", []),
            merged, base, man, changes=changes, cdf="rows", extra=watermark,
        )

    return _commit(
        table, plan, "replica apply", max_conflict_retries, replan=True
    )


def compact_snapshot(
    spark: SparkSession,
    table: str,
    target_files: int = 4,
    max_conflict_retries: int = 5,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """OPTIMIZE for snapshot tables: rewrite the LATEST version's data and
    publish the result as a new overwrite snapshot — readers of the old
    (many-small-files) version are untouched until vacuum reclaims it, and
    the swap is atomic like every other commit here.

    Unpartitioned tables rewrite into `target_files` files total.
    Partitioned tables compact PER PARTITION — each hive partition ends up
    with at most `target_files` files (a deterministic bucket column
    spreads each partition's rows over at most that many writer tasks), so
    the streaming append path stays scan-bounded per partition instead of
    globally coalescing a 100 TB table through `target_files` tasks.

    ``zorder_by=(x, y)`` is OPTIMIZE ZORDER (unpartitioned tables): the
    rewrite range-partitions + sorts on the normalized Morton key of the
    two columns (operators/layout.zorder_with_key), which makes each new
    file's min/max envelope tight on BOTH columns — and because this sink
    records footer stats in the manifest, `read_snapshot(where=...)` then
    prunes a 2-D box predicate multiplicatively with no layout knowledge
    at read time. Layout investment, not semantics: values and schema are
    unchanged.

    Lost-update safe like merge_snapshot: a concurrent commit re-runs the
    compaction against the new tip rather than silently discarding it."""

    def plan(base: int | None) -> _Plan:
        if base is None:
            raise FileNotFoundError(f"no committed snapshots at {table}")
        man = _read_manifest(table, base)
        pb = man.get("partition_by", [])
        current = read_snapshot(spark, table, version=base)
        if zorder_by is not None:
            if pb:
                raise ValueError(
                    "zorder_by compaction is for unpartitioned tables; "
                    "a partitioned table z-orders within partitions by "
                    "writing partition_by + a pre-sorted layout instead"
                )
            from clinical_search_data_pipeline_spark.operators.layout import (
                zorder_with_key,
            )

            x, y = zorder_by
            compacted = (
                zorder_with_key(current, x, y)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif pb:
            data_cols = [c for c in current.columns if c not in pb]
            bucket = (
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in data_cols]),
                    F.lit(target_files),
                )
                if data_cols
                else F.lit(0)
            )
            compacted = (
                current.withColumn("__compact_bucket", bucket)
                .repartition(*[F.col(c) for c in pb], F.col("__compact_bucket"))
                .drop("__compact_bucket")
            )
        else:
            compacted = current.repartition(target_files)
        # a compaction/ZORDER rewrite is data-equivalent: the change feed
        # across it is exactly zero rows
        return _Plan(
            "overwrite", compacted.schema.json(), pb, compacted, base, man,
            cdf={"kind": "noop"},
        )

    return _commit(table, plan, "compact", max_conflict_retries, replan=True)


def snapshot_changes(
    spark: SparkSession, table: str, since: int, until: int | None = None
) -> DataFrame:
    """Rows ADDED between snapshot `since` (exclusive) and `until`
    (inclusive, default latest) — incremental consumption of an
    append-only commit chain (Delta's `table_changes` for inserts), the
    reader half of the per-micro-batch publish: a downstream job that
    processed up to version N asks only for what landed after N and scans
    ONLY the new files (append reuses parent files by reference, so the
    delta is exactly the file-set difference of the two manifests).

    Every version in (since, until] must be an append commit: an overwrite
    or merge in the range rewrites history, so the delta is not derivable
    from files — that raises instead of silently returning wrong rows."""
    if until is None:
        until = _tip(table) or 0
    # validate BEFORE the empty-range early return: on an empty table or a
    # vacuumed endpoint the range is not resolvable — raising the range
    # error beats a raw FileNotFoundError from the manifest open below.
    # Committed versions are dense integers (each commit is parent+1), so
    # endpoint existence + the per-version walk below cover membership
    # without ever listing the log directory.
    if (
        since > until
        or not _STORE.exists(_manifest_path(table, until))
        or not _STORE.exists(_manifest_path(table, since))
    ):
        raise FileNotFoundError(
            f"snapshot range ({since}, {until}] not resolvable at {table}"
        )
    if since == until:
        man = _read_manifest(table, until)
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(man["schema"]))
        )
    for v in range(since + 1, until + 1):
        try:
            mode = _read_stored(table, v)["mode"]
        except FileNotFoundError:
            raise FileNotFoundError(
                f"snapshot range ({since}, {until}] not resolvable at "
                f"{table}: v{v} was vacuumed"
            ) from None
        if mode != "append":
            raise ValueError(
                f"version {v} at {table} is not an append — the range "
                f"({since}, {until}] rewrites history; re-read the full "
                "snapshot instead"
            )
    base_files = {e["path"] for e in _entries(_read_manifest(table, since))}
    man = _read_manifest(table, until)
    new = [e for e in _entries(man) if e["path"] not in base_files]
    schema = StructType.fromJson(json.loads(man["schema"]))
    return _scan_entries(spark, table, new, schema, man.get("partition_by", []))


def lineage_chain(table: str, since: int, until: int | None = None) -> list[int]:
    """The committed versions whose deltas make up the range (since,
    until], newest first — the LINEAGE walk shared by
    `snapshot_change_feed` and the streaming change source. An append
    committed with base_version= folds in its pinned base, NOT its
    parent: the parent may be an orphaned branch (a publisher whose
    external pin never landed) whose rows are not in `until`'s state and
    must not surface. For ordinary tables the chain is simply every
    version in the range. Raises FileNotFoundError when the range is not
    resolvable from the retained versions (the feed horizon). The walk
    reads stored commit files only (mode + pointers) — no manifest
    materialization and no directory listing."""
    if until is None:
        until = _tip(table)
        if until is None:
            raise FileNotFoundError(f"no committed snapshots at {table}")
    exists = lambda v: _STORE.exists(_manifest_path(table, v))  # noqa: E731
    if not exists(until) or since > until or (since != 0 and not exists(since)):
        raise FileNotFoundError(
            f"snapshot range ({since}, {until}] not resolvable at {table}"
        )
    chain: list[int] = []
    v: int | None = until
    while v is not None and v > since:
        try:
            man = _read_stored(table, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"version {v} in the lineage of ({since}, {until}] at "
                f"{table} was vacuumed; the feed horizon passed — re-read "
                "the full snapshot"
            ) from None
        chain.append(v)
        v = (
            man.get("append_base", man.get("parent"))
            if man["mode"] == "append"
            else man.get("parent")
        )
    if since != 0 and v != since:
        raise FileNotFoundError(
            f"snapshot v{since} is not on the lineage of v{until} at "
            f"{table} (an orphaned branch?); re-read the full snapshot"
        )
    if since == 0 and v is not None:
        # the chain bottomed out at a vacuumed version before reaching
        # the table's first commit — since=0 cannot be served
        raise FileNotFoundError(
            f"the lineage of v{until} at {table} reaches back past the "
            "retained versions; the feed horizon passed — re-read the "
            "full snapshot"
        )
    return chain


def snapshot_change_feed(
    spark: SparkSession, table: str, since: int, until: int | None = None
) -> DataFrame:
    """Row-level change feed across (since, until] — Delta's
    `table_changes` generalized past inserts: the result carries every
    table column plus `_change_type` ('insert' | 'delete') and
    `_commit_version`, and — unlike `snapshot_changes` — it does NOT
    refuse rewriting commits:

    * append commits contribute their new files as inserts (file diff
      against the append base — O(increment));
    * `merge_snapshot` commits contribute the change files the merge
      recorded at commit time (matched pre-images as deletes + the
      increment as inserts — O(delta), never a two-snapshot diff);
    * `replace_partitions` commits contribute the replaced partitions'
      old files as deletes and the staged files as inserts (untouched,
      carried-by-reference partitions contribute nothing);
    * `compact_snapshot` / ZORDER commits are data-equivalent rewrites
      and contribute zero rows;
    * the FIRST version of a table is all inserts whatever its mode;
    * an opaque overwrite (plain `write_snapshot(mode='overwrite')` onto
      existing data) has no derivable delta and raises — re-read the full
      snapshot instead.

    An upsert surfaces as delete(old row) + insert(new row) under the same
    `_commit_version`. `since=0` starts from before the first version.
    The feed's horizon is vacuum's: change files and pre-image files of
    dropped versions are reclaimed, after which the affected range raises
    instead of under-reporting. A downstream consumer maintains state with
    O(delta) work per sync: apply deletes by key, then inserts."""
    if until is None:
        until = latest_version(table)
    chain = lineage_chain(table, since, until)
    pieces: list[DataFrame] = []
    for v in reversed(chain):
        man = _read_manifest(table, v)
        schema = StructType.fromJson(json.loads(man["schema"]))
        pb = man.get("partition_by", [])
        parent = man.get("parent")
        cdf = man.get("cdf") or {}

        def _tag(df: DataFrame, change: str, v: int = v) -> DataFrame:
            return df.withColumn("_change_type", F.lit(change)).withColumn(
                "_commit_version", F.lit(v)
            )

        if parent is None:
            # the first commit is pure inserts whatever its mode
            pieces.append(_tag(
                _scan_entries(spark, table, _entries(man), schema, pb),
                "insert",
            ))
        elif man["mode"] == "append":
            base = man.get("append_base", parent)
            stored = _read_stored(table, v)
            if "delta" in stored and stored["delta"]["vs"] == base:
                # O(increment) in metadata too: the stored delta records
                # exactly the appended entries — no base materialization
                new = stored["delta"]["add"]
            else:
                base_files = {
                    e["path"] for e in _entries(_read_manifest(table, base))
                }
                new = [
                    e for e in _entries(man) if e["path"] not in base_files
                ]
            pieces.append(_tag(
                _scan_entries(spark, table, new, schema, pb), "insert"
            ))
        elif cdf.get("kind") == "noop":
            continue
        elif cdf.get("kind") == "rows":
            cdir = os.path.join(table, _FILES_DIR, cdf["dir"])
            if not os.path.isdir(cdir):
                raise FileNotFoundError(
                    f"change files of v{v} at {table} were vacuumed; the "
                    "feed horizon passed — re-read the full snapshot"
                )
            pieces.append(
                spark.read.parquet(cdir).withColumn(
                    "_commit_version", F.lit(v)
                )
            )
        elif cdf.get("kind") == "fileset":
            pm = _read_manifest(table, parent)
            pschema = StructType.fromJson(json.loads(pm["schema"]))
            removed_set = set(cdf["removed"])
            added_set = set(cdf["added"])
            removed = [e for e in _entries(pm) if e["path"] in removed_set]
            gone = [
                e["path"]
                for e in removed
                if not os.path.exists(
                    os.path.join(table, _FILES_DIR, e["path"])
                )
            ]
            if gone:
                raise FileNotFoundError(
                    f"pre-image files of v{v} at {table} were vacuumed; "
                    "the feed horizon passed — re-read the full snapshot"
                )
            added = [e for e in _entries(man) if e["path"] in added_set]
            pieces.append(_tag(
                _scan_entries(spark, table, removed, pschema,
                              pm.get("partition_by", [])),
                "delete",
            ))
            pieces.append(_tag(
                _scan_entries(spark, table, added, schema, pb), "insert"
            ))
        else:
            raise ValueError(
                f"version {v} at {table} is an opaque overwrite — no "
                "change feed is derivable across it; re-read the full "
                "snapshot instead"
            )
    if not pieces:
        schema = StructType.fromJson(
            json.loads(_read_manifest(table, until)["schema"])
        )
        return (
            spark.createDataFrame([], schema)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_version", F.lit(0))
            .limit(0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        # allowMissingColumns: a schema-evolution append in the range means
        # older pieces lack the added columns — null-fill, same as reads
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def snapshot_row_count(table: str, version: int | None = None) -> int | None:
    """Row count of a committed version from its manifest's per-file footer
    stats — ZERO Spark actions (the stats were collected from the staged
    files at publish time). Returns None when any file was committed with
    ``collect_stats=False`` (count unknown without a scan) or the table has
    no versions; callers fall back to counting then."""
    v = _tip(table) if version is None else version
    if v is None:
        return None
    total = 0
    for entry in _read_manifest(table, v)["files"]:
        rows = entry.get("rows")
        if rows is None:
            return None
        total += int(rows)
    return total


def snapshots(table: str) -> list[dict]:
    """The commit log, oldest first: version, parent, mode, num_files,
    committed_at (epoch seconds — what `read_snapshot(as_of_ts=)` resolves
    against)."""
    out = []
    for v in _versions(table):
        m = _read_stored(table, v)  # log fields only — no materialization
        row = {k: m[k] for k in ("version", "parent", "mode", "num_files")}
        ts = m.get("committed_at")  # inline: avoid a second manifest read
        row["committed_at"] = (
            float(ts)
            if ts is not None
            else _STORE.mtime(_manifest_path(table, v))
        )
        out.append(row)
    return out


def vacuum(
    table: str,
    keep_last: int = 2,
    retention_seconds: float = DEFAULT_RETENTION_SECONDS,
) -> list[str]:
    """Drop manifests beyond the newest `keep_last` and delete every data
    directory that no RETAINED manifest references — EXCEPT directories
    modified within `retention_seconds`, which may belong to an in-flight
    writer that has staged data but not yet linked its manifest (deleting
    those would make the writer publish a manifest naming dead files; the
    commit-side existence recheck in `_commit` is the second half of this
    defense). Returns the deleted directory names. Retained versions
    remain fully readable — referenced directories are never touched."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _versions(table)
    keep = versions[-keep_last:]
    cut = keep[0] if keep else 0
    referenced: set[str] = set()
    for v in keep:
        m = _read_manifest(table, v)
        for e in _entries(m):
            referenced.add(e["path"].split("/", 1)[0])
        cdf = m.get("cdf") or {}
        if cdf.get("kind") == "rows":
            # a retained merge commit's change files stay feed-readable
            referenced.add(cdf["dir"])
        # A retained delta commit whose chain reaches BELOW the cut (the
        # oldest kept version always; a base_version append possibly)
        # must stay materializable after its chain is unlinked: persist
        # its full state as a checkpoint sidecar first. Kept versions
        # whose chain stays at/above the cut resolve through these.
        stored = _read_stored(table, v)
        if "delta" in stored and stored["delta"]["vs"] < cut:
            # must succeed (best_effort=False): the chain below the cut
            # is about to be unlinked, and without the sidecar this
            # retained version would become unmaterializable
            _write_checkpoint(table, v, m, best_effort=False)
    for v in versions[:-keep_last]:
        _STORE.delete(_manifest_path(table, v))
    # checkpoint sidecars of unlinked versions are themselves superseded
    cp_dir = os.path.join(table, _CHECKPOINT_DIR)
    keep_set = set(keep)
    for name in _STORE.list(cp_dir):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        if int(name[1:-5]) not in keep_set:
            _STORE.delete(os.path.join(cp_dir, name))
    deleted = []
    now = time.time()
    files_root = os.path.join(table, _FILES_DIR)
    if os.path.isdir(files_root):
        for name in sorted(os.listdir(files_root)):
            if name in referenced:
                continue
            full = os.path.join(files_root, name)
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # raced with its own writer's cleanup
            if age < retention_seconds:
                continue  # possibly in-flight: not garbage yet
            shutil.rmtree(full)
            deleted.append(name)
    return deleted
