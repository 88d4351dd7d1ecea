"""Snapshot-committed sink (sinks/manifest.py): atomic publish, append
reusing parent files, time travel, crash-orphan invisibility, commit-race
single-winner, and vacuum that never breaks a retained reader."""

from __future__ import annotations

import json
import os

import pytest

from clinical_search_data_pipeline_spark.sinks import manifest as m


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


@pytest.fixture(autouse=True)
def _both_commit_backends(commit_backend):
    """Every test in this module runs under both commit-log backends —
    policy and rationale live in tests/conftest.py::commit_backend."""
    yield


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_overwrite_publish_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = m.write_snapshot(_df(spark, 0, 5), table)
    v2 = m.write_snapshot(_df(spark, 100, 103), table)
    assert (v1, v2) == (1, 2)
    assert _ids(m.read_snapshot(spark, table)) == [100, 101, 102]
    assert _ids(m.read_snapshot(spark, table, version=1)) == [0, 1, 2, 3, 4]
    log = m.snapshots(table)
    assert [s["version"] for s in log] == [1, 2]
    assert log[1]["parent"] == 1


def test_append_reuses_parent_files(spark, tmp_path):
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    m.write_snapshot(_df(spark, 10, 12), table, mode="append")
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2, 10, 11]
    # parent's files are REFERENCED, not rewritten: v2's manifest is a
    # strict superset of v1's
    v1_files = {e["path"] for e in m._entries(m._read_manifest(table, 1))}
    v2_files = {e["path"] for e in m._entries(m._read_manifest(table, 2))}
    assert v1_files < v2_files


def test_crash_orphan_is_invisible_and_vacuumed(spark, tmp_path):
    """A writer that dies after the data write but before the manifest
    link leaves only an orphan directory: readers never see it, and
    vacuum reclaims it once it is older than the retention window,
    without touching any retained snapshot."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    # simulate the crash: stage data exactly as write_snapshot does, no commit
    orphan = os.path.join(table, "files", "stage-deadbeef")
    _df(spark, 900, 905).write.parquet(orphan)
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2]
    deleted = m.vacuum(table, keep_last=1, retention_seconds=0)
    assert deleted == ["stage-deadbeef"]
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2]


def test_vacuum_never_reclaims_inflight_stage(spark, tmp_path):
    """A stage directory younger than the retention window may belong to a
    writer between its data write and its manifest link: vacuum must leave
    it alone (the lost-data race: vacuum deletes the stage, the writer then
    commits a manifest naming dead files). Aging the directory past the
    window makes it reclaimable."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    inflight = os.path.join(table, "files", "stage-inflight")
    _df(spark, 900, 905).write.parquet(inflight)
    assert m.vacuum(table, keep_last=1) == []  # default 24 h retention
    assert os.path.isdir(inflight)
    # age it past the window -> now it is a crash orphan, reclaimable
    old = os.path.getmtime(inflight) - 48 * 3600
    os.utime(inflight, (old, old))
    assert m.vacuum(table, keep_last=1) == ["stage-inflight"]


def _seed_for(spark, table, writer):
    """Commit v1 (ids 0-2) at `table` and return a call of `writer` that
    stages new files against it."""
    if writer == "replace_partitions":
        m.write_snapshot(
            _df(spark, 0, 3).selectExpr("*", "id % 2 AS p"), table,
            partition_by=["p"],
        )
        return lambda: m.replace_partitions(
            _df(spark, 10, 12).selectExpr("*", "id % 2 AS p"), table, "p"
        )
    if writer == "apply_changes_to_snapshot":
        source = table + "_source"
        m.write_snapshot(_df(spark, 0, 3), source)
        m.apply_changes_to_snapshot(
            m.snapshot_change_feed(spark, source, since=0, until=1),
            table, keys=["id"],
        )
        m.write_snapshot(_df(spark, 10, 12), source, mode="append")
        feed = m.snapshot_change_feed(spark, source, since=1, until=2)
        return lambda: m.apply_changes_to_snapshot(feed, table, keys=["id"])
    m.write_snapshot(_df(spark, 0, 3), table)
    return {
        "write_snapshot": lambda: m.write_snapshot(
            _df(spark, 10, 12), table, mode="append"
        ),
        "merge_snapshot": lambda: m.merge_snapshot(
            _df(spark, 1, 12), table, keys=["id"]
        ),
        "delete_from_snapshot": lambda: m.delete_from_snapshot(
            spark, table, where={"id": 1}
        ),
        "update_snapshot": lambda: m.update_snapshot(
            spark, table, where={"id": 1}, set={"v": 0}
        ),
        "compact_snapshot": lambda: m.compact_snapshot(
            spark, table, target_files=1
        ),
    }[writer]


@pytest.mark.parametrize(
    "writer",
    [
        "write_snapshot",
        "merge_snapshot",
        "replace_partitions",
        "delete_from_snapshot",
        "update_snapshot",
        "apply_changes_to_snapshot",
        "compact_snapshot",
    ],
)
def test_commit_aborts_if_stage_vacuumed_under_writer(
    spark, tmp_path, monkeypatch, writer
):
    """Second half of the vacuum defense: if a rogue vacuum (retention
    misconfigured to 0) reclaims the staged files after the write but
    before the manifest link, the commit must abort — a manifest naming
    deleted files would poison the latest version for every reader.
    Every writer commits through the same check."""
    import shutil as _sh

    table = str(tmp_path / "t")
    run = _seed_for(spark, table, writer)
    real_carry = m._carry_watermark

    def vacuum_midway(base_man):
        # runs inside the commit, after staging and just before the link
        for name in os.listdir(os.path.join(table, "files")):
            d = os.path.join(table, "files", name)
            if not any(
                e["path"].startswith(name + "/")
                for e in m._entries(m._read_manifest(table, 1))
            ):
                _sh.rmtree(d)
        return real_carry(base_man)

    monkeypatch.setattr(m, "_carry_watermark", vacuum_midway)
    with pytest.raises(RuntimeError, match="vanished"):
        run()
    monkeypatch.undo()
    # table is undamaged: latest version still the intact v1
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2]


def test_commit_race_single_winner_and_retry(spark, tmp_path):
    """Optimistic concurrency: if another writer claims the next version
    between log read and link, the loser gets EEXIST and retries onto the
    following version — no manifest is ever silently replaced."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    # a rival claims v2 out from under the writer
    rival = {
        "version": 2,
        "parent": 1,
        "mode": "overwrite",
        "schema": _df(spark, 0, 1).schema.json(),
        "files": m._read_manifest(table, 1)["files"],
        "num_files": 1,
    }
    assert m.get_commit_store().put_if_absent(
        m._manifest_path(table, 2), json.dumps(rival).encode()
    )
    v = m.write_snapshot(_df(spark, 50, 52), table)
    assert v == 3
    assert _ids(m.read_snapshot(spark, table)) == [50, 51]
    assert _ids(m.read_snapshot(spark, table, version=2)) == [0, 1, 2]


def test_vacuum_drops_old_versions_keeps_retained_readable(spark, tmp_path):
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)
    m.write_snapshot(_df(spark, 10, 12), table)
    m.write_snapshot(_df(spark, 20, 23), table, mode="append")
    m.vacuum(table, keep_last=2)
    # v1's manifest is gone; v2 and v3 stay fully readable. v3 (append)
    # still references v2's data, which vacuum must therefore retain.
    with pytest.raises(FileNotFoundError):
        m.read_snapshot(spark, table, version=1)
    assert _ids(m.read_snapshot(spark, table, version=2)) == [10, 11]
    assert _ids(m.read_snapshot(spark, table)) == [10, 11, 20, 21, 22]


def test_read_empty_table_and_bad_mode(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        m.read_snapshot(spark, str(tmp_path / "missing"))
    with pytest.raises(ValueError):
        m.write_snapshot(_df(spark, 0, 1), str(tmp_path / "t"), mode="merge")


def test_append_schema_drift_fails_loudly(spark, tmp_path):
    """Mixing schemas under one manifest would silently null-fill on read
    (explicit-schema parquet scan) — append must refuse instead."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    widened = _df(spark, 5, 7).selectExpr("id", "v", "v + 1 AS extra")
    with pytest.raises(ValueError, match="schema"):
        m.write_snapshot(widened, table, mode="append")
    # schema CHANGE ships as an overwrite snapshot — and the narrow v1
    # stays time-travel readable with ITS schema
    m.write_snapshot(widened, table)
    assert m.read_snapshot(spark, table).columns == ["id", "v", "extra"]
    assert m.read_snapshot(spark, table, version=1).columns == ["id", "v"]


def test_merge_snapshot_upsert_and_idempotent_replay(spark, tmp_path):
    """Keyed upsert: matched keys replaced, others carried forward, result
    one atomic snapshot; replaying the same merge changes nothing."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 4), table)  # ids 0..3, v = 2*id
    patch = spark.range(2, 6).selectExpr("id", "id * 100 AS v")  # upd 2,3; ins 4,5
    v = m.merge_snapshot(patch, table, keys=["id"])
    got = {r.id: r.v for r in m.read_snapshot(spark, table).collect()}
    assert got == {0: 0, 1: 2, 2: 200, 3: 300, 4: 400, 5: 500}
    v2 = m.merge_snapshot(patch, table, keys=["id"])  # replay
    assert v2 == v + 1
    got2 = {r.id: r.v for r in m.read_snapshot(spark, table).collect()}
    assert got2 == got
    # pre-merge table still pinned at version 1 (time travel)
    assert {r.id for r in m.read_snapshot(spark, table, version=1).collect()} == {0, 1, 2, 3}


def test_merge_snapshot_bootstrap_and_schema_guard(spark, tmp_path):
    table = str(tmp_path / "t")
    assert m.merge_snapshot(_df(spark, 0, 2), table, keys=["id"]) == 1
    with pytest.raises(ValueError, match="schema"):
        m.merge_snapshot(
            _df(spark, 0, 1).selectExpr("id"), table, keys=["id"]
        )


def test_compact_snapshot_bounds_files_and_preserves_data(spark, tmp_path):
    """OPTIMIZE: many append-era small files rewrite into target_files in
    ONE new version; the data is unchanged, the pre-compaction version
    stays readable until vacuumed, and vacuum then reclaims the small
    files without touching the compacted ones."""
    table = str(tmp_path / "t")
    # simulate the streaming shape: many tiny appended versions
    for lo in range(0, 50, 10):
        m.write_snapshot(
            _df(spark, lo, lo + 10).repartition(4),
            table,
            mode="append" if lo else "overwrite",
        )
    before = m.snapshots(table)[-1]
    assert before["num_files"] >= 15
    v = m.compact_snapshot(spark, table, target_files=3)
    after = m._read_manifest(table, v)
    assert after["num_files"] <= 3
    assert _ids(m.read_snapshot(spark, table)) == list(range(50))
    # pre-compaction version still readable...
    assert _ids(m.read_snapshot(spark, table, version=v - 1)) == list(range(50))
    # ...until vacuum, which must keep the compacted version intact
    m.vacuum(table, keep_last=1)
    assert _ids(m.read_snapshot(spark, table)) == list(range(50))


def _pdf(spark, rows):
    """(day, id, v) rows for partition tests."""
    return spark.createDataFrame(rows, "day string, id bigint, v bigint")


def test_partitioned_snapshot_roundtrip_and_partition_prune(spark, tmp_path):
    """A date-partitioned snapshot records per-file partition values in
    the manifest, and a one-partition read OPENS ONLY that partition's
    files (pinned via inputFiles on the returned frame — this is the scan
    bound that makes the snapshot path usable for a 100 TB partitioned
    silver table, not just small marts)."""
    table = str(tmp_path / "t")
    rows = [(f"2017-01-0{d}", d * 10 + i, d) for d in (1, 2, 3) for i in range(3)]
    m.write_snapshot(_pdf(spark, rows), table, partition_by=["day"])
    full = m.read_snapshot(spark, table)
    assert full.columns == ["day", "id", "v"]
    assert full.count() == 9
    one = m.read_snapshot(spark, table, where={"day": "2017-01-02"})
    assert sorted(r.id for r in one.collect()) == [20, 21, 22]
    # the pruning pin: only day=2017-01-02 files were handed to the scan
    opened = one.inputFiles()
    assert opened and all("day=2017-01-02" in f for f in opened)
    all_files = full.inputFiles()
    assert len(opened) < len(all_files)


def test_partitioned_append_and_range_prune(spark, tmp_path):
    table = str(tmp_path / "t")
    m.write_snapshot(
        _pdf(spark, [("2017-01-01", 1, 1), ("2017-01-02", 2, 2)]),
        table,
        partition_by=["day"],
    )
    m.write_snapshot(
        _pdf(spark, [("2017-01-02", 3, 3), ("2017-01-03", 4, 4)]),
        table,
        mode="append",
        partition_by=["day"],
    )
    got = m.read_snapshot(
        spark, table, where={"day": ("2017-01-02", "2017-01-03")}
    )
    assert sorted(r.id for r in got.collect()) == [2, 3, 4]
    assert all(
        "day=2017-01-02" in f or "day=2017-01-03" in f
        for f in got.inputFiles()
    )
    # appending with different partitioning must refuse
    with pytest.raises(ValueError, match="partitioning"):
        m.write_snapshot(
            _pdf(spark, [("x", 9, 9)]), table, mode="append"
        )


def test_stats_file_skipping_on_data_column(spark, tmp_path):
    """Footer min/max stats recorded at commit time let a `where` on a
    NON-partition column skip files whose range can't match — pinned via
    inputFiles, with the residual filter keeping the result exact."""
    table = str(tmp_path / "t")
    low = spark.range(0, 1000).selectExpr("id", "id AS v").coalesce(1)
    high = spark.range(100000, 101000).selectExpr("id", "id AS v").coalesce(1)
    m.write_snapshot(low, table)
    m.write_snapshot(high, table, mode="append")
    entry_stats = [
        e["stats"]["v"]
        for e in m._entries(m._read_manifest(table, 2))
    ]
    assert [0, 999] in entry_stats and [100000, 100999] in entry_stats
    hit = m.read_snapshot(spark, table, where={"v": (100500, 100510)})
    assert hit.count() == 11
    assert len(hit.inputFiles()) == 1  # the low file was never listed
    miss = m.read_snapshot(spark, table, where={"v": (2000, 3000)})
    assert miss.count() == 0
    with pytest.raises(KeyError, match="where"):
        m.read_snapshot(spark, table, where={"nope": 1})


def test_expected_parent_conflict_guard(spark, tmp_path):
    """The CAS pin: a commit expecting parent v1 must raise (and publish
    nothing) once a concurrent writer has moved the table to v2."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)
    m.write_snapshot(_df(spark, 10, 12), table, mode="append")  # v2
    with pytest.raises(m.SnapshotConflict):
        m.write_snapshot(_df(spark, 50, 52), table, expected_parent=1)
    assert [s["version"] for s in m.snapshots(table)] == [1, 2]
    # the aborted commit's stage directory is cleaned up, not orphaned
    stages = os.listdir(os.path.join(table, "files"))
    referenced = {
        e["path"].split("/", 1)[0]
        for e in m._entries(m._read_manifest(table, 2))
    }
    assert set(stages) == referenced


def test_merge_reruns_on_concurrent_commit_no_lost_update(
    spark, tmp_path, monkeypatch
):
    """The lost-update race ADVICE r8 flagged: a concurrent append lands
    between merge_snapshot's read and its write. The expected_parent pin
    makes the stale commit fail, and the merge re-runs against the new
    tip — the concurrent rows survive."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 4), table)  # ids 0..3
    real_read = m.read_snapshot
    fired = {"n": 0}

    def racy_read(spark_, table_, version=None, where=None):
        out = real_read(spark_, table_, version=version, where=where)
        if fired["n"] == 0:
            fired["n"] = 1
            # concurrent append commits AFTER the merge captured its base
            m.write_snapshot(
                _df(spark, 100, 101), table_, mode="append"
            )
        return out

    monkeypatch.setattr(m, "read_snapshot", racy_read)
    patch = spark.range(2, 6).selectExpr("id", "id * 100 AS v")
    m.merge_snapshot(patch, table, keys=["id"])
    monkeypatch.undo()
    got = {r.id: r.v for r in m.read_snapshot(spark, table).collect()}
    # the concurrently-appended id=100 row is PRESENT, the patch applied
    assert got == {0: 0, 1: 2, 2: 200, 3: 300, 4: 400, 5: 500, 100: 200}


def test_compact_partitioned_bounds_files_per_partition(spark, tmp_path):
    """Partitioned OPTIMIZE: each hive partition compacts to at most
    target_files files (not target_files TOTAL — a global coalesce would
    funnel a 100 TB table through that many tasks), and the result is
    still partition-prunable."""
    table = str(tmp_path / "t")
    for batch in range(4):  # streaming shape: 4 appends x 2 days x 2 files
        rows = [
            (day, batch * 100 + int(day[-1]) * 10 + i, batch)
            for day in ("2017-01-01", "2017-01-02")
            for i in range(4)
        ]
        m.write_snapshot(
            _pdf(spark, rows).repartition(2),
            table,
            mode="append" if batch else "overwrite",
            partition_by=["day"],
        )
    per_part_before = {}
    for e in m._entries(m._read_manifest(table, 4)):
        per_part_before[e["partition"]["day"]] = (
            per_part_before.get(e["partition"]["day"], 0) + 1
        )
    assert all(n >= 8 for n in per_part_before.values())
    v = m.compact_snapshot(spark, table, target_files=2)
    per_part = {}
    for e in m._entries(m._read_manifest(table, v)):
        per_part[e["partition"]["day"]] = (
            per_part.get(e["partition"]["day"], 0) + 1
        )
    assert set(per_part) == {"2017-01-01", "2017-01-02"}
    assert all(n <= 2 for n in per_part.values())
    before = {(r.day, r.id, r.v) for r in m.read_snapshot(spark, table, version=4).collect()}
    after = {(r.day, r.id, r.v) for r in m.read_snapshot(spark, table).collect()}
    assert before == after
    pruned = m.read_snapshot(spark, table, where={"day": "2017-01-01"})
    assert all("day=2017-01-01" in f for f in pruned.inputFiles())


def test_compact_zorder_enables_2d_stats_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER: after zorder_by compaction the manifest's footer
    stats are tight on BOTH dimensions, so a 2-D box predicate through
    read_snapshot(where=...) skips files multiplicatively — under the
    natural single-column layout the second dimension prunes nothing.
    Same where, same rows, fewer files opened: layout, not semantics."""
    table = str(tmp_path / "t")
    df = spark.range(8192).selectExpr(
        "id",
        "CAST(id % 32 AS BIGINT) AS day",
        "CAST((id * 2654435761) % 256 AS BIGINT) AS user",
    )
    m.write_snapshot(
        df.repartitionByRange(16, "day").sortWithinPartitions("day"), table
    )
    where = {"day": (0, 31), "user": (64, 71)}  # full days, thin user slice
    before = m.read_snapshot(spark, table, where=where)
    n_expected = before.count()
    assert n_expected > 0
    assert len(before.inputFiles()) == 16  # day layout cannot prune user
    m.compact_snapshot(spark, table, target_files=16, zorder_by=("day", "user"))
    after = m.read_snapshot(spark, table, where=where)
    assert after.count() == n_expected
    assert len(after.inputFiles()) <= 8  # multiplicative skip via stats

    pt = str(tmp_path / "p")
    m.write_snapshot(_pdf(spark, [("a", 1, 1)]), pt, partition_by=["day"])
    with pytest.raises(ValueError, match="zorder"):
        m.compact_snapshot(spark, pt, zorder_by=("id", "v"))


def test_schema_metadata_survives_snapshot_roundtrip(spark, tmp_path):
    """Column metadata rides the manifest's schema JSON — the property the
    self-sizing bloom filter depends on to carry (m_bits, n_hashes) through
    a lake publish (bloom_probe now refuses to guess a stripped domain)."""
    from clinical_search_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    members = [f"gram {i}" for i in range(2000)]
    vals = spark.createDataFrame([(g,) for g in members], "gram string")
    bloom = bloom_build(vals, "gram")
    table = str(tmp_path / "bloom")
    m.write_snapshot(bloom, table)
    back = m.read_snapshot(spark, table)
    assert dict(back.schema["bits"].metadata) == dict(
        bloom.schema["bits"].metadata
    )
    assert bloom_probe(vals, "gram", back).count() == len(members)


def test_snapshot_changes_incremental_reads(spark, tmp_path):
    """snapshot_changes: a downstream consumer that processed up to
    version N reads ONLY what later appends added (scanning only the new
    files), and a history-rewriting commit in the range refuses instead of
    returning wrong deltas."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table)                 # v1
    m.write_snapshot(_df(spark, 10, 12), table, mode="append")  # v2
    m.write_snapshot(_df(spark, 20, 24), table, mode="append")  # v3
    delta = m.snapshot_changes(spark, table, since=1)
    assert _ids(delta) == [10, 11, 20, 21, 22, 23]
    assert _ids(m.snapshot_changes(spark, table, since=2, until=3)) == [
        20, 21, 22, 23,
    ]
    assert m.snapshot_changes(spark, table, since=3).count() == 0
    # only v2+v3's files are scanned for the (1, 3] delta
    v1_files = {e["path"] for e in m._entries(m._read_manifest(table, 1))}
    opened = {f.split("/files/", 1)[1] for f in delta.inputFiles()}
    assert not (opened & v1_files)
    # an overwrite in the range rewrites history -> refuse
    m.write_snapshot(_df(spark, 50, 52), table)               # v4 overwrite
    with pytest.raises(ValueError, match="append"):
        m.snapshot_changes(spark, table, since=2)
    with pytest.raises(FileNotFoundError):
        m.snapshot_changes(spark, table, since=99)


def test_snapshot_changes_partitioned(spark, tmp_path):
    table = str(tmp_path / "t")
    m.write_snapshot(
        _pdf(spark, [("2017-01-01", 1, 1)]), table, partition_by=["day"]
    )
    m.write_snapshot(
        _pdf(spark, [("2017-01-02", 2, 2), ("2017-01-03", 3, 3)]),
        table,
        mode="append",
        partition_by=["day"],
    )
    delta = m.snapshot_changes(spark, table, since=1)
    got = {(r.day, r.id) for r in delta.collect()}
    assert got == {("2017-01-02", 2), ("2017-01-03", 3)}


def test_replace_partitions_relinks_untouched_files(spark, tmp_path):
    """replaceWhere: the backfilled day's files are NEW, every other
    partition's files are carried forward BY REFERENCE (path-identical in
    the new manifest — a one-day correction never rewrites the table);
    the pre-backfill version stays pinnable; stray rows and wrong
    partitioning refuse; snapshot_changes refuses across the rewrite."""
    table = str(tmp_path / "t")
    rows = [(f"2017-01-0{d}", d * 10 + i, d) for d in (1, 2, 3) for i in range(3)]
    m.write_snapshot(_pdf(spark, rows), table, partition_by=["day"])
    before = {e["path"]: e["partition"] for e in m._entries(m._read_manifest(table, 1))}

    patch = _pdf(spark, [("2017-01-02", 99, 99)])
    v = m.replace_partitions(patch, table, "day")
    assert v == 2
    after = {e["path"]: e["partition"] for e in m._entries(m._read_manifest(table, 2))}
    kept_before = {p for p, part in before.items() if part["day"] != "2017-01-02"}
    kept_after = {p for p, part in after.items() if part["day"] != "2017-01-02"}
    assert kept_before == kept_after  # untouched partitions: same files
    new_day2 = {p for p, part in after.items() if part["day"] == "2017-01-02"}
    old_day2 = {p for p, part in before.items() if part["day"] == "2017-01-02"}
    assert new_day2 and not (new_day2 & old_day2)

    got = {(r.day, r.id) for r in m.read_snapshot(spark, table).collect()}
    assert got == {("2017-01-01", 10), ("2017-01-01", 11), ("2017-01-01", 12),
                   ("2017-01-02", 99),
                   ("2017-01-03", 30), ("2017-01-03", 31), ("2017-01-03", 32)}
    assert m.read_snapshot(spark, table, version=1).count() == 9  # pinnable

    with pytest.raises(ValueError, match="outside the replaced"):
        m.replace_partitions(patch, table, "day", values=["2017-01-03"])
    # null partition values are stray too (NULL.isin is NULL — the
    # null-safe check must still catch it)
    null_patch = _pdf(spark, [("2017-01-02", 1, 1)]).selectExpr(
        "CAST(NULL AS STRING) AS day", "id", "v"
    )
    with pytest.raises(ValueError, match="outside the replaced"):
        m.replace_partitions(null_patch, table, "day", values=["2017-01-02"])
    flat = str(tmp_path / "flat")
    m.write_snapshot(_pdf(spark, rows), flat)  # unpartitioned
    with pytest.raises(ValueError, match="partitioned by"):
        m.replace_partitions(patch, flat, "day")
    with pytest.raises(FileNotFoundError):
        m.replace_partitions(patch, str(tmp_path / "missing"), "day")
    with pytest.raises(ValueError, match="append"):
        m.snapshot_changes(spark, table, since=1)  # replace rewrote history


# ---------------------------------------------------------------------------
# Delta log: per-commit delta manifests, checkpoint sidecars, tip pointer
# (VERDICT r11 #2 — commit metadata cost must be O(changed files) now that
# the streaming/CDC paths commit per micro-batch)


def _stored(table, v):
    return m._read_stored(table, v)


def test_appends_store_deltas_and_periodic_checkpoints(
    spark, tmp_path, monkeypatch
):
    """N appends produce N delta commit files (O(increment) JSON each)
    plus floor(N/K) checkpoint sidecars; every version still reads
    identically to the full-manifest design."""
    monkeypatch.setattr(m, "CHECKPOINT_INTERVAL", 3)
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)  # v1: full (first commit)
    n_appends = 7
    for i in range(n_appends):  # v2..v8
        m.write_snapshot(
            _df(spark, 10 * (i + 1), 10 * (i + 1) + 2), table, mode="append"
        )
    assert "files" in _stored(table, 1)  # first commit is full
    for v in range(2, 2 + n_appends):  # every append stored as a delta
        st = _stored(table, v)
        assert "files" not in st and "delta" in st, f"v{v} not a delta"
        assert st["delta"]["vs"] == v - 1
        assert st["delta"]["remove"] == []
        assert len(st["delta"]["add"]) >= 1
    # sidecars at the K-multiples among the delta commits: v3, v6
    cps = m.get_commit_store().list(os.path.join(table, "_checkpoints"))
    assert cps == ["v00000003.json", "v00000006.json"]
    # materialization through the chain is exact at every version
    for v in range(1, 2 + n_appends):
        want = [0, 1] + [
            x for i in range(v - 1) for x in (10 * (i + 1), 10 * (i + 1) + 1)
        ]
        assert _ids(m.read_snapshot(spark, table, version=v)) == sorted(want)


def test_delta_commit_json_is_o_increment(spark, tmp_path):
    """The scale property itself: append commit JSON size must not grow
    with the live-file count — a table with many live files appends the
    same few bytes as a small one."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)
    sizes = []
    for i in range(6):
        v = m.write_snapshot(
            _df(spark, 100 + i, 101 + i).repartition(4),
            table,
            mode="append",
        )
        sizes.append(len(m.get_commit_store().get(m._manifest_path(table, v))))
    # live files grow ~4x per append; stored JSON stays flat (each append
    # stages the same number of files)
    assert max(sizes) <= sizes[0] * 1.5, sizes


def test_tip_pointer_resolves_without_listing(spark, tmp_path, monkeypatch):
    """Tip resolution goes through the hint + forward probe: with the
    directory listing disabled entirely, reads and appends still work."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)
    m.write_snapshot(_df(spark, 10, 12), table, mode="append")

    def no_listing(t):
        raise AssertionError("hot path listed the manifest directory")

    monkeypatch.setattr(m, "_versions", no_listing)
    assert m.latest_version(table) == 2
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 10, 11]
    v3 = m.write_snapshot(_df(spark, 20, 21), table, mode="append")
    assert v3 == 3
    monkeypatch.undo()


def test_tip_hint_lags_probe_recovers(spark, tmp_path):
    """The hint is an accelerator, not truth: a stale (lagging) hint must
    not hide newer committed versions."""
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)
    m.write_snapshot(_df(spark, 10, 12), table, mode="append")
    hint = os.path.join(table, "_manifests", "_tip.json")
    store = m.get_commit_store()
    store.put(hint, json.dumps({"version": 1}).encode())  # regress the hint
    assert m._tip(table) == 2  # forward probe recovers
    store.put(hint, b"not json")  # corrupt hint falls back to listing
    assert m._tip(table) == 2


def test_vacuum_checkpoints_retained_delta_then_reclaims_chain(
    spark, tmp_path, monkeypatch
):
    """Vacuum about to unlink a retained delta commit's chain writes the
    checkpoint sidecar first: the kept versions stay fully readable, the
    superseded delta commit files and stale sidecars are reclaimed."""
    monkeypatch.setattr(m, "CHECKPOINT_INTERVAL", 100)  # no cadence help
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)
    for i in range(5):  # v2..v6, all deltas chaining to v1
        m.write_snapshot(_df(spark, 10 + i, 11 + i), table, mode="append")
    assert all("delta" in _stored(table, v) for v in range(2, 7))
    m.vacuum(table, keep_last=2, retention_seconds=0)
    # v1..v4 commit files gone, v5/v6 retained
    assert sorted(
        n for n in m.get_commit_store().list(os.path.join(table, "_manifests"))
        if n.startswith("v")
    ) == ["v00000005.json", "v00000006.json"]
    # v5 (oldest kept, a delta whose chain was cut) got a sidecar
    assert m.get_commit_store().exists(m._checkpoint_path(table, 5))
    # both retained versions still read exactly
    m._MATERIALIZE_CACHE.clear()  # force resolution from disk
    assert _ids(m.read_snapshot(spark, table, version=5)) == [
        0, 1, 10, 11, 12, 13,
    ]
    assert _ids(m.read_snapshot(spark, table, version=6)) == [
        0, 1, 10, 11, 12, 13, 14,
    ]
    # a second vacuum with keep_last=1 reclaims v5's now-superseded sidecar
    m.vacuum(table, keep_last=1, retention_seconds=0)
    assert not m.get_commit_store().exists(m._checkpoint_path(table, 5))
    assert m.get_commit_store().exists(m._checkpoint_path(table, 6))
    m._MATERIALIZE_CACHE.clear()
    assert _ids(m.read_snapshot(spark, table)) == [
        0, 1, 10, 11, 12, 13, 14,
    ]


def test_delete_update_replace_store_touched_file_deltas(spark, tmp_path):
    """The O(touched-files) DML commits store deltas too: removed paths +
    replacement entries, never the carried file list."""
    table = str(tmp_path / "t")
    m.write_snapshot(
        _df(spark, 0, 100).repartition(8), table
    )
    v, n = m.delete_from_snapshot(spark, table, where={"id": (0, 4)})
    assert n == 5
    st = _stored(table, v)
    assert "delta" in st and "files" not in st
    assert len(st["delta"]["remove"]) < 8  # only stats-touched files
    v, n = m.update_snapshot(
        spark, table, where={"id": (90, 94)}, set={"v": 0}
    )
    assert n == 5
    st = _stored(table, v)
    assert "delta" in st and "files" not in st
    # merge rewrites the table: full commit (its own natural checkpoint)
    v = m.merge_snapshot(
        _df(spark, 5, 7), table, keys=["id"]
    )
    assert "files" in _stored(table, v)


# ---------------------------------------------------------------------------
# Write-time expectations (VERDICT r11 #5 — the reference's GE TODO)


def test_expectation_fail_refuses_publish_old_version_live(spark, tmp_path):
    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 3), table, expect={"id_nonneg": "id >= 0"})
    # the passing publish recorded zero violations (evidence it ran)
    assert m._read_stored(table, 1)["expectations"] == {"id_nonneg": 0}
    bad = spark.createDataFrame([(5, 10), (-1, -2)], "id long, v long")
    with pytest.raises(m.ExpectationViolation, match="id_nonneg"):
        m.write_snapshot(
            bad, table, mode="append", expect={"id_nonneg": "id >= 0"}
        )
    # nothing committed: the previous version stays live and is the tip
    assert m.latest_version(table) == 1
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2]


def test_expectation_null_counts_as_violation(spark, tmp_path):
    """Stricter than SQL CHECK on purpose: a NULL predicate result is a
    violation — a quality gate that lets NULL slide ships null keys."""
    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2), (None, 4)], "id long, v long")
    with pytest.raises(m.ExpectationViolation):
        m.write_snapshot(df, table, expect={"id_pos": "id > 0"})


def test_expectation_quarantine_captures_exactly_violators(spark, tmp_path):
    import pyspark.sql.functions as F

    table = str(tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id", "id * 2 AS v")
    v = m.write_snapshot(
        df,
        table,
        expect={"id_small": F.col("id") < 7, "v_even": "v % 2 = 0"},
        on_violation="quarantine",
    )
    # passing rows published; counts recorded in the manifest
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2, 3, 4, 5, 6]
    assert m._read_stored(table, v)["expectations"] == {
        "id_small": 3, "v_even": 0,
    }
    q = m.read_snapshot(spark, m.quarantine_table(table))
    rows = {r.id: list(r._violations) for r in q.collect()}
    assert rows == {7: ["id_small"], 8: ["id_small"], 9: ["id_small"]}
    # a second violating publish APPENDS to the quarantine
    df2 = spark.createDataFrame([(100, 1)], "id long, v long")
    m.write_snapshot(
        df2, table, mode="append",
        expect={"id_small": F.col("id") < 7, "v_even": "v % 2 = 0"},
        on_violation="quarantine",
    )
    q2 = m.read_snapshot(spark, m.quarantine_table(table))
    assert q2.count() == 4
    both = {r.id: sorted(r._violations) for r in q2.collect()}
    assert both[100] == ["id_small", "v_even"]
    # the main table is unchanged by the all-violating append
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2, 3, 4, 5, 6]


def test_expectation_survives_schema_evolution(spark, tmp_path):
    """An expectation on a pre-evolution column keeps gating after an
    allow_new_columns append widens the schema — and quarantining keeps
    working across the evolution too."""
    table = str(tmp_path / "t")
    expect = {"v_nonneg": "v >= 0"}
    m.write_snapshot(_df(spark, 0, 3), table, expect=expect)
    widened = spark.createDataFrame(
        [(10, 20, 0.5), (11, -1, 0.9)], "id long, v long, score double"
    )
    v = m.write_snapshot(
        widened, table, mode="append", allow_new_columns=True,
        expect=expect, on_violation="quarantine",
    )
    assert m._read_stored(table, v)["expectations"] == {"v_nonneg": 1}
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2, 10]
    q = m.read_snapshot(spark, m.quarantine_table(table))
    assert [r.id for r in q.collect()] == [11]
    # fail-mode on the widened table still refuses atomically
    with pytest.raises(m.ExpectationViolation):
        m.write_snapshot(
            spark.createDataFrame([(12, -5, 0.1)], widened.schema),
            table, mode="append", allow_new_columns=True, expect=expect,
        )
    assert m.latest_version(table) == v


def test_agg_expectations_gate_table_level_properties(spark, tmp_path):
    """Table-level expectations: boolean aggregates over the publishing
    frame — the key-uniqueness replication precondition checked at the
    SOURCE. False (or NULL) refuses outright even under quarantine mode
    (no row subset can fix a table-level property)."""
    table = str(tmp_path / "t")
    unique = {"keys_unique": "count(DISTINCT id) = count(id)"}
    v = m.write_snapshot(_df(spark, 0, 5), table, expect_agg=unique)
    assert m._read_stored(table, v)["expectations"] == {"keys_unique": 0}
    dup = spark.createDataFrame([(1, 2), (1, 3)], "id long, v long")
    with pytest.raises(m.ExpectationViolation, match="keys_unique"):
        m.write_snapshot(dup, table, mode="append", expect_agg=unique)
    with pytest.raises(m.ExpectationViolation, match="keys_unique"):
        m.write_snapshot(
            dup, table, mode="append", expect_agg=unique,
            on_violation="quarantine",  # no quarantine for table-level
        )
    assert m.latest_version(table) == v  # nothing committed
    # row-level + table-level compose: the agg gate sees the row-gated
    # survivors, so quarantining the dup row lets the publish pass
    mixed = spark.createDataFrame(
        [(7, 1), (8, 1), (8, -1)], "id long, v long"
    )
    v2 = m.write_snapshot(
        mixed, table, mode="append",
        expect={"v_pos": "v > 0"}, on_violation="quarantine",
        expect_agg=unique,
    )
    st = m._read_stored(table, v2)["expectations"]
    assert st == {"v_pos": 1, "keys_unique": 0}
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2, 3, 4, 7, 8]


@pytest.mark.parametrize("param", ["expect", "expect_agg"])
def test_non_predicate_expectation_fails_loudly(spark, tmp_path, param):
    """A predicate that is neither a SQL string nor a Column raises a
    ValueError naming that contract before anything runs: no version, no
    staged files."""
    table = str(tmp_path / "t")
    v = m.write_snapshot(_df(spark, 0, 3), table)
    staged = os.listdir(os.path.join(table, "files"))
    with pytest.raises(ValueError, match="a SQL string or a Column"):
        m.write_snapshot(
            _df(spark, 3, 5), table, mode="append", **{param: {"bad": 42}}
        )
    assert m.latest_version(table) == v
    assert os.listdir(os.path.join(table, "files")) == staged


def test_agg_expectation_is_decided_by_the_exact_aggregate(
    spark, tmp_path, monkeypatch
):
    """A passing table-level gate is decided by `_enforce_agg_expectations`
    (one collected aggregation before staging), never by observed metrics
    that task retries could inflate."""
    calls = []
    exact = m._enforce_agg_expectations

    def spy(df, table, expect_agg):
        calls.append(sorted(expect_agg))
        return exact(df, table, expect_agg)

    monkeypatch.setattr(m, "_enforce_agg_expectations", spy)
    table = str(tmp_path / "t")
    v = m.write_snapshot(
        _df(spark, 0, 3), table, expect_agg={"non_empty": "count(*) >= 1"}
    )
    assert calls == [["non_empty"]]
    assert m._read_stored(table, v)["expectations"] == {"non_empty": 0}
    assert _ids(m.read_snapshot(spark, table)) == [0, 1, 2]


def test_concurrent_appends_single_winner_per_version(spark, tmp_path):
    """The delta log under real concurrency: racing threads appending to
    one table each win exactly one version (create-exclusive link +
    retry), versions stay dense, and the materialized tip folds every
    thread's increment exactly once."""
    import concurrent.futures

    table = str(tmp_path / "t")
    m.write_snapshot(_df(spark, 0, 2), table)

    def append(i):
        df = spark.range(100 * (i + 1), 100 * (i + 1) + 3).selectExpr(
            "id", "id * 2 AS v"
        )
        return m.write_snapshot(df, table, mode="append")

    with concurrent.futures.ThreadPoolExecutor(8) as ex:
        versions = sorted(ex.map(append, range(8)))
    assert versions == list(range(2, 10))  # one winner per version
    want = [0, 1] + [
        x for i in range(8) for x in range(100 * (i + 1), 100 * (i + 1) + 3)
    ]
    m._MATERIALIZE_CACHE.clear()  # resolve purely from the on-disk chain
    assert _ids(m.read_snapshot(spark, table)) == sorted(want)
    # every append stored as a delta vs its actual parent
    for v in range(2, 10):
        st = m._read_stored(table, v)
        assert st["delta"]["vs"] == v - 1
