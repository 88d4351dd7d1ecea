"""Fault injection for the snapshot sink's one optimistic commit
(sinks/manifest._commit), written once and run through each of the seven
writers on tiny tables. Two faults:

* a lost CAS race — a rival commit lands just before the writer's link.
  The writer retries and ends where the no-race reference (rival first,
  then the writer) ends, or, pinned with ``expected_parent``, raises
  `SnapshotConflict`;
* an exception at the commit point, after staging. The tip does not
  move and readers see the old version — unless the link itself landed
  before the raise, in which case the new version stands, readable.

Either way every directory left under ``files/`` is named by a committed
version: a losing or failed attempt leaves nothing behind. A stage-once
writer's retry re-links its staged files, so they are named too. Every
case runs under both commit-log backends.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.sinks import manifest as m


@pytest.fixture(autouse=True)
def _both_commit_backends(commit_backend):
    """Policy and rationale live in tests/conftest.py::commit_backend."""
    yield


class Crash(RuntimeError):
    """The injected fault: the commit point raises."""


def _crash(*args, **kwargs):
    raise Crash("the commit point failed")


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 2 AS p", "id * 2 AS v")


def _rows(spark, table) -> list[tuple]:
    return sorted(map(tuple, m.read_snapshot(spark, table).collect()))


def _unreferenced(table) -> list[str]:
    """Directories under files/ that no committed version names."""
    named = set()
    for v in m._versions(table):
        man = m._read_manifest(table, v)
        named |= {e["path"].split("/", 1)[0] for e in m._entries(man)}
        cdf = man.get("cdf") or {}
        if cdf.get("kind") == "rows":
            named.add(cdf["dir"])
    return sorted(set(os.listdir(os.path.join(table, m._FILES_DIR))) - named)


def _seed(spark, table, writer):
    """Commit v1 (ids 0-3, partitioned by p) and return the writer's call
    against it. The CDC apply's table is a replica of a source table."""
    if writer != "apply_changes_to_snapshot":
        m.write_snapshot(_df(spark, 0, 4), table, partition_by=["p"])
    calls = {
        "write_snapshot": lambda: m.write_snapshot(
            _df(spark, 10, 12), table, mode="append", partition_by=["p"]
        ),
        "write_snapshot[pinned]": lambda: m.write_snapshot(
            _df(spark, 10, 12), table, mode="append", partition_by=["p"],
            expected_parent=1,
        ),
        "merge_snapshot": lambda: m.merge_snapshot(
            _df(spark, 2, 6).withColumn("v", F.col("v") * 100),
            table, keys=["id"],
        ),
        "replace_partitions": lambda: m.replace_partitions(
            _df(spark, 20, 24).filter("p = 0"), table, "p"
        ),
        "delete_from_snapshot": lambda: m.delete_from_snapshot(
            spark, table, where={"id": (0, 1)}
        ),
        "update_snapshot": lambda: m.update_snapshot(
            spark, table, where={"id": 2}, set={"v": F.col("v") + 1}
        ),
        "compact_snapshot": lambda: m.compact_snapshot(
            spark, table, target_files=1
        ),
    }
    if writer in calls:
        return calls[writer]
    source = table + "_source"
    m.write_snapshot(_df(spark, 0, 4), source)
    m.apply_changes_to_snapshot(
        m.snapshot_change_feed(spark, source, since=0, until=1),
        table, keys=["id"],
    )
    m.merge_snapshot(_df(spark, 3, 12), source, keys=["id"])
    feed = m.snapshot_change_feed(spark, source, since=1, until=2)
    return lambda: m.apply_changes_to_snapshot(feed, table, keys=["id"])


def _rival(spark, table) -> int:
    """Another writer's append to `table`."""
    pb = m._read_manifest(table, m.latest_version(table))["partition_by"]
    return m.write_snapshot(
        _df(spark, 100, 102), table, mode="append", partition_by=pb
    )


WRITERS = [
    "write_snapshot",
    "write_snapshot[pinned]",
    "merge_snapshot",
    "replace_partitions",
    "delete_from_snapshot",
    "update_snapshot",
    "apply_changes_to_snapshot",
    "compact_snapshot",
]


@pytest.mark.parametrize("writer", WRITERS)
def test_lost_cas_race(spark, tmp_path, monkeypatch, writer):
    """The rival lands just before the writer links: the writer retries
    against the rival's version (or, pinned, raises) and no directory of
    the losing attempt remains."""
    table = str(tmp_path / "t")
    run = _seed(spark, table, writer)
    reference = str(tmp_path / "reference")
    run_reference = _seed(spark, reference, writer)
    _rival(spark, reference)

    commit_manifest = m._commit_manifest
    raced = []

    def rival_first(table_, version, manifest, delta=None):
        if not raced:
            raced.append(None)  # the rival's own link passes straight on
            raced[0] = _rival(spark, table_)
        return commit_manifest(table_, version, manifest, delta)

    monkeypatch.setattr(m, "_commit_manifest", rival_first)
    if writer == "write_snapshot[pinned]":
        with pytest.raises(m.SnapshotConflict):
            run()
        assert m.latest_version(table) == raced[0]
    else:
        run()
        run_reference()
        assert m.latest_version(table) == raced[0] + 1
    assert _rows(spark, table) == _rows(spark, reference)
    assert _unreferenced(table) == []


@pytest.mark.parametrize("writer", WRITERS)
def test_exception_at_the_commit_point(spark, tmp_path, monkeypatch, writer):
    """The commit point raises after the writer staged its files: the tip
    does not move, readers see the old version, and the staged
    directories are gone."""
    table = str(tmp_path / "t")
    run = _seed(spark, table, writer)
    version, before = m.latest_version(table), _rows(spark, table)
    with monkeypatch.context() as patched:
        patched.setattr(m, "_commit_manifest", _crash)
        with pytest.raises(Crash):
            run()
    assert m.latest_version(table) == version
    assert _rows(spark, table) == before
    assert _unreferenced(table) == []


@pytest.mark.parametrize(
    "writer, where",
    [
        ("delete_from_snapshot", {"id": (0, 1)}),
        ("update_snapshot", {"id": 2}),
    ],
)
def test_lost_race_to_a_rival_delete_of_the_same_rows(
    spark, tmp_path, monkeypatch, writer, where
):
    """A rival deletes the rows the writer matched just before its link:
    the re-plan finds nothing to touch, so the writer commits nothing and
    reports zero rows at the rival's version."""
    table = str(tmp_path / "t")
    run = _seed(spark, table, writer)
    commit_manifest = m._commit_manifest
    raced = []

    def rival_first(table_, version, manifest, delta=None):
        if not raced:
            raced.append(None)  # the rival's own link passes straight on
            raced[0] = m.delete_from_snapshot(spark, table_, where=where)[0]
        return commit_manifest(table_, version, manifest, delta)

    monkeypatch.setattr(m, "_commit_manifest", rival_first)
    assert run() == (raced[0], 0)
    assert m.latest_version(table) == raced[0]
    assert _unreferenced(table) == []


@pytest.mark.parametrize("writer", WRITERS)
def test_exception_after_the_link_landed(spark, tmp_path, monkeypatch, writer):
    """The commit point raises after the manifest link landed (here: the
    tip hint write): the new version is the tip, reads like the no-fault
    reference, and its staged files survive the writer's cleanup."""
    table = str(tmp_path / "t")
    run = _seed(spark, table, writer)
    reference = str(tmp_path / "reference")
    _seed(spark, reference, writer)()
    version = m.latest_version(table)
    with monkeypatch.context() as patched:
        patched.setattr(m, "_write_tip_hint", _crash)
        with pytest.raises(Crash):
            run()
    assert m.latest_version(table) == version + 1
    assert _rows(spark, table) == _rows(spark, reference)
    man = m._read_manifest(table, version + 1)
    linked = [e["path"] for e in m._entries(man)]
    if (man.get("cdf") or {}).get("kind") == "rows":
        linked.append(man["cdf"]["dir"])
    for path in linked:
        assert os.path.exists(os.path.join(table, m._FILES_DIR, path))
    assert _unreferenced(table) == []
