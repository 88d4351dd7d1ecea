"""Fault injection for the pinned-table-set protocol
(sinks/manifest.publish_pins / read_pins), written once and run through
each publisher that uses it: the cold marts (`_mart_meta`), the ANN index
(`meta`) and the gate indexes (`meta`). Every case drives the publisher's
public entry points on tiny member tables and checks what its public
reader resolves:

* a torn member write (a member moves, the pin does not);
* a crash after the members commit but before the pin;
* a lost CAS race (a rival pin lands between the read and the pin);
* a crashed append replayed, which must duplicate nothing.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.jobs import pipelines
from clinical_search_data_pipeline_spark.operators import ann_index as ai
from clinical_search_data_pipeline_spark.sinks import manifest as m
from clinical_search_data_pipeline_spark.sources.readers import read_table
from tests.conftest import SF_SMOKE


class Crash(RuntimeError):
    """The injected fault: the publisher dies at this point."""


def _crash(*args, **kwargs):
    raise Crash("died before the pin")


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


class Marts:
    """Full ETL: every member overwritten, pinned without a CAS. Update:
    the one-day backfill, which replaces partitions and CAS-pins the
    folded set, retrying a lost race."""

    meta = pipelines.MART_META_TABLE
    member = "daily"
    appends = None  # neither entry point appends

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.events = spark.createDataFrame(
            [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-02", 3)],
            "event_date string, n int",
        )

    @staticmethod
    def builders(k: int):
        return {
            "daily": lambda ev: ev.groupBy("event_date").agg(
                (F.sum("n") * k).alias("total")
            ),
            "overall": lambda ev: ev.agg((F.sum("n") * k).alias("total")),
        }

    def publish(self, k: int = 1) -> None:
        pipelines.mart_etl_job(
            self.events, self.root, builders=self.builders(k), snapshot=True
        )

    def update(self) -> None:
        pipelines.mart_etl_incremental_job(
            self.events, self.root, ("2024-01-02",),
            builders=self.builders(10), snapshot=True,
        )

    def view(self) -> dict:
        got: dict = {}
        pipelines.mart_load_job(
            self.spark, self.root, ("daily", "overall"),
            sink=lambda df, t: got.__setitem__(t, _rows(df)),
            snapshot=True,
        )
        return got

    def tear(self) -> None:
        m.write_snapshot(
            self.builders(7)["daily"](self.events),
            f"{self.root}/daily",
            mode="overwrite",
            partition_by=["event_date"],
        )


class Ann:
    """Full publish: `write_ann_index` (members from a thread pool, pin
    without a CAS). Update: `add_to_ann_index`, a `lists` append against
    the pinned version and a CAS pin."""

    meta = ai.META_TABLE
    member = "lists"
    appends = "lists"
    rows_after_update = 500  # every sf0.001 vector, once

    def __init__(self, spark, root, emb):
        self.spark, self.root, self.emb = spark, root, emb

    def publish(self, k: int = 1) -> None:
        base = self.emb.filter(F.col("vec_id") < 300 - 20 * (k - 1))
        ai.write_ann_index(ai.build_ann_index(base, train_rounds=0), self.root)

    def update(self) -> None:
        ai.add_to_ann_index(
            self.spark, self.root, self.emb.filter(F.col("vec_id") >= 300)
        )

    def view(self) -> dict:
        idx = ai.read_ann_index(self.spark, self.root)
        return {t: _rows(df) for t, df in idx.items()}

    def tear(self) -> None:
        lists = m.read_snapshot(self.spark, f"{self.root}/lists")
        m.write_snapshot(lists.limit(10), f"{self.root}/lists", mode="overwrite")


class GateIndexes:
    """Full publish: `write_gate_indexes`, serial member writes. Update:
    `publish_gate_index_increment(deltas=...)`, one append and one
    overwrite member plus a lake-version sentinel, CAS-pinned."""

    meta = "meta"
    member = "prefix_sets"
    appends = "prefix_sets"
    rows_after_update = 5  # doc_ids 0-2 published, 10-11 appended

    def __init__(self, spark, root):
        self.spark, self.root = spark, root

    def rows(self, ids):
        return self.spark.createDataFrame(
            [(i, f"r{i}") for i in ids], "doc_id long, v string"
        )

    def publish(self, k: int = 1) -> None:
        pipelines.write_gate_indexes(
            {t: self.rows(range(3 * k)) for t in pipelines.GATE_INDEX_TABLES},
            self.root,
        )

    def update(self) -> None:
        inc = self.rows([10, 11])
        pipelines.publish_gate_index_increment(
            self.spark, self.root, {}, inc, inc, 0,
            deltas={
                "prefix_sets": (inc, "append"),
                "lr_model": (self.rows([7]), "overwrite"),
            },
            lake_version=5,
        )

    def view(self) -> dict:
        # the pins cover all ten tables and the lake-version sentinel; the
        # rows are read for the two members the update writes
        versions = pipelines.gate_meta_versions(self.spark, self.root)
        idx = pipelines.read_gate_indexes(self.spark, self.root, versions)
        got = {t: _rows(idx[t]) for t in ("prefix_sets", "lr_model")}
        for df in idx.values():
            df.unpersist()
        return {"pins": versions, **got}

    def tear(self) -> None:
        m.write_snapshot(
            self.rows([99]), f"{self.root}/prefix_sets", mode="overwrite"
        )


PUBLISHERS = {"marts": Marts, "ann": Ann, "gate_indexes": GateIndexes}


def _make(name, spark, root):
    if name == "ann":
        return Ann(spark, root, read_table(spark, SF_SMOKE, "embeddings"))
    return PUBLISHERS[name](spark, root)


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    """Each publisher's first full publish, done once per module; every
    test starts from its own copy (member manifests name their files
    relative to the table, so a copied root is a complete artifact)."""
    base = tmp_path_factory.mktemp("published")
    for name in PUBLISHERS:
        _make(name, spark, str(base / name)).publish()
    return base


@pytest.fixture(params=list(PUBLISHERS))
def publisher(request, spark, published, tmp_path):
    root = tmp_path / request.param
    shutil.copytree(published / request.param, root)
    return _make(request.param, spark, str(root))


def _pins(p) -> tuple[int, dict[str, int]]:
    return m.read_pins(p.spark, f"{p.root}/{p.meta}")


def test_torn_member_write_is_invisible(publisher):
    """A member commits a new version but no pin names it: readers keep
    resolving the pinned set."""
    p = publisher
    before = p.view()
    p.tear()
    pinned = _pins(p)[1][p.member]
    assert m.latest_version(f"{p.root}/{p.member}") > pinned  # the tear landed
    assert p.view() == before


@pytest.mark.parametrize("step", ["publish", "update"])
def test_crash_before_the_pin_leaves_the_old_set(publisher, monkeypatch, step):
    """Every member of a full republish or an update commits, then the
    publisher dies before its pin: readers still see the old set, and
    the next run of the same step publishes."""
    p = publisher
    before, (meta_v, _) = p.view(), _pins(p)

    run = (lambda: p.publish(k=2)) if step == "publish" else p.update
    with monkeypatch.context() as patched:
        patched.setattr(m, "publish_pins", _crash)
        with pytest.raises(Crash):
            run()
    assert m.latest_version(f"{p.root}/{p.member}") > _pins(p)[1][p.member]
    assert _pins(p)[0] == meta_v
    assert p.view() == before
    run()
    assert _pins(p)[0] == meta_v + 1
    assert p.view() != before


def test_lost_cas_race(publisher, monkeypatch):
    """A rival pin lands between an update's pin read and its pin write.
    The marts' backfill re-reads and folds again; the ANN add and the
    gate increment raise SnapshotConflict and publish nothing."""
    p = publisher
    before, (meta_v, pins) = p.view(), _pins(p)
    publish_pins = m.publish_pins
    raced = []

    def rival_first(spark, table, new_pins, expected_parent=m._UNSET):
        if not raced:
            current = m.read_pins(spark, table)[1]
            raced.append(publish_pins(spark, table, current))
        return publish_pins(
            spark, table, new_pins, expected_parent=expected_parent
        )

    monkeypatch.setattr(m, "publish_pins", rival_first)
    if isinstance(p, Marts):
        p.update()
        version, after = _pins(p)
        assert raced == [meta_v + 1] and version == meta_v + 2
        assert after["daily"] > pins["daily"]
        assert after["overall"] == pins["overall"]
        assert p.view() != before
    else:
        with pytest.raises(m.SnapshotConflict):
            p.update()
        assert raced == [meta_v + 1]
        assert _pins(p) == (meta_v + 1, pins)
        assert p.view() == before


def test_replayed_append_duplicates_nothing(publisher, monkeypatch):
    """An update whose append committed but whose pin never landed is run
    again: it appends against the PINNED version, so the crashed rows are
    orphaned and every row appears once."""
    p = publisher
    if p.appends is None:
        pytest.skip(
            "the marts never append: a full ETL overwrites its members and "
            "a backfill replaces whole partitions, so a replay re-replaces "
            "the same rows"
        )
    with monkeypatch.context() as patched:
        patched.setattr(m, "publish_pins", _crash)
        with pytest.raises(Crash):
            p.update()
    p.update()
    rows = p.view()[p.appends]
    assert len(rows) == len(set(map(repr, rows))) == p.rows_after_update
