"""Persisted ANN index (operators/ann_index.py): a search of the
committed artifacts is row-identical to the DuckDB IVFADC oracles
(q_ann_ivfpq_topk / q_ann_ivfpq_multiprobe over the same parquet), no
raw-vector scan at query time, versioned re-index with a pinnable
history, and bad search arguments refused."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from clinical_search_data_pipeline_spark.operators import ann_index as ai
from clinical_search_data_pipeline_spark.registry import oracle_of
from clinical_search_data_pipeline_spark.sinks import manifest as m
from clinical_search_data_pipeline_spark.sources.readers import read_table
from clinical_search_data_pipeline_spark.testing import duck_connection

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    # train_rounds=0: this fixture backs the frozen-SEED equivalence pins
    # (persisted path == the q_ann_ivfpq_* oracles, which quantize with
    # the seed slice). The TRAINED default is pinned separately by
    # test_trained_add_equals_trained_rebuild and driver-verified via
    # q_ann_index_topk's unrolled-Lloyd oracle.
    root = str(tmp_path_factory.mktemp("ann") / "index")
    emb = read_table(spark, SF, "embeddings")
    ai.write_ann_index(ai.build_ann_index(emb, train_rounds=0), root)
    return root, emb


@pytest.fixture(scope="module")
def ivfadc_oracle():
    """{nprobe: sorted rows} of the seed-quantizer IVFADC top-k over the
    whole fixture, from the registered DuckDB oracles (nprobe 1 and 2)."""
    con = duck_connection(SF)
    return {
        nprobe: sorted(con.execute(oracle_of(name)).fetchall())
        for nprobe, name in (
            (1, "q_ann_ivfpq_topk"),
            (2, "q_ann_ivfpq_multiprobe"),
        )
    }


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_index_probe_equals_on_the_fly_ivfadc(spark, persisted, ivfadc_oracle):
    """The core pin: searching the persisted artifacts returns the exact
    rows (values, ranks, DECIMAL-derived adist) of the IVFADC oracle, at
    nprobe=1 and at the multiprobe recall knob."""
    root, emb = persisted
    index = ai.read_ann_index(spark, root)
    queries = emb.filter(F.col("vec_id") < 8)
    assert _rows(ai.ann_index_topk(index, queries)) == ivfadc_oracle[1]
    assert _rows(ai.ann_index_topk(index, queries, nprobe=2)) == (
        ivfadc_oracle[2]
    )


def test_probe_plan_never_scans_raw_vectors(spark, persisted):
    """The reason the index exists at 100 TB: query-time file accesses are
    the index tables ONLY (model/lists under the index root) — never the
    embeddings parquet. Queries arrive as an in-memory
    relation, exactly the serving shape."""
    root, emb = persisted
    index = ai.read_ann_index(spark, root)
    qrows = emb.filter(F.col("vec_id") < 8).collect()
    queries = spark.createDataFrame(qrows, emb.schema)
    out = ai.ann_index_topk(index, queries)
    assert out.count() > 0
    opened = out.inputFiles()
    assert opened and all("/index/" in f for f in opened)
    assert not any("embeddings" in f for f in opened)


def _scan_to_join(plan: str, marker: str) -> list[list[str]]:
    """For every FileScan line containing `marker`, the plan nodes from the
    scan up to (and including) its first Join ancestor."""
    from clinical_search_data_pipeline_spark.plans.introspect import (
        _tree_depth,
    )

    lines = plan.splitlines()
    paths = []
    for i, line in enumerate(lines):
        if "FileScan" not in line or marker not in line:
            continue
        depth, path = _tree_depth(line), []
        for up in reversed(lines[:i]):
            if up.strip() and _tree_depth(up) < depth:
                depth = _tree_depth(up)
                path.append(up.lstrip(":+- "))
                if "Join" in up:
                    break
        paths.append(path)
    return paths


def test_probe_and_rerank_plans_never_shuffle_the_big_sides(spark, persisted):
    """The per-request plan shape: a probe is ONE narrow pass over `lists`
    — the query relation (never round-robin fanned out) crosses the 1-row
    model and broadcasts into the lists scan, whose only exchange is the
    query-keyed top-k window above the join. A rerank joins the
    full-precision `vectors` scan directly: no exchange between that scan
    and its broadcast join."""
    from clinical_search_data_pipeline_spark.operators.ann_index import (
        IVF_NPROBE,
        RERANK_POOL,
    )
    from clinical_search_data_pipeline_spark.plans.introspect import (
        physical_plan,
    )

    root, emb = persisted
    index = ai.read_ann_index(spark, root)
    queries = emb.filter(F.col("vec_id") < 8)
    probe = physical_plan(
        ai.ann_index_topk(index, queries, nprobe=IVF_NPROBE), "simple"
    )
    assert probe.count("Exchange hashpartitioning") == 1, probe
    assert "RoundRobinPartitioning" not in probe, probe
    lists_paths = _scan_to_join(probe, "/lists/")
    assert len(lists_paths) == 1, probe
    assert "BroadcastHashJoin" in lists_paths[0][-1], probe
    assert not any("Exchange" in n for n in lists_paths[0]), probe

    rerank = physical_plan(
        ai.ann_index_topk(
            index, queries, nprobe=IVF_NPROBE, rerank=RERANK_POOL,
            vectors=emb,
        ),
        "simple",
    )
    assert "RoundRobinPartitioning" not in rerank, rerank
    vec_paths = _scan_to_join(rerank, "embeddings")
    assert len(vec_paths) == 2, rerank  # the query relation + `vectors`
    for path in vec_paths:
        assert "Join" in path[-1], rerank
        assert not any("Exchange" in n for n in path), rerank


def test_old_four_table_root_refuses_with_reindex(spark, tmp_path):
    """A root whose meta pin names the superseded centroids/codebook/
    cells/codes layout fails loudly at open (and at add) with a message
    to re-index — not with a KeyError deep inside a search."""
    root = str(tmp_path / "index")
    m.write_snapshot(
        spark.createDataFrame(
            [(t, 1) for t in ("centroids", "codebook", "cells", "codes")],
            "table string, version int",
        ),
        f"{root}/{ai.META_TABLE}",
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="re-index"):
        ai.read_ann_index(spark, root)
    emb = read_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="re-index"):
        ai.add_to_ann_index(spark, root, emb.filter(F.col("vec_id") < 4))


def test_reindex_is_versioned_and_pinnable(spark, persisted, ivfadc_oracle):
    """A re-index (e.g. after a corpus refresh) publishes new versions
    atomically; a searcher pinning the previous versions still reads the
    complete old index — the rollback story is a version map."""
    root, emb = persisted
    v1 = {t: m.snapshots(f"{root}/{t}")[-1]["version"] for t in ai.INDEX_TABLES}
    smaller = emb.filter(F.col("vec_id") < 400)
    v2 = ai.write_ann_index(ai.build_ann_index(smaller), root)
    assert all(v2[t] == v1[t] + 1 for t in ai.INDEX_TABLES)
    old = ai.read_ann_index(spark, root, versions=v1)
    new = ai.read_ann_index(spark, root)
    assert old["lists"].count() > new["lists"].count()
    # the pinned old index still answers searches identically
    queries = emb.filter(F.col("vec_id") < 8)
    assert _rows(ai.ann_index_topk(old, queries)) == ivfadc_oracle[1]


def test_mid_reindex_reader_gets_consistent_quadruple(spark, persisted):
    """Multi-table consistency: a re-index commits the model and lists
    relations in sequence and the meta pin LAST. A reader resolving
    mid-re-index (new lists committed, meta not yet bumped) must get the
    previous complete index — never new lists paired with an old model."""
    root, emb = persisted
    before = ai.read_ann_index(spark, root)
    before_lists = before["lists"].count()
    # simulate a torn re-index: ONLY the lists table moves forward (a
    # smaller corpus that still holds the seed training rows)
    smaller = emb.filter(F.col("vec_id") < 300)
    m.write_snapshot(
        ai.build_ann_index(smaller, train_rounds=0)["lists"],
        f"{root}/lists",
        mode="overwrite",
    )
    latest_lists = m.read_snapshot(spark, f"{root}/lists").count()
    assert 0 < latest_lists < before_lists  # the torn write really landed
    # default (meta-resolved) read still serves the old consistent view
    after = ai.read_ann_index(spark, root)
    assert after["lists"].count() == before_lists


def test_incremental_add_equals_full_rebuild(spark, tmp_path, ivfadc_oracle):
    """FAISS add(): vectors folded in under the FROZEN quantizers. Because
    the training rows (centroids 100..107, codebook 200..231) are in the
    initial build, add-then-search must equal a full rebuild BIT FOR BIT —
    and the append reuses every pre-add file by reference (only the
    increment is written). Duplicate adds and racing meta pins refuse."""
    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    initial = emb.filter(F.col("vec_id") < 300)  # includes all training rows
    # train_rounds=0: this pin compares against the seed-quantizer
    # IVFADC oracle; the trained twin is pinned separately below
    ai.write_ann_index(ai.build_ann_index(initial, train_rounds=0), root)
    pre_lists = {
        e["path"]
        for e in m._entries(
            m._read_manifest(f"{root}/lists", m._versions(f"{root}/lists")[-1])
        )
    }
    v = ai.add_to_ann_index(spark, root, emb.filter(F.col("vec_id") >= 300))
    assert v["lists"] >= 2 and v["meta"] >= 2
    post = m._entries(m._read_manifest(f"{root}/lists", v["lists"]))
    assert pre_lists < {e["path"] for e in post}  # old files referenced, not rewritten
    idx = ai.read_ann_index(spark, root)
    queries = emb.filter(F.col("vec_id") < 8)
    assert _rows(ai.ann_index_topk(idx, queries)) == ivfadc_oracle[1]
    assert _rows(ai.ann_index_topk(idx, queries, nprobe=2)) == (
        ivfadc_oracle[2]
    )
    # duplicate vectors refuse
    with pytest.raises(ValueError, match="already present"):
        ai.add_to_ann_index(spark, root, emb.filter(F.col("vec_id") < 10))


def test_remove_masks_then_compact_applies(spark, tmp_path):
    """FAISS remove_ids(): a tombstoned vector disappears from every
    search immediately (broadcast anti-join mask), the tombstone-masked
    results equal the post-compaction physical results EXACTLY, and after
    compaction the lists table no longer contains the vector at all. Unknown ids and re-adds of tombstoned ids refuse."""
    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    ai.write_ann_index(ai.build_ann_index(emb, train_rounds=0), root)
    queries = emb.filter(F.col("vec_id") < 8)
    baseline = ai.ann_index_topk(ai.read_ann_index(spark, root), queries)
    victim = int(baseline.collect()[0].neighbor_id)

    with pytest.raises(ValueError, match="not present"):
        ai.remove_from_ann_index(spark, root, [10_000_000])
    v = ai.remove_from_ann_index(spark, root, [victim])
    assert ai.TOMBSTONE_TABLE in v
    masked = ai.ann_index_topk(ai.read_ann_index(spark, root), queries)
    assert victim not in {r.neighbor_id for r in masked.collect()}
    # re-adding a tombstoned id refuses until compaction drops the rows
    with pytest.raises(ValueError, match="already present"):
        ai.add_to_ann_index(
            spark, root, emb.filter(F.col("vec_id") == victim)
        )

    ai.compact_ann_index(spark, root, target_files=2)
    idx = ai.read_ann_index(spark, root)
    assert idx["lists"].filter(F.col("vec_id") == victim).count() == 0
    assert idx[ai.TOMBSTONE_TABLE].count() == 0
    physical = ai.ann_index_topk(idx, queries)
    assert _rows(masked) == _rows(physical)


def test_add_then_compact_equals_fresh_rebuild(spark, tmp_path, ivfadc_oracle):
    """Maintenance cadence: repeated adds accrue one stage dir each;
    compact_ann_index collapses lists to target_files and the
    result is pinned equal to a from-scratch build of the union corpus —
    relation contents AND search rows."""
    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    ai.write_ann_index(
        ai.build_ann_index(
            emb.filter(F.col("vec_id") < 300), train_rounds=0
        ), root
    )
    ai.add_to_ann_index(
        spark, root,
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
    )
    ai.add_to_ann_index(spark, root, emb.filter(F.col("vec_id") >= 400))
    v = ai.compact_ann_index(spark, root, target_files=2)
    man = m._read_manifest(f"{root}/lists", v["lists"])
    assert man["num_files"] <= 2  # small files collapsed
    idx = ai.read_ann_index(spark, root)
    fresh = ai.build_ann_index(emb, train_rounds=0)
    assert _rows(idx["model"]) == _rows(fresh["model"])
    assert _rows(idx["lists"]) == _rows(fresh["lists"])
    queries = emb.filter(F.col("vec_id") < 8)
    assert _rows(ai.ann_index_topk(idx, queries)) == ivfadc_oracle[1]


def test_crashed_add_orphan_never_duplicates(spark, tmp_path, ivfadc_oracle):
    """ADVICE r9 #2 regression: an add that appended lists rows but died
    before its meta pin leaves orphaned rows at the table tips. The next
    add of the same increment must succeed (the pinned index lacks it)
    and fold in ONLY the pinned files — no duplicate vec_ids ever reach a
    search."""
    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    ai.write_ann_index(
        ai.build_ann_index(
            emb.filter(F.col("vec_id") < 300), train_rounds=0
        ), root
    )
    increment = emb.filter(F.col("vec_id") >= 300)
    # simulate the crash: stage the increment's lists append on the tip
    # exactly as add_to_ann_index would, but never pin meta
    idx = ai.read_ann_index(spark, root)
    crashed = ai.build_ann_index(emb, train_rounds=0)  # same frozen quantizers
    orphan = crashed["lists"].join(
        idx["lists"].select("vec_id"), "vec_id", "left_anti"
    ).select(*crashed["lists"].columns)
    m.write_snapshot(
        orphan, f"{root}/lists", mode="append", collect_stats=False
    )
    tip = m.read_snapshot(spark, f"{root}/lists")
    assert tip.join(increment.select("vec_id"), "vec_id", "left_semi").count()
    # the retry (same increment) succeeds and duplicates nothing
    v = ai.add_to_ann_index(spark, root, increment)
    lists = m.read_snapshot(spark, f"{root}/lists", version=v["lists"])
    dup = (
        lists.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    queries = emb.filter(F.col("vec_id") < 8)
    assert _rows(
        ai.ann_index_topk(ai.read_ann_index(spark, root), queries)
    ) == ivfadc_oracle[1]


def test_trained_add_equals_trained_rebuild(spark, tmp_path):
    """The r12 default: build_ann_index TRAINS the coarse quantizer
    (ANN_TRAIN_ROUNDS fixed Lloyd rounds). FAISS's train/add contract
    still holds — freeze the quantizer on a training set, add increments,
    and the result is bit-equal to a fresh build whose quantizer trained
    on the SAME set (train_on=): trained cells change WHERE vectors live,
    never the frozen-quantizer add semantics."""
    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    initial = emb.filter(F.col("vec_id") < 300)  # includes training rows
    ai.write_ann_index(ai.build_ann_index(initial), root)  # trained default
    ai.add_to_ann_index(spark, root, emb.filter(F.col("vec_id") >= 300))
    idx = ai.read_ann_index(spark, root)
    fresh = ai.build_ann_index(emb, train_on=initial)  # same frozen quantizer
    # both trained quantizers (model row) and every encoded vector
    assert _rows(idx["model"]) == _rows(fresh["model"])
    assert _rows(idx["lists"]) == _rows(fresh["lists"])
    queries = emb.filter(F.col("vec_id") < 8)
    fresh_root = str(tmp_path / "fresh")
    ai.write_ann_index(fresh, fresh_root)
    assert _rows(ai.ann_index_topk(idx, queries)) == _rows(
        ai.ann_index_topk(ai.read_ann_index(spark, fresh_root), queries)
    )


def test_rerank_recall_geq_probe_only_at_same_nprobe(spark, tmp_path):
    """VERDICT r12 #4: FAISS refine over the persisted index. The exact
    claim the docstring makes, measured: recall@k of the reranked result
    is >= the probe-only ADC top-k at the SAME nprobe (the pool is a
    superset of ADC's own top-k, and any exact-top-k member in the pool
    outranks every other pool row under exact scoring). Also pins the
    refine output discipline (rank by exact cosine desc / vec_id asc,
    round-4 score) against cosine_topk's shape."""
    from clinical_search_data_pipeline_spark.operators.ann_index import (
        IVF_NPROBE,
        RERANK_POOL,
    )
    from clinical_search_data_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    emb = read_table(spark, SF, "embeddings")
    root = str(tmp_path / "index")
    ai.write_ann_index(ai.build_ann_index(emb), root)
    idx = ai.read_ann_index(spark, root)
    queries = emb.filter(F.col("vec_id") < 8)

    exact = set(
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb).select("query_id", "neighbor_id").collect()
    )
    probe = set(
        (r.query_id, r.neighbor_id)
        for r in ai.ann_index_topk(idx, queries, nprobe=IVF_NPROBE).collect()
    )
    rerank_rows = ai.ann_index_topk(
        idx, queries, nprobe=IVF_NPROBE, rerank=RERANK_POOL, vectors=emb
    ).collect()
    rerank = set((r.query_id, r.neighbor_id) for r in rerank_rows)
    assert len(rerank & exact) >= len(probe & exact)
    assert [c for c in ai.ann_index_topk(
        idx, queries, nprobe=IVF_NPROBE, rerank=RERANK_POOL, vectors=emb
    ).columns] == ["query_id", "neighbor_id", "rank", "score"]
    # per query: exactly k rows, ranks dense from 1, scores non-increasing
    by_q: dict[int, list] = {}
    for r in rerank_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1)), q
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True), q


@pytest.mark.parametrize(
    "search, with_vectors, match",
    [
        (dict(nprobe=0), False, "nprobe >= 1"),
        (dict(nprobe=-1), False, "nprobe >= 1"),
        (dict(k=0), False, "k >= 1"),
        (dict(rerank=3, k=5), True, "at least k"),
        (dict(rerank=10), False, "vectors"),
    ],
    ids=["nprobe0", "nprobe-1", "k0", "rerank-lt-k", "rerank-no-vectors"],
)
def test_bad_search_arguments_raise(spark, persisted, search, with_vectors, match):
    """Arguments outside the search contract fail loudly when the search
    is planned, naming the contract — not as 0 rows, a short pool, or a
    Spark error at collect."""
    root, emb = persisted
    idx = ai.read_ann_index(spark, root)
    if with_vectors:
        search = dict(search, vectors=emb)
    with pytest.raises(ValueError, match=match):
        ai.ann_index_topk(idx, emb.filter(F.col("vec_id") < 8), **search)


@pytest.mark.parametrize(
    "train",
    [
        lambda emb: ai.trained_quantizer(emb, -1),
        lambda emb: ai.pq_train_codebooks(emb, rounds=-1),
        lambda emb: ai.build_ann_index(emb, train_rounds=-1),
    ],
    ids=["trained_quantizer", "pq_train_codebooks", "build_ann_index"],
)
def test_negative_training_rounds_raise(spark, train):
    """A negative round count is outside the training contract (0 means
    the seed quantizer): it fails loudly before any plan is built instead
    of silently returning the seed quantizers."""
    emb = read_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="rounds >= 0"):
        train(emb)


def test_serve_index_builds_once_per_source_content(spark, monkeypatch):
    """VERDICT r12 #6: the serving path amortizes the build. First call
    trains + commits; the second call for the SAME source content must
    resolve the committed artifacts WITHOUT building (build_ann_index
    monkeypatched to explode), and its probe results equal the first's."""
    import shutil

    shutil.rmtree("/tmp/csdp_ann_index_serve", ignore_errors=True)
    emb = read_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    idx1 = ai.serve_index(spark, SF)
    first = _rows(ai.ann_index_topk(idx1, queries))

    def boom(*a, **k):  # pragma: no cover - called means a rebuild
        raise AssertionError("serve_index rebuilt an already-served source")

    monkeypatch.setattr(ai, "build_ann_index", boom)
    idx2 = ai.serve_index(spark, SF)
    assert _rows(ai.ann_index_topk(idx2, queries)) == first


def test_build_and_write_jobs_all_carry_the_callers_job_tag(spark, tmp_path):
    """The training and publish jobs run on engine threads
    (`session.run_concurrently`); each still carries the caller's job tag,
    so a tag set around build + write counts every job they start — the
    tagged job ids are exactly the scheduler's job-id range."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    emb = read_table(spark, SF, "embeddings")
    tag = f"ann-build-{tmp_path.name}"
    first = jsc.dagScheduler().nextJobId()
    sc.addJobTag(tag)
    try:
        ai.write_ann_index(ai.build_ann_index(emb, train_rounds=1), str(tmp_path))
    finally:
        sc.removeJobTag(tag)
    end = jsc.dagScheduler().nextJobId()
    tagged = sorted(jsc.statusTracker().getJobIdsForTag(tag))
    assert end > first
    assert tagged == list(range(first, end))
