"""Persisted ANN index: the FAISS IVFADC index as committed lake artifacts.

VERDICT r8 #3: BM25 got the index-as-artifact treatment
(operators/retrieval.py build_postings -> lake -> bm25_topk_from_postings);
every ANN query, by contrast, re-derived codebooks / IVF cells from the raw
vectors per run. This module materializes the trained index once and makes
every subsequent search a probe of the persisted artifacts — the FAISS
production deployment shape (Jegou et al. TPAMI 2011; Johnson, Douze,
Jegou, "Billion-scale similarity search with GPUs", 2017: train/add once,
search many), in FAISS's inverted-list layout:

* ``build_ann_index`` trains the quantizers and ``encode_ann_index``
  derives the two index relations from the corpus under them —
  `model` (ONE row: `cents` = array of (cell, cv, cnorm) sorted by cell,
  the coarse quantizer; `cb` = the PQ codewords flattened so entry
  m*PQ_K + j is codeword (m, j)) and
  `lists` (cell, vec_id, codes: one row per vector, its PQ_M codes in m
  order — the inverted lists, and the ONLY per-vector state a search
  ever scans; 25x smaller than raw);
* ``write_ann_index`` publishes each relation through the snapshot-
  committed sink (sinks/manifest.py) — an atomic, versioned index: a
  re-index publishes new versions while a racing search keeps reading the
  previous complete ones, and an index rollback is a version pin;
* ``read_ann_index`` resolves the committed artifacts (latest or pinned);
* ``add_to_ann_index`` encodes new vectors against the committed model
  with the same `_encode` the build runs, so add == rebuild bit for bit;
* ``remove_from_ann_index`` / ``compact_ann_index`` are the maintenance
  half of FAISS remove_ids(): removes are O(removed) tombstones masked at
  search time by a broadcast anti-join; compaction physically applies
  them and collapses the small files repeated ``add_to_ann_index``
  increments accrue — add+compact is pinned bit-equal to a fresh rebuild;
* ``ann_index_topk`` searches FROM THE INDEX ALONE in one narrow pass over
  `lists`: the query relation (a tiny relation) crosses the broadcast
  model row to pick its nprobe cells and build its ADC distance table,
  and that query-sized relation broadcasts into `lists` on `cell` — no
  raw corpus vector is read at query time (tests/test_ann_index.py pins
  `inputFiles()` of the probe plan to the index tables only).

At 100 TB: `lists` is the only big side and it is never shuffled — the
query relation meets it in a broadcast hash join on `cell`, each
candidate's ADC distance is a per-row fold of its codes array, and the one
shuffle is the (query_id)-keyed top-k window over the candidates. A search
reads every `lists` row but keeps only the nprobe / n_centroids of them in
its probed cells; partitioning `lists` by `cell` would make it read only
those (ROADMAP open item). BOTH quantizers are TRAINED by default (FAISS's
train() step, VERDICT r11 #3): the coarse quantizer with ANN_TRAIN_ROUNDS
fixed Lloyd rounds (`trained_quantizer`) and the PQ codebook with one
Lloyd round (`pq_train_codebooks`) — at sf0.1 the trained index returns
12/40 true top-5 neighbors vs the all-seed index's 7/40.

This module is the one home of the quantizers: the deterministic seeds
(`seed_centroids`, `pq_codebook`), the Lloyd steps (`_assign` /
`updated_centroids` for the cells, `pq_codes` / the same mean fold for the
codewords) and the encode that the index is built from. `similarity`,
`clustering` and `curation` import them from here; this module imports
no other operator module but `fragments`. Their DuckDB twins are three
composable pieces — `duck_lloyd_ctes` (coarse cells after R rounds),
`duck_pq_ctes` (codes and query distance tables after R codebook rounds)
and `ivfadc_oracle` (the IVFADC search and refine tail) — from which
every IVF, PQ and k-means oracle is composed, so the driver hash-verifies
the trained index against the same training replayed in SQL and index
and oracle cannot drift.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache
from clinical_search_data_pipeline_spark.operators.fragments import (
    DIM,
    N_QUERIES,
    TOP_K,
    _DUCK_BASE_CTE,
    _SPARK_V,
    _duck_dot,
    _spark_dot,
)
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.session import run_concurrently
from clinical_search_data_pipeline_spark.sinks import manifest
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

INDEX_TABLES = ("model", "lists")
META_TABLE = "meta"  # (table, version) pin rows — committed LAST
TOMBSTONE_TABLE = "tombstones"  # (vec_id) rows pending physical removal


# ---------------------------------------------------------------------------
# The quantizers: coarse IVF cells and product-quantizer codebooks
# ---------------------------------------------------------------------------

N_CENTROIDS = 8
CENTROID_BASE = 100  # deterministic coarse centroids: vec_ids 100..107
IVF_NPROBE = 2  # cells a multiprobe search visits
RERANK_POOL = 30  # stage-1 ADC pool per query; 6x the final k

PQ_M = 32  # subspaces; each vector compresses to M codes
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 32  # codewords per subspace -> 5 bits/code, 160 bits/vector (25x)
PQ_CODEBOOK_BASE = 200  # deterministic codebooks: unit vecs 200..231, sliced
# (M, K) swept at sf0.001 against the exact top-k: (8,16)->5%, (8,32)->7%,
# (16,16)->17%, (16,32)->32%, (32,16)->50%, (32,32)->62% recall@5 — short
# 2-dim subspaces quantize the fixture's decorrelated dims far better than
# wide ones at equal bit budget. The sliced codebook is the seed that
# `pq_train_codebooks` refines with Lloyd rounds; the plan is unchanged.

# Lloyd rounds the persisted index trains its coarse quantizer with
# (VERDICT r11 #3). Measured at sf0.1: seed cells put 7/40 true top-5
# neighbors in the probed cell, 2 rounds put 12/40, full convergence
# (8 rounds) 13/40. End to end — coarse training (2 rounds) PLUS the
# one-round trained PQ codebook, with the ADC loss compounded — the
# persisted index scores 12/40 vs the all-seed index's 7/40 at sf0.1
# and 10/40 vs 6/40 at sf0.01 (ANN_RECALL.md ivfadc_trained_index row;
# the sf0.001 row sits at its seed baseline, the same quirk
# ivf_p1_lloyd1 shows: a property of that fixture's 500 vectors, not of
# its size — sf0.01 holds 500 different vectors and gains). Two coarse
# rounds buy most of the converged uplift while
# keeping the cross-engine oracle two unrolled CTEs deep. Fixed rounds,
# not early-stopped: see trained_quantizer.
ANN_TRAIN_ROUNDS = 2


def _spark_l2sq(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _duck_l2sq(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i])), "
        f"(acc, v) -> acc + v)"
    )


def vectors_with_norms(emb: DataFrame) -> DataFrame:
    """(vec_id, label, v: array<double>, norm) — the canonical vector relation.

    `fan_out` first: every downstream op (cross join probe, broadcast-join
    stream side, LSH bucket projection) is narrow, so without it the whole
    vector pipeline would run at the input-split count — one task for a
    single-file scan (sources/readers.fan_out)."""
    return fan_out(emb).select(
        "vec_id",
        "label",
        F.expr(_SPARK_V).alias("v"),
    ).withColumn("norm", F.expr(f"sqrt({_spark_dot('v', 'v')})"))


def seed_centroids(emb: DataFrame) -> DataFrame:
    """(cell, cv, cnorm) — the deterministic coarse centroids: vector
    CENTROID_BASE + c is the centroid of cell c, for c < N_CENTROIDS.
    Production seeds them with k-means|| (clustering.kmeans_parallel_seeds);
    the assignment and search plans are the same."""
    return vectors_with_norms(emb).filter(
        (F.col("vec_id") >= CENTROID_BASE)
        & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - CENTROID_BASE).alias("cell"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )


def _assign(base: DataFrame, cents: DataFrame, nprobe: int = 1) -> DataFrame:
    """(vec_id, v, norm, cell) — each vector's `nprobe` best cells by
    cosine to the centroid, ties to the lowest cell: nprobe = 1 is the
    Lloyd assignment step, more is a query's probe list. A broadcast of K
    centroids against one scan plus a vec_id-keyed window."""
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "_s", F.expr(_spark_dot("v", "cv")) / (F.col("norm") * F.col("cnorm"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("_s").desc(), F.col("cell").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("vec_id", "v", "norm", "cell")
    )


def _pinned_means(members: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """(*keys, mean) — the component-wise mean of the `vec` arrays per key,
    summed in a pinned order: float addition is order-dependent, so each
    component's members are sorted by vec_id and folded left to right
    from an explicit 0.0 (DuckDB: `list_reduce` over a 0.0-prepended
    `list(x ORDER BY vec_id)`, `_duck_pinned_means`), which makes the sum
    bit-identical on both engines. One shuffle keyed (*keys, component) —
    uniform groups however lopsided the cells are — then the components
    are reassembled in order."""
    comp = members.select(*keys, "vec_id", F.posexplode(vec).alias("_i", "_x"))
    mu = F.expr(
        "aggregate(array_sort(collect_list(struct(vec_id, _x))), "
        "CAST(0.0 AS DOUBLE), (acc, s) -> acc + s._x)"
    ) / F.count("*")
    return (
        comp.groupBy(*keys, "_i")
        .agg(mu.alias("_mu"))
        .groupBy(*keys)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(_i, _mu))), s -> s._mu)")
            .alias("mean")
        )
    )


def updated_centroids(assigned: DataFrame) -> DataFrame:
    """(cell, cv, cnorm) — the Lloyd update: each cell's pinned-order mean
    of its members' vectors. Empty cells drop out of the next round."""
    return (
        _pinned_means(assigned, ["cell"], "v")
        .select("cell", F.col("mean").alias("cv"))
        .withColumn("cnorm", F.expr(f"sqrt({_spark_dot('cv', 'cv')})"))
    )


def trained_quantizer(emb: DataFrame, rounds: int) -> tuple[DataFrame, DataFrame]:
    """((cell, cv, cnorm), (vec_id, v, norm, cell)) after exactly `rounds`
    Lloyd alternations from the seed centroids — the only derivation of
    IVF cells: rounds = 0 is the seed quantizer the on-the-fly IVF queries
    and SemDeDup use, ANN_TRAIN_ROUNDS the one `build_ann_index` persists
    (converged cells nearly double seed-cell IVF recall).

    FIXED rounds, deliberately no early-stop: (a) a fixed unroll is what
    `duck_lloyd_ctes` can express, so the persisted index keeps a bit-
    exact cross-engine oracle; (b) convergence is a fixpoint — once an
    assignment repeats, further rounds change nothing — so fixed-R equals
    early-stopped training whenever the data converges within R; (c) no
    per-round driver sync at all (clustering.kmeans_train pays one scalar
    per round to report movement). Plan depth grows linearly in `rounds`
    (each round references the previous once), so no caching is needed
    for the small fixed R. rounds < 0 raises ValueError."""
    if rounds < 0:
        raise ValueError(
            f"trained_quantizer needs rounds >= 0 (0 = the seed centroids), got {rounds}"
        )
    base = vectors_with_norms(emb)
    cents = seed_centroids(emb)
    cells = _assign(base, cents)
    for _ in range(rounds):
        cents = updated_centroids(cells)
        cells = _assign(base, cents)
    return cents, cells


def pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, su) — every vector L2-normalized (so squared-L2 ordering
    == cosine ordering: ||a-b||^2 = 2 - 2cos for unit vectors) and split
    into PQ_M contiguous subvectors. One narrow pass riding the scan."""
    return (
        vectors_with_norms(emb)
        .select("vec_id", F.expr("transform(v, x -> x / norm)").alias("u"))
        .select(
            "vec_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {PQ_M - 1}), "
                    f"m -> slice(u, m * {PQ_SUB} + 1, {PQ_SUB}))"
                )
            ).alias("m", "su"),
        )
    )


def pq_codebook(subs: DataFrame) -> DataFrame:
    """(m, j, cw) — the seed codebook: PQ_K codewords per subspace, sliced
    from a fixed range of unit vectors so any engine regenerates them (the
    IVF fixed-centroid discipline); `pq_train_codebooks` refines it."""
    return subs.filter(
        (F.col("vec_id") >= PQ_CODEBOOK_BASE)
        & (F.col("vec_id") < PQ_CODEBOOK_BASE + PQ_K)
    ).select((F.col("vec_id") - PQ_CODEBOOK_BASE).alias("j"), "m", F.col("su").alias("cw"))


def pq_codes(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code) — each subvector assigned its nearest codeword
    (squared L2, ties to the lowest j): the Lloyd assignment step of
    `pq_train_codebooks` and `pq_distortion`. One scan x broadcast M*K
    codebook + an argmin window keyed (vec_id, m) — shuffle on the
    composite key only. The index encodes with the equivalent per-row
    argmin (`_encode`)."""
    w = Window.partitionBy("vec_id", "m").orderBy(F.col("_d").asc(), F.col("j").asc())
    return (
        subs.join(F.broadcast(cb), "m")
        .withColumn("_d", F.expr(_spark_l2sq("su", "cw")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )


def pq_train_codebooks(emb: DataFrame, rounds: int = 2) -> DataFrame:
    """(m, j, cw) after `rounds` per-subspace Lloyd rounds from the sliced
    seed codebook (Jegou et al. TPAMI 2011 §III trains exactly this,
    independently per subspace). One declarative update per round, ALL
    subspaces at once: assignment is `pq_codes`, the update is the
    `_pinned_means` fold keyed by (m, j) — the coarse Lloyd update with the
    subspace index as an extra key, so the whole M x K codebook trains in
    ONE (m, j, component)-keyed shuffle per round, never M sequential
    jobs, and the codewords are bit-identical to the `duck_pq_ctes`
    replay. Empty cells keep their previous codeword (left join +
    coalesce). Total distortion is monotone non-increasing per round;
    tests/test_pq_training.py pins that and the recall gain over the
    sliced init. rounds < 0 raises ValueError."""
    if rounds < 0:
        raise ValueError(
            "pq_train_codebooks needs rounds >= 0 (0 = the sliced seed "
            f"codebook), got {rounds}"
        )
    subs = engine_cache(pq_subvectors(emb))
    cb = pq_codebook(subs)
    for _ in range(rounds):
        assigned = pq_codes(subs, cb).withColumnRenamed("code", "j")
        means = _pinned_means(subs.join(assigned, ["vec_id", "m"]), ["m", "j"], "su")
        cb = engine_cache(
            cb.join(means, ["m", "j"], "left")
            .select("m", "j", F.coalesce("mean", "cw").alias("cw"))
        )
        cb.count()  # materialize the round (checkpointed-loop discipline)
    return cb


def pq_distortion(subs: DataFrame, cb: DataFrame) -> float:
    """Mean squared quantization error of `subs` under codebook `cb` —
    the Lloyd objective, for monotonicity evidence."""
    codes = pq_codes(subs, cb).withColumnRenamed("code", "j")
    return (
        subs.join(codes, ["vec_id", "m"])
        .join(cb, ["m", "j"])
        .agg(F.avg(F.expr(_spark_l2sq("su", "cw"))).alias("d"))
        .first()["d"]
    )


# ---------------------------------------------------------------------------
# DuckDB twins: every IVF / PQ / k-means oracle is composed from these
# ---------------------------------------------------------------------------


def _duck_pinned_means(name: str, src: str, keys: str, vec: str) -> str:
    """CTEs `{name}_x`, `{name}_mu` and `{name}` (keys..., mean) — the
    `_pinned_means` fold over relation `src`: per component, the members
    in vec_id order folded from a 0.0 seed."""
    return f"""{name}_x AS (
  SELECT {keys}, vec_id, unnest({vec}) AS x, generate_subscripts({vec}, 1) AS i
  FROM {src}
),
{name}_mu AS (
  SELECT {keys}, i,
         list_reduce(
           list_prepend(0.0::DOUBLE, list(x ORDER BY vec_id)),
           (acc, e) -> acc + e
         ) / count(*) AS mu
  FROM {name}_x GROUP BY {keys}, i
),
{name} AS (SELECT {keys}, list(mu ORDER BY i) AS mean FROM {name}_mu GROUP BY {keys})"""


def duck_lloyd_ctes(rounds: int) -> str:
    """DuckDB CTE chain mirroring `trained_quantizer(emb, rounds)` round
    for round: `cents_r{i}` (cell, cv, cnorm), `assign_r{i}` (every
    (vector, cell) pair with its cosine rank `rn`) and `cells_r{i}`
    (vec_id, v, norm, cell) for i = 0..rounds. Compose it after
    _DUCK_BASE_CTE."""
    parts = [
        f"""cents_r0 AS (
  SELECT vec_id - {CENTROID_BASE} AS cell, v AS cv, norm AS cnorm
  FROM n WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + N_CENTROIDS}
)"""
    ]
    for i in range(rounds + 1):
        if i:
            parts.append(_duck_pinned_means(f"lloyd_r{i}", f"cells_r{i - 1}", "cell", "v"))
            parts.append(
                f"""cents_r{i} AS (
  SELECT cell, mean AS cv, sqrt({_duck_dot('mean', 'mean')}) AS cnorm
  FROM lloyd_r{i}
)"""
            )
        parts.append(
            f"""assign_r{i} AS (
  SELECT n.vec_id, n.v, n.norm, c.cell,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY {_duck_dot('n.v', 'c.cv')} / (n.norm * c.cnorm) DESC,
                    c.cell ASC
         ) AS rn
  FROM n CROSS JOIN cents_r{i} c
),
cells_r{i} AS (SELECT vec_id, v, norm, cell FROM assign_r{i} WHERE rn = 1)"""
        )
    return ",\n".join(parts)


def duck_pq_ctes(rounds: int) -> str:
    """DuckDB CTE chain mirroring `pq_train_codebooks(emb, rounds)` and
    the encode: `subs` (vec_id, m, su), codebooks `pq_cb_r0..r{rounds}`,
    and for the final codebook `pq_codes` (vec_id, m, code) and the query
    distance table `pq_dt` (query_id, m, code, d) — d the 9dp-rounded
    DECIMAL that `ann_index_topk` sums. Compose it after _DUCK_BASE_CTE."""

    def codes(name: str, cb: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT s.vec_id, s.m, c.j,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_duck_l2sq('s.su', 'c.cw')} ASC, c.j ASC
           ) AS rn
    FROM subs s JOIN {cb} c ON s.m = c.m
  ) WHERE rn = 1
)"""

    parts = [
        f"""u AS (SELECT vec_id, list_transform(v, x -> x / norm) AS u FROM n),
subs AS (
  SELECT vec_id, m, list_slice(u, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS su
  FROM u, unnest(range(0, {PQ_M})) AS t(m)
),
pq_cb_r0 AS (
  SELECT vec_id - {PQ_CODEBOOK_BASE} AS j, m, su AS cw FROM subs
  WHERE vec_id >= {PQ_CODEBOOK_BASE} AND vec_id < {PQ_CODEBOOK_BASE + PQ_K}
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(codes(f"pq_codes_r{i - 1}", f"pq_cb_r{i - 1}"))
        parts.append(
            f"""pq_members_r{i} AS (
  SELECT s.vec_id, s.m, c.code AS j, s.su
  FROM subs s JOIN pq_codes_r{i - 1} c ON s.vec_id = c.vec_id AND s.m = c.m
)"""
        )
        parts.append(_duck_pinned_means(f"pq_mean_r{i}", f"pq_members_r{i}", "m, j", "su"))
        parts.append(
            f"""pq_cb_r{i} AS (
  SELECT c.m, c.j, coalesce(w.mean, c.cw) AS cw
  FROM pq_cb_r{i - 1} c LEFT JOIN pq_mean_r{i} w ON c.m = w.m AND c.j = w.j
)"""
        )
    parts.append(codes("pq_codes", f"pq_cb_r{rounds}"))
    parts.append(
        f"""pq_dt AS (
  SELECT q.vec_id AS query_id, q.m, c.j AS code,
         CAST(round({_duck_l2sq('q.su', 'c.cw')}, 9) AS DECIMAL(18,9)) AS d
  FROM subs q JOIN pq_cb_r{rounds} c ON q.m = c.m
  WHERE q.vec_id < {N_QUERIES}
)"""
    )
    return ",\n".join(parts)


def ivfadc_oracle(
    coarse_rounds: int,
    pq_rounds: int,
    nprobe: int,
    rerank: int | None = None,
    cell: bool = True,
) -> str:
    """DuckDB oracle of `ann_index_topk` over an index whose cells had
    `coarse_rounds` and whose codebook had `pq_rounds` Lloyd rounds: each
    fixed query (vec_id < N_QUERIES) probes its `nprobe` best cells, every
    vector in them scores the sum of its codes' distance-table entries,
    and the top TOP_K by (adist, vec_id) come out as (query_id,
    neighbor_id[, cell], rank, adist). nprobe = N_CENTROIDS scores every
    vector — plain PQ/ADC. With `rerank`, the ADC top-`rerank` pool is
    re-scored by the exact cosine instead: (query_id, neighbor_id, rank,
    score)."""
    r = coarse_rounds
    sql = f"""
WITH {_DUCK_BASE_CTE},
{duck_pq_ctes(pq_rounds)},
{duck_lloyd_ctes(r)},
q AS (
  SELECT vec_id AS query_id, cell AS qcell
  FROM assign_r{r} WHERE vec_id < {N_QUERIES} AND rn <= {nprobe}
),
ivf_adc AS (
  SELECT q.query_id, c.vec_id, c.cell, sum(t.d) AS adist
  FROM cells_r{r} c
  JOIN q ON c.cell = q.qcell AND c.vec_id <> q.query_id
  JOIN pq_codes s ON s.vec_id = c.vec_id
  JOIN pq_dt t ON t.query_id = q.query_id AND t.m = s.m AND t.code = s.code
  GROUP BY 1, 2, 3
)"""
    if rerank is None:
        return sql + f"""
SELECT query_id, vec_id AS neighbor_id,{' cell,' if cell else ''}
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adist ASC, vec_id ASC) AS rank,
       round(CAST(adist AS DOUBLE), 6) AS adist
FROM ivf_adc QUALIFY rank <= {TOP_K}
"""
    return sql + f""",
pool AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist ASC, vec_id ASC) AS rn
    FROM ivf_adc
  ) WHERE rn <= {rerank}
),
qv AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n
  WHERE vec_id < {N_QUERIES}
),
rescored AS (
  SELECT p.query_id, p.vec_id AS neighbor_id,
         {_duck_dot('n.v', 'qv.qv')} / (n.norm * qv.qnorm) AS raw
  FROM pool p
  JOIN n ON n.vec_id = p.vec_id
  JOIN qv ON qv.query_id = p.query_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY raw DESC, neighbor_id ASC) AS rank,
       round(raw, 4) AS score
FROM rescored QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# The index: encode, build, publish, maintain, search
# ---------------------------------------------------------------------------


def _ranked_cells(v: str, norm: str) -> str:
    """SQL: the model's cells as (s, cell) structs ordered by cosine desc,
    then cell asc — the order of the `_assign` window, with the same
    `_spark_dot(v, cv) / (norm * cnorm)` score, so element 0 is a vector's
    cell and the first nprobe elements a query's probes."""
    return (
        "array_sort(transform(cents, c -> named_struct("
        f"'s', {_spark_dot(v, 'c.cv')} / ({norm} * c.cnorm), 'cell', c.cell)), "
        "(a, b) -> CASE WHEN a.s > b.s THEN -1 WHEN a.s < b.s THEN 1 "
        "WHEN a.cell < b.cell THEN -1 WHEN a.cell > b.cell THEN 1 ELSE 0 END)"
    )


def _sub_dists(v: str, norm: str) -> str:
    """SQL: PQ_M x PQ_K squared-L2 distances from the unit vector's
    subvectors to the model's codewords — entry [m][j] is the
    `_spark_l2sq(su, cw)` that `pq_codes` and the ADC distance table
    compute, with su = slice(v / norm) exactly as `pq_subvectors` slices
    it. The PQ_M subvectors are sliced once per row and zipped with the
    PQ_M codebook chunks. `v` and `norm` must be columns computed below a
    join: an inlined expression would be re-evaluated inside every lambda
    call."""
    subs = (
        f"transform(sequence(0, {PQ_M - 1}), sub_m -> "
        f"transform(slice({v}, sub_m * {PQ_SUB} + 1, {PQ_SUB}), x -> x / {norm}))"
    )
    chunks = (
        f"transform(sequence(0, {PQ_M - 1}), sub_m -> "
        f"slice(cb, sub_m * {PQ_K} + 1, {PQ_K}))"
    )
    return (
        f"zip_with({subs}, {chunks}, (su, cws) -> "
        f"transform(cws, cw -> {_spark_l2sq('su', 'cw')}))"
    )


def _encode(emb: DataFrame, model: DataFrame) -> DataFrame:
    """(cell, vec_id, codes) — `emb` encoded against the model row: the
    max-cosine cell (ties to the lowest cell) and, per subspace, the
    nearest codeword (ties to the lowest j), the choices the windowed
    `_assign` / `pq_codes` make. One narrow pass over
    the vectors crossed with the broadcast 1-row model; build and add
    both encode through here, so add == rebuild holds bit for bit."""
    return (
        vectors_with_norms(emb)
        .crossJoin(F.broadcast(model))
        .select(
            F.expr(f"{_ranked_cells('v', 'norm')}[0].cell").alias("cell"),
            "vec_id",
            F.expr(
                f"transform({_sub_dists('v', 'norm')}, "
                "ds -> array_position(ds, array_min(ds)) - 1)"
            )
            .cast("array<int>")
            .alias("codes"),
        )
    )


def build_ann_index(
    emb: DataFrame,
    train_rounds: int = ANN_TRAIN_ROUNDS,
    train_on: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Derive the two IVFADC index relations (`model`, `lists`) from the
    corpus vectors.

    One-time cost, the 'train + add' phase: BOTH quantizers are TRAINED
    (FAISS trains the coarse quantizer and the PQ codebooks in one
    train() call) over `train_on` (default: the corpus itself; pass a
    fixed sample at 100 TB, FAISS's own train/add split) — the coarse
    quantizer with `train_rounds` fixed Lloyd alternations from the
    deterministic seed (`trained_quantizer`), the codebook with one Lloyd
    round (`pq_train_codebooks`) — then `encode_ann_index` encodes every
    corpus vector against them. `train_rounds=0` keeps both seed
    quantizers (the on-the-fly IVF-PQ queries search that index, and the
    add/compact bit-equality fixtures use it so 'fresh rebuild' has a
    frozen quantizer to agree with); train_rounds < 0 raises ValueError.
    Each training round is one (cell, dim)-keyed shuffle with no
    per-round collect."""
    if train_rounds < 0:
        raise ValueError(
            "build_ann_index needs train_rounds >= 0 (0 = the seed "
            f"quantizers), got {train_rounds}"
        )
    if train_rounds == 0:
        return encode_ann_index(
            emb, seed_centroids(emb), pq_codebook(pq_subvectors(emb))
        )

    def _train_codebook() -> DataFrame:
        # one Lloyd round per subspace over the sliced init — the exact
        # training round q_ann_pq_trained_topk's oracle replays in SQL
        return pq_train_codebooks(train_on or emb, rounds=1).localCheckpoint()

    def _train_coarse() -> DataFrame:
        # `trained_quantizer` is a lazy unroll of the Lloyd rounds; the
        # checkpoint is the action that runs it (in the pool below, beside
        # the PQ training)
        cents, _ = trained_quantizer(train_on or emb, train_rounds)
        return cents.localCheckpoint()

    # The two training materializations are independent jobs on one
    # session; running them concurrently lets the scheduler back-fill each
    # job's straggler tail with the other's tasks instead of idling the
    # cluster between sequential actions (guide §2.6). Determinism is
    # untouched — each plan is the same fixed-seed unroll either way.
    cb, centroids = run_concurrently(
        emb.sparkSession, _train_codebook, _train_coarse
    )
    return encode_ann_index(emb, centroids, cb)


def encode_ann_index(
    emb: DataFrame, centroids: DataFrame, codebook: DataFrame
) -> dict[str, DataFrame]:
    """The index relations of `emb` under given quantizers — (cell, cv,
    cnorm) centroids and an (m, j, cw) codebook: the encode half of
    `build_ann_index`, and how an on-the-fly query gets an in-memory
    index to search with `ann_index_topk`.

    The 1-row `model` is localCheckpointed: it is read by the publish AND
    broadcast into the corpus encode, and its lineage is the training
    (or, untrained, a corpus scan) that must run once per build. `lists`
    is the lazy `_encode` of `emb` against it. A model without centroids
    or with a codebook of size != PQ_M * PQ_K raises ValueError."""
    cents = centroids.agg(
        F.sort_array(F.collect_list(F.struct("cell", "cv", "cnorm"))).alias(
            "cents"
        )
    )
    cb = codebook.agg(
        F.expr("transform(sort_array(collect_list(struct(m, j, cw))), s -> s.cw)")
        .alias("cb")
    )
    model = cents.crossJoin(cb).localCheckpoint()
    n_cells, n_codewords = model.select(F.size("cents"), F.size("cb")).first()
    if n_cells < 1 or n_codewords != PQ_M * PQ_K:
        raise ValueError(
            f"index training produced {n_cells} centroids and {n_codewords} "
            f"codewords (need >= 1 and {PQ_M * PQ_K}): the training vectors "
            "must include the seed rows (centroid and codebook vec_ids)"
        )
    return {"model": model, "lists": _encode(emb, model)}


def write_ann_index(index: dict[str, DataFrame], root: str) -> dict[str, int]:
    """Publish the index relations as snapshot tables under `root`; returns
    {table: committed version} (including the meta pin's own version).

    Multi-table consistency: each relation commits atomically on its own,
    but a re-index writes them in sequence — a reader resolving "latest
    of each" mid-re-index could pair new lists with an old model. So the
    LAST commit is a `meta` table pinning the exact (table, version)
    pair, and `read_ann_index` resolves through it: until the meta pin
    lands, every reader keeps getting the previous complete index
    (`sinks/manifest.publish_pins` and `read_pins`)."""
    # The table publishes are independent write actions on disjoint
    # paths; running them concurrently lets the corpus-sized `lists` write
    # back-fill the 1-row `model` commit's scheduling gaps (guide §2.6).
    # Readers stay consistent regardless of landing order: nothing is
    # visible until the meta pin — still committed LAST, after every
    # table write returned — publishes the complete index.
    spark = next(iter(index.values())).sparkSession
    # collect_stats=False: these relations are probed by equi-join, never
    # range-pruned — per-file footer stats would be dead weight collected on
    # the publish path
    publishes = [
        functools.partial(
            manifest.write_snapshot,
            index[name],
            f"{root}/{name}",
            mode="overwrite",
            collect_stats=False,
        )
        for name in INDEX_TABLES
    ]
    versions = dict(zip(INDEX_TABLES, run_concurrently(spark, *publishes)))
    versions[META_TABLE] = manifest.publish_pins(
        spark, f"{root}/{META_TABLE}", versions
    )
    return versions


def _check_layout(root: str, versions: dict[str, int]) -> None:
    """Refuse a pin set that lacks this layout's tables — an index written
    before the inverted-list layout (centroids/codebook/cells/codes) has
    no `model`/`lists` to search and must be rebuilt."""
    missing = [t for t in INDEX_TABLES if t not in versions]
    if missing:
        raise ValueError(
            f"ANN index at {root} pins {sorted(versions)}, not the "
            f"{'/'.join(INDEX_TABLES)} layout (missing {missing}); re-index "
            "it with write_ann_index(build_ann_index(...), root)"
        )


def read_ann_index(
    spark: SparkSession, root: str, versions: dict[str, int] | None = None
) -> dict[str, DataFrame]:
    """Resolve the committed index: by explicit {table: version} pins, or
    (default) through the latest `meta` pin — a CONSISTENT view even
    while a re-index is mid-flight (its meta pin is the last thing to
    land). The meta read is a few bounded rows on the driver. When the
    pin carries a `tombstones` row (a remove happened since the last
    compaction), the pending-removal relation rides along and
    `ann_index_topk` masks it out. A root written in the superseded
    four-table layout raises ValueError (re-index it)."""
    if versions is None:
        versions = manifest.read_pins(spark, f"{root}/{META_TABLE}")[1]
    _check_layout(root, versions)
    names = list(INDEX_TABLES)
    if TOMBSTONE_TABLE in versions:
        names.append(TOMBSTONE_TABLE)
    return {
        name: manifest.read_snapshot(
            spark, f"{root}/{name}", version=versions.get(name)
        )
        for name in names
    }


def add_to_ann_index(
    spark: SparkSession, root: str, new_emb: DataFrame
) -> dict[str, int]:
    """FAISS `add()`: fold NEW vectors into the persisted index without
    retraining — encode them against the FROZEN committed model (the
    build's own `_encode`, model row broadcast), append the resulting
    (cell, vec_id, codes) rows to the `lists` snapshot table (append mode
    reuses every existing file by reference — the increment is the only
    data written), and publish a fresh meta pin. Because the quantizers
    are frozen, add-then-search is EXACTLY equal to a full rebuild
    whenever the training vectors (centroid + codebook rows) were already
    in the index — the property tests/test_ann_index.py pins bit-for-bit.

    Concurrency: the meta pin commits with ``expected_parent`` — two
    racing adds cannot silently drop each other; the loser gets
    `SnapshotConflict` and re-runs. The lists append folds in the
    META-PINNED version's files (``base_version=``), not the table tip:
    rows appended by a racer or crashed add whose meta pin never landed
    are orphaned at the tip and NEVER folded forward — a re-run starts
    from the pinned state and cannot duplicate vec_ids (vacuum reclaims
    the orphan stage dirs). Duplicate vec_ids in the pinned index are
    refused outright (a doubled vector would surface twice in every
    candidate list).

    Returns the new {table: version} map (model unchanged)."""
    meta_version, versions = manifest.read_pins(spark, f"{root}/{META_TABLE}")
    _check_layout(root, versions)
    index = {
        name: manifest.read_snapshot(
            spark, f"{root}/{name}", version=versions[name]
        )
        for name in INDEX_TABLES
    }
    dup = (
        index["lists"]
        .join(F.broadcast(new_emb.select("vec_id")), "vec_id", "left_semi")
        .count()
    )
    if dup:
        raise ValueError(
            f"{dup} vec_ids already present in the index at {root}; "
            "adds must be novel vectors (re-index to replace)"
        )
    versions["lists"] = manifest.write_snapshot(
        _encode(new_emb, index["model"]),
        f"{root}/lists",
        mode="append",
        collect_stats=False,
        base_version=versions["lists"],
    )
    versions[META_TABLE] = manifest.publish_pins(
        spark, f"{root}/{META_TABLE}", versions, expected_parent=meta_version
    )
    return versions


def remove_from_ann_index(
    spark: SparkSession, root: str, vec_ids
) -> dict[str, int]:
    """FAISS `remove_ids()`: mark vectors deleted via a TOMBSTONE relation
    instead of rewriting the corpus-sided `lists` table — a remove is
    O(removed), search masks the tombstones with a broadcast anti-join
    (their count is bounded between compactions), and
    `compact_ann_index` later applies them physically. `vec_ids` is a
    one-column DataFrame or an iterable of ids. Unknown ids raise (a
    silent no-op remove hides caller bugs); re-adding a tombstoned id is
    refused by `add_to_ann_index`'s dup-check until a compaction
    physically drops the old rows. Meta-pin CAS as in add."""
    if not isinstance(vec_ids, DataFrame):
        vec_ids = spark.createDataFrame(
            [(int(v),) for v in vec_ids], "vec_id long"
        )
    vec_ids = vec_ids.select("vec_id").distinct()
    meta_version, versions = manifest.read_pins(spark, f"{root}/{META_TABLE}")
    _check_layout(root, versions)
    lists = manifest.read_snapshot(
        spark, f"{root}/lists", version=versions["lists"]
    )
    missing = (
        vec_ids.join(lists.select("vec_id"), "vec_id", "left_anti").count()
    )
    if missing:
        raise ValueError(
            f"{missing} vec_ids not present in the index at {root}; "
            "removes must name indexed vectors"
        )
    tomb_table = f"{root}/{TOMBSTONE_TABLE}"
    if TOMBSTONE_TABLE in versions:
        already = manifest.read_snapshot(
            spark, tomb_table, version=versions[TOMBSTONE_TABLE]
        )
        increment = vec_ids.join(already, "vec_id", "left_anti")
        versions[TOMBSTONE_TABLE] = manifest.write_snapshot(
            increment, tomb_table, mode="append", collect_stats=False,
            base_version=versions[TOMBSTONE_TABLE],
        )
    else:
        versions[TOMBSTONE_TABLE] = manifest.write_snapshot(
            vec_ids, tomb_table, mode="overwrite", collect_stats=False
        )
    versions[META_TABLE] = manifest.publish_pins(
        spark, f"{root}/{META_TABLE}", versions, expected_parent=meta_version
    )
    return versions


def compact_ann_index(
    spark: SparkSession, root: str, target_files: int = 4
) -> dict[str, int]:
    """Index maintenance: physically apply the pending tombstones to the
    `lists` relation and collapse the small files that repeated
    `add_to_ann_index` increments accrue (each add appends its own stage
    directory) into `target_files`. Publishes a fresh overwrite version +
    an empty tombstone set + a meta pin (CAS), so a racing search keeps
    reading the previous complete index. The rewrite is O(index), which
    is the amortized bargain: removes and adds stay O(increment) between
    compactions. With no removes in the window this is exactly
    `compact_snapshot` semantics — values unchanged, layout collapsed —
    so add+compact stays bit-equal to a fresh rebuild
    (tests/test_ann_index.py pins it)."""
    meta_version, versions = manifest.read_pins(spark, f"{root}/{META_TABLE}")
    _check_layout(root, versions)
    lists = manifest.read_snapshot(
        spark, f"{root}/lists", version=versions["lists"]
    )
    tombs = None
    if TOMBSTONE_TABLE in versions:
        tombs = manifest.read_snapshot(
            spark, f"{root}/{TOMBSTONE_TABLE}",
            version=versions[TOMBSTONE_TABLE],
        )
        lists = lists.join(F.broadcast(tombs), "vec_id", "left_anti")
    versions["lists"] = manifest.write_snapshot(
        lists.repartition(target_files),
        f"{root}/lists",
        mode="overwrite",
        collect_stats=False,
    )
    if tombs is not None:
        versions[TOMBSTONE_TABLE] = manifest.write_snapshot(
            tombs.limit(0),
            f"{root}/{TOMBSTONE_TABLE}",
            mode="overwrite",
            collect_stats=False,
        )
    versions[META_TABLE] = manifest.publish_pins(
        spark, f"{root}/{META_TABLE}", versions, expected_parent=meta_version
    )
    return versions


def ann_index_topk(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = 1,
    rerank: int | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """IVFADC top-k over an index — persisted (`read_ann_index`) or in
    memory (`build_ann_index` / `encode_ann_index`): `queries` is a raw
    vector relation (vec_id, ..., embedding) — typically tiny — and
    everything corpus-sided comes from `index`. Zero raw corpus-vector
    scans. This is the engine's one IVF-PQ search: the on-the-fly PQ,
    refine and IVFADC queries (similarity.q_ann_pq_topk, q_ann_rerank,
    q_ann_pq_trained_topk, q_ann_ivfpq_*) are an in-memory index searched
    here.

    Output (query_id, neighbor_id, cell, rank, adist) is hash-equal to the
    DuckDB oracles of those queries (`ivfadc_oracle`): the ADC table
    entries are the order-pinned 9dp-rounded DECIMAL folds, the cell
    choice the max-cosine/lowest-cell rule. Probing all cells (nprobe = the model's
    cell count) scores every vector — plain PQ/ADC.

    Per-request plan, one narrow pass over `lists`:
    * `queries` is scanned ONCE and crosses the broadcast 1-row model:
      per query, its nprobe best cells (an array sort in the assignment
      window's order) and its PQ_M x PQ_K decimal(18,9) distance table;
    * that query-sized relation, exploded per probed cell, broadcasts
      into `lists` on `cell` (pending tombstones anti-joined first);
    * a candidate's `adist` is the decimal(28,9) fold of
      dt[m*PQ_K + code] over its codes array — decimal addition is
      exact, so it equals the oracles' per-code `sum(d)`;
    * the (adist, vec_id) top-k window is the plan's ONE shuffle
      (query_id-keyed, fed only the probed cells' candidates).

    ``rerank=R`` adds FAISS's refine step (IndexRefineFlat; VERDICT r12
    #4): the ADC stage proposes its top-R pool per query, then ONLY those
    R rows are re-scored with the exact cosine against ``vectors`` (the
    full-precision relation) and cut to the final top-k — output then
    has cosine_topk's shape (query_id, neighbor_id, rank, score).
    Recall@k is provably >= the ADC-alone
    top-k at the same nprobe: the pool is a superset of ADC's own top-k,
    and any exact-top-k member in the pool outranks every other pool row
    under exact scoring. Scale shape: the pool rows (n_queries x R, each
    carrying its query's qv/qnorm) BROADCAST into a join against the
    `vectors` scan itself, so the full-precision relation is never
    shuffled and never scanned beyond the candidate probe — on a
    snapshot-committed corpus sorted by vec_id, footer-stats pruning
    makes that probe sub-scan too.

    Bad arguments raise ValueError: nprobe < 1, k < 1, rerank < k (a pool
    smaller than the final top-k), or rerank without `vectors`."""
    if nprobe < 1 or k < 1:
        raise ValueError(
            f"ann_index_topk needs nprobe >= 1 and k >= 1, got nprobe={nprobe}, k={k}"
        )
    if rerank is not None and rerank < k:
        raise ValueError(
            f"rerank pool must hold at least k candidates, got rerank={rerank} < k={k}"
        )
    if rerank is not None and vectors is None:
        raise ValueError("rerank needs the full-precision `vectors` relation")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.expr(_SPARK_V).alias("qv")
    ).withColumn("qnorm", F.expr(f"sqrt({_spark_dot('qv', 'qv')})"))
    probes = (
        q.crossJoin(F.broadcast(index["model"]))
        .select(
            "query_id",
            "qv",
            "qnorm",
            F.explode(
                F.expr(
                    f"transform(slice({_ranked_cells('qv', 'qnorm')}, 1, "
                    f"{nprobe}), p -> p.cell)"
                )
            ).alias("qcell"),
            F.expr(
                f"flatten(transform({_sub_dists('qv', 'qnorm')}, "
                "ds -> transform(ds, d -> CAST(round(d, 9) AS DECIMAL(18,9)))))"
            ).alias("dt"),
        )
    )
    if rerank is None:
        probes = probes.drop("qv", "qnorm")
    lists = index["lists"]
    tombs = index.get(TOMBSTONE_TABLE)
    if tombs is not None:
        # pending removals: masked at the candidate source — tombstone
        # count is bounded between compactions, so the anti-join side
        # broadcasts
        lists = lists.join(F.broadcast(tombs), "vec_id", "left_anti")
    scored = (
        lists.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "adist",
            F.expr(
                f"aggregate(transform(codes, (c, i) -> dt[i * {PQ_K} + c]), "
                "CAST(0 AS DECIMAL(28,9)), "
                "(acc, d) -> CAST(acc + d AS DECIMAL(28,9)))"
            ),
        )
        .drop("dt", "codes", "qcell")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                "cell",
                "rank",
                F.round(F.col("adist").cast("double"), 6).alias("adist"),
            )
        )
    pool = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rerank)
        .select("query_id", "vec_id", "qv", "qnorm")
    )
    rescored = (
        vectors.select("vec_id", F.expr(_SPARK_V).alias("v"))
        .withColumn("norm", F.expr(f"sqrt({_spark_dot('v', 'v')})"))
        .join(F.broadcast(pool), "vec_id")
        .withColumn(
            "score",
            F.expr(_spark_dot("v", "qv")) / (F.col("norm") * F.col("qnorm")),
        )
    )
    wx = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wx))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("score", 4).alias("score"),
        )
    )


@register(
    "q_ann_index_topk",
    oracle=ivfadc_oracle(ANN_TRAIN_ROUNDS, 1, nprobe=1),
    tags=("similarity", "northstar", "ivf", "pq", "index"),
)
def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search over the PERSISTED index, coarse quantizer TRAINED
    with ANN_TRAIN_ROUNDS Lloyd rounds (VERDICT r11 #3): build_ann_index's
    model/lists relations are committed through the snapshot sink and read
    back before scoring — no raw corpus vector is scanned at query time. The
    oracle unrolls the same fixed training rounds in SQL, so the driver
    hash-verifies the trained index end to end."""
    import hashlib

    emb = read_table(spark, sf_dir, "embeddings")
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/csdp_ann_index/{suffix}"
    write_ann_index(build_ann_index(emb), root)
    for name in (*INDEX_TABLES, META_TABLE):  # bound /tmp growth per run
        manifest.vacuum(f"{root}/{name}", keep_last=1, retention_seconds=0)
    index = read_ann_index(spark, root)
    return ann_index_topk(index, emb.filter(F.col("vec_id") < N_QUERIES))


def _builder_fingerprint() -> str:
    """Content hash of the modules whose code determines what
    build_ann_index produces for a given input (this one and the
    `fragments` it imports): a code change (new
    training rounds, a different PQ layout) must invalidate the serve
    cache even when the source fixture is byte-identical — otherwise a
    driver run would compare a stale index against the NEW composed
    oracle (code review r13)."""
    import hashlib

    from clinical_search_data_pipeline_spark.operators import fragments

    h = hashlib.md5()
    for path in (fragments.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _source_fingerprint(sf_dir: str) -> str:
    """Cache key of the serve-path index: source content (file names +
    sizes + mtimes — a regenerated fixture can never be served a stale
    index) x builder code (`_builder_fingerprint`). Prefixed with a
    per-SOURCE tag so different sources' caches coexist and reclamation
    never touches another source's live index."""
    import hashlib

    src = os.path.join(sf_dir, "embeddings.parquet")
    parts = []
    if os.path.isdir(src):
        for root_, _dirs, names in sorted(os.walk(src)):
            for name in sorted(names):
                full = os.path.join(root_, name)
                st = os.stat(full)
                parts.append(f"{os.path.relpath(full, src)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{src}:{st.st_size}:{st.st_mtime_ns}")
    src_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    content = hashlib.md5(
        "|".join([sf_dir, _builder_fingerprint(), *parts]).encode()
    ).hexdigest()[:12]
    return f"{src_tag}-{content}"


def serve_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build-IF-ABSENT persisted index for the serving path (VERDICT r12
    #6): the first caller per (source content, builder code) trains,
    commits, and reads back; every later caller — the probe/rerank
    queries below, and every bench iteration — resolves the committed
    artifacts and pays probe cost only. That is the FAISS deployment
    split the end-to-end `q_ann_index_topk` deliberately does NOT make
    (it rebuilds every run so the driver hash-verifies training itself).
    The cache key fingerprints the source AND the builder modules, so a
    regenerated fixture or a code change rebuilds instead of serving
    stale artifacts; concurrent first-callers for the same source race
    safely through the snapshot sink (both publish, the pin resolves one
    complete set). Reclamation only ever removes SUPERSEDED entries of
    the same source (same src_tag, different content hash) — other
    sources' live indexes are never touched (code review r13)."""
    import shutil

    cache_root = "/tmp/csdp_ann_index_serve"
    fp = _source_fingerprint(sf_dir)
    root = f"{cache_root}/{fp}"
    try:
        return read_ann_index(spark, root)
    except FileNotFoundError:
        pass
    # reclaim only THIS source's superseded entries before building
    src_tag = fp.split("-", 1)[0]
    if os.path.isdir(cache_root):
        for name in os.listdir(cache_root):
            if name.startswith(f"{src_tag}-") and name != fp:
                shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)
    emb = read_table(spark, sf_dir, "embeddings")
    write_ann_index(build_ann_index(emb), root)
    return read_ann_index(spark, root)


@register(
    "q_ann_index_probe",
    oracle=ivfadc_oracle(ANN_TRAIN_ROUNDS, 1, nprobe=IVF_NPROBE),
    tags=("similarity", "northstar", "ivf", "pq", "index", "serve"),
)
def q_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-ONLY search of the persisted trained index at nprobe=2
    (VERDICT r12 #6): `serve_index` resolves the committed artifacts —
    building them only if this source has never been indexed — so the
    timed work is what a deployment's query path actually pays: the query
    relation crossed with the broadcast model row, broadcast into the
    `lists` scan on `cell`. The end-to-end build+train+search twin is
    `q_ann_index_topk`; this row is the serving latency the bench tracks
    round over round."""
    index = serve_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_index_topk(
        index, emb.filter(F.col("vec_id") < N_QUERIES), nprobe=IVF_NPROBE
    )


@register(
    "q_ann_index_rerank",
    oracle=ivfadc_oracle(
        ANN_TRAIN_ROUNDS, 1, nprobe=IVF_NPROBE, rerank=RERANK_POOL
    ),
    tags=("similarity", "northstar", "ivf", "pq", "index", "rerank", "serve"),
)
def q_ann_index_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS refine over the persisted index (VERDICT r12 #4): the
    trained-index ADC stage proposes RERANK_POOL candidates per query at
    nprobe=2, then exact cosine re-scores ONLY those (candidate pairs
    broadcast into the full-precision join — no corpus scan) and cuts to
    the final top-k. Recall@k is provably >= the probe-only top-k at the
    same nprobe (pool-superset argument, see ann_index_topk), measured in
    ANN_RECALL.md's ivfadc_index_rerank_p2 row against ivfpq_p2."""
    index = serve_index(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_index_topk(
        index,
        emb.filter(F.col("vec_id") < N_QUERIES),
        nprobe=IVF_NPROBE,
        rerank=RERANK_POOL,
        vectors=emb,
    )
