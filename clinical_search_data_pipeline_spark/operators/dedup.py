"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

North-star operators for a 100 TB training-data pipeline (BASELINE.json).
The reference's only dedup is key-based (streaming watermark dedup,
streaming_to_curated_stream.py:144-151 — covered by q_dedup_events /
streaming/dedup.py); content-level near-dup detection is this engine's
extension, built entirely from Catalyst expressions (no UDFs):

* exact        — md5 content hash, one survivor per hash
* n-gram Jaccard — EXACT pairs via prefix-filtered shingle join (lossless;
                 hot shingles never enter the pair join)
* MinHash-LSH  — banded signatures -> candidate pairs -> verified Jaccard;
                 the probabilistic scale path: candidate generation is an
                 equi-join on (band, band_key), never a cross join
* SimHash      — 16-bit sign-of-sums fingerprint; equal-fingerprint buckets

Hashes are md5-derived 60-bit ints (functions/hashing.py) so DuckDB can
replicate them bit-for-bit; swap `hash64` for `xxhash64` in production.

Scale posture: every stage is shuffle-on-key (shingle, band key, doc pair).
The shingle relation is the big intermediate (|docs| x |shingles|); at 100 TB
additionally prefilter by length bands and dedupe exact first. The exact
pair join is prefix-filtered (see jaccard_pairs), so common-shingle posting
lists never quadratically explode. Candidate verification joins shingles
only for candidate docs (semi-join pushdown), not all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache
from clinical_search_data_pipeline_spark.functions import textfns
from clinical_search_data_pipeline_spark.functions.hashing import duck_hash64, hash64
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

# Constants and the shingle oracle CTE live in operators/fragments.py (a
# non-registering module) so that `pipeline` can use them without importing
# this module's 5 registrations into the driver window.
from clinical_search_data_pipeline_spark.operators.fragments import (  # noqa: F401
    BANDS,
    JACCARD_THRESHOLD,
    NUM_HASHES,
    ROWS_PER_BAND,
    SHINGLE_K,
    SIMHASH_BITS,
    _DUCK_SHINGLES_CTE,
)

# ---------------------------------------------------------------------------
# Builders
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact content dedup: min doc_id survives per normalized-text hash.
    (The fixture corpus has no exact dups — planted dups are *near*-dups —
    so this collapses nothing there; mechanics still oracle-verified.)"""
    hashed = fan_out(docs).select(
        "doc_id", F.md5(F.lower(F.col(text_col))).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))


def shingle_sets(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, sset: array<string>, n: int) — each doc's DISTINCT k-shingle
    set as one array row.

    This is the canonical cached form: `array_distinct` dedupes per-row
    inside the narrow projection, so building it is ZERO shuffles (the
    explode+distinct formulation pays a corpus-wide exchange for the same
    relation). The exploded (doc_id, shingle) view derives from it by a
    narrow `explode` (shingle_relation).

    `fan_out` first: tokenization + shingling is the heaviest narrow stage
    in the dedup family and must not ride a single input split
    (sources/readers.fan_out)."""
    return (
        fan_out(docs)
        .select("doc_id", textfns.tokens("text").alias("w"))
        .filter(F.expr(f"size(w) >= {k}"))
        .select("doc_id", F.array_distinct(textfns.shingles("w", k)).alias("sset"))
        .withColumn("n", F.size("sset"))
    )


def shingle_relation(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct (doc_id, k-word shingle) pairs — narrow explode of
    shingle_sets, no shuffle."""
    return shingle_sets(docs, k).select("doc_id", F.explode("sset").alias("shingle"))


def _verify_pairs(
    cand: DataFrame,
    sets: DataFrame,
    threshold: float,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification for a candidate-pair relation against
    `shingle_sets` output. Shared by the prefix-filtered exact path and the
    MinHash-LSH path — identical verification semantics.

    Shape: two equi-joins on doc id and a per-row `array_intersect`. The
    alternative — re-exploding candidates against the shingle relation and
    counting the intersection with a (pair, shingle) shuffle join — moves
    |pairs| x |shingles/doc| rows through a shuffle (~6 M at sf0.1); the
    set-array join moves each doc's set once per candidate pair, and the
    array column is the same footprint as the text it came from, so the
    doc_id-keyed shuffle stays proportional to candidate volume at 100 TB.

    Sets are intersected as xxhash64 longs, not strings — 4x smaller join
    payload and cheaper per-row hashing (measured ~2.5x on the verify
    stage). |intersection| is unchanged unless two distinct shingles of one
    pair collide in 64 bits (P ~ |set|^2/2^65 per pair — vanishing; the
    oracle hash-compare would surface it).

    ``sets_b``: when the candidate relation's sides draw from KNOWN
    disjoint populations (batch-vs-corpus admission: doc_a is always
    corpus-side, doc_b always batch-side), pass the doc_b population here
    and only its rows feed the doc_b join — the corpus-sized relation is
    scanned once instead of twice per call (and per micro-batch in the
    streaming gates). Defaults to ``sets`` (symmetric self-pairing)."""
    hashed = sets.select(
        "doc_id", F.expr("transform(sset, s -> xxhash64(s))").alias("hset"), "n"
    )
    hashed_b = hashed if sets_b is None else sets_b.select(
        "doc_id", F.expr("transform(sset, s -> xxhash64(s))").alias("hset"), "n"
    )
    a = hashed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("set_a"),
        F.col("n").alias("n_a"),
    )
    b = hashed_b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("set_b"),
        F.col("n").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    # Length filter (lossless): J >= t forces min(n_a,n_b) >= t*max(n_a,n_b)
    # (c <= min and c(1+t) >= t(n_a+n_b)). Cheap conjunct first, so codegen
    # short-circuits before hashing the arrays for most non-pairs.
    sized = (F.col("n_a") >= threshold * F.col("n_b")) & (
        F.col("n_b") >= threshold * F.col("n_a")
    )
    # extra candidate columns (e.g. incremental_dedup's origin tag) ride
    # through verification untouched
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(sized & (jac >= threshold))
        .select(*cand.columns, F.round(jac, 4).alias("jaccard"))
    )


def canonicalize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Optional pre-step for the shingle family: replace `text_col` with its
    canonical form (functions/normalize.py) so re-cased / re-punctuated /
    re-accented copies shingle identically. Narrow projection — free at
    scan speed; see q_jaccard_pairs_normalized for the planted-copy proof
    that raw shingles miss what normalized shingles catch."""
    from clinical_search_data_pipeline_spark.functions.normalize import normalize_text

    others = [c for c in docs.columns if c != text_col]
    return docs.select(*others, normalize_text(text_col).alias(text_col))


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    k: int = SHINGLE_K,
    normalize: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING — lossless, so the
    all-pairs oracle is unchanged.

    The naive shingle self-join explodes on common shingles: a shingle in f%
    of docs contributes (f·N)² candidate pairs. Prefix filtering (Chaudhuri
    et al. ICDE'06 / Bayardo et al. WWW'07) bounds that: order shingles
    globally rarest-first (document frequency asc, shingle asc); Jaccard ≥ t
    implies overlap ≥ ceil(t·|X|) for each side, so the *rarest-first prefix*
    of length |X| − ceil(t·|X|) + 1 of BOTH docs must share their smallest
    common shingle (else ≥ |X| − ceil(t·|X|) + 1 elements of X are
    non-shared — contradiction). Candidates therefore come from a self-join
    of PREFIXES only: ~(1−t)·|X|+1 shingles per doc (5× fewer at t=0.8) and,
    decisively, the hottest shingles sort to the END of the order and never
    enter the join — the 100 TB skew hazard is removed, not mitigated.
    Candidates are then exact-verified on the full shingle sets.

    The shingle-set relation feeds three branches; `engine_cache`
    materializes it once (a zero-shuffle narrow build, see shingle_sets), and
    harness loops release it per-query via `caching.release_caches` so
    registry-wide runs don't accumulate pinned plans. At 100 TB stage it to
    parquet instead.
    """
    if normalize:
        docs = canonicalize(docs)
    # REBALANCE before caching: the set build rides fan_out's wide narrow
    # stage, but every downstream shuffle pays |map parts| x |reduce parts|
    # block overhead, so the cache must be SIZE-partitioned (AQE packs to
    # advisory bytes — few partitions at sf0.1, thousands at 100 TB).
    # Measured: dfreq from a 64-partition cache 2.3 s, from rebalanced 0.3 s.
    sets = engine_cache(shingle_sets(docs, k).hint("rebalance"))
    # The prefix pipeline is keyed by xxhash64(shingle), not the k-word
    # string: the exploded relation crosses TWO window exchanges (document
    # frequency by shingle, rank by doc) and the candidate equi-join, and
    # an 8-byte key shuffles/sorts ~3x cheaper than a multi-word string.
    # Any consistent global total order makes the prefix bound valid, so
    # (df, hash) works as well as (df, string); collisions are the SAME
    # vanishing class _verify_pairs already documents (a cross-doc collision
    # only adds a candidate that exact verification rejects).
    sh = sets.select(
        "doc_id", "n", F.explode(F.expr("transform(sset, s -> xxhash64(s))")).alias("shingle")
    )
    # Document frequency as count-over-window, NOT groupBy+join-back. At
    # fixture scale Catalyst broadcasts the tiny df aggregate and the two
    # plans cost the same; at corpus scale the distinct-shingle relation is
    # far beyond broadcast range and the join-back degrades to a second full
    # shuffle+sort of the shingle relation (SMJ probe side). The window
    # form needs exactly one shuffle+sort of it — same hot-shingle task
    # size (one group per key either way), one fewer corpus-sized exchange.
    w_df = Window.partitionBy("shingle")
    w_pos = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    ranked = sh.withColumn("df", F.count("*").over(w_df)).withColumn(
        "pos", F.row_number().over(w_pos)
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("doc_id", "shingle", "n")
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter inside the candidate join (lossless, see _verify_pairs):
    # set sizes ride the prefix rows, so size-incompatible docs never become
    # candidate pairs — ~4x fewer rows into the distinct and the verify.
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") >= threshold * F.col("b.n"))
            & (F.col("b.n") >= threshold * F.col("a.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, sets, threshold)


def minhash_signatures(
    docs: DataFrame, num_hashes: int = NUM_HASHES, k: int = SHINGLE_K
) -> DataFrame:
    """MinHash signature per doc: num_hashes independent hash functions
    h_j(s) = hash64(j || ':' || s), min over the doc's shingle set."""
    sh = shingle_relation(docs, k)
    mins = [
        F.min(hash64(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    k: int = SHINGLE_K,
    normalize: bool = False,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.

    Candidate generation: docs agreeing on ALL rows of any band meet in an
    equi-join on (band, band_key). With 4 bands x 2 rows, P(candidate) =
    1-(1-j^2)^4 — ~99.9% recall at j=0.9. Verification then computes exact
    Jaccard for candidates only.
    """
    if normalize:
        docs = canonicalize(docs)
    rows = num_hashes // bands
    # ONE materialized shingle-set relation feeds signatures AND
    # verification (was: two separate .cache()s of the exploded plan).
    # Rebalanced before caching — see jaccard_pairs.
    sets = engine_cache(shingle_sets(docs, k).hint("rebalance"))
    sh = sets.select("doc_id", F.explode("sset").alias("shingle"))
    mins = [
        F.min(hash64(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    # NOT cached (unlike minhash_recall's signature): here sig fans out to
    # only 4 band projections feeding ONE consumer chain — AQE's runtime
    # exchange reuse already dedupes the agg, and an interleaved A/B showed
    # the cache's materialization barrier costing as much as it saved
    # (the r13 negative-result rule: lineage cuts pay across actions or at
    # massive static fan-out, not inside one action at fan-out ~8).
    sig = sh.groupBy("doc_id").agg(*mins)
    band_frames = [
        sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.concat_ws(",", *[f"mh{b * rows + r}" for r in range(rows)]).alias("bkey"),
        )
        for b in range(bands)
    ]
    banded = band_frames[0]
    for bf in band_frames[1:]:
        banded = banded.unionByName(bf)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact Jaccard (sets joined only for
    # candidates — identical semantics to the prefix-filtered exact path).
    return _verify_pairs(cand, sets, threshold)


def _simhash_col_exprs(engine: str, bits: int = SIMHASH_BITS) -> str:
    """Sign-of-sums SimHash as one SQL expression over an exploded token hash
    relation (column `h`, grouped by doc_id). Generated for both engines from
    one template so they cannot drift."""
    div = "div" if engine == "spark" else "//"
    terms = [
        f"(CASE WHEN sum(((h {div} {1 << i}) % 2) * 2 - 1) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ]
    return " + ".join(terms)


def _simhash_doc_local_expr(bits: int = SIMHASH_BITS) -> str:
    """SimHash as a single doc-local higher-order-function expression over
    the pre-hashed distinct-token array `hs` (see simhash_fingerprints).

    Same per-bit term family as _simhash_col_exprs, re-based on the identity
    sum(bit_i*2 - 1) >= 0  <=>  2*sum(bit_i) >= n: each bit is an in-array
    `aggregate` popcount compared against the token count — no exploded
    relation, no shuffle. Equality with the exploded/grouped DuckDB oracle
    (built from _simhash_col_exprs) is pinned by registry-wide parity
    (tests/test_oracle_parity.py); the zero-exchange plan shape by
    tests/test_plans.py."""
    terms = [
        f"(CASE WHEN 2 * aggregate(hs, 0L, (a, h) -> a + (h div {1 << i}) % 2)"
        f" >= size(hs) THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ]
    return " + ".join(terms)


def simhash_fingerprints(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over its distinct token set (unit weights).

    Zero-shuffle by construction: SimHash is embarrassingly doc-local, so
    the fingerprint is computed per ROW — distinct tokens via
    array_distinct, md5-hash each token inside a `transform` lambda, then
    64 in-array popcount aggregates. The previous explode→distinct→groupBy
    formulation shuffled a token relation ~10x the corpus size TWICE for a
    computation that never needed to leave its input partition — at 100 TB
    that shuffle, not the hashing, is the entire cost."""
    hashed = fan_out(docs).select(
        "doc_id",
        F.transform(
            F.array_distinct(textfns.tokens("text")), lambda t: hash64(t)
        ).alias("hs"),
    )
    return hashed.select(
        "doc_id", F.expr(_simhash_doc_local_expr(bits)).alias("simhash")
    )


def simhash_buckets(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Candidate near-dup pairs: identical SimHash fingerprints (equi-join —
    the scale-sane bucketing; Hamming-1 neighborhoods would add bit-flip
    probes, same join shape)."""
    fp = simhash_fingerprints(docs, bits)
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b, (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("simhash"),
    )


# ---------------------------------------------------------------------------
# Oracle SQL (generated from the same constants)
# ---------------------------------------------------------------------------

_DUCK_JACCARD_TAIL = f"""
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1)
SELECT i.doc_a, i.doc_b,
       round(i.n_common / (sa.n_shingles + sb.n_shingles - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common / (sa.n_shingles + sb.n_shingles - i.n_common) >= {JACCARD_THRESHOLD}
"""

_SIG_MINS = ",\n         ".join(
    "min({h}) AS mh{j}".format(h=duck_hash64(f"'{j}:' || shingle"), j=j)
    for j in range(NUM_HASHES)
)
_BAND_SELECTS = "\n  UNION ALL\n  ".join(
    "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
        b=b,
        key=" || ',' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ),
    )
    for b in range(BANDS)
)


@register(
    "q_doc_exact_dedup",
    oracle="""
SELECT md5(lower(text)) AS content_hash, min(doc_id) AS doc_id
FROM documents GROUP BY 1
""",
    tags=("dedup", "northstar"),
)
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(read_table(spark, sf_dir, "documents"))


@register(
    "q_jaccard_pairs",
    oracle=f"""
WITH {_DUCK_SHINGLES_CTE},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
{_DUCK_JACCARD_TAIL}
""",
    tags=("dedup", "northstar"),
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(read_table(spark, sf_dir, "documents"))


@register(
    "q_minhash_lsh_pairs",
    oracle=f"""
WITH {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {_SIG_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_BAND_SELECTS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::DOUBLE AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
{_DUCK_JACCARD_TAIL}
""",
    tags=("dedup", "northstar", "lsh"),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(read_table(spark, sf_dir, "documents"))


_DUCK_TOKEN_HASH_CTE = f"""
tok AS (
  SELECT DISTINCT doc_id, unnest({textfns.duck_tokens('text')}) AS token
  FROM documents
),
hashed AS (SELECT doc_id, {duck_hash64('token')} AS h FROM tok)
"""


@register(
    "q_simhash_fingerprints",
    oracle=f"""
WITH {_DUCK_TOKEN_HASH_CTE}
SELECT doc_id, {_simhash_col_exprs('duck')} AS simhash
FROM hashed GROUP BY doc_id
""",
    tags=("dedup", "northstar"),
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(read_table(spark, sf_dir, "documents"))


@register(
    "q_simhash_buckets",
    oracle=f"""
WITH {_DUCK_TOKEN_HASH_CTE},
fp AS (
  SELECT doc_id, {_simhash_col_exprs('duck')} AS simhash
  FROM hashed GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
""",
    tags=("dedup", "northstar"),
)
def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_buckets(read_table(spark, sf_dir, "documents"))

# ---------------------------------------------------------------------------
# MinHash-LSH recall evidence (the text-dedup twin of q_ann_recall)
# ---------------------------------------------------------------------------

# (bands, rows_per_band) settings a tuner sweeps; each partitions the SAME
# NUM_HASHES-signature, so one signature aggregation feeds every row and the
# configs nest: an r-row band agreeing implies every contained band of any
# finer config agrees, hence candidates(8x1) >= candidates(4x2) >=
# candidates(2x4) — pinned in tests/test_dedup.py.
MINHASH_RECALL_CONFIGS: tuple[tuple[int, int], ...] = ((8, 1), (4, 2), (2, 4))


def minhash_recall(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Candidate-recall evidence for banded MinHash-LSH vs the exact
    prefix-filtered Jaccard pairs — the curve a 100 TB tuner reads before
    picking (bands, rows_per_band), exactly as q_ann_recall serves the ANN
    family.

    One row per config: `candidates` (cost proxy — pairs entering exact
    verification), `hits` (= |candidates ∩ exact pairs|; verification keeps
    only true pairs, so this IS the surviving-pair count), `possible`
    (= |exact pairs|), `recall_bp` = floor(hits*10000/possible) — integer
    basis points, so the value hash can never drift on float rounding.

    Plan (r14 restructure, guide §2.3/§2.4): the configs NEST — an r-row
    band agreeing implies every contained band of any finer config agrees —
    so a (4x2) or (2x4) candidate pair is always an (8x1) candidate pair
    (the containment already pinned in tests/test_dedup.py). Only the
    FINEST config's banded self-join therefore ever runs: 8 single-hash
    band projections of the cached signature (8-byte LONG keys, not the
    former 14-projection union with string band keys on both sides), and
    the coarser configs' memberships are boolean flags evaluated from the
    two signatures attached to each candidate pair. Both counting branches
    collapse to ONE aggregation over the flagged pairs (count + two
    conditional sums, unpivoted back to config rows), and the exact-pair
    join runs once instead of once per config. vs the r13 form: static
    plan 2,167 -> ~700 lines, banded shuffle bytes ~2.6x smaller (8/14 of
    the rows at 8-byte keys), two config-keyed aggregations removed. The
    exact side is the registered q_jaccard_pairs pipeline (its cached
    shingle subplan is plan-matched by the CacheManager, so the corpus is
    shingled once). The `possible` scalar rides a broadcast equi-join on a
    constant key — no BroadcastNestedLoop.

    `num_hashes` is pinned by MINHASH_RECALL_CONFIGS: its finest config
    must be num_hashes single-hash bands, so any other value raises
    ValueError.
    """
    fine_bands, fine_rows = MINHASH_RECALL_CONFIGS[0]
    if fine_rows != 1 or fine_bands != num_hashes:
        raise ValueError(
            f"minhash_recall needs num_hashes == {fine_bands} single-hash "
            f"bands, the finest of MINHASH_RECALL_CONFIGS "
            f"({fine_bands}x{fine_rows}); got num_hashes={num_hashes}"
        )
    spark = docs.sparkSession
    sets = engine_cache(shingle_sets(docs, k).hint("rebalance"))
    # Signature as a NARROW pass (r14, guide §2.4 "remove shuffles
    # outright"): each doc's 8 min-hashes are array_min over a transform of
    # its own cached shingle-set array — the same md5-derived values as the
    # former explode + groupBy(doc_id) + 8-min aggregation, without
    # materializing the corpus-wide exploded relation or its exchange
    # (measured 2.0 s of the row at sf0.1). Docs with empty shingle sets
    # were absent from the grouped form (no exploded rows) and are filtered
    # here to match.
    sig_cols = [
        F.expr(
            "array_min(transform(sset, s -> CAST(conv(substring("
            f"md5(concat('{j}:', s)), 1, 15), 16, 10) AS BIGINT)))"
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]
    # Cache the signature relation: it feeds the 8 band projections on both
    # self-join sides plus the two per-pair signature attachments — one
    # doc-count-sized cache (doc_id + 8 longs) truncates all of it
    # (guide §3.3 "materialising an intermediate truncates the plan").
    # fan_out first: the cached set relation is byte-tiny (AQE rebalances
    # it to 1-2 partitions), so without it the 8-md5-per-shingle pass runs
    # on 2 cores (measured 2.5 s of the row; 0.4 s fanned out).
    from clinical_search_data_pipeline_spark.sources.readers import fan_out

    # ... and rebalance after: the hash pass wants all cores, but the cached
    # 9-column result is byte-tiny and feeds 10 downstream projections — at
    # fan_out width the 8-way band union alone schedules ~256 near-empty
    # tasks (measured +1.3 s on the candidate fill).
    sig = engine_cache(
        fan_out(sets.filter(F.size("sset") > 0))
        .select("doc_id", *sig_cols)
        .hint("rebalance")
    )
    frames = [
        sig.select(
            "doc_id",
            F.lit(b).cast("int").alias("band"),
            F.col(f"mh{b}").alias("bkey"),
        )
        for b in range(fine_bands)
    ]
    banded = frames[0]
    for fdf in frames[1:]:
        banded = banded.unionByName(fdf)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)],
    )

    def member(rows: int) -> F.Column:
        """True when some `rows`-wide band of the pair's signatures agrees."""
        flags = None
        for band in range(num_hashes // rows):
            f = None
            for r in range(rows):
                j = band * rows + r
                eq = F.col(f"a{j}") == F.col(f"b{j}")
                f = eq if f is None else (f & eq)
            flags = f if flags is None else (flags | f)
        return flags

    # flagged candidate pairs feed two aggregations (candidate counts, hit
    # counts) — cache, candidate-pair-sized (doc_a, doc_b, 2 booleans).
    cand = engine_cache(
        pairs.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            *[
                member(rows).alias(f"m_{b_cnt}_{rows}")
                for b_cnt, rows in MINHASH_RECALL_CONFIGS[1:]
            ],
        )
    )
    exact = engine_cache(
        jaccard_pairs(docs, threshold, k).select("doc_a", "doc_b")
    )

    def per_config_counts(rel: DataFrame, out: str) -> DataFrame:
        """One aggregation -> (bands, rows_per_band, <out>) config rows."""
        aggs = [F.count("*").alias(f"n_{fine_bands}_{fine_rows}")] + [
            F.sum(F.col(f"m_{b_cnt}_{rows}").cast("long")).alias(
                f"n_{b_cnt}_{rows}"
            )
            for b_cnt, rows in MINHASH_RECALL_CONFIGS[1:]
        ]
        stack = ", ".join(
            f"{b_cnt}, {rows}, n_{b_cnt}_{rows}"
            for b_cnt, rows in MINHASH_RECALL_CONFIGS
        )
        return rel.agg(*aggs).selectExpr(
            f"stack({len(MINHASH_RECALL_CONFIGS)}, {stack}) "
            f"AS (bands, rows_per_band, {out})"
        )

    cnt = per_config_counts(cand, "candidates")
    # no broadcast hint on exact: the exact-pair set is dup-rate-
    # proportional (corpus-sized at production dup rates) — AQE broadcasts
    # it at fixture scale on its own, and at 100x the keyed shuffle is the
    # design (the r11-tightened hint lint flags a forced broadcast here)
    hits = per_config_counts(cand.join(exact, ["doc_a", "doc_b"]), "hits")
    possible = exact.agg(F.count("*").alias("possible")).withColumn(
        "jkey", F.lit(1)
    )
    dim = spark.createDataFrame(
        list(MINHASH_RECALL_CONFIGS), "bands int, rows_per_band int"
    ).withColumn("jkey", F.lit(1))
    return (
        dim.join(cnt, ["bands", "rows_per_band"], "left")
        .join(hits, ["bands", "rows_per_band"], "left")
        .join(F.broadcast(possible), "jkey")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce(F.col("candidates"), F.lit(0)).cast("long").alias("candidates"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.col("possible").cast("long").alias("possible"),
            F.expr("div(coalesce(hits, 0) * 10000, possible)").alias("recall_bp"),
        )
        .orderBy("bands")
    )


def _minhash_recall_oracle() -> str:
    """Composed FROM the registered q_jaccard_pairs oracle (registry.oracle_of)
    so the exact side can never drift from the SQL the driver verifies."""
    from clinical_search_data_pipeline_spark.registry import oracle_of

    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT CAST({bc} AS INTEGER) AS bands,"
        " CAST({rw} AS INTEGER) AS rows_per_band,"
        " doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            bc=b_cnt,
            rw=rows,
            b=b,
            key=" || ',' || ".join(
                f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b_cnt, rows in MINHASH_RECALL_CONFIGS
        for b in range(b_cnt)
    )
    values = ", ".join(
        f"(CAST({b_cnt} AS INTEGER), CAST({rows} AS INTEGER))"
        for b_cnt, rows in MINHASH_RECALL_CONFIGS
    )
    return f"""
WITH {_DUCK_SHINGLES_CTE},
sig AS (
  SELECT doc_id,
         {_SIG_MINS}
  FROM sh GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.bands, a.rows_per_band,
         a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bands = b.bands AND a.rows_per_band = b.rows_per_band
   AND a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
exact AS (
  SELECT doc_a, doc_b FROM (
{oracle_of("q_jaccard_pairs")}
  )
),
cnt AS (
  SELECT bands, rows_per_band, count(*) AS candidates
  FROM cand GROUP BY 1, 2
),
h AS (
  SELECT c.bands, c.rows_per_band, count(*) AS hits
  FROM cand c JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
  GROUP BY 1, 2
),
p AS (SELECT count(*) AS possible FROM exact)
SELECT v.bands, v.rows_per_band,
       COALESCE(cnt.candidates, 0) AS candidates,
       COALESCE(h.hits, 0) AS hits,
       p.possible AS possible,
       COALESCE(h.hits, 0) * 10000 // p.possible AS recall_bp
FROM (VALUES {values}) v(bands, rows_per_band)
CROSS JOIN p
LEFT JOIN cnt ON cnt.bands = v.bands AND cnt.rows_per_band = v.rows_per_band
LEFT JOIN h ON h.bands = v.bands AND h.rows_per_band = v.rows_per_band
ORDER BY v.bands
"""


@register(
    "q_minhash_recall",
    oracle=_minhash_recall_oracle(),
    tags=("dedup", "lsh", "evidence"),
)
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost evidence table for banded MinHash-LSH vs exact Jaccard
    pairs: one row per (bands, rows_per_band) over the shared 8-hash
    signature. The dedup-family twin of q_ann_recall."""
    return minhash_recall(read_table(spark, sf_dir, "documents"))
