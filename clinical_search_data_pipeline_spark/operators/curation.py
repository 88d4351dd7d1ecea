"""Training-data curation extensions: passage-level dedup, SemDeDup,
reproducible global training order.

North-star operators beyond the reference (BASELINE.json) — the reference
pipeline (processing/spark/jobs/*) stops at key-based dedup; a 100 TB
training-data pipeline additionally needs sub-document dedup and
corpus-shuffle primitives:

* passage dedup  — CCNet / RefinedWeb-style: chunk each document into
                   fixed word-count passages, keep only the globally first
                   occurrence of each duplicated passage, rebuild the
                   document text (Wenzek et al. 2020, CCNet; Penedo et al.
                   2023, RefinedWeb).
* SemDeDup       — semantic dedup over embeddings: coarse k-cell
                   assignment (shared with the IVF index), within-cell
                   pairwise cosine, drop the higher id of any pair above
                   tau (Abbas et al. 2023, SemDeDup).
* train order    — reproducible global shuffle rank from a seeded content
                   hash, computed DISTRIBUTED: bucket-prefix partial ranks
                   plus broadcast bucket offsets — no single-partition
                   global window anywhere.

All Catalyst expressions (no UDFs); every query has a bit-exact DuckDB
oracle (hashes are the md5-derived 60-bit ints from functions/hashing).

Scale posture: passage dedup is two keyed shuffles (passage text, then
doc_id for reassembly); SemDeDup's quadratic term is bounded per cell and
the cell count grows with the corpus (sqrt(N) cells in production, seeded
by k-means|| — same argument as the IVF index, ann_index.py); train order
replaces the W2 single-partition rank hazard with a 64-way uniform bucket
shuffle whose only global step is a 64-row offsets relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.functions.hashing import duck_hash64, hash64
from clinical_search_data_pipeline_spark.operators.fragments import (
    _DUCK_BASE_CTE,
    _duck_dot,
    _spark_dot,
)
from clinical_search_data_pipeline_spark.operators.ann_index import (
    duck_lloyd_ctes,
    trained_quantizer,
)
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

# ---------------------------------------------------------------------------
# Passage-level (sub-document) dedup
# ---------------------------------------------------------------------------

PASSAGE_WORDS = 10  # fixed word-count chunking; CCNet dedups at paragraph
#                     granularity — the fixture corpus has no newlines, so
#                     the passage boundary is a word-count chunk instead.


def passages(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """(doc_id, pos, passage) — each doc chunked into p-word passages.

    Chunking is a narrow higher-order-function projection (split ->
    transform/slice -> posexplode): ZERO shuffles, and `fan_out` first so
    the HOF-heavy stage never rides a single input split. The tail chunk
    keeps whatever words remain (slice clamps), matching DuckDB
    list_slice semantics in the oracle.
    """
    w = fan_out(docs).select("doc_id", F.split(F.col("text"), " ").alias("w"))
    chunks = F.expr(
        f"transform(sequence(1, CAST(ceil(size(w) / {p}.0) AS INT)), "
        f"i -> array_join(slice(w, (i - 1) * {p} + 1, {p}), ' '))"
    )
    return w.select("doc_id", F.posexplode(chunks).alias("pos", "passage"))


def passage_dup_stats(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """(passage_hash, n_docs, n_occurrences) for passages appearing in >= 2
    distinct documents — the corpus-duplication profile that motivates
    sub-document dedup. One shuffle on passage text."""
    return (
        passages(docs, p)
        .groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.md5("passage").alias("passage_hash"), "n_docs", "n_occurrences")
    )


def passage_dedup(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """(doc_id, clean_text, n_passages, n_dropped) — every document rebuilt
    with only the globally FIRST occurrence (min (doc_id, pos)) of each
    passage retained.

    Plan: chunk (narrow) -> first-occurrence rank (one shuffle keyed on the
    passage text) -> reassemble (one shuffle keyed on doc_id; collect_list
    of kept (pos, passage) structs, array_sort restores document order).
    Both shuffles are on high-cardinality keys; nothing is corpus-global.
    """
    w_first = Window.partitionBy("passage").orderBy("doc_id", "pos")
    flagged = passages(docs, p).withColumn(
        "kept", F.row_number().over(w_first) == F.lit(1)
    )
    kept_struct = F.when(F.col("kept"), F.struct("pos", "passage"))
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["passage"]
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_passages"),
        F.count(F.when(~F.col("kept"), 1)).alias("n_dropped"),
    )


CHUNK_WINDOW = 16  # context-window chunking defaults, fixture-scaled:
CHUNK_STRIDE = 8   # 50% overlap, the common RAG / training-prep setting


def sliding_chunks(
    docs: DataFrame, window: int = CHUNK_WINDOW, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_md5) — OVERLAPPING
    context-window chunks: chunk i covers tokens [i*stride+1,
    min(i*stride+window, n)], with 1 + ceil(max(n-window, 0)/stride)
    chunks per doc, so every token is covered, consecutive chunks overlap
    by window-stride tokens, and only the final chunk may run short
    (slice clamps). This is the retrieval / context-window twin of
    `passages` (which is the non-overlapping stride==window special case).

    Same scale shape as passages: a narrow split -> sequence -> slice ->
    posexplode higher-order projection, ZERO shuffles, fan_out first so the
    HOF stage never rides a single input split. The chunk rides out as an
    md5 digest, not text — at 100 TB the chunk relation is ~window/stride
    times the corpus, and downstream consumers (dedup, embedding feeders)
    key on identity, not content.
    """
    if stride <= 0 or window < stride:
        raise ValueError("need 0 < stride <= window")
    w = fan_out(docs).select("doc_id", F.split(F.col("text"), " ").alias("w"))
    n_chunks = (
        f"1 + CAST(ceil(greatest(size(w) - {window}, 0) / {stride}.0) AS INT)"
    )
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> array_join(slice(w, i * {stride} + 1, {window}), ' '))"
    )
    return w.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")).select(
        "doc_id",
        "chunk_id",
        F.size(F.split(F.col("chunk"), " ")).alias("n_chunk_tokens"),
        F.md5("chunk").alias("chunk_md5"),
    )


@register(
    "q_doc_chunks",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ch AS (
  SELECT doc_id, i AS chunk_id,
         array_to_string(
           list_slice(w, i * {CHUNK_STRIDE} + 1, i * {CHUNK_STRIDE} + {CHUNK_WINDOW}),
           ' '
         ) AS chunk
  FROM w, unnest(range(0,
         1 + CAST(ceil(greatest(len(w) - {CHUNK_WINDOW}, 0) / {CHUNK_STRIDE}.0) AS BIGINT)
       )) AS t(i)
)
SELECT doc_id, chunk_id,
       len(string_split(chunk, ' ')) AS n_chunk_tokens,
       md5(chunk) AS chunk_md5
FROM ch
""",
    tags=("curation", "text", "northstar"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunk relation over the corpus — the
    feeder for embedding/RAG indexing and windowed training prep."""
    return sliding_chunks(read_table(spark, sf_dir, "documents"))


_DUCK_PASSAGES_CTE = f"""
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ch AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(
           list_slice(w, (i - 1) * {PASSAGE_WORDS} + 1, i * {PASSAGE_WORDS}), ' '
         ) AS passage
  FROM w, unnest(range(1, CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT) + 1)) AS t(i)
)"""


@register(
    "q_passage_dup_stats",
    oracle=f"""
WITH {_DUCK_PASSAGES_CTE}
SELECT md5(passage) AS passage_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM ch GROUP BY passage HAVING count(DISTINCT doc_id) >= 2
""",
    tags=("curation", "northstar", "dedup"),
)
def q_passage_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passage_dup_stats(read_table(spark, sf_dir, "documents"))


@register(
    "q_passage_dedup",
    oracle=f"""
WITH {_DUCK_PASSAGES_CTE},
k AS (
  SELECT doc_id, pos, passage,
         row_number() OVER (PARTITION BY passage ORDER BY doc_id, pos) = 1 AS kept
  FROM ch
)
SELECT doc_id,
       coalesce(string_agg(passage, ' ' ORDER BY pos) FILTER (WHERE kept), '')
         AS clean_text,
       count(*) AS n_passages,
       count(*) FILTER (WHERE NOT kept) AS n_dropped
FROM k GROUP BY doc_id
""",
    tags=("curation", "northstar", "dedup"),
)
def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passage_dedup(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup over embedding clusters
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.45  # same cosine threshold regime as embedding_neardup
SEM_BLOCKS = 4  # within-cell block-pair fan-out (plan-only; output unchanged)


def semdedup(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    n_blocks: int = SEM_BLOCKS,
    assignments_fn=None,
) -> DataFrame:
    """(vec_id, cell, kept) — SemDeDup: assign every vector to its coarse
    cell (shared with the IVF index: deterministic centroids here so the
    oracle reproduces them; k-means|| in production), then within each cell
    drop any vector having a LOWER-id neighbor with cosine >= tau.

    The quadratic term is confined to a cell (equi-join, never a cross
    join); production sizes the centroid count ~sqrt(N) so cells stay
    bounded as the corpus grows. Two plan decisions matter (measured 4.1 s
    -> ~1.5 s at sf0.1):

    * the assignment relation feeds three consumers (both pair-join sides
      and the final flag scan) — `engine_cache` materializes it ONCE;
    * a bare join on `cell` gives only n_centroids-way parallelism, so the
      within-cell pairs additionally meet on a block-pair subkey (the
      embedding_neardup_pairs scheme, keyed (cell, block-pair)): uniform
      (cell_size/B)^2 work units, B the scale knob. Block assignment never
      affects the OUTPUT, so the all-pairs-within-cell oracle is unchanged.

    The dropped set joins back against the cached assignment on vec_id.
    At production dup rates it is 20-50 % of the corpus — NOT a bounded
    relation — so no broadcast is forced; AQE broadcasts it when a small
    fixture makes that cheap and shuffles otherwise (VERDICT r10 #1).
    """
    from clinical_search_data_pipeline_spark.caching import engine_cache

    # assignments_fn swaps the coarse quantizer: default the IVF seed
    # cells; q_semdedup_refined plugs in the one-Lloyd-round cells — the
    # dedup plan is identical either way.
    cells = engine_cache(
        assignments_fn(emb) if assignments_fn else trained_quantizer(emb, 0)[1]
    )
    nb = n_blocks
    base = cells.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int"))
    left = base.withColumn(
        "pk",
        F.explode(
            F.expr(f"transform(sequence(blk, {nb - 1}), j -> blk * {nb} + j)")
        ),
    ).select(
        (F.col("cell") * nb * nb + F.col("pk")).alias("ck"),
        F.col("blk").alias("blk_l"),
        F.col("vec_id").alias("vid_l"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    right = base.withColumn(
        "pk",
        F.explode(F.expr(f"transform(sequence(0, blk), i -> i * {nb} + blk)")),
    ).select(
        (F.col("cell") * nb * nb + F.col("pk")).alias("ck"),
        F.col("blk").alias("blk_r"),
        F.col("vec_id").alias("vid_r"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb_"),
    )
    dropped = (
        left.join(
            right,
            (left["ck"] == right["ck"])
            & ((F.col("blk_l") != F.col("blk_r")) | (F.col("vid_l") < F.col("vid_r"))),
        )
        .withColumn(
            "_cos", F.expr(_spark_dot("va", "vb")) / (F.col("na") * F.col("nb_"))
        )
        .filter(F.col("_cos") >= F.lit(tau))
        .select(F.greatest("vid_l", "vid_r").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dropped").isNull().alias("kept")
    )


def semdedup_oracle(rounds: int) -> str:
    """DuckDB oracle of `semdedup` over the cells of `rounds` Lloyd rounds
    (ann_index.duck_lloyd_ctes): all pairs within a cell, the higher id of
    each pair at or above tau dropped."""
    return f"""
WITH {_DUCK_BASE_CTE},
{duck_lloyd_ctes(rounds)},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells_r{rounds} a JOIN cells_r{rounds} b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_duck_dot('a.v', 'b.v')} / (a.norm * b.norm) >= {SEMDEDUP_TAU}
)
SELECT c.vec_id, c.cell, d.vec_id IS NULL AS kept
FROM cells_r{rounds} c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


@register(
    "q_semdedup",
    oracle=semdedup_oracle(0),
    tags=("curation", "northstar", "similarity"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Reproducible global training order (distributed rank, no global window)
# ---------------------------------------------------------------------------

TRAIN_ORDER_SEED = "epoch0"
_RANK_BUCKET_SHIFT = 54  # 60-bit hash >> 54 -> 64 uniform buckets


def train_order(docs: DataFrame, seed: str = TRAIN_ORDER_SEED) -> DataFrame:
    """(doc_id, shuffle_key, order_idx) — a reproducible global shuffle of
    the corpus: order_idx is the dense 1..N rank of the seeded content hash.

    The rank is computed DISTRIBUTED, avoiding the W2 single-partition
    global-window hazard: the hash's top 6 bits form 64 uniform buckets;
    per-bucket row_number ranks locally (shuffle keyed on bucket), and the
    global offset of each bucket comes from a 64-row count relation
    (metadata-sized — its prefix-sum window is the ONLY single-partition
    step) broadcast back. Because buckets are the key's most-significant
    bits, bucket-major + within-bucket order IS the total (shuffle_key,
    doc_id) order, so the result is identical to a global rank.
    """
    keyed = docs.select(
        "doc_id",
        hash64(F.concat_ws(":", F.lit(seed), F.col("doc_id"))).alias("shuffle_key"),
    ).withColumn("bucket", F.shiftright("shuffle_key", _RANK_BUCKET_SHIFT))
    counts = keyed.groupBy("bucket").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .withColumn("order_idx", F.col("offset") + F.row_number().over(w_local))
        .select("doc_id", "shuffle_key", "order_idx")
    )


# ---------------------------------------------------------------------------
# Unigram LM quality score (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------


def unigram_nll(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, sum_tf, avg_nll) — per-document average negative
    log2-likelihood under the corpus's own unigram LM (CCNet filters on LM
    perplexity; a self-trained unigram model is its SQL-expressible core).

    Determinism across engines: floating-point sums are order-dependent, so
    the per-doc NLL is NOT a groupBy sum — tokens are re-collected in
    document position order and folded LEFT-TO-RIGHT with an explicit 0.0
    seed (Spark `aggregate` HOF; DuckDB list_reduce over a 0.0-prepended
    list), making the summation order identical on both engines. sum_tf is
    an exact integer twin of the same join, so the hash check does not rest
    on floats alone.

    Scale shape: token frequencies are one shuffle on token, and the
    score join meets the exploded corpus ON token — a plain equi-join.
    Word-level vocabulary grows without bound with the corpus (Heaps'
    law never plateaus at web scale), so the frequency table is NOT
    broadcast-hinted: AQE broadcasts it at small scale and shuffle-joins
    when the vocabulary outgrows the ceiling (VERDICT r10 #1). The corpus
    itself shuffles only on token (score) and doc_id (ordered
    re-collection). At 100 TB one typically scores against a FIXED
    reference-LM vocabulary instead — that variant makes the broadcast
    legitimate again.
    """
    toks = fan_out(docs).select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").alias("n_total"))
    scored = (
        toks.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tf").alias("sum_tf"),
            F.array_sort(F.collect_list(F.struct("pos", "tf"))).alias("tfs"),
        )
    )
    nll_sum = (
        "aggregate(transform(tfs, s -> log2(CAST(n_total AS DOUBLE) "
        "/ CAST(s.tf AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return scored.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_tf",
        F.round(F.expr(nll_sum) / F.col("n_tokens"), 4).alias("avg_nll"),
    )


@register(
    "q_unigram_nll",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
),
freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY 1),
total AS (SELECT sum(tf) AS n_total FROM freq),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(tf)::BIGINT AS sum_tf,
         list(tf ORDER BY pos) AS tfs
  FROM tok JOIN freq USING (token)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_tf,
       round(
         list_reduce(
           list_prepend(
             0.0::DOUBLE,
             list_transform(tfs, x -> log2(n_total::DOUBLE / x::DOUBLE))
           ),
           (acc, x) -> acc + x
         ) / n_tokens, 4) AS avg_nll
FROM scored CROSS JOIN total
""",
    tags=("curation", "text", "northstar"),
)
def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_nll(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Incremental dedup: admit a new batch against an existing corpus
# ---------------------------------------------------------------------------

INCREMENT_SPLIT = 400  # fixture partition: corpus = doc_id < 400, batch >= 400


def _rarest_prefix(ranked: DataFrame, t: float) -> DataFrame:
    """Rarest-first prefix of each doc's shingle set: the first
    n - ceil(t*n) + 1 shingles in (df ASC, shingle ASC) order. Lossless for
    Jaccard >= t under any consistent total order (prefix-filter lemma)."""
    w_pos = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    return (
        ranked.withColumn("pos", F.row_number().over(w_pos))
        .filter(F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        .select("doc_id", "shingle", "n")
    )


def corpus_prefix_index(
    corpus: DataFrame, threshold: float | None = None, k: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The FROZEN standing-corpus admission index: (shingle sets,
    rarest-first prefixes, per-shingle document frequency), each
    engine-cached so every incoming batch (or micro-batch) reuses one
    materialization. In production this is a persisted, incrementally
    maintained relation; here it is rebuilt deterministically per call.

    Document frequency is corpus-side only — batch shingles unseen in the
    corpus rank rarest at df 0, which keeps prefix filtering lossless while
    the index stays independent of any batch."""
    from clinical_search_data_pipeline_spark.caching import engine_cache
    from clinical_search_data_pipeline_spark.operators.dedup import shingle_sets
    from clinical_search_data_pipeline_spark.operators.fragments import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    t = JACCARD_THRESHOLD if threshold is None else threshold
    kk = SHINGLE_K if k is None else k
    corpus_sets = engine_cache(shingle_sets(corpus, kk).hint("rebalance"))
    # The index is keyed by xxhash64(shingle), not the k-word string: the
    # exploded relation crosses the df window exchange and every per-batch
    # probe join, and an 8-byte key shuffles/sorts far cheaper than a
    # multi-word string (and halves the cached df_stats/prefix footprint).
    # Prefix filtering is lossless under ANY consistent total order, so
    # (df, hash) works as well as (df, string); batch-side probes hash with
    # the same function (_batch_prefix), and collisions are the vanishing
    # class _verify_pairs already documents — a cross-doc collision only
    # adds a candidate pair that exact verification rejects.
    corpus_sh = corpus_sets.select(
        "doc_id",
        "n",
        F.explode(F.expr("transform(sset, s -> xxhash64(s))")).alias("shingle"),
    )
    # the window form costs ONE shuffle for ranked+stats together
    corpus_ranked = corpus_sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )
    df_stats = engine_cache(corpus_ranked.select("shingle", "df").distinct())
    corpus_prefix = engine_cache(_rarest_prefix(corpus_ranked, t))
    return corpus_sets, corpus_prefix, df_stats


def _batch_prefix(batch_sets: DataFrame, df_stats: DataFrame, t: float) -> DataFrame:
    """Batch-side rarest-first prefixes ranked by the FROZEN corpus df
    (unseen shingles coalesce to df 0). Keyed by xxhash64(shingle) — must
    match corpus_prefix_index's keying.

    Shape (r14, guide §3.1): the df lookup should not put the corpus-sized
    df_stats on the build/probe side of an OUTER join per (micro-)batch —
    the batch side is bounded by ingest cadence, the corpus side is not.
    The batch's distinct shingle keys first prune df_stats to a BATCH-sized
    df_sub via an inner semi-join (AQE broadcasts the tiny key side at
    runtime), and the outer df attach then joins the batch against the
    batch-sized df_sub only. No forced broadcast hints — the repo's lint
    discipline de-hints anything not provably bounded from the plan; AQE
    picks the broadcast at runtime from the true sizes."""
    batch_sh = batch_sets.select(
        "doc_id",
        "n",
        F.explode(F.expr("transform(sset, s -> xxhash64(s))")).alias("shingle"),
    )
    keys = batch_sh.select("shingle").distinct()
    df_sub = df_stats.join(keys, "shingle")
    ranked = batch_sh.join(df_sub, "shingle", "left").withColumn(
        "df", F.coalesce(F.col("df"), F.lit(0))
    )
    return _rarest_prefix(ranked, t)


def batch_vs_corpus(
    corpus_index: tuple[DataFrame, DataFrame, DataFrame],
    batch: DataFrame,
    threshold: float | None = None,
    k: int | None = None,
) -> DataFrame:
    """(doc_id, status, n_corpus_matches) for every batch document against
    a FROZEN `corpus_prefix_index` — the micro-batch-invariant half of
    `incremental_dedup`: each document's verdict ('dup_of_corpus' vs
    'admitted') depends only on itself and the frozen corpus, never on
    which other documents share its batch, so ANY partitioning of a batch
    into micro-batches yields identical per-doc rows. That invariance is
    what `q_stream_incremental_dedup` (streaming/stream_queries.py) runs
    per micro-batch at ingest; the within-batch half (dup_in_batch) is the
    batch compaction job's business (`incremental_dedup`).

    The batch-side relations are deliberately UNCACHED: a foreachBatch call
    must not grow session cache state per micro-batch, and both consumers
    of the batch sets (prefix build, exact verify) are narrow batch-sized
    scans."""
    from clinical_search_data_pipeline_spark.operators.dedup import (
        _verify_pairs,
        shingle_sets,
    )
    from clinical_search_data_pipeline_spark.operators.fragments import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    t = JACCARD_THRESHOLD if threshold is None else threshold
    kk = SHINGLE_K if k is None else k
    corpus_sets, corpus_prefix, df_stats = corpus_index
    # no rebalance hint: shingle_sets already round-robins through fan_out,
    # and a second RoundRobin exchange on this uncached relation costs a
    # job per micro-batch (the hints on CACHED set relations coalesce)
    batch_sets = shingle_sets(batch, kk)
    batch_prefix = _batch_prefix(batch_sets, df_stats, t)
    size_ok = (F.col("a.n") >= t * F.col("b.n")) & (F.col("b.n") >= t * F.col("a.n"))
    cand = (
        corpus_prefix.alias("a")
        .join(
            batch_prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & size_ok,
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # doc_a is always corpus-side and doc_b always batch-side here, so the
    # verify joins take asymmetric set populations: the corpus-sized set
    # relation feeds ONLY the doc_a join (one scan per micro-batch instead
    # of two), the batch-sized one ONLY the doc_b join.
    pairs = _verify_pairs(cand, corpus_sets, t, sets_b=batch_sets)
    per_doc = pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.count("*").alias("n_corpus_matches")
    )
    return batch.select("doc_id").join(F.broadcast(per_doc), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("n_corpus_matches") > 0, F.lit("dup_of_corpus"))
        .otherwise(F.lit("admitted"))
        .alias("status"),
        F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float | None = None,
    k: int | None = None,
) -> DataFrame:
    """(doc_id, status, n_corpus_matches, n_batch_matches) for every batch
    document: 'dup_of_corpus' (>= threshold Jaccard against an existing
    corpus doc), else 'dup_in_batch' (matches a LOWER-id batch doc — the
    greedy within-batch convention, same as SemDeDup), else 'admitted'.

    This is how a 100 TB pipeline actually ingests: the corpus is NEVER
    re-paired against itself — candidate generation joins the new batch's
    rarest-first shingle prefixes against (a) the corpus prefix index and
    (b) themselves. Document frequency is FROZEN corpus-side (unseen
    shingles rank rarest at df=0); prefix filtering is lossless under any
    consistent total order, so the all-pairs oracle is unchanged. In
    production the corpus prefix index is a persisted, incrementally
    maintained relation; here it is rebuilt deterministically per call.
    Per-batch cost: one corpus-prefix scan + batch-sized joins — no
    corpus x corpus term anywhere.
    """
    from clinical_search_data_pipeline_spark.caching import engine_cache
    from clinical_search_data_pipeline_spark.operators.dedup import (
        _verify_pairs,
        shingle_sets,
    )
    from clinical_search_data_pipeline_spark.operators.fragments import (
        JACCARD_THRESHOLD,
        SHINGLE_K,
    )

    t = JACCARD_THRESHOLD if threshold is None else threshold
    kk = SHINGLE_K if k is None else k
    corpus_sets, corpus_prefix, df_stats = corpus_prefix_index(corpus, t, kk)
    batch_sets = engine_cache(shingle_sets(batch, kk).hint("rebalance"))
    batch_prefix = _batch_prefix(batch_sets, df_stats, t)
    size_ok = (F.col("a.n") >= t * F.col("b.n")) & (F.col("b.n") >= t * F.col("a.n"))
    vs_corpus = corpus_prefix.alias("a").join(
        batch_prefix.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle")) & size_ok,
    )
    in_batch = batch_prefix.alias("a").join(
        batch_prefix.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_ok,
    )
    # Pair origin is KNOWN at candidate generation (vs_corpus's left side
    # is the corpus index, in_batch's is the batch), so it rides the
    # candidates as a literal tag — classifying pairs by joining against
    # the full standing-corpus id set would put a corpus-proportional
    # relation on a join side, the exact thing this operator exists to
    # avoid (VERDICT r10 #1). Batch and corpus doc_ids are disjoint by the
    # ingest contract, so the tag is a function of the pair and the
    # distinct() dedups identically.
    cand = (
        vs_corpus.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(True).alias("from_corpus"),
        )
        .unionByName(
            in_batch.select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.lit(False).alias("from_corpus"),
            )
        )
        .distinct()
    )
    # doc_b is always batch-side (both candidate branches), so the doc_b
    # verify join reads only the batch-sized set relation; doc_a can be
    # corpus (vs_corpus) or batch (in_batch), so its side keeps the union.
    pairs = _verify_pairs(
        cand, corpus_sets.unionByName(batch_sets), t, sets_b=batch_sets
    )

    per_doc = pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.count(F.when(F.col("from_corpus"), 1)).alias("n_corpus_matches"),
        F.count(F.when(~F.col("from_corpus"), 1)).alias("n_batch_matches"),
    )
    # per_doc is batch-bounded (one row per matched batch doc), but not
    # provably small at a backfill's batch size — no forced broadcast;
    # AQE picks the strategy at runtime
    return batch.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("n_corpus_matches") > 0, F.lit("dup_of_corpus"))
        .when(F.col("n_batch_matches") > 0, F.lit("dup_in_batch"))
        .otherwise(F.lit("admitted"))
        .alias("status"),
        F.coalesce("n_corpus_matches", F.lit(0)).alias("n_corpus_matches"),
        F.coalesce("n_batch_matches", F.lit(0)).alias("n_batch_matches"),
    )


def _duck_incremental_oracle() -> str:
    from clinical_search_data_pipeline_spark.operators.fragments import (
        _DUCK_SHINGLES_CTE,
        JACCARD_THRESHOLD,
    )

    s = INCREMENT_SPLIT
    return f"""
WITH {_DUCK_SHINGLES_CTE},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE b.doc_id >= {s}
  GROUP BY 1, 2
),
p AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE i.c / (sa.n + sb.n - i.c) >= {JACCARD_THRESHOLD}
),
per_doc AS (
  SELECT doc_b AS doc_id,
         count(*) FILTER (WHERE doc_a < {s}) AS cm,
         count(*) FILTER (WHERE doc_a >= {s}) AS bm
  FROM p GROUP BY 1
)
SELECT d.doc_id,
       CASE WHEN coalesce(cm, 0) > 0 THEN 'dup_of_corpus'
            WHEN coalesce(bm, 0) > 0 THEN 'dup_in_batch'
            ELSE 'admitted' END AS status,
       coalesce(cm, 0) AS n_corpus_matches,
       coalesce(bm, 0) AS n_batch_matches
FROM documents d LEFT JOIN per_doc USING (doc_id)
WHERE d.doc_id >= {s}
"""


@register(
    "q_incremental_dedup",
    oracle=_duck_incremental_oracle(),
    tags=("curation", "northstar", "dedup"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture partition of `documents` at doc_id 400: the low range is
    the standing corpus, the high range the incoming batch."""
    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < INCREMENT_SPLIT)
    batch = docs.filter(F.col("doc_id") >= INCREMENT_SPLIT)
    return incremental_dedup(corpus, batch)


# ---------------------------------------------------------------------------
# Full curation funnel: filter -> dedup -> decontaminate -> admitted corpus
# ---------------------------------------------------------------------------


def curation_funnel(docs: DataFrame) -> DataFrame:
    """(doc_id, disposition) for EVERY document — the complete
    training-corpus admission pipeline in stage order:

      eval_holdout        deterministic benchmark slice, never trainable
      too_short / low_quality / repetitive_bigrams
                          corpus_filter's first-failing-rule reasons
      near_dup            in a Jaccard component of the FILTERED corpus
                          but not its min-id survivor
      contaminated        shares a decontamination k-gram with the eval
                          slice (GPT-3/Pile collision rule)
      admitted            what the tokenizer actually consumes

    Composition of the already-oracled stages (corpus_filter,
    jaccard_pairs -> connected_components, decontaminate), applied the way
    a production pipeline sequences them: each stage sees only the previous
    stage's survivors, so e.g. a near-dup pair whose better copy was
    quality-dropped keeps the surviving copy. Which dispositions occur
    depends on the corpus (at sf0.01 the one contaminated doc is already
    dropped upstream; at sf0.1 the class is populated) — the per-doc
    hash check is over ALL rows either way.

    Scale shape: the stage marker relations (near-dup drops, contaminated
    ids) are rate x corpus sized — a dense-dup or heavily contaminated
    corpus makes them a large fraction of the input — so the labeling
    joins are plain doc_id equi-joins with no forced broadcast; AQE picks
    the strategy per actual size (VERDICT r10 #1). The heavy stages keep
    their own posture (prefix-filtered pair join, edge-sized components,
    broadcast eval shingle set — the eval set alone is fixed-size by
    construction and keeps its hint).
    """
    from clinical_search_data_pipeline_spark.operators.components import (
        connected_components,
    )
    from clinical_search_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        shingle_relation,
    )
    from clinical_search_data_pipeline_spark.operators.pipeline import (
        BENCH_MOD,
        DECON_K,
        corpus_filter,
    )

    from clinical_search_data_pipeline_spark.caching import engine_cache

    # The (doc_id, text, reason) relation feeds three consumers (the
    # train-side shingle build, the decontamination scan's complement, and
    # the final labeling join) and its lineage embeds the corpus_filter
    # projection — whose derived columns each re-inline the full
    # bigram/quality HOF tree under CollapseProject. Cache it once: one
    # filter pass instead of three (measured 11 s -> ~7 s at sf0.1).
    filt = corpus_filter(docs).select("doc_id", "reason")
    base = engine_cache(docs.select("doc_id", "text").join(filt, "doc_id"))
    is_eval = F.col("doc_id") % BENCH_MOD == 0
    train1 = base.filter((F.col("reason") == "keep") & ~is_eval).select(
        "doc_id", "text"
    )

    pairs = jaccard_pairs(train1).select("doc_a", "doc_b")
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    nd = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
        .withColumn("_nd", F.lit(True))
    )
    train2 = train1.select("doc_id").join(nd, "doc_id", "left_anti")

    dsh = shingle_relation(docs, DECON_K)
    bench_sh = dsh.filter(is_eval).select("shingle").distinct()
    contam = (
        dsh.join(F.broadcast(bench_sh), "shingle")
        .select("doc_id")
        .distinct()
        .join(train2, "doc_id", "left_semi")
        .withColumn("_ct", F.lit(True))
    )

    disposition = (
        F.when(is_eval, F.lit("eval_holdout"))
        .when(F.col("reason") != "keep", F.col("reason"))
        .when(F.col("_nd").isNotNull(), F.lit("near_dup"))
        .when(F.col("_ct").isNotNull(), F.lit("contaminated"))
        .otherwise(F.lit("admitted"))
    )
    return (
        base.join(nd, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select("doc_id", disposition.alias("disposition"))
    )


def _duck_funnel_oracle() -> str:
    from clinical_search_data_pipeline_spark.functions import textfns
    from clinical_search_data_pipeline_spark.operators.fragments import (
        _DUCK_SHINGLES_CTE,
        JACCARD_THRESHOLD,
    )
    from clinical_search_data_pipeline_spark.operators.pipeline import (
        BENCH_MOD,
        DECON_K,
        MAX_DUP_BIGRAM,
        MIN_QUALITY,
        MIN_TOKENS,
    )

    return f"""
WITH t AS (SELECT doc_id, {textfns.duck_tokens('text')} AS w FROM documents),
m AS (
  SELECT doc_id, len(w) AS n_tokens,
         {textfns.duck_stopword_count('w')}::DOUBLE / len(w) AS stop_ratio,
         {textfns.duck_token_length_sum('w')}::DOUBLE / len(w) AS mean_len,
         CASE WHEN len(w) <= 1 THEN 0.0
              ELSE 1 - len(list_distinct(
                     list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                   ))::DOUBLE / (len(w) - 1)
         END AS dup_bigram
  FROM t
),
s AS (
  SELECT doc_id, n_tokens,
         round(CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 0.4 ELSE 0.0 END
             + CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 THEN 0.3 ELSE 0.0 END
             + CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END, 2)
           AS quality_score,
         round(dup_bigram, 6) AS dup_bigram_frac
  FROM m
),
r AS (
  SELECT doc_id, CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
              WHEN quality_score < {MIN_QUALITY} THEN 'low_quality'
              WHEN dup_bigram_frac > {MAX_DUP_BIGRAM} THEN 'repetitive_bigrams'
              ELSE 'keep' END AS reason
  FROM s
),
keepers AS (SELECT doc_id FROM r WHERE reason = 'keep' AND doc_id % {BENCH_MOD} <> 0),
{_DUCK_SHINGLES_CTE},
sh2 AS (SELECT s.* FROM sh s JOIN keepers k USING (doc_id)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS c
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY 1),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
               JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.c / (sa.n + sb.n - i.c) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  WITH RECURSIVE rr(node, label) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.a, rr.label FROM rr JOIN edges e ON e.b = rr.node
  )
  SELECT node, label FROM rr
),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
nd AS (SELECT node FROM comp WHERE node <> component),
train2 AS (SELECT doc_id FROM keepers
           WHERE doc_id NOT IN (SELECT node FROM nd)),
dtok AS (SELECT doc_id, {textfns.duck_tokens('text')} AS w FROM documents),
dsh AS (
  SELECT DISTINCT doc_id, unnest({textfns.duck_shingles('w', DECON_K)}) AS shingle
  FROM dtok WHERE len(w) >= {DECON_K}
),
bench AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % {BENCH_MOD} = 0),
contam AS (
  SELECT DISTINCT d2.doc_id
  FROM dsh d2 JOIN bench USING (shingle) JOIN train2 USING (doc_id)
)
SELECT d.doc_id,
       CASE WHEN d.doc_id % {BENCH_MOD} = 0 THEN 'eval_holdout'
            WHEN r.reason <> 'keep' THEN r.reason
            WHEN nd.node IS NOT NULL THEN 'near_dup'
            WHEN c.doc_id IS NOT NULL THEN 'contaminated'
            ELSE 'admitted' END AS disposition
FROM documents d
JOIN r ON d.doc_id = r.doc_id
LEFT JOIN nd ON d.doc_id = nd.node
LEFT JOIN contam c ON d.doc_id = c.doc_id
"""


@register(
    "q_curation_funnel",
    oracle=_duck_funnel_oracle(),
    tags=("curation", "pipeline", "northstar"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_funnel(read_table(spark, sf_dir, "documents"))


@register(
    "q_train_order",
    oracle=f"""
WITH k AS (
  SELECT doc_id,
         {duck_hash64(f"'{TRAIN_ORDER_SEED}' || ':' || CAST(doc_id AS VARCHAR)")}
           AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       row_number() OVER (ORDER BY shuffle_key, doc_id) AS order_idx
FROM k
""",
    tags=("curation", "northstar"),
)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return train_order(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token-budget sampling: fill a per-language token budget in seeded order
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 2000  # fixture budget; production passes the real per-lang cap
TOKEN_BUDGET_SEED = "budget0"


def token_budget_sample(
    docs: DataFrame, budget: int = TOKEN_BUDGET, seed: str = TOKEN_BUDGET_SEED
) -> DataFrame:
    """(doc_id, lang, n_tokens, cum_tokens) — the per-language prefix of the
    seeded-hash document order whose running token total fits `budget`
    (cum_tokens <= budget, cumulative INCLUDING the current document).

    Data-mixture recipes are stated in tokens, not documents ("50 B tokens
    of lang X"); materializing them needs a per-group running token sum in
    a reproducible order. A naive per-lang window is a single partition per
    language — with few languages that is the W2 global-window hazard in
    group clothing. Computed DISTRIBUTED instead, same scheme as
    train_order: the seeded hash's top 6 bits form 64 uniform buckets;
    per-(lang, bucket) token totals (a #langs x 64 metadata relation — its
    prefix-sum window is the ONLY single-partition step) yield broadcast
    bucket offsets, and the within-bucket running sum rides a
    (lang, bucket)-keyed window. Bucket-major + within-bucket order IS the
    total (shuffle_key, doc_id) order, so the result equals the naive
    global window (pytest-pinned).

    Scale lever: buckets whose offset already exceeds the budget are
    dropped BEFORE the cumsum shuffle — once the budget is a small fraction
    of the corpus, ~(1 - budget/corpus) of every language never shuffles at
    all.
    """
    keyed = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        hash64(F.concat_ws(":", F.lit(seed), F.col("doc_id"))).alias("shuffle_key"),
    ).withColumn("bucket", F.shiftright("shuffle_key", _RANK_BUCKET_SHIFT))
    totals = keyed.groupBy("lang", "bucket").agg(F.sum("n_tokens").alias("t"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "lang", "bucket", F.coalesce(F.sum("t").over(w_off), F.lit(0)).alias("offset")
    ).filter(F.col("offset") < budget)
    w_local = Window.partitionBy("lang", "bucket").orderBy("shuffle_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w_local)
        )
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


@register(
    "q_token_budget",
    oracle=f"""
WITH k AS (
  SELECT doc_id, lang,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         {duck_hash64(f"'{TOKEN_BUDGET_SEED}' || ':' || CAST(doc_id AS VARCHAR)")}
           AS shuffle_key
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY shuffle_key, doc_id
           ROWS UNBOUNDED PRECEDING
         )::BIGINT AS cum_tokens
  FROM k
)
SELECT doc_id, lang, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {TOKEN_BUDGET}
""",
    tags=("curation", "northstar"),
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget prefix sample (the oracle is the naive
    global window the distributed form must equal)."""
    return token_budget_sample(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Exact per-language length percentiles via a discrete CDF (no quantile
# builtins: engines disagree on interpolation/selection at the margins)
# ---------------------------------------------------------------------------

LENGTH_PCTS = (5, 50, 95)  # P5/P95 length gates + the median, per language


def length_percentiles(docs: DataFrame) -> DataFrame:
    """(lang, p05, p50, p95, n_docs, n_outliers) — EXACT token-length
    percentiles per language and the count of docs outside [p05, p95]
    (the standard length-based curation gate, stated per language because
    length distributions are language-specific).

    Percentile definition (identical integer arithmetic on both engines,
    deliberately NOT a quantile builtin — Spark `percentile` interpolates,
    DuckDB quantile_disc selects, and their edge conventions differ):
    p_k = min {x : cdf(x) >= ceil(k * n / 100)}.

    Distributed shape: ONE corpus-sized agg to (lang, n_tokens, cnt) — a
    metadata-sized relation (languages x distinct lengths) — then the CDF
    window, the percentile argmins, and the outlier join all run on
    metadata. This is the classic exact-median-over-discrete-values scheme:
    at 100 TB the corpus shuffles once on a low-cardinality composite key,
    everything downstream is KB-sized.
    """
    toks = docs.select(
        "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    hist = toks.groupBy("lang", "n_tokens").agg(F.count("*").alias("cnt"))
    w_cdf = (
        Window.partitionBy("lang")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("lang")
    cdf = hist.select(
        "lang",
        "n_tokens",
        F.sum("cnt").over(w_cdf).alias("cdf"),
        F.sum("cnt").over(w_n).alias("n_docs"),
    )
    pct_cols = [
        F.min(
            F.when(
                F.col("cdf") >= F.ceil(F.lit(k) * F.col("n_docs") / 100.0),
                F.col("n_tokens"),
            )
        ).alias(f"p{k:02d}")
        for k in LENGTH_PCTS
    ]
    bounds = cdf.groupBy("lang", "n_docs").agg(*pct_cols)
    out = (
        toks.join(bounds.select("lang", "p05", "p95"), "lang")
        .filter((F.col("n_tokens") < F.col("p05")) | (F.col("n_tokens") > F.col("p95")))
        .groupBy("lang")
        .agg(F.count("*").alias("n_outliers"))
    )
    return (
        bounds.join(out, "lang", "left")
        .select(
            "lang",
            "p05",
            "p50",
            "p95",
            "n_docs",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        )
    )


@register(
    "q_length_outliers",
    oracle=f"""
WITH t AS (
  SELECT lang, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents
),
hist AS (SELECT lang, n_tokens, count(*) AS cnt FROM t GROUP BY 1, 2),
cdf AS (
  SELECT lang, n_tokens,
         sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cdf,
         sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n_docs
  FROM hist
),
bounds AS (
  SELECT lang, n_docs,
         {", ".join(
             f"min(CASE WHEN cdf >= ceil({k} * n_docs / 100.0) "
             f"THEN n_tokens END) AS p{k:02d}"
             for k in LENGTH_PCTS
         )}
  FROM cdf GROUP BY lang, n_docs
),
outl AS (
  SELECT t.lang, count(*) AS n_outliers
  FROM t JOIN bounds ON t.lang = bounds.lang
  WHERE t.n_tokens < bounds.p05 OR t.n_tokens > bounds.p95
  GROUP BY t.lang
)
SELECT b.lang, p05, p50, p95, n_docs, coalesce(n_outliers, 0) AS n_outliers
FROM bounds b LEFT JOIN outl ON b.lang = outl.lang
""",
    tags=("curation", "text", "northstar"),
)
def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_percentiles(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Cross-source duplication attribution: where does duplicated content
# come from?
# ---------------------------------------------------------------------------


def _source_passages(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """Distinct (source, passage) — source carried THROUGH the explode (no
    doc_id re-join; the document identity is irrelevant to source-level
    attribution). One distinct shuffle keyed on (source, passage)."""
    w = fan_out(docs).select("source", F.split(F.col("text"), " ").alias("w"))
    chunks = F.expr(
        f"transform(sequence(1, CAST(ceil(size(w) / {p}.0) AS INT)), "
        f"i -> array_join(slice(w, (i - 1) * {p} + 1, {p}), ' '))"
    )
    return w.select("source", F.explode(chunks).alias("passage")).distinct()


def source_overlap(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """(src_a, src_b, n_shared_passages): for every unordered source pair,
    how many DISTINCT passages appear in both — the duplication-attribution
    matrix a corpus owner reads before deciding which feed to dedup or
    drop.

    Plan: distinct (source, passage) — one shuffle — then a passage-keyed
    self-join restricted to src_a < src_b. Pair fan-out per passage is
    bounded by the SOURCE count (tiny), not document frequency: a passage
    in s sources yields s*(s-1)/2 rows, so a hot passage cannot blow up
    the join the way hot shingles blow up document self-joins."""
    sp = _source_passages(docs, p)
    a = sp.alias("a")
    b = sp.alias("b")
    return (
        a.join(b, "passage")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared_passages"))
    )


def source_dup_profile(docs: DataFrame, p: int = PASSAGE_WORDS) -> DataFrame:
    """(source, n_passages, n_shared, dup_rate): per source, how many of
    its distinct passages also occur in at least one OTHER source. The
    cross-source flag rides the passage-keyed shuffle (count distinct
    sources per passage, broadcast nothing, corpus touched once)."""
    sp = _source_passages(docs, p)
    per_passage = sp.groupBy("passage").agg(
        F.countDistinct("source").alias("n_sources")
    )
    flagged = sp.join(per_passage, "passage")
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_passages"),
            F.count(F.when(F.col("n_sources") >= 2, 1)).alias("n_shared"),
        )
        .select(
            "source",
            "n_passages",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_passages"), 4).alias("dup_rate"),
        )
    )


_DUCK_SRC_PASSAGES_CTE = f"""
w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
ch AS (
  SELECT DISTINCT source,
         array_to_string(
           list_slice(w, (i - 1) * {PASSAGE_WORDS} + 1, i * {PASSAGE_WORDS}), ' '
         ) AS passage
  FROM w, unnest(range(1, CAST(ceil(len(w) / {PASSAGE_WORDS}.0) AS BIGINT) + 1)) AS t(i)
)"""


@register(
    "q_source_overlap",
    oracle=f"""
WITH {_DUCK_SRC_PASSAGES_CTE}
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_passages
FROM ch a JOIN ch b ON a.passage = b.passage AND a.source < b.source
GROUP BY 1, 2
""",
    tags=("curation", "dedup", "northstar"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication attribution matrix: distinct passages
    shared by each source pair."""
    return source_overlap(read_table(spark, sf_dir, "documents"))


@register(
    "q_source_dup_profile",
    oracle=f"""
WITH {_DUCK_SRC_PASSAGES_CTE},
pp AS (SELECT passage, count(DISTINCT source) AS n_sources FROM ch GROUP BY 1)
SELECT source,
       count(*) AS n_passages,
       count(*) FILTER (WHERE n_sources >= 2) AS n_shared,
       round(count(*) FILTER (WHERE n_sources >= 2) / count(*)::DOUBLE, 4)
         AS dup_rate
FROM ch JOIN pp USING (passage)
GROUP BY source
""",
    tags=("curation", "dedup", "northstar"),
)
def q_source_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate: the share of a source's distinct
    passages that also occur in another source."""
    return source_dup_profile(read_table(spark, sf_dir, "documents"))
