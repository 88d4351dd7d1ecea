"""Full-text retrieval: distributed BM25 top-k over the documents corpus.

The reference pipeline ranks documents for search analytics but has no
scoring-function retrieval (its analytics marts count clicks —
etl_to_analytics_mart.py — rather than score text relevance). BM25
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework") is the
standard lexical scorer a training-data curation stack needs: near-duplicate
*queries* against a corpus, decontamination triage, retrieval-based quality
audits, and seed selection for targeted crawls all start from "give me the
top-k BM25 docs for these queries".

Scale design (the 100 TB story):

* The corpus-sized token stream is **semi-joined against the broadcast
  query-term set before any aggregation** — the only rows that ever reach a
  shuffle are (doc, query-term) matches, a relation proportional to the
  posting lists of the query terms, not to the corpus. A full inverted
  index would be a persisted artifact at production scale; the probe-side
  algebra here is identical (df-weighted postings join), so swapping a
  pre-built postings table for the on-the-fly `tf` relation changes one
  input, not the plan shape.
* Document frequency, query terms, and the 1-row (N, avgdl) corpus stats
  are all **broadcast** back — the big side is never reshuffled for
  metadata.
* Per-query top-k is a rank-filtered window (rank <= k) — Catalyst's
  WindowGroupLimit pushes the limit below the sort, so no query's full
  posting list is ever globally sorted.
* All BM25 constants (k1=1.5, b=0.75) are chosen binary-exact so literal
  arithmetic cannot diverge between engines; the per-(query,doc) score sums
  at most `query_len` terms and is rounded to 6 decimals BEFORE ranking, so
  cross-engine float-fold noise cannot reorder ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.caching import engine_cache
from clinical_search_data_pipeline_spark.functions import textfns
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.session import run_concurrently
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

# Binary-exact constants: 1.5, 0.75, 0.25, 2.5 and 0.5 are all dyadic
# rationals, so the Spark-literal and DuckDB-literal doubles are identical
# and k1+1 / 1-b introduce no cross-engine literal-rounding hazard
# (1.2 + 1 would: the nearest-double of 1.2 plus 1 is not guaranteed to be
# the nearest-double of 2.2).
BM25_K1 = 1.5
BM25_B = 0.75
BM25_N_QUERIES = 8  # docs with doc_id < N serve as the fixed query set
BM25_QUERY_LEN = 6  # first tokens of each query doc form its term set
BM25_TOP_K = 10


def bm25_topk(
    docs: DataFrame,
    n_queries: int = BM25_N_QUERIES,
    query_len: int = BM25_QUERY_LEN,
    k: int = BM25_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 documents per query.

    Queries are derived deterministically from the corpus itself (the first
    `query_len` distinct tokens of each doc with doc_id < `n_queries`), so
    the operator is self-contained at any scale factor. The query doc never
    scores against itself.

    idf uses the always-positive Robertson/Sparck-Jones smoothing
    ln(1 + (N - df + 0.5) / (df + 0.5)).
    """
    base = engine_cache(
        fan_out(docs).select("doc_id", textfns.tokens("text").alias("w"))
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    queries = (
        base.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("w", 1, query_len)).alias("word"),
        )
        .distinct()
    )
    qterms = queries.select("word").distinct()

    # Corpus-side postings for query terms ONLY: broadcast semi-join before
    # the (doc, word) aggregation, so shuffle volume tracks the query terms'
    # posting lists, never the corpus token count.
    tok = base.select(
        "doc_id", F.size("w").alias("dl"), F.explode("w").alias("word")
    )
    tf = engine_cache(
        tok.join(F.broadcast(qterms), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))

    contrib = (
        tf.join(F.broadcast(queries), "word")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))  # 1-row (N, avgdl) — bounded NLJ
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def build_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The persisted-index form of the corpus side: (postings, stats).

    postings = (word, doc_id, tf, dl) — the full inverted index, one keyed
    shuffle on (doc_id, word) then (word)-clustered for probe locality;
    stats = the 1-row (n_docs, avgdl). At 100 TB these are written once
    (postings z-ordered or bucketed by word so a query's terms prune to
    their posting-list files) and every BM25 query becomes a broadcast
    probe of the index — `bm25_topk_from_postings` consumes exactly this
    shape, and tests/test_retrieval_index.py pins it equal to the
    on-the-fly `bm25_topk`."""
    base = fan_out(docs).select("doc_id", textfns.tokens("text").alias("w"))
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    postings = (
        base.select(
            "doc_id", F.size("w").alias("dl"), F.explode("w").alias("word")
        )
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    return postings, stats


def bm25_topk_from_postings(
    postings: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int = BM25_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k over a PRE-BUILT index: `postings`/`stats` from
    build_postings (or a lake read of their persisted form), `queries` =
    (query_id, word). The probe is index-sided only — a broadcast
    semi-join of the query terms against the postings (with the postings
    bucketed/sorted by word, the scan prunes to the terms' posting lists),
    df computed from the probed slice, and the same rank discipline as
    `bm25_topk`. No document text is touched at query time."""
    qterms = queries.select("word").distinct()
    tf = engine_cache(postings.join(F.broadcast(qterms), "word"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(queries), "word")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def corpus_queries(
    docs: DataFrame,
    n_queries: int = BM25_N_QUERIES,
    query_len: int = BM25_QUERY_LEN,
) -> DataFrame:
    """The deterministic fixture query set (query_id, word): first
    `query_len` distinct tokens of each doc with doc_id < `n_queries`."""
    return (
        docs.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.slice(textfns.tokens("text"), 1, query_len)
            ).alias("word"),
        )
        .distinct()
    )


@register(
    "q_bm25_topk",
    oracle=f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base),
q AS (
  SELECT DISTINCT query_id, word FROM (
    SELECT doc_id AS query_id, unnest(w[1:{BM25_QUERY_LEN}]) AS word
    FROM base WHERE doc_id < {BM25_N_QUERIES}
  )
),
qterms AS (SELECT DISTINCT word FROM q),
tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS word FROM base),
tf AS (
  SELECT tok.doc_id, tok.word, count(*) AS tf, min(tok.dl) AS dl
  FROM tok JOIN qterms USING (word) GROUP BY 1, 2
),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         round(sum(
           ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1}
              * ((1 - {BM25_B}) + {BM25_B} * tf.dl / stats.avgdl))
         ), 6) AS score
  FROM tf JOIN q USING (word) JOIN dfreq ON tf.word = dfreq.word
  CROSS JOIN stats
  WHERE tf.doc_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, doc_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS rank,
       score
FROM scored QUALIFY rank <= {BM25_TOP_K}
""",
    tags=("text", "retrieval", "northstar"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(read_table(spark, sf_dir, "documents"))


@register(
    "q_bm25_index_topk",
    oracle=f"""
WITH base AS (SELECT doc_id, str_split(text, ' ') AS w FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM base),
postings AS (
  SELECT word, doc_id, count(*) AS tf, min(dl) AS dl
  FROM (SELECT doc_id, len(w) AS dl, unnest(w) AS word FROM base)
  GROUP BY 1, 2
),
q AS (
  SELECT DISTINCT query_id, word FROM (
    SELECT doc_id AS query_id, unnest(w[1:{BM25_QUERY_LEN}]) AS word
    FROM base WHERE doc_id < {BM25_N_QUERIES}
  )
),
qterms AS (SELECT DISTINCT word FROM q),
probed AS (SELECT p.* FROM postings p JOIN qterms USING (word)),
dfreq AS (SELECT word, count(*) AS df FROM probed GROUP BY 1),
scored AS (
  SELECT q.query_id, probed.doc_id,
         round(sum(
           ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * probed.tf * ({BM25_K1} + 1)
           / (probed.tf + {BM25_K1}
              * ((1 - {BM25_B}) + {BM25_B} * probed.dl / stats.avgdl))
         ), 6) AS score
  FROM probed JOIN q USING (word) JOIN dfreq ON probed.word = dfreq.word
  CROSS JOIN stats
  WHERE probed.doc_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, doc_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS rank,
       score
FROM scored QUALIFY rank <= {BM25_TOP_K}
""",
    tags=("text", "retrieval", "northstar"),
)
def q_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the PERSISTED inverted index: build_postings' output is
    written to the lake and read back before scoring
    (bm25_topk_from_postings probes only the query terms' posting lists —
    no document text is touched at query time). The oracle mirrors the
    index pipeline itself (full postings built, THEN probed), so both the
    index construction and the probe-side scoring are hash-verified; the
    values must equal the on-the-fly q_bm25_topk's."""
    import hashlib

    docs = read_table(spark, sf_dir, "documents")
    postings, stats = build_postings(docs)
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/csdp_bm25_index/{suffix}"
    # independent writes to disjoint paths — overlap them (guide §2.6)
    run_concurrently(
        spark,
        lambda: postings.write.mode("overwrite").parquet(f"{root}/postings"),
        lambda: stats.write.mode("overwrite").parquet(f"{root}/stats"),
    )
    return bm25_topk_from_postings(
        spark.read.parquet(f"{root}/postings"),
        spark.read.parquet(f"{root}/stats"),
        corpus_queries(docs),
    )
