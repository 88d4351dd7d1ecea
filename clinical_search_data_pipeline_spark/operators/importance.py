"""Data-selection importance weights (DSIR-style hashed n-gram features).

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling", DSIR) select pretraining data by scoring every raw document
with log(p_target(x) / p_raw(x)) under bag-of-hashed-n-gram unigram
models fit on a target corpus and the raw corpus, then sampling
proportionally. The scoring core is SQL-expressible and runs here fully
declaratively:

  1. feature relation — word unigrams + bigrams per document, hashed into
     `N_BUCKETS` buckets (hash collisions are part of the method: DSIR's
     features are hashed counts, not an exact vocabulary),
  2. bucket models   — one aggregation over the feature relation counts
     every bucket under the raw corpus and under the target slice
     (`lang = 'en'` stands in for DSIR's target corpus — any predicate or
     a second table works the same) with add-one smoothing,
  3. doc scores      — the bucket log-ratio table is `N_BUCKETS` rows, so
     it is BROADCAST back onto the feature relation; per-document log
     weights are an ORDER-PINNED left fold (features re-collected in
     (position, kind) order, folded with an explicit 0.0 seed) so the
     float sum is bit-identical on both engines — same determinism device
     as curation.unigram_nll.

Scale posture (100 TB): the corpus is exploded once into features (narrow
after `fan_out`), shuffled once on the hash bucket (64 well-spread keys —
partial aggregation collapses this to at most 64 rows per input partition
map-side, so the shuffle payload is KB-sized regardless of corpus size)
and once on doc_id for the ordered re-collection. The model itself never
exceeds N_BUCKETS rows. No UDFs, no cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.functions.hashing import duck_hash64, hash64
from clinical_search_data_pipeline_spark.operators.fragments import (
    _DUCK_FEATS_CTE,
    DSIR_GATE,
    N_BUCKETS,
    TARGET_LANG,
)
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import fan_out, read_table

__all__ = [
    "DSIR_GATE",
    "N_BUCKETS",
    "RESAMPLE_K",
    "TARGET_LANG",
    "dsir_model",
    "dsir_resample",
    "dsir_score",
    "dsir_weights",
    "hashed_features",
]


def hashed_features(
    docs: DataFrame,
    n_buckets: int = N_BUCKETS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, lang, *carry, pos, kind, bucket): word unigrams (kind 0)
    and bigrams (kind 1) with 1-based positions, hashed into `n_buckets`
    (default N_BUCKETS; DSIR uses ~10k on web corpora). `carry` columns
    (e.g. a training label) ride the projection untouched.
    Narrow HOF projection after fan_out — zero shuffles.

    The bigram transform is guarded for size(w) < 2: Spark's
    sequence(1, 0) counts DOWN to [1, 0] instead of yielding the empty
    array, so an unguarded transform calls element_at(w, 0) and throws on
    any one-word document — an ingest gate must score arbitrary input
    (same gotcha spans.word_grams guards)."""
    w = fan_out(docs).select(
        "doc_id", "lang", *carry, F.split(F.col("text"), " ").alias("w")
    )
    uni = "transform(w, (x, i) -> struct(i + 1 AS pos, 0 AS kind, x AS feat))"
    bi = (
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
        "i -> struct(i AS pos, 1 AS kind, "
        "concat(element_at(w, i), ' ', element_at(w, i + 1)) AS feat)) "
        "ELSE array() END"
    )
    return w.select(
        "doc_id",
        "lang",
        *carry,
        F.explode(F.expr(f"concat({uni}, {bi})")).alias("f"),
    ).select(
        "doc_id",
        "lang",
        *carry,
        F.col("f.pos").alias("pos"),
        F.col("f.kind").alias("kind"),
        F.pmod(hash64(F.col("f.feat")), F.lit(n_buckets)).alias("bucket"),
    )


def dsir_counts(target_lang: str = TARGET_LANG) -> dict[str, Column]:
    """The DSIR bucket counts: every feature (raw model) and the target
    slice's features (`lang = target_lang`)."""
    return {
        "n_raw": F.count("*"),
        "n_t": F.count(F.when(F.col("lang") == target_lang, 1)),
    }


def dense_bucket_counts(
    feats: DataFrame, counts: dict[str, Column], n_buckets: int = N_BUCKETS
) -> DataFrame:
    """(bucket, *counts, *tot_<count>): one bucket aggregation of `feats`
    taking every count in `counts`, DENSE over the whole domain
    [0, n_buckets) (zero-count buckets read 0, so any later scoring join
    is a plain inner broadcast equi-join with no out-of-vocabulary case),
    each row carrying the corpus totals. Model-sized; the plan shape is
    N-independent, so a 100 TB caller can match DSIR's ~10k web-corpus
    buckets per call. `n_buckets` must match the features' hashing."""
    cnt = feats.groupBy("bucket").agg(*[c.alias(n) for n, c in counts.items()])
    domain = feats.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    dense = domain.join(F.broadcast(cnt), "bucket", "left").fillna(
        0, list(counts)
    )
    # totals over the n_buckets dense rows (a global window over a
    # model-sized relation): an aggregate of `cnt` is a second plan branch
    # that re-runs the feature pass and the bucket shuffle (measured: 7 ->
    # 5 jobs per dsir_model at sf0.001). Summing zero-filled rows also
    # keeps an EMPTY corpus at the NEUTRAL model (every total 0 -> every
    # ratio 0 -> the >= 0 gates ADMIT) instead of NULL totals that would
    # silently reject everything.
    whole = Window.partitionBy()
    return dense.select(
        "*", *[F.sum(n).over(whole).alias(f"tot_{n}") for n in counts]
    )


def smoothed_log_ratio(num: str, den: str, n_buckets: int = N_BUCKETS) -> Column:
    """ln p_num(bucket) - ln p_den(bucket) over `dense_bucket_counts`
    columns, each distribution add-one smoothed over the n_buckets
    domain — the DSIR log-ratio and the naive-Bayes log-odds alike."""

    def log_p(n: str) -> Column:
        return F.log(
            (F.col(n) + 1) / (F.col(f"tot_{n}") + F.lit(float(n_buckets)))
        )

    return log_p(num) - log_p(den)


def dsir_log_ratio(n_buckets: int = N_BUCKETS) -> Column:
    """lr = ln(p_target / p_raw) per bucket, over `dsir_counts` columns."""
    return smoothed_log_ratio("n_t", "n_raw", n_buckets).alias("lr")


def dsir_model(
    corpus: DataFrame,
    target_lang: str = TARGET_LANG,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Fit the frozen model on a standing corpus: (bucket, lr) DENSE over
    the whole bucket domain [0, n_buckets) — zero-count buckets carry the
    add-one-smoothed ratio by construction (`dense_bucket_counts`), so
    scoring is total over any input. Exactly n_buckets rows (the module
    constant is only the fixture default)."""
    dense = dense_bucket_counts(
        hashed_features(corpus, n_buckets), dsir_counts(target_lang), n_buckets
    )
    return dense.select("bucket", dsir_log_ratio(n_buckets))


def scored_features(
    feats: DataFrame, values: tuple[str, ...], first: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, lang, n_feats, fs, *first): each document's features
    re-collected as one (pos, kind, *values) array sorted on (pos, kind) —
    unique per document, so `values` never decide the order — for
    `ordered_sum` to fold; `first` columns are per-model constants."""
    return feats.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_feats"),
        F.array_sort(F.collect_list(F.struct("pos", "kind", *values))).alias(
            "fs"
        ),
        *[F.first(c).alias(c) for c in first],
    )


def ordered_sum(field: str, arr: str = "fs") -> Column:
    """The ORDER-PINNED left fold of `arr`'s `field` from an explicit 0.0
    seed: the float sum is bit-identical on both engines."""
    return F.expr(
        f"aggregate(transform({arr}, s -> s.{field}), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x)"
    )


def dsir_logw() -> Column:
    """logw, the 4-dp DSIR log importance weight of a `scored_features`
    row whose features carry `lr`."""
    return F.round(ordered_sum("lr"), 4)


def dsir_status(logw: Column) -> Column:
    return F.when(logw >= DSIR_GATE, "admitted").otherwise("rejected")


def dsir_score(
    docs: DataFrame, lr: DataFrame, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """(doc_id, lang, n_feats, logw): score documents under a FROZEN dense
    model — one broadcast equi-join on bucket + a doc_id-keyed ordered
    fold. Total over any input (the model covers the full bucket domain),
    which is the ingest-gate requirement. `n_buckets` must match the
    model's domain."""
    feats = hashed_features(docs, n_buckets).join(F.broadcast(lr), "bucket")
    return scored_features(feats, ("lr",)).select(
        "doc_id", "lang", "n_feats", dsir_logw().alias("logw")
    )


def dsir_weights(
    docs: DataFrame,
    target_lang: str = TARGET_LANG,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, lang, n_feats, logw): per-document DSIR log importance
    weight — the ordered left fold of its features' bucket log-ratios,
    self-scored (model and scored corpus are the same relation)."""
    return dsir_score(docs, dsir_model(docs, target_lang, n_buckets), n_buckets)


@register(
    "q_dsir_weights",
    oracle=f"""
WITH {_DUCK_FEATS_CTE},
cnt AS (
  SELECT bucket, count(*) AS n_raw,
         count(*) FILTER (WHERE lang = '{TARGET_LANG}') AS n_t
  FROM feats GROUP BY bucket
),
tot AS (SELECT sum(n_raw) AS t_r, sum(n_t) AS t_t FROM cnt),
lr AS (
  SELECT bucket,
         ln((n_t + 1) / (t_t + {N_BUCKETS}.0))
           - ln((n_raw + 1) / (t_r + {N_BUCKETS}.0)) AS lr
  FROM cnt CROSS JOIN tot
),
scored AS (
  SELECT doc_id, lang, count(*) AS n_feats,
         list(lr ORDER BY pos, kind) AS lrs
  FROM feats JOIN lr USING (bucket)
  GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_feats,
       round(list_reduce(list_prepend(0.0::DOUBLE, lrs),
                         (acc, x) -> acc + x), 4) AS logw
FROM scored
""",
    tags=("curation", "text", "northstar"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: ln(p_target/p_raw) per document under
    hashed unigram+bigram bucket models (Xie et al. 2023)."""
    return dsir_weights(read_table(spark, sf_dir, "documents"))


# --- importance RESAMPLING: the "R" in DSIR ---------------------------------

RESAMPLE_K = 100  # fixture default; a 100 TB caller passes its budget
_U_BUCKETS = 1_000_000  # hash-derived uniform resolution


def dsir_resample(
    weights: DataFrame, k: int = RESAMPLE_K, salt: str = "epoch0"
) -> DataFrame:
    """(doc_id, lang, logw, gkey): the top-`k` documents under Gumbel
    top-k weighted sampling WITHOUT replacement — DSIR's final step
    (sample ∝ exp(logw)), via the Efraimidis-Spirakis / Gumbel-max
    equivalence: adding an independent Gumbel draw to each log-weight and
    taking the k largest keys IS a weighted sample without replacement.

    Determinism device: the per-document uniform is hash-derived —
    u = (hash64(salt || doc_id) mod M + 0.5) / M — so the draw is
    reproducible across engines and runs (a new `salt` is a fresh
    epoch's draw); g = -ln(-ln(u)); key = round(logw + g, 4), ranked
    with doc_id as the deterministic tie-break.

    Scale shape: one narrow projection over the doc-count-sized weight
    relation, then a global top-k — TakeOrderedAndProject, never a full
    sort (the same plan class as q_top_revenue_orders)."""
    u = (
        F.pmod(
            hash64(F.concat(F.lit(salt), F.lit("|"), F.col("doc_id").cast("string"))),
            F.lit(_U_BUCKETS),
        )
        + F.lit(0.5)
    ) / F.lit(float(_U_BUCKETS))
    key = F.round(F.col("logw") + (-F.log(-F.log(u))), 4)
    return (
        weights.select("doc_id", "lang", "logw", key.alias("gkey"))
        .orderBy(F.col("gkey").desc(), F.col("doc_id"))
        .limit(k)
    )


@register(
    "q_dsir_resample",
    oracle=f"""
WITH {_DUCK_FEATS_CTE},
cnt AS (
  SELECT bucket, count(*) AS n_raw,
         count(*) FILTER (WHERE lang = '{TARGET_LANG}') AS n_t
  FROM feats GROUP BY bucket
),
tot AS (SELECT sum(n_raw) AS t_r, sum(n_t) AS t_t FROM cnt),
lr AS (
  SELECT bucket,
         ln((n_t + 1) / (t_t + {N_BUCKETS}.0))
           - ln((n_raw + 1) / (t_r + {N_BUCKETS}.0)) AS lr
  FROM cnt CROSS JOIN tot
),
scored AS (
  SELECT doc_id, lang, count(*) AS n_feats,
         list(lr ORDER BY pos, kind) AS lrs
  FROM feats JOIN lr USING (bucket)
  GROUP BY doc_id, lang
),
wts AS (
  SELECT doc_id, lang,
         round(list_reduce(list_prepend(0.0::DOUBLE, lrs),
                           (acc, x) -> acc + x), 4) AS logw
  FROM scored
),
keyed AS (
  SELECT doc_id, lang, logw,
         round(logw + (-ln(-ln(
           ({duck_hash64("'epoch0|' || CAST(doc_id AS VARCHAR)")}
              % {_U_BUCKETS} + 0.5) / {_U_BUCKETS}.0
         ))), 4) AS gkey
  FROM wts
)
SELECT doc_id, lang, logw, gkey FROM keyed
ORDER BY gkey DESC, doc_id LIMIT {RESAMPLE_K}
""",
    tags=("curation", "text", "northstar"),
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end: importance weights -> Gumbel top-k weighted
    resampling without replacement (Xie et al. 2023 select their
    pretraining subset exactly this way; Efraimidis-Spirakis 2006 /
    Gumbel-max give the one-pass distributed form). Hash-derived
    uniforms make the draw reproducible — and oracle-checkable."""
    docs = read_table(spark, sf_dir, "documents")
    return dsir_resample(dsir_weights(docs).drop("n_feats"))
