"""Linear quality classifier over hashed n-gram features (naive-Bayes fit).

CCNet (Wenzek et al. 2020) and the GPT-3/LLaMA data pipelines pair their
rule-based filters with a LEARNED quality classifier: a linear model over
bag-of-n-gram features (fastText-style) scoring how much a document looks
like a high-quality slice. The closed-form way to fit such a model is
multinomial naive Bayes — per-feature log-odds ln(p(f|pos)/p(f|neg)) plus
a class-prior bias — which is exactly the DSIR bucket model generalized
from a lang-slice target to an arbitrary boolean label, with a prior term:

  1. labels   — here the rule-based `pipeline.corpus_filter` keep/drop
     verdict (the CCNet trick: bootstrap classifier labels from the
     rule filter, then the smooth classifier generalizes beyond the
     rules); any boolean column works,
  2. model    — one n_buckets-key map-side-combined shuffle counts every
     hashed feature under each class; add-one smoothing; the weight table
     is DENSE over [0, n_buckets) (zero-count buckets carry the smoothed
     log-odds, so scoring is total over arbitrary input) and carries the
     prior bias on every row — model-sized, broadcast back for scoring,
  3. score    — logit = bias + Σ w(feature) as a (pos, kind)-ORDER-PINNED
     left fold (bit-identical on both engines — the `dsir_score` float
     discipline), prob = sigmoid(logit) computed FROM the rounded logit,
     admitted iff logit >= QUALITY_GATE (sigmoid is monotone, so the
     logit-0 gate IS the probability-0.5 gate).

Scale posture (100 TB): training is one feature explode + one
n_buckets-key shuffle (KB-sized payload after partial aggregation), class
totals summed over the model-sized dense relation and a 1-row prior
broadcast back; scoring is one broadcast equi-join and a
doc-keyed fold — the identical shape as the DSIR gate, so admission fits
and scores both from one feature pass (`text_models`, `text_screen`).

Reference parity: the reference has no learned curation (its quality
logic is `processing/spark/jobs/etl_to_analytics_mart.py` rule filters);
this extends the admission family along the published CCNet construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.operators.fragments import (
    _DUCK_FEATS_CTE,
    N_BUCKETS,
    TARGET_LANG,
)
from clinical_search_data_pipeline_spark.operators.importance import (
    dense_bucket_counts,
    dsir_counts,
    dsir_log_ratio,
    dsir_logw,
    dsir_status,
    hashed_features,
    ordered_sum,
    scored_features,
    smoothed_log_ratio,
)
from clinical_search_data_pipeline_spark.operators.pipeline import (
    CORPUS_FILTER_ORACLE,
    corpus_filter,
)
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.sources.readers import read_table

__all__ = [
    "QUALITY_GATE",
    "QUALITY_LR",
    "logistic_refine",
    "nb_quality_model",
    "quality_labels",
    "quality_score",
    "text_models",
    "text_screen",
]

QUALITY_GATE = 0.0  # on the logit: sigmoid-monotone twin of prob >= 0.5
QUALITY_LR = 0.03  # refinement step size, normalized by the training count:
#                    the NB init is already near a likelihood ridge, and each
#                    document's ~2L features square the effective step on its
#                    logit — a swept 0.03 improves fixture LL (-0.359 ->
#                    -0.344) where 1.0 overshoots (tests pin the improvement)


def quality_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, text, lang, lab): the rule-based corpus_filter verdict as
    a boolean training label, with text/lang carried through — still one
    zero-shuffle narrow projection."""
    return corpus_filter(docs, carry=("text", "lang")).select(
        "doc_id", "text", "lang", F.col("keep").alias("lab")
    )


def quality_counts() -> dict[str, Column]:
    """The naive-Bayes bucket counts: features of positive and of negative
    documents."""
    return {
        "n_p": F.count(F.when(F.col("lab"), 1)),
        "n_n": F.count(F.when(~F.col("lab"), 1)),
    }


def class_prior(labeled: DataFrame) -> DataFrame:
    """1 row, `bias`: the add-one-smoothed document-class prior log-odds
    (an empty label set gives ln(1/1) = 0, the NEUTRAL prior)."""
    return labeled.agg(
        F.log(
            (F.count(F.when(F.col("lab"), 1)) + F.lit(1.0))
            / (F.count(F.when(~F.col("lab"), 1)) + F.lit(1.0))
        ).alias("bias")
    )


def quality_log_odds(n_buckets: int = N_BUCKETS) -> Column:
    """w = ln(p(bucket | pos) / p(bucket | neg)), over `quality_counts`."""
    return smoothed_log_ratio("n_p", "n_n", n_buckets).alias("w")


def nb_quality_model(labeled: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """Fit the frozen classifier on a labeled corpus: (bucket, w, bias),
    DENSE over [0, n_buckets). w is the add-one-smoothed naive-Bayes
    log-odds of the hashed feature under pos vs neg; bias the smoothed
    document-class prior log-odds, constant on every row so ONE broadcast
    relation carries the whole model."""
    feats = hashed_features(labeled, n_buckets, carry=("lab",))
    dense = dense_bucket_counts(feats, quality_counts(), n_buckets)
    return dense.crossJoin(F.broadcast(class_prior(labeled))).select(
        "bucket", quality_log_odds(n_buckets), "bias"
    )


def quality_logit(arr: str = "fs") -> Column:
    """bias + the order-pinned fold of `arr`'s feature weights, to 4 dp."""
    return F.round(ordered_sum("w", arr) + F.col("bias"), 4)


def quality_columns(logit: Column, status: str = "status") -> list[Column]:
    """logit, prob and the gate verdict from a 4-dp logit. prob is
    computed from the ROUNDED logit so both engines exponentiate the
    identical double; logit >= QUALITY_GATE is the prob >= 0.5 gate."""
    return [
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4).alias("prob"),
        F.when(logit >= QUALITY_GATE, "admitted")
        .otherwise("rejected")
        .alias(status),
    ]


def quality_score(
    docs: DataFrame, model: DataFrame, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """(doc_id, lang, n_feats, logit, prob, status): score documents under
    a FROZEN model — one broadcast equi-join on bucket + a doc_id-keyed
    ordered fold; total over any input (dense domain + the one-word-doc
    bigram guard in hashed_features)."""
    feats = hashed_features(docs, n_buckets).join(F.broadcast(model), "bucket")
    logit = quality_logit()
    return scored_features(feats, ("w",), first=("bias",)).select(
        "doc_id", "lang", "n_feats", *quality_columns(logit)
    )


def text_models(
    labeled: DataFrame,
    target_lang: str = TARGET_LANG,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(bucket, lr, w, bias): the DSIR model (`dsir_model` over the same
    documents) and the naive-Bayes model (`nb_quality_model`) fitted
    together — ONE feature pass over `labeled`, ONE bucket aggregation
    taking all four counts and one dense domain join. `lab` does not
    change the features, so every count equals its separate fit's."""
    feats = hashed_features(labeled, n_buckets, carry=("lab",))
    counts = {**dsir_counts(target_lang), **quality_counts()}
    dense = dense_bucket_counts(feats, counts, n_buckets)
    return dense.crossJoin(F.broadcast(class_prior(labeled))).select(
        "bucket", dsir_log_ratio(n_buckets), quality_log_odds(n_buckets), "bias"
    )


def text_screen(
    docs: DataFrame,
    lr: DataFrame,
    clf: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, lang, n_feats, logw, dsir_status, logit, prob,
    quality_status): `dsir_score` and `quality_score` in one pass — ONE
    feature projection broadcast-joined to both frozen models (`lr`:
    (bucket, lr), `clf`: (bucket, w, bias)) and ONE (doc_id, lang)
    aggregate whose (pos, kind)-sorted array folds both sums, in each
    gate's own order."""
    feats = (
        hashed_features(docs, n_buckets)
        .join(F.broadcast(lr), "bucket")
        .join(F.broadcast(clf), "bucket")
    )
    logw = dsir_logw()
    logit = quality_logit()
    return scored_features(feats, ("lr", "w"), first=("bias",)).select(
        "doc_id",
        "lang",
        "n_feats",
        logw.alias("logw"),
        dsir_status(logw).alias("dsir_status"),
        *quality_columns(logit, status="quality_status"),
    )


def logistic_refine(
    labeled: DataFrame,
    model: DataFrame,
    n_buckets: int = N_BUCKETS,
    lr: float = QUALITY_LR,
) -> DataFrame:
    """One declarative batch gradient-ascent step of logistic regression
    from the naive-Bayes init — the CCNet construction proper (Wenzek et
    al. 2020 TRAIN a linear classifier; NB log-odds is only its closed
    form under feature independence, systematically overconfident on
    correlated n-grams). Returns (bucket, w, bias), same shape as
    `nb_quality_model`, so `quality_score` consumes it unchanged and the
    logit-0 gate semantics carry over.

    The log-likelihood gradient is ∂LL/∂w_b = Σ_d (y_d − p_d)·x_{d,b};
    the update is w_b += lr·g_b/N (bias likewise). Cross-engine float
    discipline: per-doc logits use the order-pinned fold (as
    `quality_score`), residuals are rounded to 6 dp and summed as
    DECIMAL(18,6) — decimal addition is exact and order-independent, so
    the gradient needs NO ordering pin and stays a plain map-side-combined
    aggregation.

    Scale posture: one doc_id-keyed join (features × doc-sized residuals)
    + one n_buckets-key shuffle (KB payload) + three 1-row/model-sized
    broadcasts — the same shuffle classes scoring already pays; nothing
    corpus-quadratic, nothing driver-side."""
    feats = hashed_features(labeled, n_buckets, carry=("lab",))
    per_doc = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "lab")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "kind", "w"))).alias("ws"),
            F.first("bias").alias("bias"),
        )
    )
    logit = quality_logit("ws")
    resid = per_doc.select(
        "doc_id",
        F.round(
            F.when(F.col("lab"), F.lit(1.0)).otherwise(F.lit(0.0))
            - F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("r"),
    )
    grad = (
        feats.select("doc_id", "bucket")
        .join(resid, "doc_id")
        .groupBy("bucket")
        .agg(F.sum("r").alias("g"))
    )
    gbias = resid.agg(F.coalesce(F.sum("r"), F.lit(0).cast("decimal(18,6)")).alias("gb"))
    nrel = labeled.agg(F.count("*").cast("double").alias("n"))
    return (
        model.join(F.broadcast(grad), "bucket", "left")
        .crossJoin(F.broadcast(gbias))
        .crossJoin(F.broadcast(nrel))
        .select(
            "bucket",
            (
                F.col("w")
                + F.lit(lr)
                * F.coalesce(F.col("g").cast("double"), F.lit(0.0))
                / F.col("n")
            ).alias("w"),
            (
                F.col("bias") + F.lit(lr) * F.col("gb").cast("double") / F.col("n")
            ).alias("bias"),
        )
    )


# Weight/score CTEs shared with the streaming gate oracle
# (streaming/stream_queries.py builds the split variant from the same
# pieces). `train_pred` / `score_pred` restrict the label/feature
# relations; the weights CTE is `wt` because _DUCK_FEATS_CTE already
# names the word-array CTE `w`.
def duck_classifier_sql(train_pred: str, score_pred: str) -> str:
    return f"""
WITH {_DUCK_FEATS_CTE},
labels AS (
  SELECT doc_id, keep AS lab FROM ({CORPUS_FILTER_ORACLE}) WHERE {train_pred}
),
fl AS (
  SELECT f.bucket, l.lab
  FROM feats f JOIN labels l USING (doc_id)
),
cnt AS (
  SELECT bucket,
         count(*) FILTER (WHERE lab) AS n_p,
         count(*) FILTER (WHERE NOT lab) AS n_n
  FROM fl GROUP BY 1
),
tot AS (SELECT sum(n_p) AS t_p, sum(n_n) AS t_n FROM cnt),
prior AS (
  SELECT ln((count(*) FILTER (WHERE lab) + 1.0)
            / (count(*) FILTER (WHERE NOT lab) + 1.0)) AS bias
  FROM labels
),
wt AS (
  SELECT b.bucket,
         ln((coalesce(n_p, 0) + 1) / (t_p + {N_BUCKETS}.0))
           - ln((coalesce(n_n, 0) + 1) / (t_n + {N_BUCKETS}.0)) AS w
  FROM (SELECT range AS bucket FROM range(0, {N_BUCKETS})) b
  LEFT JOIN cnt USING (bucket) CROSS JOIN tot
),
scored AS (
  SELECT f.doc_id, f.lang, count(*) AS n_feats,
         list(wt.w ORDER BY f.pos, f.kind) AS ws
  FROM feats f JOIN wt USING (bucket)
  WHERE {score_pred}
  GROUP BY f.doc_id, f.lang
),
lg AS (
  SELECT doc_id, lang, n_feats,
         round(list_reduce(list_prepend(0.0::DOUBLE, ws),
                           (acc, x) -> acc + x) + (SELECT bias FROM prior),
               4) AS logit
  FROM scored
)
SELECT doc_id, lang, n_feats, logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS prob,
       CASE WHEN logit >= {QUALITY_GATE} THEN 'admitted' ELSE 'rejected' END
         AS status
FROM lg
"""


@register(
    "q_quality_classifier",
    oracle=duck_classifier_sql("TRUE", "TRUE"),
    tags=("curation", "quality", "northstar"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality classifier: naive-Bayes log-odds over
    hashed unigram+bigram features, bootstrap-labeled by the rule-based
    corpus filter (the CCNet construction), scored as sigmoid(bias + w·x)
    with the logit-0 admission gate."""
    docs = read_table(spark, sf_dir, "documents")
    model = nb_quality_model(quality_labels(docs))
    return quality_score(docs, model)


def duck_refined_sql(train_pred: str, score_pred: str) -> str:
    """DuckDB twin of nb_quality_model -> logistic_refine -> quality_score:
    the NB CTEs, one per-doc order-pinned logit fold, 6-dp residuals summed
    as DECIMAL (exact, order-free), the lr/N update, then re-scoring."""
    return f"""
WITH {_DUCK_FEATS_CTE},
labels AS (
  SELECT doc_id, keep AS lab FROM ({CORPUS_FILTER_ORACLE}) WHERE {train_pred}
),
fl AS (
  SELECT f.bucket, l.lab
  FROM feats f JOIN labels l USING (doc_id)
),
cnt AS (
  SELECT bucket,
         count(*) FILTER (WHERE lab) AS n_p,
         count(*) FILTER (WHERE NOT lab) AS n_n
  FROM fl GROUP BY 1
),
tot AS (SELECT sum(n_p) AS t_p, sum(n_n) AS t_n FROM cnt),
prior AS (
  SELECT ln((count(*) FILTER (WHERE lab) + 1.0)
            / (count(*) FILTER (WHERE NOT lab) + 1.0)) AS bias
  FROM labels
),
wt AS (
  SELECT b.bucket,
         ln((coalesce(n_p, 0) + 1) / (t_p + {N_BUCKETS}.0))
           - ln((coalesce(n_n, 0) + 1) / (t_n + {N_BUCKETS}.0)) AS w
  FROM (SELECT range AS bucket FROM range(0, {N_BUCKETS})) b
  LEFT JOIN cnt USING (bucket) CROSS JOIN tot
),
sc0 AS (
  SELECT f.doc_id, list(wt.w ORDER BY f.pos, f.kind) AS ws
  FROM feats f JOIN wt USING (bucket)
  GROUP BY f.doc_id
),
lg0 AS (
  SELECT s.doc_id, l.lab,
         round(list_reduce(list_prepend(0.0::DOUBLE, ws),
                           (acc, x) -> acc + x) + (SELECT bias FROM prior),
               4) AS logit
  FROM sc0 s JOIN labels l USING (doc_id)
),
resid AS (
  SELECT doc_id,
         CAST(round((CASE WHEN lab THEN 1.0 ELSE 0.0 END)
                    - 1.0 / (1.0 + exp(-logit)), 6) AS DECIMAL(18,6)) AS r
  FROM lg0
),
nrel AS (SELECT count(*)::DOUBLE AS n FROM labels),
grad AS (
  SELECT f.bucket, sum(r.r) AS g
  FROM feats f JOIN resid r USING (doc_id)
  GROUP BY 1
),
gbias AS (SELECT coalesce(sum(r), CAST(0 AS DECIMAL(18,6))) AS gb FROM resid),
wt2 AS (
  SELECT wt.bucket,
         wt.w + {QUALITY_LR} * coalesce(CAST(g AS DOUBLE), 0.0) / n AS w
  FROM wt LEFT JOIN grad USING (bucket) CROSS JOIN nrel
),
prior2 AS (
  SELECT (SELECT bias FROM prior) + {QUALITY_LR} * CAST(gb AS DOUBLE) / n
           AS bias
  FROM gbias CROSS JOIN nrel
),
scored AS (
  SELECT f.doc_id, f.lang, count(*) AS n_feats,
         list(wt2.w ORDER BY f.pos, f.kind) AS ws
  FROM feats f JOIN wt2 USING (bucket)
  WHERE {score_pred}
  GROUP BY f.doc_id, f.lang
),
lg AS (
  SELECT doc_id, lang, n_feats,
         round(list_reduce(list_prepend(0.0::DOUBLE, ws),
                           (acc, x) -> acc + x) + (SELECT bias FROM prior2),
               4) AS logit
  FROM scored
)
SELECT doc_id, lang, n_feats, logit,
       round(1.0 / (1.0 + exp(-logit)), 4) AS prob,
       CASE WHEN logit >= {QUALITY_GATE} THEN 'admitted' ELSE 'rejected' END
         AS status
FROM lg
"""


@register(
    "q_quality_classifier_refined",
    oracle=duck_refined_sql("TRUE", "TRUE"),
    tags=("curation", "quality", "northstar"),
)
def q_quality_classifier_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality classifier with one logistic-regression refinement step
    over the NB init (gradient ascent on the training log-likelihood,
    lr/N-normalized) — the trained-linear-model step CCNet actually
    ships. Same output schema and logit-0 gate as q_quality_classifier;
    tests/test_classifier.py pins the likelihood improvement."""
    docs = read_table(spark, sf_dir, "documents")
    labeled = quality_labels(docs)
    m1 = logistic_refine(labeled, nb_quality_model(labeled))
    return quality_score(docs, m1)
