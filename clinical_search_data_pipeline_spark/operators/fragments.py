"""Shared operator constants and DuckDB oracle-SQL fragments.

This module registers NO queries — that is its entire point. The driver
checks queries in *registration* order under a ~50-slot budget
(registry.py), so a module that merely needs another operator's thresholds
or oracle CTE text must be able to get them WITHOUT triggering that
operator module's registrations (importing `similarity` registers 9
queries; `dedup` registers 5). `components` and `pipeline` import fragments
from here at module level and defer their imports of the actual DataFrame
builders into the query functions.

Everything here is plain text/constants; the Spark-side builder functions
stay in their home modules (`similarity`, `dedup`). It is also the one
operator module `ann_index` imports: the ANN quantizers (seed, Lloyd
training, encode) and their DuckDB CTE twins live in `ann_index`, built on
the dot-product folds and `_DUCK_BASE_CTE` below, and `similarity`,
`clustering` and `curation` import them from there.
"""

from __future__ import annotations

from clinical_search_data_pipeline_spark.functions import textfns
from clinical_search_data_pipeline_spark.functions.hashing import duck_hash64

# --- embedding-similarity constants (operators/similarity.py) ---------------

DIM = 64
N_PLANES = 8
N_QUERIES = 8
TOP_K = 5
NEARDUP_THRESHOLD = 0.45  # fixture max pairwise cosine ~0.5


def _spark_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _duck_dot(a: str, b: str) -> str:
    # operands parenthesized so literal-array arguments (`[..]::DOUBLE[]`)
    # parse when indexed
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), i -> ({a})[i] * ({b})[i]), "
        f"(acc, v) -> acc + v)"
    )


_SPARK_V = "transform(embedding, x -> CAST(x AS DOUBLE))"
_DUCK_V = "embedding::DOUBLE[]"

_DUCK_BASE_CTE = f"""
base AS (
  SELECT vec_id, label, {_DUCK_V} AS v FROM embeddings
),
n AS (
  SELECT vec_id, label, v, sqrt({_duck_dot('v', 'v')}) AS norm FROM base
)"""

# --- document-shingle constants (operators/dedup.py) ------------------------

SHINGLE_K = 3
NUM_HASHES = 8
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 16

_DUCK_SHINGLES_CTE = f"""
tok AS (SELECT doc_id, {textfns.duck_tokens('text')} AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest({textfns.duck_shingles('w', SHINGLE_K)}) AS shingle
  FROM tok WHERE len(w) >= {SHINGLE_K}
)"""


# --- DSIR hashed-feature constants (operators/importance.py) ----------------

N_BUCKETS = 64  # hashed-feature space; DSIR uses 10k on web corpora — the
#                 fixture vocabulary is ~30 words so 64 buckets already
#                 exhibits the collision regime the method is built for.
TARGET_LANG = "en"  # the fixture's stand-in target slice
DSIR_GATE = 0.0  # admission threshold: logw >= 0 means the document is
#                  likelier under the target model than under the raw model

# Hashed-feature relation (word unigrams kind 0 + bigrams kind 1) over the
# `documents` view — the oracle twin of importance.hashed_features.
_DUCK_FEATS_CTE = f"""
w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
uni AS (
  SELECT doc_id, lang, generate_subscripts(w, 1) AS pos, 0 AS kind,
         unnest(w) AS feat
  FROM w
),
bi AS (
  SELECT doc_id, lang, i AS pos, 1 AS kind,
         w[i] || \' \' || w[i + 1] AS feat
  FROM w, unnest(range(1, len(w))) AS t(i)
),
feats AS (
  SELECT doc_id, lang, pos, kind, {duck_hash64("feat")} % {N_BUCKETS} AS bucket
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
)"""


# --- substring-span constants (operators/spans.py) --------------------------

SPAN_GRAM_K = 8  # span granularity: smallest duplicated run detected, in
#                  words (Lee et al. use 50 BPE tokens on web text; the
#                  fixture vocabulary makes chance collisions vanish by k=8)
SPAN_GATE_FRAC = 0.3  # ingest gate: contaminated when > this fraction of a
#                       document's words is covered by corpus k-grams
