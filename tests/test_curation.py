"""Property tests for the curation operators (passage dedup, SemDeDup,
reproducible train order) on handcrafted corpora with known answers.
Oracle parity at fixture scale is covered by tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.operators.curation import (
    SEMDEDUP_TAU,
    passage_dedup,
    passage_dup_stats,
    passages,
    semdedup,
    train_order,
)
from tests.conftest import SF_CORRECTNESS

# ---------------------------------------------------------------------------
# passage dedup
# ---------------------------------------------------------------------------


def _mkdocs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_passage_dedup_handcrafted(spark):
    # p=2-word passages: doc0 = [a b][c d], doc1 = [a b][e f], doc2 = [c d]
    docs = _mkdocs(spark, ["a b c d", "a b e f", "c d"])
    out = {r.doc_id: r for r in passage_dedup(docs, p=2).collect()}
    assert out[0].clean_text == "a b c d" and out[0].n_dropped == 0
    assert out[1].clean_text == "e f" and out[1].n_dropped == 1
    assert out[2].clean_text == "" and out[2].n_dropped == 1
    assert all(out[d].n_passages == 2 for d in (0, 1)) and out[2].n_passages == 1


def test_passage_dedup_tail_chunk_and_order(spark):
    # 5 words with p=2 -> tail chunk of 1 word; document order must survive
    # the collect_list/array_sort reassembly.
    docs = _mkdocs(spark, ["w1 w2 w3 w4 w5"])
    row = passage_dedup(docs, p=2).collect()[0]
    assert row.clean_text == "w1 w2 w3 w4 w5"
    assert row.n_passages == 3 and row.n_dropped == 0


def test_passage_dedup_keeps_each_passage_once_globally(spark):
    """On the fixture corpus: every duplicated passage survives in exactly
    one (the first) position, and totals are conserved."""
    docs = (
        spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    ch = passages(docs)
    w = Window.partitionBy("passage").orderBy("doc_id", "pos")
    flagged = ch.withColumn("kept", F.row_number().over(w) == 1)
    # each distinct passage kept exactly once
    per_passage = (
        flagged.groupBy("passage")
        .agg(F.sum(F.col("kept").cast("int")).alias("nk"))
        .agg(F.min("nk").alias("lo"), F.max("nk").alias("hi"))
        .collect()[0]
    )
    assert per_passage.lo == 1 and per_passage.hi == 1
    out = passage_dedup(docs)
    totals = out.agg(
        F.sum("n_passages").alias("np"),
        F.sum("n_dropped").alias("nd"),
        F.count("*").alias("docs"),
    ).collect()[0]
    assert totals.docs == docs.count()  # no document lost, even if emptied
    n_distinct = ch.select("passage").distinct().count()
    assert totals.np - totals.nd == n_distinct


def test_passage_dedup_matches_python_reference_property(spark):
    """Property: for ANY corpus (random word sequences with forced
    repetition), passage_dedup matches a direct pure-Python rendering of
    the first-occurrence contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clinical_search_data_pipeline_spark.operators.curation import (
        passage_dedup,
    )

    def py_reference(texts: list[str], p: int):
        chunks = []  # (doc_id, pos, passage) in scan order
        for d, t in enumerate(texts):
            w = t.split(" ")
            for i in range(0, len(w), p):
                chunks.append((d, i // p, " ".join(w[i : i + p])))
        seen: set[str] = set()
        out = {}
        for d, t in enumerate(texts):
            out[d] = {"kept": [], "n_passages": 0, "n_dropped": 0}
        for d, pos, passage in chunks:  # (doc_id, pos) order == scan order
            out[d]["n_passages"] += 1
            if passage in seen:
                out[d]["n_dropped"] += 1
            else:
                seen.add(passage)
                out[d]["kept"].append(passage)
        return {
            d: (" ".join(v["kept"]), v["n_passages"], v["n_dropped"])
            for d, v in out.items()
        }

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        n_docs=st.integers(min_value=1, max_value=8),
        p=st.integers(min_value=1, max_value=4),
    )
    def check(seed: int, n_docs: int, p: int):
        import random

        rng = random.Random(seed)
        vocab = ["w%d" % i for i in range(6)]  # tiny vocab forces collisions
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15)))
            for _ in range(n_docs)
        ]
        want = py_reference(texts, p)
        got = {
            r.doc_id: (r.clean_text, r.n_passages, r.n_dropped)
            for r in passage_dedup(_mkdocs(spark, texts), p=p).collect()
        }
        assert got == want

    check()


def test_passage_dup_stats_matches_flagging(spark):
    docs = _mkdocs(spark, ["a b c d", "a b e f", "a b c d"])
    stats = {r.passage_hash: r for r in passage_dup_stats(docs, p=2).collect()}
    # 'a b' in 3 docs, 'c d' in 2 docs, 'e f' unique (absent)
    assert len(stats) == 2
    by_counts = sorted((r.n_docs, r.n_occurrences) for r in stats.values())
    assert by_counts == [(2, 2), (3, 3)]


# ---------------------------------------------------------------------------
# incremental dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_handcrafted(spark):
    from clinical_search_data_pipeline_spark.operators.curation import (
        incremental_dedup,
    )

    corpus = _mkdocs(spark, ["alpha beta gamma delta epsilon zeta"])
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # exact corpus dup
            (11, "one two three four five six"),  # novel, dup'd by 12
            (12, "one two three four five six"),
            (13, "red green blue cyan magenta yellow"),  # novel
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in incremental_dedup(corpus, batch).collect()}
    assert out[10].status == "dup_of_corpus" and out[10].n_corpus_matches == 1
    assert out[11].status == "admitted"
    assert out[12].status == "dup_in_batch" and out[12].n_batch_matches == 1
    assert out[13].status == "admitted"
    assert len(out) == 4


def test_incremental_dedup_matches_full_pair_set(spark):
    """Lossless-prefix equivalence: statuses derived from the FULL all-docs
    jaccard_pairs output (restricted to pairs touching the batch) must equal
    incremental_dedup's output — the frozen-df prefix index loses nothing."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        INCREMENT_SPLIT,
        incremental_dedup,
    )
    from clinical_search_data_pipeline_spark.operators.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "text"
    )
    s = INCREMENT_SPLIT
    full = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs).collect()
        if r.doc_b >= s
    }
    corpus = docs.filter(F.col("doc_id") < s)
    batch = docs.filter(F.col("doc_id") >= s)
    got = {r.doc_id: r for r in incremental_dedup(corpus, batch).collect()}
    for doc_id in (r.doc_id for r in batch.select("doc_id").collect()):
        cm = sum(1 for a, b in full if b == doc_id and a < s)
        bm = sum(1 for a, b in full if b == doc_id and a >= s)
        want = "dup_of_corpus" if cm else ("dup_in_batch" if bm else "admitted")
        r = got[doc_id]
        assert (r.status, r.n_corpus_matches, r.n_batch_matches) == (want, cm, bm)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def test_semdedup_drops_higher_id_of_close_pairs(spark):
    # Centroids live at vec_id 100..107. Build two orthogonal centroids and
    # three near-identical vectors in cell 0 (ids 1,2,3) plus one loner in
    # cell 1 (id 4): SemDeDup must keep 1 and 4, drop 2 and 3.
    dim = 4
    e0 = [1.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, [1.0, 0.05, 0.0, 0.0], 0),
        (2, [0.99, 0.06, 0.0, 0.0], 0),
        (3, [1.01, 0.04, 0.0, 0.0], 0),
        (4, [0.0, 1.0, 0.05, 0.0], 1),
    ]
    cents = [(100 + i, v, 9) for i, v in enumerate([e0, e1])]
    # fill the remaining centroid slots with far-apart axes so argmax is
    # unambiguous for every data vector
    for j in range(2, 8):
        v = [0.0] * dim
        v[2 + (j % 2)] = 1.0
        cents.append((100 + j, [x * (1.0 + j) for x in v], 9))
    emb = spark.createDataFrame(rows + cents, ["vec_id", "embedding", "label"])
    out = {r.vec_id: r for r in semdedup(emb, tau=SEMDEDUP_TAU).collect()}
    assert out[1].kept and out[4].kept
    assert not out[2].kept and not out[3].kept
    assert out[1].cell == out[2].cell == out[3].cell == 0
    assert out[4].cell == 1


def test_semdedup_fixture_dropped_have_lower_id_witness(spark):
    """Every dropped vector has a lower-id same-cell witness with
    cosine >= tau (the SemDeDup contract), checked on the real fixture."""
    emb = spark.read.parquet(f"{SF_CORRECTNESS}/embeddings.parquet")
    out = semdedup(emb)
    n = out.count()
    assert n == emb.count()
    dropped = out.filter(~F.col("kept")).count()
    assert 0 < dropped < n  # fixture exercises both branches
    # witnesses: re-derive pairs once and anti-join — no dropped vec may
    # lack a witness
    from clinical_search_data_pipeline_spark.operators.fragments import _spark_dot
    from clinical_search_data_pipeline_spark.operators.ann_index import (
        trained_quantizer,
    )

    _, cells = trained_quantizer(emb, 0)
    a = cells.select(
        F.col("vec_id").alias("va"), F.col("v").alias("av"),
        F.col("norm").alias("an"), "cell",
    )
    b = cells.select(
        F.col("vec_id").alias("vb"), F.col("v").alias("bv"),
        F.col("norm").alias("bn"), F.col("cell").alias("cellb"),
    )
    witnessed = (
        a.join(b, (F.col("cell") == F.col("cellb")) & (F.col("va") < F.col("vb")))
        .withColumn("_c", F.expr(_spark_dot("av", "bv")) / (F.col("an") * F.col("bn")))
        .filter(F.col("_c") >= SEMDEDUP_TAU)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    orphans = (
        out.filter(~F.col("kept")).join(witnessed, "vec_id", "left_anti").count()
    )
    assert orphans == 0


# ---------------------------------------------------------------------------
# curation funnel
# ---------------------------------------------------------------------------


def test_curation_funnel_consistent_with_stage_operators(spark):
    """The funnel's dispositions must agree with the standalone stage
    operators: filter reasons match corpus_filter for non-eval docs, every
    near_dup is a filter-keeper, no admitted doc is a filter-drop, and the
    partition covers the corpus exactly once."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        curation_funnel,
    )
    from clinical_search_data_pipeline_spark.operators.pipeline import (
        BENCH_MOD,
        corpus_filter,
    )

    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "text"
    )
    got = {r.doc_id: r.disposition for r in curation_funnel(docs).collect()}
    reasons = {r.doc_id: r.reason for r in corpus_filter(docs).collect()}
    assert set(got) == set(reasons)  # exactly one disposition per doc
    for d, disp in got.items():
        if d % BENCH_MOD == 0:
            assert disp == "eval_holdout", (d, disp)
        elif reasons[d] != "keep":
            assert disp == reasons[d], (d, disp, reasons[d])
        else:
            assert disp in ("near_dup", "contaminated", "admitted"), (d, disp)
    assert sum(1 for v in got.values() if v == "near_dup") > 0
    assert sum(1 for v in got.values() if v == "admitted") > 0


# ---------------------------------------------------------------------------
# unigram LM quality
# ---------------------------------------------------------------------------


def test_unigram_nll_handcrafted(spark):
    import math

    import pytest as _pytest

    from clinical_search_data_pipeline_spark.operators.curation import unigram_nll

    docs = _mkdocs(spark, ["a a a a", "a a b z"])
    out = {r.doc_id: r for r in unigram_nll(docs).collect()}
    # freq: a=6, b=1, z=1; N=8
    n = 8.0
    want0 = round(sum(math.log2(n / 6) for _ in range(4)) / 4, 4)
    want1 = round(
        (math.log2(n / 6) + math.log2(n / 6) + math.log2(n / 1) + math.log2(n / 1))
        / 4,
        4,
    )
    assert out[0].avg_nll == _pytest.approx(want0, abs=1e-4)
    assert out[1].avg_nll == _pytest.approx(want1, abs=1e-4)
    assert out[0].sum_tf == 24 and out[1].sum_tf == 14
    # common-token doc scores LOWER surprise than the rare-token doc
    assert out[0].avg_nll < out[1].avg_nll


# ---------------------------------------------------------------------------
# train order
# ---------------------------------------------------------------------------


def test_train_order_equals_global_rank(spark):
    """The distributed bucket-offset rank must equal the naive
    single-window global rank, and be a 1..N permutation."""
    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "text"
    )
    got = train_order(docs)
    n = docs.count()
    idxs = got.agg(
        F.min("order_idx").alias("lo"),
        F.max("order_idx").alias("hi"),
        F.countDistinct("order_idx").alias("nd"),
        F.count("*").alias("cnt"),
    ).collect()[0]
    assert (idxs.lo, idxs.hi, idxs.nd, idxs.cnt) == (1, n, n, n)
    naive = got.select("doc_id", "shuffle_key").withColumn(
        "order_idx", F.row_number().over(Window.orderBy("shuffle_key", "doc_id"))
    )
    diff = got.join(naive, ["doc_id", "shuffle_key", "order_idx"]).count()
    assert diff == n


def test_train_order_seed_changes_order(spark):
    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "text"
    )
    a = train_order(docs, seed="epoch0").select("doc_id", "order_idx")
    bdf = train_order(docs, seed="epoch1").select(
        "doc_id", F.col("order_idx").alias("order_idx_b")
    )
    moved = a.join(bdf, "doc_id").filter(
        F.col("order_idx") != F.col("order_idx_b")
    ).count()
    assert moved > 0


def test_token_budget_equals_naive_window(spark):
    """The bucket-offset distributed running sum must equal the naive
    per-lang global window, and every kept prefix must be maximal (the
    next doc in seeded order would overflow the budget)."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        TOKEN_BUDGET,
        TOKEN_BUDGET_SEED,
        token_budget_sample,
    )
    from clinical_search_data_pipeline_spark.functions.hashing import hash64

    docs = spark.read.parquet(f"{SF_CORRECTNESS}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    got = token_budget_sample(docs)
    keyed = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        hash64(
            F.concat_ws(":", F.lit(TOKEN_BUDGET_SEED), F.col("doc_id"))
        ).alias("shuffle_key"),
    )
    naive = (
        keyed.withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                Window.partitionBy("lang").orderBy("shuffle_key", "doc_id")
            ),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )
    n_naive = naive.count()
    assert n_naive > 0
    assert got.count() == n_naive
    assert got.join(naive, ["doc_id", "lang", "n_tokens", "cum_tokens"]).count() == n_naive
    # maximality: per lang, the kept prefix cannot be extended
    per_lang = got.groupBy("lang").agg(F.max("cum_tokens").alias("kept"))
    # every language with any docs at all must appear (budget > single doc)
    assert per_lang.count() == docs.select("lang").distinct().count()
    for r in per_lang.collect():
        assert r.kept <= TOKEN_BUDGET


def test_length_percentile_definition(spark):
    """Hand case pinning p_k = min{x : cdf(x) >= ceil(k*n/100)}: ten docs
    of lengths 1..10 in one lang -> p05=1 (ceil(0.5)=1), p50=5, p95=10;
    outliers outside [1, 10] = 0. Two langs stay independent."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        length_percentiles,
    )

    rows = [(i, "en", " ".join(["w"] * i)) for i in range(1, 11)]
    rows += [(100 + i, "fr", " ".join(["w"] * 20)) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["lang"]: r.asDict() for r in length_percentiles(docs).collect()}
    en = got["en"]
    assert (en["p05"], en["p50"], en["p95"]) == (1, 5, 10)
    assert (en["n_docs"], en["n_outliers"]) == (10, 0)
    fr = got["fr"]  # constant lengths: every percentile is 20, no outliers
    assert (fr["p05"], fr["p50"], fr["p95"]) == (20, 20, 20)
    assert (fr["n_docs"], fr["n_outliers"]) == (4, 0)


def test_token_budget_edge_cases(spark):
    """Budget smaller than any document -> empty (never a partial doc);
    empty corpus -> empty; a budget covering everything keeps everything."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        token_budget_sample,
    )

    docs = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "en", "d e f"), (3, "fr", "g h")],
        "doc_id long, lang string, text string",
    )
    assert token_budget_sample(docs, budget=2).count() == 1  # only the 2-token doc
    assert token_budget_sample(docs, budget=0).count() == 0
    assert token_budget_sample(docs.limit(0), budget=100).count() == 0
    assert token_budget_sample(docs, budget=100).count() == 3


def test_length_percentiles_empty_and_single(spark):
    from clinical_search_data_pipeline_spark.operators.curation import (
        length_percentiles,
    )

    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    assert length_percentiles(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "en", "a b c")], "doc_id long, lang string, text string"
    )
    r = length_percentiles(one).collect()[0]
    assert (r["p05"], r["p50"], r["p95"], r["n_docs"], r["n_outliers"]) == (
        3, 3, 3, 1, 0,
    )


def test_sliding_chunks_cover_and_overlap(spark):
    """Every token covered, consecutive chunks overlap by window-stride,
    only the final chunk may run short — the hand case n=20, w=16, s=8
    gives exactly chunks [1..16] and [9..20]."""
    import hashlib

    from clinical_search_data_pipeline_spark.operators.curation import sliding_chunks

    words = [f"t{i}" for i in range(1, 21)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        sliding_chunks(docs, window=16, stride=8).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["chunk_id"] for r in rows] == [0, 1]
    assert [r["n_chunk_tokens"] for r in rows] == [16, 12]
    expect0 = hashlib.md5(" ".join(words[0:16]).encode()).hexdigest()
    expect1 = hashlib.md5(" ".join(words[8:20]).encode()).hexdigest()
    assert rows[0]["chunk_md5"] == expect0 and rows[1]["chunk_md5"] == expect1

    import pytest

    with pytest.raises(ValueError):
        sliding_chunks(docs, window=4, stride=8)


def test_sliding_chunks_randomized_cross_check(spark):
    """One Spark job over 200 seeded random docs (word counts 0..60, three
    window/stride settings) compared row-for-row against an independent
    in-driver reference — the slice/clamp/ceil arithmetic has off-by-one
    room the hand case alone can't cover."""
    import hashlib
    import math
    import random

    from clinical_search_data_pipeline_spark.operators.curation import sliding_chunks

    rng = random.Random(42)
    docs = [(0, "")]  # empty text: split yields [''] on both sides
    for i in range(1, 200):
        n = rng.randint(1, 60)
        docs.append((i, " ".join(f"w{rng.randint(0, 9)}x{j}" for j in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref(text, window, stride):
        w = text.split(" ")
        n_chunks = 1 + math.ceil(max(len(w) - window, 0) / stride)
        out = {}
        for i in range(n_chunks):
            chunk = " ".join(w[i * stride : i * stride + window])
            out[i] = (
                len(chunk.split(" ")),
                hashlib.md5(chunk.encode()).hexdigest(),
            )
        return out

    for window, stride in ((16, 8), (5, 5), (7, 3)):
        got: dict = {}
        for r in sliding_chunks(df, window=window, stride=stride).collect():
            got.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
                r["n_chunk_tokens"],
                r["chunk_md5"],
            )
        expected = {d: ref(t, window, stride) for d, t in docs}
        assert got == expected, f"mismatch at window={window} stride={stride}"


# ---------------------------------------------------------------------------
# cross-source duplication attribution
# ---------------------------------------------------------------------------


def _mksrc(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def test_source_overlap_handcrafted(spark):
    from clinical_search_data_pipeline_spark.operators.curation import (
        source_dup_profile,
        source_overlap,
    )

    # p=2 passages: srcA doc0=[a b][c d]; srcB doc1=[a b][e f]; srcC
    # doc2=[a b][c d] — A∩B={ab}, A∩C={ab,cd}, B∩C={ab}
    docs = _mksrc(
        spark,
        [
            (0, "srcA", "a b c d"),
            (1, "srcB", "a b e f"),
            (2, "srcC", "a b c d"),
        ],
    )
    got = {
        (r.src_a, r.src_b): r.n_shared_passages
        for r in source_overlap(docs, p=2).collect()
    }
    assert got == {
        ("srcA", "srcB"): 1,
        ("srcA", "srcC"): 2,
        ("srcB", "srcC"): 1,
    }

    prof = {r.source: r for r in source_dup_profile(docs, p=2).collect()}
    assert prof["srcA"].n_passages == 2 and prof["srcA"].n_shared == 2
    assert prof["srcB"].n_passages == 2 and prof["srcB"].n_shared == 1
    assert prof["srcB"].dup_rate == 0.5
    assert prof["srcC"].n_shared == 2


def test_source_overlap_fanout_bounded_by_source_count(spark):
    """A passage duplicated across MANY documents of the same two sources
    still contributes exactly one pair row — the distinct (source, passage)
    projection caps fan-out at s*(s-1)/2 regardless of document count."""
    from clinical_search_data_pipeline_spark.operators.curation import (
        source_overlap,
    )

    rows = [(i, "srcA" if i % 2 else "srcB", "x y") for i in range(200)]
    out = source_overlap(_mksrc(spark, rows), p=2).collect()
    assert len(out) == 1
    assert out[0].n_shared_passages == 1
