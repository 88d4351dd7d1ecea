"""Seeded input generator for the benchmark workloads (numpy + pyarrow, no Spark).

Every input a workload feeds the engine is written here from the seed alone,
so the same seed gives byte-identical files and the engine only ever sees the
generated files. Tables use the fixture schemas (schemas.EVENTS_SCHEMA's raw
form with a TIMESTAMP(MICROS) `ts`, DOCUMENTS_SCHEMA, EMBEDDINGS_SCHEMA).

Usage: python3 perfbench/gen.py --workload lake_batch --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("lake_batch", "hot_stream", "curation", "ann_serve")

# Traffic properties of each workload's generated input. The run report and
# perfbench/README.md quote these; change them here only.
PROPS: dict[str, dict] = {
    "lake_batch": {
        "events": 40_000,
        "days": 30,
        "users": 3_000,
        "user_zipf_s": 1.1,
        "documents": 400,
        "document_zipf_s": 1.2,
        "backfill_days": 3,
        "late_share_of_day": 0.10,
    },
    "hot_stream": {
        "backlog_events": 8_000,
        "backlog_files": 2,
        "backlog_days": 4,
        "paced_files": 4,
        "duplicate_share": 0.05,
        "late_share": 0.02,
        "late_within_s": 300,
        "watermark": "10 minutes",
        "users": 3_000,
        "user_zipf_s": 1.1,
        "documents": 200,
    },
    "curation": {
        "corpus_docs": 200,
        "increment_docs": 60,
        "increment_files": 1,
        "planted_dup_share": 0.20,
        "planted_exact_share": 0.5,
        "near_dup_word_swap": 0.05,
        "langs": {"en": 0.6, "es": 0.15, "de": 0.1, "fr": 0.1, "zh": 0.05},
        "words_lognormal_median": 70,
        "words_lognormal_sigma": 0.8,
    },
    "ann_serve": {
        "vectors": 3_000,
        "dim": 64,
        "clusters": 24,
        "cluster_noise": 0.55,
        "requests": 64,
        "queries_per_request": 8,
        "rerank_share": 0.25,
        "k": 10,
        "nprobe": 2,
        "rerank_pool": 50,
    },
}

_DAY_US = 86_400_000_000
_EPOCH_2024_01_01_S = 1_704_067_200
HOT_FIRST_DAY_S = _EPOCH_2024_01_01_S + 23 * 86_400  # 2024-01-24
QUERY_ID_BASE = 10_000_000


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def _zipf_choice(rng, n_items: int, s: float, size: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** s
    # a seeded permutation so the hot ids are not simply the smallest ones
    ids = rng.permutation(n_items)
    return ids[rng.choice(n_items, size=size, p=w / w.sum())]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _events_table(event_id, ts_us, user_id, doc, rng) -> pa.Table:
    n = len(event_id)
    value = np.round(rng.gamma(2.0, 20.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array([f"doc{d:04d}" for d in doc], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
        }
    )


def _diurnal_offsets_us(rng, size: int) -> np.ndarray:
    """Time of day with a daytime peak (two-component mixture)."""
    peak = rng.normal(14.5 * 3600, 3.0 * 3600, size)
    flat = rng.uniform(0, 86_400, size)
    sec = np.where(rng.random(size) < 0.6, peak, flat) % 86_400
    return (sec * 1e6).astype(np.int64) + rng.integers(0, 1_000_000, size)


def _click_log_lines(tb: pa.Table) -> list[str]:
    """The JSON-lines wire form of an events table (ingest.click_log_json's
    field set, plus the producer's multi-value areas with the leading comma
    the reference data has)."""
    ts_us = tb.column("ts").cast(pa.int64()).to_numpy()
    ts_str = np.char.replace(np.datetime_as_string(ts_us.astype("datetime64[us]").astype("datetime64[s]")), "T", " ")
    lines = []
    for eid, ms, uid, doc, ts in zip(
        tb.column("event_id").to_pylist(), (ts_us // 1000).tolist(),
        tb.column("user_id").to_pylist(), tb.column("event_type").to_pylist(), ts_str.tolist(),
    ):
        key = int.from_bytes(hashlib.blake2b(f"{uid}|{ts}".encode(), digest_size=8).digest(), "big") >> 1
        lines.append(
            json.dumps(
                {
                    "date_created": f"/Date({ms})/",
                    "session_id": str(uid),
                    "document_id": eid % 1000,
                    "keywords": doc,
                    "clinical_areas": f",{doc},grp{uid % 3}",
                    "event_ts": ts,
                    "event_date": ts[:10],
                    "dedup_key": str(key),
                },
                separators=(",", ":"),
            )
        )
    return lines


def gen_lake_batch(seed: int, out: str) -> dict:
    """events.parquet (30 days, Zipf users/documents), clicklog/ (its
    JSON-lines wire form) and late/<day>.parquet (late arrivals per backfill
    day)."""
    p = PROPS["lake_batch"]
    rng = _rng("lake_batch", seed)
    n = p["events"]
    day = rng.integers(0, p["days"], n)
    ts_us = (_EPOCH_2024_01_01_S * 1_000_000 + day * _DAY_US) + _diurnal_offsets_us(rng, n)
    order = np.argsort(ts_us, kind="stable")
    ts_us = ts_us[order]
    users = _zipf_choice(rng, p["users"], p["user_zipf_s"], n)
    docs = _zipf_choice(rng, p["documents"], p["document_zipf_s"], n)
    tb = _events_table(np.arange(n), ts_us, users, docs, rng)
    _write(tb, f"{out}/events.parquet")
    os.makedirs(f"{out}/clicklog", exist_ok=True)
    with open(f"{out}/clicklog/part-00000.json", "w") as f:
        f.write("\n".join(_click_log_lines(tb)) + "\n")

    late_days = sorted(rng.choice(np.arange(2, p["days"] - 1), p["backfill_days"], replace=False))
    next_id = n
    dates = []
    for d in late_days:
        m = max(1, int(round(p["late_share_of_day"] * n / p["days"])))
        late_ts = _EPOCH_2024_01_01_S * 1_000_000 + int(d) * _DAY_US + np.sort(_diurnal_offsets_us(rng, m))
        # late arrivals are mostly new sessions, so every mart's day changes
        late_users = p["users"] + _zipf_choice(rng, p["users"], p["user_zipf_s"], m)
        late = _events_table(
            np.arange(next_id, next_id + m), late_ts, late_users,
            _zipf_choice(rng, p["documents"], p["document_zipf_s"], m), rng,
        )
        next_id += m
        date = str(np.datetime64(int(late_ts[0]), "us").astype("datetime64[D]"))
        dates.append(date)
        _write(late, f"{out}/late/{date}.parquet")
    return {"events": n, "late_days": dates}


def _hot_rows(rng, n: int, start_s: int, span_s: int, first_id: int, p: dict) -> pa.Table:
    ts_us = start_s * 1_000_000 + np.sort(rng.integers(0, span_s * 1_000_000, n))
    users = _zipf_choice(rng, p["users"], p["user_zipf_s"], n)
    docs = _zipf_choice(rng, p["documents"], 1.2, n)
    return _events_table(np.arange(first_id, first_id + n), ts_us, users, docs, rng)


def _redeliver(rng, files: list[pa.Table], p: dict) -> list[pa.Table]:
    """Move ~late_share of each file's rows from its last `late_within_s`
    seconds into the next file (out of order, inside the watermark), then
    re-deliver ~duplicate_share of all rows as exact copies in the same or
    the next file."""
    files = list(files)
    for i in range(len(files) - 1):
        tb = files[i]
        ts = tb.column("ts").cast(pa.int64()).to_numpy()
        tail = np.flatnonzero(ts >= ts.max() - p["late_within_s"] * 1_000_000)
        k = min(len(tail), int(round(p["late_share"] * tb.num_rows)))
        moved = np.sort(rng.choice(tail, k, replace=False))
        keep = np.setdiff1d(np.arange(tb.num_rows), moved)
        files[i] = tb.take(keep)
        files[i + 1] = pa.concat_tables([tb.take(moved), files[i + 1]])
    out = []
    for i, tb in enumerate(files):
        k = int(round(p["duplicate_share"] * tb.num_rows))
        parts = [tb]
        if i + 1 < len(files) and rng.random() < 0.5:
            # re-delivered with the next file: copies of rows recent enough
            # to still be inside the watermark when they arrive again (the
            # rest of the share, if too few are that recent, in this file)
            ts = tb.column("ts").cast(pa.int64()).to_numpy()
            pool = np.flatnonzero(ts >= ts.max() - p["late_within_s"] * 1_000_000)
            n_next = min(k, len(pool))
            files[i + 1] = pa.concat_tables([files[i + 1], tb.take(np.sort(rng.choice(pool, n_next, replace=False)))])
            k -= n_next
        if k:
            parts.append(tb.take(np.sort(rng.choice(tb.num_rows, k, replace=False))))
        out.append(pa.concat_tables(parts))
    return out


def gen_hot_stream(seed: int, out: str) -> dict:
    """backlog/part-*.parquet: the drain phase's raw event files, time-ordered
    slices over `backlog_days`, carrying re-delivered duplicates and
    out-of-order rows inside the watermark. (The paced phase re-feeds the
    drain's own silver files, one per day.)"""
    p = PROPS["hot_stream"]
    rng = _rng("hot_stream", seed)
    nf, n = p["backlog_files"], p["backlog_events"]
    span = p["backlog_days"] * 86_400 // nf
    files = [
        _hot_rows(rng, n // nf, HOT_FIRST_DAY_S + i * span, span, i * (n // nf), p)
        for i in range(nf)
    ]
    files = _redeliver(rng, files, p)
    for i, tb in enumerate(files):
        _write(tb, f"{out}/backlog/part-{i:05d}.parquet")
    return {"backlog_rows": sum(t.num_rows for t in files), "backlog_keys": nf * (n // nf)}


_STOP = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
_LANG_STOP = {
    "en": _STOP,
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "de": ["der", "die", "und", "das", "den", "von", "zu", "mit", "ist", "im"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "du", "une", "est"],
    "zh": ["的", "了", "在", "是", "和", "有", "我", "他", "这", "中"],
}


def _vocab(rng, lang: str, n: int = 600) -> list[str]:
    if lang == "zh":
        cps = rng.integers(0x4E00, 0x9FA5, size=(n, 3))
        return ["".join(chr(c) for c in row[: 2 + (i % 2)]) for i, row in enumerate(cps)]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    return [lang[0] + "".join(rng.choice(letters, k)) for k in lens]


def gen_curation(seed: int, out: str) -> dict:
    """documents.parquet: a standing corpus (doc_id < corpus_docs) plus an
    incoming increment, ~planted_dup_share of which are exact or near copies
    of corpus documents; increment/part-*.parquet: the increment split into
    the admission stream's source files."""
    p = PROPS["curation"]
    rng = _rng("curation", seed)
    langs = list(p["langs"])
    vocab = {lg: _vocab(rng, lg) for lg in langs}
    zipf = 1.0 / np.arange(1, 601) ** 1.05
    zipf /= zipf.sum()

    def doc_text(lang: str) -> str:
        n = int(np.clip(rng.lognormal(np.log(p["words_lognormal_median"]), p["words_lognormal_sigma"]), 3, 600))
        words = [vocab[lang][i] for i in rng.choice(600, n, p=zipf)]
        stops = _LANG_STOP[lang]
        for j in np.flatnonzero(rng.random(n) < 0.2):
            words[j] = stops[rng.integers(len(stops))]
        return " ".join(words)

    nc, ni = p["corpus_docs"], p["increment_docs"]
    lang_of = rng.choice(langs, nc + ni, p=list(p["langs"].values()))
    texts = [doc_text(lang_of[i]) for i in range(nc + ni)]
    n_planted = int(round(p["planted_dup_share"] * ni))
    n_exact = int(round(p["planted_exact_share"] * n_planted))
    slots = np.sort(rng.choice(ni, n_planted, replace=False))
    long_corpus = [i for i in range(nc) if len(texts[i].split()) >= 30]
    sources = rng.choice(long_corpus, n_planted, replace=False)
    exact_ids = []
    for j, (slot, src) in enumerate(zip(slots, sources)):
        did = nc + int(slot)
        lang_of[did] = lang_of[src]
        words = texts[src].split()
        if j < n_exact:
            exact_ids.append(did)
        else:
            for w in np.flatnonzero(rng.random(len(words)) < p["near_dup_word_swap"]):
                words[w] = vocab[lang_of[src]][rng.integers(600)]
        texts[did] = " ".join(words)
    tb = pa.table(
        {
            "doc_id": pa.array(np.arange(nc + ni), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_of.tolist(), pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 5, nc + ni)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(tb, f"{out}/documents.parquet")
    inc = tb.slice(nc)
    bounds = np.linspace(0, ni, p["increment_files"] + 1).astype(int)
    for i in range(p["increment_files"]):
        _write(inc.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{out}/increment/part-{i:05d}.parquet")
    with open(f"{out}/planted.json", "w") as f:
        json.dump({"exact": exact_ids, "near": [nc + int(s) for s in slots[n_exact:]]}, f)
    return {"corpus_docs": nc, "increment_docs": ni, "planted_exact": len(exact_ids), "planted_near": n_planted - n_exact}


def gen_ann_serve(seed: int, out: str) -> dict:
    """embeddings.parquet: Gaussian-mixture vectors (label = cluster);
    queries.parquet: the request stream's query vectors, drawn from the same
    mixture, ids from QUERY_ID_BASE; requests.json: each request's query ids
    and kind (probe or rerank)."""
    p = PROPS["ann_serve"]
    rng = _rng("ann_serve", seed)
    dim, c = p["dim"], p["clusters"]
    centers = rng.normal(size=(c, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n):
        lab = rng.integers(0, c, n)
        v = centers[lab] + p["cluster_noise"] * rng.normal(size=(n, dim)) / np.sqrt(dim)
        return v.astype(np.float32), lab

    vec, lab = draw(p["vectors"])
    emb_type = pa.list_(pa.float32())
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(p["vectors"]), pa.int64()),
                "embedding": pa.array(list(vec), emb_type),
                "label": pa.array(lab, pa.int32()),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    nq = p["requests"] * p["queries_per_request"]
    qv, ql = draw(nq)
    qids = QUERY_ID_BASE + np.arange(nq)
    _write(
        pa.table(
            {
                "vec_id": pa.array(qids, pa.int64()),
                "embedding": pa.array(list(qv), emb_type),
                "label": pa.array(ql, pa.int32()),
            }
        ),
        f"{out}/queries.parquet",
    )
    # a fixed interleave (every 1/rerank_share-th request reranks), so the
    # first n requests have the same mix whatever the seed
    every = round(1 / p["rerank_share"])
    kinds = ["rerank" if r % every == every - 1 else "probe" for r in range(p["requests"])]
    q = p["queries_per_request"]
    requests = [
        {"kind": str(kinds[r]), "query_ids": qids[r * q:(r + 1) * q].tolist()}
        for r in range(p["requests"])
    ]
    with open(f"{out}/requests.json", "w") as f:
        json.dump(requests, f)
    return {"vectors": p["vectors"], "queries": nq, "requests": len(requests)}


GENERATORS = {
    "lake_batch": gen_lake_batch,
    "hot_stream": gen_hot_stream,
    "curation": gen_curation,
    "ann_serve": gen_ann_serve,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write `workload`'s inputs for `seed` under `out`; returns a summary."""
    os.makedirs(out, exist_ok=True)
    return GENERATORS[workload](seed, out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))


if __name__ == "__main__":
    main()
