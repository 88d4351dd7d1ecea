"""The input generator is a pure function of (workload, seed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_differs(workload, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a)
    gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    da, db, dc = _digest(a), _digest(b), _digest(c)
    assert da and da == db
    # every data file changes with the seed (ann_serve's request plan, ids
    # and kinds only, is the same for every seed by design)
    data = [k for k in da if k.endswith(".parquet")]
    assert data and all(dc.get(k) != da[k] for k in data)


def test_hot_stream_traffic_properties(tmp_path):
    """Duplicates are present at about the configured share, and every row
    arrives inside the watermark of the event times seen before it."""
    import numpy as np
    import pyarrow.parquet as pq

    p = gen.PROPS["hot_stream"]
    info = gen.generate("hot_stream", 3, str(tmp_path))
    files = sorted((tmp_path / "backlog").iterdir())
    tables = [pq.read_table(f) for f in files]
    ids = np.concatenate([t.column("event_id").to_numpy() for t in tables])
    assert len(np.unique(ids)) == info["backlog_keys"]
    dup_share = 1 - info["backlog_keys"] / len(ids)
    assert abs(dup_share - p["duplicate_share"]) < 0.02
    horizon_us = 600 * 1_000_000  # the 10-minute watermark
    seen_max = None
    for t in tables:
        ts = t.column("ts").cast("int64").to_numpy()
        if seen_max is not None:
            assert ts.min() > seen_max - horizon_us
        seen_max = ts.max() if seen_max is None else max(seen_max, ts.max())
