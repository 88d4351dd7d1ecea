"""Multi-dimensional data layout: Z-order (Morton) interleaving for
data-skipping file pruning.

The reference lake writes day-partitioned parquet
(streaming_to_curated_stream.py partitions by event date) — one physical
dimension. At 100 TB, queries that filter on a SECOND dimension (user,
session, document) scan every file of every matching day because the
row-group min/max stats of that column span its whole domain in every file.
Z-ordering the layout (interleaving the bits of the clustering keys and
range-partitioning + sorting on the interleaved value — the Delta/Iceberg
OPTIMIZE ZORDER technique, after Morton 1966) makes the per-file min/max of
*both* columns tight, so a 2-D box predicate prunes files multiplicatively
instead of along one axis only.

Raw interleaving is NOT enough: whichever dimension has more varying high
bits captures the top interleaved bits and the z-order degenerates to a
single-column sort (measured on the fixture: users span 8 bits, days 5,
and the raw-interleave layout pruned users 8x but days 0x). So each
dimension is first min/max-normalized onto the SAME `bits`-wide bucket
lattice — ``(v - min) * 2^bits div (max - min + 1)`` — which is exactly the
per-column range-bucketing Delta's ZORDER applies before interleaving. The
bounds ride a broadcast 1-row aggregate (the q_time_remap pattern); the
bucketing, interleave, range partition, and in-file sort are all engine-side
integer arithmetic — no UDFs, no driver collect.

The writer costs ONE range exchange (Spark's range sampler balances file
sizes) and amortizes across every subsequent scan — write once, prune
forever. tests/test_layout.py proves the prune from real parquet footer
stats: the same 2-D box query intersects a fraction of the z-ordered files'
(min,max) envelopes on BOTH axes, vs all files on the second axis under the
natural time-ordered layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_search_data_pipeline_spark.functions import timeops
from clinical_search_data_pipeline_spark.registry import register
from clinical_search_data_pipeline_spark.session import run_concurrently
from clinical_search_data_pipeline_spark.sources.readers import load_events, read_table

ZORDER_BITS = 8  # per-dimension bucket lattice width; z fits in 2*bits


def _interleave_terms(x: str, y: str, bits: int, intdiv: str) -> str:
    """Morton interleave as pure div/mod arithmetic, shared between engines
    up to the integer-division operator spelling (`div` Spark, `//` DuckDB).

    bit i of x lands at z bit 2i, bit i of y at z bit 2i+1; inputs must
    already lie in [0, 2^bits).
    """
    terms = []
    for i in range(bits):
        terms.append(f"((({x}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _bucket(v: str, lo: str, hi: str, bits: int, intdiv: str) -> str:
    """Min/max-normalize `v` onto [0, 2^bits): every dimension gets the same
    bit budget regardless of its natural domain width, so no dimension can
    capture all the high interleaved bits. Exact integer arithmetic; safe
    for any input whose range * 2^bits fits a long (use day/second indexes
    for time, never epoch-ns... which would still fit, but leave headroom)."""
    return f"((({v}) - ({lo})) * {1 << bits}) {intdiv} (({hi}) - ({lo}) + 1)"


def zorder_key(x: str, y: str, bits: int = ZORDER_BITS) -> Column:
    """Spark Column: Morton z-value of two expressions already in
    [0, 2^bits) — the raw interleave primitive (normalization is the
    caller's job; `zorder_with_key` does both)."""
    return F.expr(_interleave_terms(x, y, bits, "div"))


def duck_zorder_key(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """DuckDB SQL fragment computing the identical Morton z-value."""
    return _interleave_terms(x, y, bits, "//")


def zorder_with_key(
    df: DataFrame, x: str, y: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """`df` plus a `__z` column: the Morton key of min/max-normalized
    (x, y). The per-dimension bounds are a broadcast 1-row aggregate —
    the corpus is never reshuffled to learn its own extent."""
    bounds = df.agg(
        F.expr(f"min({x})").alias("__xlo"),
        F.expr(f"max({x})").alias("__xhi"),
        F.expr(f"min({y})").alias("__ylo"),
        F.expr(f"max({y})").alias("__yhi"),
    )
    xb = _bucket(x, "__xlo", "__xhi", bits, "div")
    yb = _bucket(y, "__ylo", "__yhi", bits, "div")
    return (
        df.crossJoin(F.broadcast(bounds))  # 1-row bounds — bounded NLJ
        .withColumn("__z", F.expr(_interleave_terms(xb, yb, bits, "div")))
        .drop("__xlo", "__xhi", "__ylo", "__yhi")
    )


def write_zorder(
    df: DataFrame,
    x: str,
    y: str,
    out_dir: str,
    n_files: int,
    bits: int = ZORDER_BITS,
) -> None:
    """Write `df` z-ordered on (x, y): ONE range exchange on the normalized
    interleaved key, rows sorted by z within each file so row-group stats
    are tight too, and the helper key dropped before the write — the layout
    is invisible to readers except through their scan times."""
    (
        zorder_with_key(df, x, y, bits)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


_DAY_SPARK = f"(ts div {timeops.NS_PER_SEC}) div {timeops.SECS_PER_DAY}"
_DAY_DUCK = f"({timeops.duck_epoch_sec('ts')} // {timeops.SECS_PER_DAY})"


def _duck_bucket(v: str, lo: str, hi: str, bits: int = ZORDER_BITS) -> str:
    return _bucket(v, lo, hi, bits, "//")


@register(
    "q_zorder_keys",
    oracle=f"""
WITH b AS (
  SELECT min({_DAY_DUCK}) AS xlo, max({_DAY_DUCK}) AS xhi,
         min(user_id) AS ylo, max(user_id) AS yhi
  FROM events
)
SELECT event_id,
       {_DAY_DUCK} AS day_idx,
       user_id,
       {duck_zorder_key(_duck_bucket(_DAY_DUCK, 'b.xlo', 'b.xhi'),
                        _duck_bucket('user_id', 'b.ylo', 'b.yhi'))} AS zval
FROM events CROSS JOIN b
""",
    tags=("layout", "northstar"),
)
def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized Morton key of (event day, user) per event — the exact
    layout key `write_zorder` clusters by, surfaced as a query so the
    bucketing + interleave arithmetic is driver-verified against DuckDB."""
    ev = load_events(spark, sf_dir)
    keyed = zorder_with_key(
        ev.select("event_id", "ts", "user_id"), _DAY_SPARK, "user_id"
    )
    return keyed.select(
        "event_id",
        F.expr(_DAY_SPARK).alias("day_idx"),
        "user_id",
        F.col("__z").alias("zval"),
    )


# ---------------------------------------------------------------------------
# Bucketed tables: co-located joins with ZERO exchanges
# (write path: sources/bucketed.py — the OTHER write-once layout
# investment next to write_zorder: z-order buys multiplicative file
# PRUNING for box predicates, bucketing buys exchange-free JOINS)
# ---------------------------------------------------------------------------

_BUCKETED_REVENUE_ORACLE = """
SELECT o.o_orderstatus AS orderstatus,
       count(*) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""


@register(
    "q_bucketed_join",
    oracle=_BUCKETED_REVENUE_ORACLE,
    tags=("layout", "sql", "northstar"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order status computed over orders and lineitem AFTER
    both are persisted as co-bucketed tables on orderkey and joined
    exchange-free — the write is part of the query (idempotent overwrite
    under /tmp; table names keyed by sf_dir so scale factors never
    collide), and the values must equal the plain-parquet oracle: the
    layout is invisible to readers except through the planner.
    tests/test_bucketed.py pins the zero-exchange join plan itself."""
    import hashlib

    from clinical_search_data_pipeline_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    orders = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderstatus")
    )
    items = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    # The two bucketed writes are independent jobs to distinct tables;
    # overlapping them lets the lineitem write's tasks back-fill the orders
    # write's straggler tail (guide §2.6).
    t_o, t_l = run_concurrently(
        spark,
        lambda: write_bucketed(
            orders, f"csdp_bkt_orders_{suffix}", "orderkey",
            path_root="/tmp/csdp_bucketed",
        ),
        lambda: write_bucketed(
            items, f"csdp_bkt_lineitem_{suffix}", "orderkey",
            path_root="/tmp/csdp_bucketed",
        ),
    )
    return (
        read_bucketed(spark, t_l)
        .join(read_bucketed(spark, t_o), "orderkey")
        .groupBy(F.col("o_orderstatus").alias("orderstatus"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )
