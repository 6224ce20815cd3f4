"""Per-key top-k: DESIGN RECORD (round 11, verdict item 6) — the
row_number window form IS the optimal Spark plan; the hand-built
hash-aggregate variant measured SLOWER. Recorded so it is not retried.

The hypothesis: `row_number().over(partitionBy(key).orderBy(...)) <= k`
sorts the full input to keep k rows per key — O(n log n) wasted work
that a per-key top-k aggregate (ObjectHashAggregate over
`slice(sort_array(collect_list(struct(...))), 1, k)`) should beat.

Both halves of the hypothesis are FALSE on Spark 4:

1. **Catalyst already pre-prunes map-side.** The physical plan for
   `filter(rn <= k)` over a row_number window inserts
   `WindowGroupLimit(..., Partial)` BEFORE the exchange and a `Final`
   one after (SPARK-37099): each mapper sorts its own split and forwards
   at most k rows per key into the shuffle. The "pre-prune via
   per-partition partial top-k" optimization is automatic.
   tests/test_topk.py pins this plan shape so a Spark upgrade that
   loses it trips loudly.
2. **The aggregate form cannot prune map-side.** `collect_list`'s
   partial stage accumulates FULL lists (there is no built-in partial
   top-k aggregate), so the exchange carries every row wrapped in list
   buffers — more bytes than the window form's pruned stream — and
   then pays a per-key `sort_array`. Measured on the 30 M-row / 7.5 M-key
   replica corpus (tools/topk_ab.py, counterbalanced W A A W A W,
   best-of-3 each): window 35.4 s vs agg 39.7 s on 3-split input,
   window 2.99 s vs agg 4.41 s on 32-split input — the agg form loses
   12-47% in both regimes.

The real round-11 window_topk win was elsewhere: the stress harness fed
the replicated corpus from the sf0.1 parquet's single row group, so the
map-side sort + partial WindowGroupLimit ran on THREE input splits
regardless of cores. Spreading the base before replication (the same
correction the vector corpus already carried) took the shape from
0.89 to ~4.7-10 Mrows/s — 5-11x — with zero operator changes
(tools/stress_scale.py li_n comment; STRESS.json floors raised).

`topk_per_key` stays as a tested, output-identical reference
implementation (it is the right shape on engines WITHOUT window group
limits, and its identity test doubles as a correctness oracle for the
window form under total orders); production code should use the window
form, i.e. `topk_per_key_window`.

`exact_rank` is the other ranking shape: an exact rank or running sum
over a whole group with NO window the size of that group — a
bucket-histogram prefix offset plus a row number within each bucket.
Every exact global numbering in the engine (shard assignment, batch
numbering, quantile bands, per-source budgets) goes through it;
`ntile`/`ntile_start` turn its rank into tiles and back.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    order: list[tuple[str, bool]],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top ``k`` rows per ``keys`` group under ``order`` ((column,
    descending) pairs — must form a total order within a key), emitting
    every original column plus ``rank_col`` (1-based, exactly what
    ``row_number`` would assign), via one ObjectHashAggregate. SLOWER
    than ``topk_per_key_window`` on Spark 4 (see module docstring) —
    kept as the measured-negative reference, not a serving path."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    payload_cols = [c for c in df.columns if c not in set(keys)]

    # sort_array orders structs lexicographically ASCENDING by field
    # position; descending keys are encoded by negation so ascending
    # struct order realizes the caller's order. Types that can't be
    # negated (strings) would need a different encoding — the window
    # form handles those; this reference implementation stays narrow.
    # NULL / NaN parity with the window form (round-11 review): F.desc
    # is NULLS LAST, but a negated NULL is NULL and struct-asc sorts
    # nulls FIRST — so every desc key carries a leading is-null flag and
    # a coalesced value. NaN is the LARGEST double under Spark ordering
    # (first under desc), but -NaN is still NaN (last ascending) — so
    # float/double desc keys carry a second not-NaN flag (0 for NaN,
    # 1 otherwise) rather than folding NaN into -Infinity, which would
    # collide with genuine +Infinity data (whose negation is also
    # -Infinity) and leave NaN-vs-+inf order to the tiebreak
    # (round-12 review). Ascending keys match natively (nulls first,
    # NaN last — same as F.asc).
    def _sort_key(col: str, desc: bool) -> list[Column]:
        c = df.schema[col].dataType.typeName()
        if not desc:
            return [F.col(col).alias(f"__o_{col}")]
        nulls_last = F.col(col).isNull().cast("int").alias(f"__n_{col}")
        if c in ("float", "double"):
            # isnan(NULL) is NULL → otherwise() → 1; harmless, the
            # leading null flag already orders null rows last
            not_nan = (
                F.when(F.isnan(F.col(col)), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"__m_{col}")
            val = F.when(F.isnan(F.col(col)), F.lit(0.0)).otherwise(
                -F.col(col)
            )
            return [
                nulls_last,
                not_nan,
                F.coalesce(val, F.lit(0.0)).alias(f"__o_{col}"),
            ]
        if c in ("byte", "short", "integer", "long", "decimal"):
            return [
                nulls_last,
                F.coalesce(-F.col(col), F.lit(0)).alias(f"__o_{col}"),
            ]
        if c in ("timestamp", "timestamp_ntz"):
            # negate epoch seconds (ntz must route through timestamp —
            # a direct double cast is a type error); ties are broken by
            # the caller's unique tiebreak exactly as in the window form
            val = -F.col(col).cast("timestamp").cast("double")
            return [nulls_last, F.coalesce(val, F.lit(0.0)).alias(f"__o_{col}")]
        if c == "date":
            val = -F.datediff(F.col(col), F.lit("1970-01-01"))
            return [nulls_last, F.coalesce(val, F.lit(0)).alias(f"__o_{col}")]
        raise TypeError(
            f"descending top-k on non-negatable type {c} ({col}) — "
            "use topk_per_key_window"
        )

    entry = F.struct(
        *[k for c, d in order for k in _sort_key(c, d)],
        F.struct(*[F.col(c) for c in payload_cols]).alias("__payload"),
    )
    top = (
        df.groupBy(*keys)
        .agg(F.slice(F.sort_array(F.collect_list(entry)), 1, k).alias("__top"))
        .select(*keys, F.posexplode("__top").alias("__pos", "__entry"))
        .select(
            *keys,
            (F.col("__pos") + 1).alias(rank_col),
            F.col("__entry.__payload.*"),
        )
    )
    # restore the caller's column order (keys may interleave in df)
    return top.select(*df.columns, rank_col)


def topk_per_key_window(
    df: DataFrame,
    keys: list[str],
    order: list[tuple[str, bool]],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """The production per-key top-k: row_number window + filter. Spark 4
    plans this with map-side WindowGroupLimit pruning (at most k rows
    per key per mapper enter the shuffle) — see module docstring."""
    from pyspark.sql.window import Window

    cols = [F.desc(c) if d else F.asc(c) for c, d in order]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def exact_rank(
    df: DataFrame,
    out: str,
    order: list[Column],
    bucket: str,
    by: Sequence[str] = (),
    value: str | None = None,
) -> DataFrame:
    """Exact 1-based rank (or, with ``value``, the running sum of that
    column, current row included) over a total order within optional
    ``by`` groups, with no window that holds a whole group in one task.

    ``bucket`` names a non-null column that is MONOTONE in the order
    (ascending: every row of a smaller bucket precedes every row of a
    larger one); ``order`` totally orders the rows inside one
    ``(by, bucket)`` group. Then

        rank(row) = offset(by, bucket) + row_number within (by, bucket)

    where the offsets are prefix sums over a ``(by, bucket)`` histogram
    (metadata-sized: #groups × #buckets rows), taken by the one window
    over that histogram and broadcast back. Every data-sized window task
    is bounded by its bucket, not by its group — the partition-local
    ranking merged through small summaries that REPOSE (ICDE 2021)
    describes. Adds ``out`` to ``df``'s columns."""
    from pyspark.sql.window import Window

    keys = [*by, bucket]
    w_local = Window.partitionBy(*keys).orderBy(*order)
    if value is None:
        local = F.row_number().over(w_local)
        tally = F.count(F.lit(1))
    else:
        local = F.sum(value).over(
            w_local.rowsBetween(Window.unboundedPreceding, 0)
        )
        tally = F.sum(value)
    w_off = (
        Window.partitionBy(*by)
        .orderBy(bucket)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        df.groupBy(*keys)
        .agg(tally.alias("_bucket_cnt"))
        .select(
            *keys,
            F.coalesce(F.sum("_bucket_cnt").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        df.withColumn("_local", local)
        .join(F.broadcast(offsets), keys)
        .withColumn(out, F.col("_off") + F.col("_local"))
        .drop("_off", "_local")
    )


def range_buckets(
    df: DataFrame, key: str, out: str, by: Sequence[str] = ()
) -> DataFrame:
    """Adds ``out``: ``key``'s position in its ``by`` group's exact
    [min, max] range cut into defaultParallelism equal-width buckets — a
    bucket column for ``exact_rank`` over a numeric key. The bounds are
    exact aggregates, not samples, so every job that re-evaluates the
    frame cuts identically. Double arithmetic, dividing before
    multiplying: ``(key − lo) · n`` overflows int64 for sparse long keys,
    while each double step is monotone, so the buckets stay monotone in
    ``key``."""
    n = df.sparkSession.sparkContext.defaultParallelism
    bounds = df.groupBy(*by).agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
    joined = (
        df.join(F.broadcast(bounds), list(by))
        if by
        else df.crossJoin(F.broadcast(bounds))
    )

    def dbl(c: str) -> Column:
        return F.col(c).cast("double")

    return joined.withColumn(
        out,
        F.floor((dbl(key) - dbl("_lo")) / (dbl("_hi") - dbl("_lo") + 1) * n).cast(
            "int"
        ),
    ).drop("_lo", "_hi")


def ntile(rank: Column, n: Column, k: int) -> Column:
    """``ntile(k)`` of the row at 1-based ``rank`` among ``n`` rows, as
    column math: the first n % k tiles hold ⌈n/k⌉ rows, the rest ⌊n/k⌋."""
    q, rem = (n / F.lit(k)).cast("long"), n % F.lit(k)
    big = rem * (q + 1)  # rows covered by the oversized tiles
    return F.when(rank <= big, ((rank - 1) / (q + 1)).cast("long")).otherwise(
        # unreachable when q = 0 (then big = n); the guard keeps ANSI's
        # eager cast away from a division by zero
        rem + ((rank - 1 - big) / F.greatest(q, F.lit(1))).cast("long")
    ) + 1


def ntile_start(tile: Column, n: Column, k: int) -> Column:
    """Rows before ``tile`` under ``ntile(k)`` over ``n`` rows — the
    inverse of ``ntile``: a row's position in its tile is
    ``rank − ntile_start(tile)``."""
    q, rem = (n / F.lit(k)).cast("long"), n % F.lit(k)
    return (tile - 1) * q + F.least(tile - 1, rem)


def w2_topk_agg_twin(spark, sf_dir: str):
    """Catalog face of the design record: W2 (latest 3 events per user)
    computed through the AGG-form ``topk_per_key`` instead of the
    window — row-identical to ``w2_recent_events_per_entity`` by
    construction, and oracle-checked against the SAME row_number SQL,
    so the driver independently re-proves the two plans' equivalence
    every round. Production serving stays on the window form (faster —
    see module docstring); this entry exists so the negative result is
    externally verified, not just unit-tested."""
    from ..sources import load_table

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = topk_per_key(
        events, ["user_id"], [("ts", True), ("event_id", True)], 3
    )
    return out.select("user_id", "event_id", "event_type", "rn")


QUERIES = {"w2_topk_agg_twin": w2_topk_agg_twin}

ORACLES = {
    # identical to w2_recent_events_per_entity's oracle: the agg form
    # must reproduce the row_number semantics exactly
    "w2_topk_agg_twin": """
        WITH ranked AS (
            SELECT user_id, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id, event_id, event_type, rn FROM ranked WHERE rn <= 3
    """,
}
