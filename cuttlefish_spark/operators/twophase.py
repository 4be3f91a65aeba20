"""Two-phase distributed rank / prefix sum — the sanctioned
replacement for `row_number()/rank()/SUM() OVER (PARTITION BY
<low-card key> ORDER BY ...)`.

A window partitioned only by a ~5-value key (lang, source, event_type,
label) funnels each group's ENTIRE corpus through one task's sort at
scale — the anti-pattern `tests/test_plans.py::
test_no_low_card_ordered_windows` exists to catch. The distributed
shape, used by ccnet_perplexity_buckets / adaptive_length_cutoff /
sequence_packing / pretrain_data_e2e and factored here:

1. `repartitionByRange` on (key, *order) — every task owns a
   contiguous slice of ONE key's total order (a boundary partition can
   straddle keys; per-(pid, key) bookkeeping handles that).
2. Collect O(partitions x |keys|) slice aggregates to the driver, fold
   them in (pid, key) order into exclusive prefix offsets (counts for
   rank, value subtotals for prefix sum) — a few hundred rows, NOT
   data.
3. Broadcast the offset frame back; window ONLY within (pid, key) and
   add the offset — the exact global per-key rank / running sum.

The result is identical for ANY range-boundary placement because the
caller promises (key, *order) is a strict total order. One shuffle
feeds both jobs (slice aggregates, then the windowed pass) via
localCheckpoint.

Column contract: the helpers add `pid` plus their outputs (`rn`+`n`
for rank, `cum` for prefix sum) and join on an internal offset frame —
caller columns named `pid`, `off`, `n`, `rn`, or `cum` would be
clobbered or made ambiguous, so they are rejected loudly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_RESERVED = ("pid", "off", "n", "rn", "cum")


def _slices(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    order_cols: list[Column],
    agg: Column,
) -> tuple[DataFrame, list[tuple]]:
    """Shared phase 1: range-repartition on (key, *order), checkpoint,
    and collect the per-(pid, key) slice aggregate, sorted in global
    (pid, key) order. Rejects NULL keys and reserved caller columns."""
    clash = [c for c in _RESERVED if c in df.columns]
    if clash:
        raise ValueError(
            f"two-phase helpers reserve columns {list(_RESERVED)}; "
            f"rename caller columns {clash} first"
        )
    nparts = spark.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(nparts, F.col(key), *order_cols)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    raw = [
        (r["pid"], r[key], r["agg"])
        for r in part.groupBy("pid", key).agg(agg.alias("agg")).collect()
    ]
    # A NULL key would be silently dropped by the offset equi-join and
    # break the driver-side sort — fail loudly (an `assert` would be
    # compiled out under -O); callers coalesce to a sentinel if NULL
    # groups are meaningful.
    if any(k is None for _, k, _v in raw):
        raise ValueError(f"NULL {key} key in two-phase fold")
    return part, sorted(raw)


def two_phase_rank(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    order_cols: list[Column],
    key_type: str = "string",
) -> DataFrame:
    """Return `df` plus `rn` (1-based global rank of the row within its
    `key` group under `order_cols`) and `n` (the group's total count),
    both BIGINT, computed with no per-group single-task sort.

    `order_cols` must make (key, *order_cols) a strict total order
    (include a unique tiebreak column); `key` must be non-null."""
    part, slices = _slices(spark, df, key, order_cols, F.count(F.lit(1)))
    totals: dict = {}
    rows = []
    for pid, k, cnt in slices:  # pid ascending = rank order per key
        rows.append((pid, k, totals.get(k, 0)))
        totals[k] = totals.get(k, 0) + int(cnt or 0)
    off_df = spark.createDataFrame(
        [(p, k, o, totals[k]) for p, k, o in rows],
        f"pid int, {key} {key_type}, off bigint, n bigint",
    )
    w = Window.partitionBy("pid", key).orderBy(*order_cols)
    return (
        part.join(F.broadcast(off_df), ["pid", key])
        .withColumn("rn", (F.row_number().over(w) + F.col("off")).cast("long"))
        .drop("off")
    )


def two_phase_prefix_sum(
    spark: SparkSession,
    df: DataFrame,
    key: str,
    order_cols: list[Column],
    val_col: str,
) -> DataFrame:
    """Return `df` plus `cum` — the INCLUSIVE running sum of `val_col`
    within the string `key` group under `order_cols` (BIGINT; subtract
    the row's own value for the exclusive form) — with no per-group
    single-task sort. Same contract as two_phase_rank."""
    part, slices = _slices(spark, df, key, order_cols, F.sum(val_col))
    offsets: dict = {}
    rows = []
    for pid, k, sub in slices:  # pid ascending = value order per key
        rows.append((pid, k, offsets.get(k, 0)))
        offsets[k] = offsets.get(k, 0) + int(sub or 0)
    off_df = spark.createDataFrame(
        rows, f"pid int, {key} string, off bigint"
    )
    w = (
        Window.partitionBy("pid", key)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(off_df), ["pid", key])
        .withColumn("cum", (F.sum(val_col).over(w) + F.col("off")).cast("long"))
        .drop("off")
    )
