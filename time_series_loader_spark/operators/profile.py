"""One-pass table profiling: per-column statistics for data-quality
triage (the Deequ/"analyze before you train" step).

Beyond-reference capability: before a 100 TB corpus is filtered or
joined, a pipeline needs per-column counts, null fractions, distinct
cardinalities, ranges, and moments — and it must get ALL of them in ONE
scan, not one scan per column per metric. Everything here is a single
``agg`` (every statistic is an aggregate expression computed in the same
map-side-partial pass; the result is ONE row) followed by a driver-free
explode into one output row per column.

Determinism: means are exact (``functions/exact.py``); ``approx=True``
uses ``approx_count_distinct`` (HyperLogLog++ — mergeable sketch whose
result is a pure function of the value SET, so it is reproducible too,
just not exact).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.functions.exact import exact_mean, present_typed

# one source of truth for "numeric dtype" across the engine — resample
# and the profiler must agree on which columns get means
from time_series_loader_spark.operators.resample import _is_numeric


def profile_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    approx: bool = True,
    rsd: float = 0.05,
    numeric_stats: bool = True,
) -> DataFrame:
    """Per-column profile in ONE aggregation pass (approx mode).

    Output (one row per profiled column):
    ``column, dtype, n_rows, n_nonnull, null_frac, n_distinct,
    min_str, max_str, mean, stddev``
    — min/max as strings so every type shares a schema; mean/stddev only
    for numeric columns (null otherwise). ``approx=False`` swaps the HLL
    sketch for exact ``count_distinct`` (one extra shuffle per column —
    use only at test scale or for the oracle).

    Complex-typed columns (arrays/structs/maps/binary) profile counts
    and distincts; min/max are null (no total order worth reporting).

    ``numeric_stats=False`` skips the mean/stddev aggregates (those two
    output fields become NULL) — callers that drop them should say so:
    Catalyst cannot prune aggregate functions through the
    explode(array(struct(...))) output shape, so an unused
    exact mean + stddev_samp otherwise rides every input row
    (r14 measurement: 2.86 → 1.55 s on the sf0.1 gate profile from this
    alone).

    Exact mode runs as TWO aggregation jobs crossJoined (r14): the
    count_distinct set in its own aggregate — all-primitive buffers, so
    Spark keeps HashAggregate over the Expand — and the min/max/count
    facets (string buffers) in a separate Expand-free SortAggregate.
    One fused aggregate forced the 5-way-Expanded row set through a
    full 5-key Sort + SortAggregate chain (string buffers disable hash
    aggregation); the split measured 2.86 → 0.84 s at sf0.1 with
    identical values. Approx mode keeps the documented one-pass shape
    (HLL buffers are object-hash-aggregable and the 100 TB path never
    pays the Expand×distinct sort).
    """
    if cols is None:
        cols = [c for c, _ in df.dtypes]
    dtypes = dict(df.dtypes)
    unknown = [c for c in cols if c not in dtypes]
    if unknown:
        raise ValueError(f"columns not in DataFrame: {unknown}")

    def _numeric(c: str) -> bool:
        return _is_numeric(dtypes[c])

    def _orderable(c: str) -> bool:
        base = dtypes[c].split("(")[0]
        return not base.startswith(("array", "struct", "map", "binary"))

    aggs: list[Column] = [F.count(F.lit(1)).alias("_n_rows")]
    nd_aggs: list[Column] = []
    for c in cols:
        col = present_typed(F.col(c), dtypes[c])  # NaN is missing, like null
        aggs.append(F.count(col).alias(f"_nn_{c}"))
        # complex types get a canonical-JSON digest as their distinct key;
        # gate on isNotNull so a null value doesn't serialize to a
        # counted '{"c":null}' row (scalar count_distinct skips nulls)
        distinct_src = (
            col
            if _orderable(c)
            else F.when(col.isNotNull(), F.md5(F.to_json(F.struct(col))))
        )
        nd_aggs.append(
            (
                F.approx_count_distinct(distinct_src, rsd)
                if approx
                else F.count_distinct(distinct_src)
            ).alias(f"_nd_{c}")
        )
        if _orderable(c):
            aggs.append(F.min(col).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(col).cast("string").alias(f"_max_{c}"))
        if numeric_stats and _numeric(c):
            aggs.append(exact_mean(col).alias(f"_mean_{c}"))
            aggs.append(F.stddev_samp(col).alias(f"_std_{c}"))

    if approx:
        one = df.agg(*aggs, *nd_aggs)
    else:
        # exact mode: distincts split into their own hash-aggregable job
        # (docstring, 'Exact mode') — identical values, no Expand sort
        one = df.agg(*nd_aggs).crossJoin(df.agg(*aggs))

    def _stat(c: str) -> Column:
        n_rows = F.col("_n_rows")
        nn = F.col(f"_nn_{c}")
        return F.struct(
            F.lit(c).alias("column"),
            F.lit(dtypes[c]).alias("dtype"),
            n_rows.alias("n_rows"),
            nn.alias("n_nonnull"),
            F.when(n_rows > 0, (n_rows - nn).cast("double") / n_rows)
            .otherwise(F.lit(None).cast("double"))
            .alias("null_frac"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            (F.col(f"_min_{c}") if _orderable(c) else F.lit(None).cast("string")).alias(
                "min_str"
            ),
            (F.col(f"_max_{c}") if _orderable(c) else F.lit(None).cast("string")).alias(
                "max_str"
            ),
            (
                F.col(f"_mean_{c}")
                if numeric_stats and _numeric(c)
                else F.lit(None).cast("double")
            ).alias("mean"),
            (
                F.col(f"_std_{c}")
                if numeric_stats and _numeric(c)
                else F.lit(None).cast("double")
            ).alias("stddev"),
        )

    return one.select(F.explode(F.array(*[_stat(c) for c in cols])).alias("s")).select(
        "s.*"
    )
