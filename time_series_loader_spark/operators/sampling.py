"""Deterministic sampling and shard packing for training-data pipelines.

Beyond-reference capability (BASELINE.json north star): the two ops every
100 TB corpus pipeline needs between "filter" and "write shards":

- **Stratified sampling** that is deterministic and engine-independent:
  keep/drop decided by an md5-derived bucket of the row key, NOT ``rand()``
  — re-running the pipeline (or running it on another engine) selects the
  SAME rows, so downstream shards are reproducible and the decision is a
  pure map-side filter with zero shuffle and no seed-state coordination
  across executors.

- **Token-budget shard packing**: assign documents (ordered by a
  deterministic key) to consecutive shards of ~``budget`` tokens. The
  naive form is a single-partition running sum over the whole corpus; here
  it is the distributed prefix-scan shape (same as functions/bucketing.py):
  range-bucket the key space, per-bucket token sums (tiny — one row per
  bucket) collected and prefix-summed on the driver, broadcast offsets,
  then a WITHIN-bucket window cumsum. No global-order exchange; the only
  single-point state is bucket_count rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from time_series_loader_spark.functions.exact import exact_count, exact_sum, present

# 16-bit bucket from the first 4 hex digits of md5(key) — arithmetic that
# both Spark and any SQL oracle reproduce exactly (no engine hash functions,
# which differ between Spark's xxhash64 and DuckDB's hash).
_HEX = "0123456789abcdef"
BUCKETS = 65536

# key types shard_pack can range-bucket arithmetically
_NUMERIC_KEY_TYPES = {
    "int", "bigint", "smallint", "tinyint", "float", "double", "decimal",
    "timestamp", "timestamp_ntz", "date",
}


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 65536) from md5 of the (salted) key."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    # conv(hex, 16, 10): first 4 hex digits → 0..65535 (the SQL oracle
    # rebuilds the same value with instr('0123..f', digit) arithmetic)
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Keep each row iff its hash bucket falls under its stratum's rate.

    ``rates``: {stratum value: keep fraction in [0,1]}; unlisted strata use
    ``default_rate``. Adds a ``sample_bucket`` column (the row's bucket) so
    the decision is auditable. Pure narrow filter — scales linearly,
    reproducible under any partitioning.
    """
    bucket = hash_bucket(key_col, salt)
    threshold = F.lit(int(round(default_rate * BUCKETS)))
    for value, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(round(rate * BUCKETS)))
        ).otherwise(threshold)
    return df.withColumn("sample_bucket", bucket).where(
        F.col("sample_bucket") < threshold
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep row i with
    probability p_i = min(1, ``fraction`` · w_i / mean(w)) — expected
    keep fraction ≈ ``fraction`` with selection pressure proportional to
    weight (the quality-weighted / length-weighted corpus sampling step:
    weight by quality score and high-quality docs survive
    preferentially, by token count and the TOKEN budget is met rather
    than the document count).

    Decision rule: ``hash_bucket(key, salt) < p_i · 65536`` — the same
    md5-bucket determinism as :func:`stratified_sample` (reproducible
    under repartition/retry/engine change; raising ``fraction`` only
    ADDs rows). The exact mean weight (``functions/exact.py``) broadcasts
    as a 1-row frame; the fact side stays a narrow filter. Null and NaN
    weights drop their row and leave the mean; weights clamp at 0.

    Note the p_i = 1 saturation point: rows with w_i ≥ mean/``fraction``
    are always kept, so the realized fraction can drift below target on
    heavy-tailed weights — the standard weighted-Bernoulli caveat.
    """
    # NaN weights read as null, which greatest() skips: they clamp to 0
    clamped = F.greatest(present(F.col(weight_col)), F.lit(0))
    # the mean MUST average the same CLAMPED weights the numerator uses:
    # a raw mean over negative-weight rows can go ≤ 0 and silently
    # invert (or zero-divide) every row's decision
    stats = df.agg(
        (
            exact_sum(clamped)
            # raw weights: null/NaN rows must not lower the mean; the floor
            # of 1 turns an all-null frame's ANSI divide-by-zero into mean 0,
            # which the p > 0 guard below makes an empty sample
            / F.greatest(exact_count(F.col(weight_col)), F.lit(1))
        ).alias("_mean_w")
    )
    p = F.when(
        F.col("_mean_w") > 0,
        F.least(F.lit(1.0), F.lit(fraction) * clamped / F.col("_mean_w")),
    ).otherwise(F.lit(0.0))  # all-weightless corpus → empty sample, not all rows
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("sample_bucket", hash_bucket(key_col, salt))
        .where(F.col("sample_bucket") < p * BUCKETS)
        .drop("_mean_w")
    )


def sample_exact_k(df: DataFrame, key_col: str, k: int, salt: str = "") -> DataFrame:
    """Deterministic uniform sample of exactly min(k, n) rows without
    replacement: rank every row by ``md5(key || salt)`` (ties broken by
    key) and take the first ``k`` — a fixed-size "reservoir" that needs
    no reservoir state, is identical on reruns and other engines, and
    re-samples consistently when rows are added (a new row displaces at
    most one old row). Changing ``salt`` draws an independent sample.

    Scale shape: ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps its own top-k and only
    k-row partials merge, no global sort exchange (guarded in
    test_sampling). Keep k driver-sized (it's a collect-shaped result).
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    # null keys are EXCLUDED: their md5 is null, which an ascending sort
    # would rank ahead of every real row — null-id rows would then own
    # sample slots unconditionally, which is neither uniform nor
    # salt-sensitive
    return (
        df.where(F.col(key_col).isNotNull())
        .withColumn("_sample_rank", h)
        .orderBy("_sample_rank", key_col)
        .limit(k)
        .drop("_sample_rank")
    )


def sample_exact_k_per_group(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str],
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic uniform sample of exactly min(k, n_g) rows from
    EACH group — the per-stratum form of :func:`sample_exact_k` (k docs
    per language/source/quality-bucket, the balanced-corpus builder's
    staple). Same md5 rank, same properties: rerun/engine-identical,
    salt draws an independent sample, a new row displaces at most one
    old row within its group; null sample keys are excluded for the
    same slot-squatting reason as the global form.

    Precondition (same latent caveat as the global form, ADVICE r6):
    ``key_col`` must be UNIQUE within each group — rows sharing a key
    value share the whole ``(md5, key)`` rank, so which physical row
    survives at the k boundary would be row_number's arbitrary pick,
    varying across runs/engines. With duplicate keys, pass a derived
    unique key (e.g. ``concat(key, '|', file, '|', offset)``) instead;
    determinism is the contract here, so the rank must totally order.

    Scale shape: one hash-partition window by ``group_cols`` with
    row_number over (md5, key) — map-side nothing to combine, but the
    shuffle carries only the surviving columns and each group's sort is
    local. Unlike the global form there is no TakeOrderedAndProject
    (that shape is single-result); for millions of groups this is one
    exchange, which is the floor for per-group ranking.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(*group_cols).orderBy("_sample_rank", key_col)
    return (
        df.where(F.col(key_col).isNotNull())
        .withColumn("_sample_rank", h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_sample_rank", "_rn")
    )


def shard_pack(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    budget: int,
    num_buckets: int = 256,
) -> DataFrame:
    """Pack rows (in ``key_col`` order) into shards of ~``budget`` weight.

    Returns the input plus ``cum_weight`` (running total INCLUSIVE of the
    row, in key order) and ``shard_id`` = floor((cum_weight - weight) /
    budget): a shard closes when its running total crosses the budget, and
    oversized single rows take a shard alone — the greedy rule a
    sequential packer applies.

    Distributed prefix-scan: range-bucket the key domain into
    ``num_buckets`` contiguous slices; aggregate per-bucket weight sums
    (bucket_count rows — the ONLY data collected); exclusive-prefix-sum
    them on the driver; broadcast the offsets back; window-cumsum WITHIN
    each bucket and add the bucket's offset. The window partitions by
    bucket, so no single-partition funnel exists at any width.

    ``key_col`` must be numeric or timestamp (the range bucketing is
    arithmetic on the key) — a string key would cast to all-null doubles
    and silently pack everything into one null shard, so it raises.
    """
    key_dtype = dict(df.dtypes)[key_col].split("(")[0]
    if key_dtype not in _NUMERIC_KEY_TYPES:
        raise ValueError(
            f"shard_pack key {key_col!r} has type {key_dtype!r}; need a numeric "
            "or timestamp key (range-bucketed arithmetically). Map string ids "
            "to a number first (e.g. monotonically increasing ingest id)."
        )
    kmin, kmax = df.agg(
        F.min(F.col(key_col).cast("double")), F.max(F.col(key_col).cast("double"))
    ).collect()[0]
    if kmin is None:
        return df.withColumn("cum_weight", F.lit(None).cast("bigint")).withColumn(
            "shard_id", F.lit(None).cast("bigint")
        )
    span = max(kmax - kmin, 1.0)
    bucket = F.least(
        F.floor((F.col(key_col).cast("double") - F.lit(kmin)) / F.lit(span / num_buckets)),
        F.lit(num_buckets - 1),
    ).alias("_bucket")

    b = df.select(bucket, F.col(weight_col)).groupBy("_bucket").agg(
        # coalesce: F.sum over an all-null bucket is NULL, which would
        # crash the driver-side int() below instead of packing the bucket
        # as weightless
        F.coalesce(F.sum(weight_col), F.lit(0)).alias("_w")
    )
    sums = {int(r["_bucket"]): int(r["_w"]) for r in b.collect()}
    offsets, acc = {}, 0
    for k in sorted(sums):
        offsets[k] = acc
        acc += sums[k]
    off_map = F.create_map(
        *[F.lit(x) for k in sorted(offsets) for x in (k, offsets[k])]
    )

    # ROWS frame, not the default RANGE frame: RANGE tie-collapses rows
    # with equal key values into one cumulative step, diverging from
    # sequential greedy packing (and from a ROWS BETWEEN oracle). With
    # duplicate keys the within-tie order — hence each dup's cum_weight —
    # is arbitrary; key_col should be unique for fully deterministic output.
    w = (
        Window.partitionBy("_bucket")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("_bucket", bucket)
        .withColumn(
            "cum_weight",
            F.sum(weight_col).over(w) + F.element_at(off_map, F.col("_bucket")),
        )
        .withColumn(
            "shard_id",
            F.floor((F.col("cum_weight") - F.col(weight_col)) / F.lit(budget)),
        )
        .drop("_bucket")
    )
    return out


def quantile_bucket(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    out_col: str = "q_bucket",
    exact: bool = True,
) -> DataFrame:
    """Assign each row its quantile bucket 0..n_buckets-1 by ``value_col``
    — the CCNet-style corpus partitioning step (bucket documents by
    LM score / quality signal, then sample per bucket; pair with
    ``text.unigram_logprob`` for the classic perplexity split).

    One exact-percentile aggregate computes the n_buckets−1 interior
    boundaries (a single tiny row, folded back as literals — no join);
    the bucket expression is a left-fold count of boundaries ≤ x, fully
    inside codegen. Deterministic: exact order statistics, no sampling
    (swap ``percentile`` for ``approx_percentile`` at TB scale — bucket
    EDGES are heuristics, t-digest error only moves edge-adjacent rows).
    Null values get a null bucket. Ties share the boundary-crossing rule
    ``x > b_i`` (boundary values fall in the LOWER bucket), identical in
    any SQL engine.

    ``exact=False`` switches the boundary aggregate to
    ``percentile_approx`` (10k-centroid t-digest — one mergeable pass,
    bounded memory): the TB-scale path, same knob as
    ``infer_frequency_seconds``. Bucket EDGES are heuristics; sketch
    error only moves edge-adjacent rows, while exact order statistics
    buffer every distinct value and are kept for oracle parity.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    qarr = F.array(*[F.lit(q) for q in qs])
    agg = (
        F.percentile(value_col, qarr)
        if exact
        else F.percentile_approx(value_col, qarr, F.lit(10000))
    )
    row = df.agg(agg.alias("_b")).collect()[0]
    bounds = row["_b"] or []
    c = F.col(value_col)
    bucket = sum(
        (c > F.lit(float(b))).cast("int") for b in bounds
    ) if bounds else F.lit(0)
    return df.withColumn(
        out_col, F.when(c.isNotNull(), bucket).otherwise(F.lit(None).cast("int"))
    )
