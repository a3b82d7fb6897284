"""Round-7 integer purification: pinned-log table, order-statistic
frequency, integer-exact continuity stats, µunit counter sums, and the
pinned-ln tfidf/unigram paths.

Done-criteria from VERDICT r6 directive #1: the pinned table matches a
fresh ``math.log`` evaluation; the integer forms agree with their float
ancestors (same classification / ≤1-µunit value drift where the
quantization deliberately changed); the gate-slot formulas match an
independent pure-Python reference exactly.
"""

import math
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.continuity import (
    continuity_stats,
    continuity_stats_exact,
    infer_frequency_seconds,
    infer_frequency_us2,
)
from time_series_loader_spark.operators.ln_pinned import (
    LN_U_MAX_K,
    ln_u_df,
    ln_u_lookup,
)
from time_series_loader_spark.operators.rate import counter_increase
from time_series_loader_spark.session import read_table


# ---------------------------------------------------------------- ln table
def test_pinned_ln_matches_fresh_math_log():
    # dense head (where ln curvature is steepest) + strided sample to the
    # ceiling + the ceiling itself — every value re-derived from math.log
    sample = list(range(1, 2001)) + list(range(2001, LN_U_MAX_K, 7919)) + [LN_U_MAX_K]
    for k in sample:
        assert ln_u_lookup(k) == math.floor(math.log(k) * 1e6 + 0.5), k


def test_pinned_ln_domain_raises():
    with pytest.raises(ValueError):
        ln_u_lookup(0)
    with pytest.raises(ValueError):
        ln_u_lookup(LN_U_MAX_K + 1)


def test_pinned_ln_df_complete(spark):
    d = ln_u_df(spark)
    row = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count_distinct("k").alias("nd"),
    ).collect()[0]
    assert row["n"] == row["nd"] == LN_U_MAX_K
    assert row["lo"] == 1 and row["hi"] == LN_U_MAX_K


# ------------------------------------------------- order-statistic median
@pytest.fixture()
def gapped_df(spark):
    rows = [
        (datetime(2023, 1, 1) + timedelta(hours=i), float(i))
        for i in range(25)
        if not (5 <= i < 7 or 15 <= i < 20)
    ]
    return spark.createDataFrame(rows, "timestamp TIMESTAMP, value DOUBLE")


def test_infer_us2_matches_float_median(spark, gapped_df):
    f2 = infer_frequency_us2(gapped_df, "timestamp").collect()[0][0]
    med = infer_frequency_seconds(gapped_df, "timestamp").collect()[0][0]
    assert f2 == 2 * 3600 * 1_000_000
    assert f2 == int(round(2 * med * 1e6))


def test_infer_us2_even_count_sums_middles(spark):
    # deltas 1s, 2s, 4s, 8s → middles 2s+4s = 6e6 µs (the float median
    # would interpolate to 3.0 — the doubled form never interpolates)
    base = datetime(2023, 1, 1)
    offs = [0, 1, 3, 7, 15]
    df = spark.createDataFrame(
        [(base + timedelta(seconds=o),) for o in offs], "ts TIMESTAMP"
    )
    assert infer_frequency_us2(df, "ts").collect()[0][0] == 6_000_000


def test_infer_us2_grouped(spark):
    base = datetime(2023, 1, 1)
    rows = [("a", base + timedelta(seconds=i * 2)) for i in range(5)] + [
        ("b", base + timedelta(seconds=i * 3)) for i in range(4)
    ]
    out = dict(
        infer_frequency_us2(
            spark.createDataFrame(rows, "k STRING, ts TIMESTAMP"), "ts", ["k"]
        ).collect()
    )
    assert out == {"a": 4_000_000, "b": 6_000_000}


# ------------------------------------------------ integer continuity stats
def test_stats_exact_matches_float_form(spark, gapped_df):
    med_us2 = infer_frequency_us2(gapped_df, "timestamp").collect()[0][0]
    s_int = continuity_stats_exact(
        gapped_df, "timestamp", gap_threshold_us=5 * med_us2
    ).collect()[0]
    med = med_us2 / 2e6
    s_flt = continuity_stats(
        gapped_df, "timestamp", expected_freq=med, min_gap=9 * med
    ).collect()[0]
    assert s_int["n_rows"] == s_flt["n_rows"]
    assert s_int["n_gaps"] == s_flt["n_gaps"]
    assert s_int["gap_total_us"] == int(round(s_flt["gap_seconds_total"] * 1e6))
    assert s_int["span_us"] == int(round(s_flt["span_seconds"] * 1e6))
    # float form rounds at the very end; integer form rounds exactly —
    # they agree to the 1-µunit grid by construction
    assert abs(s_int["coverage_micropct"] - round(s_flt["coverage_pct"] * 1e6)) <= 1


def test_stats_exact_coverage_split_division(spark, gapped_df):
    # independent pure-Python replication of the split division
    s = continuity_stats_exact(gapped_df, "timestamp", gap_threshold_us=1).collect()[0]
    span, gap = s["span_us"], s["gap_total_us"]
    num = span - gap
    c1, r1 = divmod(num * 10000, span)
    c2, r2 = divmod(r1 * 10000, span)
    expect = c1 * 10000 + c2 + (1 if 2 * r2 >= span else 0)
    assert s["coverage_micropct"] == expect


def test_stats_exact_no_gaps_and_single_row(spark):
    rows = [(datetime(2023, 1, 1) + timedelta(hours=i),) for i in range(5)]
    df = spark.createDataFrame(rows, "ts TIMESTAMP")
    s = continuity_stats_exact(df, "ts", gap_threshold_us=10**12).collect()[0]
    assert s["n_gaps"] == 0 and s["gap_total_us"] == 0
    assert s["coverage_micropct"] == 100_000_000
    one = spark.createDataFrame([(datetime(2023, 1, 1),)], "ts TIMESTAMP")
    s1 = continuity_stats_exact(one, "ts", gap_threshold_us=1).collect()[0]
    assert s1["span_us"] == 0 and s1["coverage_micropct"] == 100_000_000
    # the auto threshold follows the same rule: no steps → 0 gaps, not NULL
    a1 = continuity_stats_exact(one, "ts").collect()[0]
    assert a1["n_gaps"] == 0 and a1["gap_total_us"] == 0 and a1["n_rows"] == 1


# ----------------------------------------------------- µunit counter sums
def test_counter_micro_units_matches_decimal_path(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    dec = counter_increase(ev, "ts", "value", "1h").orderBy("ts").collect()
    mic = counter_increase(ev, "ts", "value", "1h", micro_units=True).orderBy(
        "ts"
    ).collect()
    assert len(dec) == len(mic)
    for d, m in zip(dec, mic):
        assert d["ts"] == m["ts"] and d["n_resets"] == m["n_resets"]
        assert m["increase_u"] == int(round(d["increase"] * 1e6))


def test_counter_micro_units_vs_python(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    pdf = t.to_pandas().dropna(subset=["value"]).sort_values("ts")
    q = pdf["value"].map(
        lambda v: int(Decimal(v).quantize(Decimal("0.000001"), ROUND_HALF_UP) * 10**6)
    ).to_numpy()
    prev, cur = q[:-1], q[1:]
    inc = int(np.where(cur < prev, cur, cur - prev).sum())
    nres = int((cur < prev).sum())
    ev = read_table(spark, sf_dir, "events")
    got = (
        counter_increase(ev, "ts", "value", "3650D", micro_units=True)
        .agg(F.sum("increase_u").alias("i"), F.sum("n_resets").alias("r"))
        .collect()[0]
    )
    assert got["i"] == inc and got["r"] == nres


# ------------------------------------------------- pinned-ln text scoring
def _py_corpus(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def test_tfidf_pinned_matches_python_reference(spark, sf_dir):
    from collections import Counter

    from time_series_loader_spark.operators.text import tfidf

    docs = _py_corpus(sf_dir)
    n_docs = len(docs)
    tf = {d: Counter((txt or "").strip().lower().split()) for d, txt in docs}
    df_counts = Counter(t for c in tf.values() for t in c)
    base = ln_u_lookup(n_docs + 1)
    expect = {}
    for d, c in tf.items():
        scored = sorted(
            (
                (-(cnt * (base - ln_u_lookup(df_counts[t] + 1) + 1_000_000)), t)
                for t, cnt in c.items()
            )
        )[:3]
        expect[d] = [(t, -s) for s, t in scored]
    sdf = read_table(spark, sf_dir, "documents")
    got = {}
    for r in tfidf(
        sdf, "text", "doc_id", top_k=3, pinned_ln=True, integer_scores=True
    ).collect():
        got.setdefault(r["doc_id"], []).append((r["term"], r["score_u"], r["tf"]))
    assert len(got) == n_docs
    for d, rows in got.items():
        rows.sort(key=lambda x: (-x[1], x[0]))
        assert [(t, s) for t, s, _ in rows] == expect[d], d


def test_unigram_pinned_matches_python_reference(spark, sf_dir):
    from collections import Counter

    from time_series_loader_spark.operators.text import unigram_logprob

    docs = _py_corpus(sf_dir)
    tf = {d: Counter((txt or "").strip().lower().split()) for d, txt in docs}
    totals = Counter()
    for c in tf.values():
        totals.update(c)
    n_tok = sum(totals.values())
    denom_u = ln_u_lookup(n_tok + len(totals))
    expect = {
        d: sum(cnt * (ln_u_lookup(totals[t] + 1) - denom_u) for t, cnt in c.items())
        for d, c in tf.items()
    }
    sdf = read_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["contrib_u"], r["n_tokens"])
        for r in unigram_logprob(
            sdf, "text", "doc_id", pinned_ln=True, integer_outputs=True
        ).collect()
    }
    for d, c in tf.items():
        assert got[d] == (expect[d], sum(c.values())), d


def test_pinned_vs_engine_ln_within_one_micro(spark, sf_dir):
    """The pinned formula rounds ln(N+1) and ln(df+1) separately; the
    engine path rounds their difference once — per-term idf_u may differ
    by at most 1 µunit (so scores by ≤ tf µunits), never more."""
    from time_series_loader_spark.operators.text import tfidf

    sdf = read_table(spark, sf_dir, "documents")
    pin = tfidf(sdf, "text", "doc_id", pinned_ln=True, integer_scores=True)
    eng = tfidf(sdf, "text", "doc_id", integer_scores=True)
    j = pin.alias("p").join(
        eng.alias("e"), ["doc_id", "term"]
    ).select(
        F.col("p.tf").alias("tf"),
        (F.col("p.score_u") - F.col("e.score_u")).alias("d"),
    )
    bad = j.where(F.abs(F.col("d")) > F.col("tf")).count()
    assert bad == 0


def test_unigram_pinned_vs_engine_ln_band_and_deciles(spark, sf_dir):
    """VERDICT r10 directive #5 (band half): the CCNet-partition's two
    ln paths must agree within the documented band. Per-term logp_u —
    pinned: ln_u(ct+1) − ln_u(N+V) (two roundings); engine:
    round(ln((ct+1)/(N+V))·1e6) (one rounding) — may differ by ≤1
    µunit, so per-doc |Δcontrib_u| ≤ n_tokens. Decile assignment
    (quantile_bucket on mean_logprob) must not flip on the gate corpora
    (the sampling boundary-margin canary asserts scores sit far from
    decile boundaries). The 10× open-scale band is recorded by
    tools/lnu_probe.py in SCALING.md; this pins the invariant the probe
    relies on at the oracle-gated scales."""
    from time_series_loader_spark.operators.sampling import quantile_bucket
    from time_series_loader_spark.operators.text import unigram_logprob

    sdf = read_table(spark, sf_dir, "documents")

    def scored(pinned: bool):
        lp = unigram_logprob(
            sdf, "text", "doc_id", k=1.0, pinned_ln=pinned, integer_outputs=True
        ).select(
            "doc_id",
            "contrib_u",
            "n_tokens",
            (F.col("contrib_u").cast("double") / 1e6 / F.col("n_tokens")).alias(
                "mean_logprob"
            ),
        )
        return quantile_bucket(lp, "mean_logprob", 10, out_col="d")

    p = scored(True).select(
        "doc_id", F.col("contrib_u").alias("cu_p"), F.col("d").alias("d_p"),
        "n_tokens",
    )
    e = scored(False).select(
        "doc_id", F.col("contrib_u").alias("cu_e"), F.col("d").alias("d_e")
    )
    j = p.join(e, "doc_id")
    out_of_band = j.where(
        F.abs(F.col("cu_p") - F.col("cu_e")) > F.col("n_tokens")
    ).count()
    assert out_of_band == 0
    flips = j.where(F.col("d_p") != F.col("d_e")).count()
    assert flips == 0


def test_unigram_pinned_requires_add1(spark, sf_dir):
    from time_series_loader_spark.operators.text import unigram_logprob

    sdf = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        unigram_logprob(sdf, "text", "doc_id", k=0.5, pinned_ln=True)


# ----------------------------------------------------------- slot shapes
def test_continuity_slot_long_format(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.queries()["continuity_stats"](spark, sf_dir)
    assert out.columns == ["metric", "value_u"]
    rows = {r["metric"]: r["value_u"] for r in out.collect()}
    assert len(rows) == 10
    assert rows["n_rows"] > 0 and rows["span_us"] > 0
    assert 0 < rows["coverage_micropct"] <= 100_000_000
    for v in rows.values():
        assert isinstance(v, int)


def test_tfidf_slot_integer_columns(spark, sf_dir):
    import __spark_entry__ as entry

    out = entry.queries()["tfidf_top3"](spark, sf_dir)
    types = dict(out.dtypes)
    assert types["score_u"] == "bigint" and types["tf"] == "bigint"
    assert not any(t in ("double", "float") for t in types.values())


def test_stats_exact_auto_threshold_keyed(spark):
    """Auto-inferred threshold with group_cols: per-group doubled
    medians broadcast-join on the key; gaps classify per group."""
    base = datetime(2023, 1, 1)
    rows = (
        # series a: 10s spacing, one 300s gap (> 10×median)
        [("a", base + timedelta(seconds=s)) for s in [0, 10, 20, 30, 330, 340, 350]]
        # series b: 60s spacing, no gap beyond 10×median
        + [("b", base + timedelta(seconds=60 * i)) for i in range(6)]
        # series c: one row, no steps — kept, with no gaps
        + [("c", base)]
    )
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP")
    out = {
        r["k"]: r
        for r in continuity_stats_exact(df, "ts", group_cols=["k"]).collect()
    }
    assert out["a"]["freq_us_x2"] == 2 * 10 * 1_000_000
    assert out["a"]["n_gaps"] == 1 and out["a"]["gap_total_us"] == 300 * 1_000_000
    assert out["b"]["freq_us_x2"] == 2 * 60 * 1_000_000
    assert out["b"]["n_gaps"] == 0 and out["b"]["coverage_micropct"] == 100_000_000
    assert out["c"]["n_rows"] == 1 and out["c"]["freq_us_x2"] is None
    assert out["c"]["n_gaps"] == 0 and out["c"]["coverage_micropct"] == 100_000_000


def test_stats_exact_auto_matches_fixed(spark, sf_dir):
    """Auto mode (broadcast-scalar threshold) must classify exactly the
    rows the two-step collect-then-literal form classifies."""
    ev = read_table(spark, sf_dir, "events")
    f2 = int(infer_frequency_us2(ev, "ts").collect()[0][0])
    auto = continuity_stats_exact(ev, "ts").collect()[0]
    fixed = continuity_stats_exact(ev, "ts", gap_threshold_us=5 * f2).collect()[0]
    for c in ("start_us", "end_us", "n_rows", "n_gaps", "gap_total_us",
              "span_us", "coverage_micropct"):
        assert auto[c] == fixed[c], c
    assert auto["freq_us_x2"] == f2


def test_dedup_store_mtime_staleness(spark, sf_dir, tmp_path):
    """_dedup_store's retention contract (ADVICE r6): rewriting the
    corpus under the same dir within one application must rebuild the
    store (mtime in the key), and superseded builds are evicted."""
    import os
    import shutil

    import __spark_entry__ as entry

    d = tmp_path / "sfcopy"
    d.mkdir()
    for t in ("documents",):
        shutil.copy(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    sdir = str(d)
    s1 = entry._dedup_store(spark, sdir)
    key1 = [k for k in entry._DEDUP_STORES if k[1] == sdir]
    assert len(key1) == 1
    assert entry._dedup_store(spark, sdir) is s1  # memo hit
    # rewrite the corpus → different mtime → rebuild + eviction
    os.utime(d / "documents.parquet")
    s2 = entry._dedup_store(spark, sdir)
    assert s2 is not s1
    key2 = [k for k in entry._DEDUP_STORES if k[1] == sdir]
    assert len(key2) == 1 and key2 != key1  # old entry evicted
