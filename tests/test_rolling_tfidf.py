"""Rolling-window stats vs pandas; TF-IDF sanity."""

import math
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.rolling import rolling_stats
from time_series_loader_spark.operators.text import tfidf

VALUES = [3.0, 1.0, None, 4.0, 1.0, 5.0, 9.0, 2.0]


@pytest.fixture()
def ts_df(spark):
    rows = [
        (datetime(2023, 1, 1) + timedelta(minutes=10 * i), v)
        for i, v in enumerate(VALUES)
    ]
    return spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE")


def _pd_series():
    idx = pd.date_range("2023-01-01", periods=len(VALUES), freq="10min")
    return pd.Series([np.nan if v is None else v for v in VALUES], index=idx)


def test_row_window_matches_pandas(spark, ts_df):
    out = rolling_stats(ts_df, "ts", "v", window=3).orderBy("ts").collect()
    exp = _pd_series().rolling(3, min_periods=1)
    for got, m, mn, mx in zip(out, exp.mean(), exp.min(), exp.max()):
        assert got["v_roll_mean"] == pytest.approx(m)
        assert got["v_roll_min"] == pytest.approx(mn)
        assert got["v_roll_max"] == pytest.approx(mx)


def test_time_window_matches_pandas(spark, ts_df):
    out = rolling_stats(ts_df, "ts", "v", window="30min").orderBy("ts").collect()
    # pandas rolling('30min') is left-open (excludes t-30min exactly);
    # rangeBetween is closed — use 29min pandas window +10min steps? No:
    # at 10-min steps a closed 30-min window = 4 rows; pandas '30min'
    # spans (t-30, t] = 3 rows. Compare against an explicit closed window.
    s = _pd_series()
    for got in out:
        t = pd.Timestamp(got["ts"])
        win = s[(s.index >= t - pd.Timedelta("30min")) & (s.index <= t)]
        if win.notna().any():
            assert got["v_roll_mean"] == pytest.approx(win.mean())
        else:
            assert got["v_roll_mean"] is None


def test_grouped_rolling_independent(spark):
    rows = []
    for k in ("a", "b"):
        for i in range(4):
            rows.append((k, datetime(2023, 1, 1) + timedelta(hours=i), float(i if k == "a" else 10 * i)))
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    out = rolling_stats(df, "ts", "v", window=2, group_cols=["k"]).collect()
    for r in out:
        assert r["v_roll_max"] <= (3.0 if r["k"] == "a" else 30.0)
        assert r["v_roll_n"] <= 2


def test_tfidf_manual(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id BIGINT, text STRING",
    )
    out = {(r["doc_id"], r["term"]): r for r in tfidf(docs, "text", "doc_id").collect()}
    n = 3
    idf = lambda df_: math.log((n + 1) / (df_ + 1)) + 1
    assert out[(1, "apple")]["tf"] == 2
    assert out[(1, "apple")]["tfidf"] == pytest.approx(2 * idf(1))
    assert out[(2, "banana")]["tfidf"] == pytest.approx(1 * idf(2))
    # rarest term scores highest for its doc
    top = tfidf(docs, "text", "doc_id", top_k=1).collect()
    top_by_doc = {r["doc_id"]: r["term"] for r in top}
    assert top_by_doc[1] == "apple"
    assert top_by_doc[3] == "durian"


def test_unigram_logprob_matches_reference(spark):
    """Pure-python reference over a hand corpus: add-1 smoothing, mean
    over token OCCURRENCES (tf-weighted), natural log."""
    import math
    from collections import Counter

    from time_series_loader_spark.operators.text import unigram_logprob

    texts = {0: "a a b", 1: "a b c", 2: "d d d d"}
    df = spark.createDataFrame(list(texts.items()), "doc_id LONG, text STRING")
    counts = Counter(t for s in texts.values() for t in s.split())
    N = sum(counts.values())
    V = len(counts)

    def logp_u(t):
        # the operator's 1e-6 micro-unit quantization of ln (round-6
        # cross-engine hardening) — mirror it exactly
        return math.floor(math.log((counts[t] + 1.0) / (N + 1.0 * V)) * 1e6 + 0.5)

    def ref_exact(s):
        toks = s.split()
        return sum(math.log((counts[t] + 1.0) / (N + 1.0 * V)) for t in toks) / len(toks)

    def ref_quant(s):
        toks = s.split()
        return sum(logp_u(t) for t in toks) / 1e6 / len(toks)

    got = {r["doc_id"]: r for r in unigram_logprob(df, "text", "doc_id").collect()}
    for i, s in texts.items():
        assert abs(got[i]["mean_logprob"] - ref_quant(s)) < 1e-12, i
        # quantization error vs the unquantized LM is bounded by half a µunit
        assert abs(got[i]["mean_logprob"] - ref_exact(s)) < 5.1e-7, i
        assert got[i]["n_tokens"] == len(s.split())
    # common-token doc scores higher than the rare-token one
    assert got[0]["mean_logprob"] > got[1]["mean_logprob"]


def test_unigram_logprob_partitioning_invariant(spark):
    from time_series_loader_spark.operators.text import unigram_logprob

    rows = [(i, "tok%d the and %d" % (i % 20, i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    a = {r["doc_id"]: r["mean_logprob"] for r in unigram_logprob(df, "text", "doc_id").collect()}
    b = {
        r["doc_id"]: r["mean_logprob"]
        for r in unigram_logprob(df.repartition(17), "text", "doc_id").collect()
    }
    assert a == b  # DECIMAL accumulation → bit-identical under repartition


def test_idf_logp_quantization_ulp_stable(spark, sf_dir):
    """Round-6 hardening audit on the REAL gate corpus: every distinct
    idf/logp input must floor to the same micro-unit under ±4-ulp
    perturbation of ln() — i.e. no value sits close enough to a
    floor(x*1e6+0.5) boundary for cross-engine/CPU libm drift to flip
    the quantized score (and hence any rank or rounded output)."""
    import math
    import os

    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from time_series_loader_spark.operators.text import tokens

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").count()
    dfs = [r[0] for r in tf.groupBy("term").count().select("count").distinct().collect()]
    cts = [
        r[0]
        for r in tf.groupBy("term").agg(F.sum("count").alias("ct"))
        .select("ct").distinct().collect()
    ]
    n_tot = sum(
        r[0] for r in tf.groupBy("term").agg(F.sum("count").alias("ct"))
        .select("ct").collect()
    )
    v_tot = tf.select("term").distinct().count()
    denom = float(n_tot) + 1.0 * float(v_tot)

    def stable(raw):
        base = math.floor(raw * 1e6 + 0.5)
        raw_up, raw_dn = raw, raw
        for _ in range(4):
            raw_up = math.nextafter(raw_up, math.inf)
            raw_dn = math.nextafter(raw_dn, -math.inf)
        assert math.floor(raw_up * 1e6 + 0.5) == base
        assert math.floor(raw_dn * 1e6 + 0.5) == base
        return base

    for d in dfs:
        stable(math.log((n_docs + 1.0) / (d + 1.0)) + 1.0)
    for c in cts:
        stable(math.log((c + 1.0) / denom))


@pytest.mark.parametrize(
    "values",
    [
        [1.0, math.nan, 2.0, 2.0],
        [1.0, math.inf, 2.0, 2.0],
        [1.0, math.inf, -math.inf, 2.0, math.nan, -math.inf],
    ],
    ids=["nan", "inf", "mixed"],
)
def test_keyed_row_window_nan_inf_match_pandas(spark, values):
    # pandas Rolling: NaN and ±Inf are missing for mean/min/max, while
    # count() still counts ±Inf
    rows = [("k", datetime(2023, 1, 1) + timedelta(minutes=10 * i), v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    out = rolling_stats(df, "ts", "v", window=3, group_cols=["k"]).orderBy("ts").collect()
    exp = pd.Series(values).rolling(3, min_periods=1)
    got = {
        stat: [r[f"v_roll_{stat}"] for r in out] for stat in ("mean", "min", "max", "n")
    }
    assert got["mean"] == pytest.approx(exp.mean().tolist())
    assert got["min"] == pytest.approx(exp.min().tolist())
    assert got["max"] == pytest.approx(exp.max().tolist())
    assert got["n"] == exp.count().astype(int).tolist()
