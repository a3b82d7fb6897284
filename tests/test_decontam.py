"""Benchmark-decontamination operator tests (operators/decontam.py)."""

import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.decontam import (
    contamination,
    contamination_expr_text,
    ngram_set,
)


@pytest.fixture(scope="module")
def corpus(spark):
    eval_q = "what is the capital of france paris is the answer here"
    rows = [
        # 0: verbatim copy of the eval prompt inside a longer doc
        (0, "intro words then " + eval_q + " trailing words"),
        # 1: paraphrase sharing no 8-gram
        (1, "paris is france's capital city as everyone knows quite well"),
        # 2: unrelated
        (2, "completely unrelated text about distributed query engines at scale"),
        # 3: null text
        (3, None),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING"), eval_q


def test_contamination_broadcast_join_form(spark, corpus):
    docs, eval_q = corpus
    bench = spark.createDataFrame([(100, eval_q)], "bid LONG, text STRING")
    out = {
        r["doc_id"]: r["n_contam"]
        for r in contamination(
            docs, "text", "doc_id", bench, bench_id_col="bid", n=8
        ).collect()
    }
    assert out[0] > 0  # verbatim copy flagged
    assert out[1] == 0 and out[2] == 0  # paraphrase/unrelated clean
    assert out[3] == 0  # null text → no shingles → clean


def test_contamination_expr_agrees_with_join_form(spark, corpus):
    docs, eval_q = corpus
    bench_list = ngram_set([eval_q], n=8)
    assert len(bench_list) == len(set(bench_list)) > 0
    via_expr = {
        r["doc_id"]: r["n"]
        for r in docs.where(F.col("text").isNotNull())
        .select("doc_id", contamination_expr_text("text", bench_list, n=8).alias("n"))
        .collect()
    }
    bench = spark.createDataFrame([(100, eval_q)], "bid LONG, text STRING")
    via_join = {
        r["doc_id"]: r["n_contam"]
        for r in contamination(docs, "text", "doc_id", bench, bench_id_col="bid", n=8)
        .where(F.col("text").isNotNull())
        .collect()
    }
    assert via_expr == via_join


def test_ngram_set_matches_spark_tokenization(spark):
    # mixed whitespace + case: driver-side helper must agree with the
    # Spark shingle expression token-for-token
    text = "A  B\tC\nD e f G h"
    bench_list = ngram_set([text], n=3)
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    spark_n = df.select(
        contamination_expr_text("text", bench_list, n=3).alias("n")
    ).collect()[0]["n"]
    # every one of the doc's own 3-grams hits its own benchmark set
    assert spark_n == len(bench_list) == 6


def test_contamination_plan_broadcasts_benchmark(spark, corpus):
    docs, eval_q = corpus
    bench = spark.createDataFrame([(100, eval_q)], "bid LONG, text STRING")
    plan = contamination(
        docs, "text", "doc_id", bench, bench_id_col="bid", n=8
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_decontaminate_dispatches_at_crossover(spark, corpus):
    """Form dispatcher: literal-array expr at/below max_expr_ngrams,
    broadcast join above — IDENTICAL results either side of the boundary
    (the padding n-grams hit nothing, so the counts cannot move)."""
    from time_series_loader_spark.operators.decontam import decontaminate

    docs, eval_q = corpus
    bench_list = ngram_set([eval_q], n=8)
    # pad with n-grams that can't occur in the corpus, to a size that
    # straddles an artificially small threshold
    pad = [f"zz{i} " * 8 for i in range(40)]
    bench_big = bench_list + pad
    thr = len(bench_big)  # == threshold → expr form (<=)
    expr_df = decontaminate(
        docs, "text", "doc_id", bench_big, n=8, max_expr_ngrams=thr
    )
    join_df = decontaminate(
        docs, "text", "doc_id", bench_big, n=8, max_expr_ngrams=thr - 1
    )
    # plan-shape check: expr form has no join, join form broadcasts
    expr_plan = expr_df._jdf.queryExecution().executedPlan().toString()
    join_plan = join_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in expr_plan
    assert "BroadcastHashJoin" in join_plan or "BroadcastExchange" in join_plan
    # value equality at the crossover
    key = lambda df: {  # noqa: E731
        r["doc_id"]: r["n_contam"] for r in df.select("doc_id", "n_contam").collect()
    }
    ve, vj = key(expr_df), key(join_df)
    assert ve == vj
    assert ve[0] > 0 and ve[1] == 0 and ve[2] == 0 and ve[3] == 0


def test_corpus_filter_broadcast_path_equivalence(spark, corpus):
    """corpus_filter-shaped pipeline (tokenize-once projection → decontam
    → groupBy representative) produces identical survivors whichever
    decontam form the dispatcher picks."""
    from time_series_loader_spark.operators.decontam import decontaminate
    from time_series_loader_spark.operators.text import tokens

    docs, eval_q = corpus
    bench_list = ngram_set([eval_q], n=8)

    def pipeline(max_expr_ngrams):
        toksed = docs.select("doc_id", "text", tokens("text").alias("_toks"))
        decon = decontaminate(
            toksed, "text", "doc_id", bench_list,
            n=8, toks_col="_toks", max_expr_ngrams=max_expr_ngrams,
        )
        feat = decon.select(
            "doc_id",
            F.size("_toks").alias("n_tokens"),
            "n_contam",
            F.md5(F.coalesce(F.col("text"), F.lit(" "))).alias("key_digest"),
        )
        rep = F.min(F.struct("doc_id", "n_tokens", "n_contam")).alias("rep")
        return sorted(
            (r["rep"]["doc_id"], r["rep"]["n_tokens"], r["n_dups"])
            for r in feat.groupBy("key_digest")
            .agg(rep, F.count(F.lit(1)).alias("n_dups"))
            .where(F.col("rep.n_contam") == 0)
            .collect()
        )

    assert pipeline(10_000) == pipeline(0)  # expr form == broadcast form


def test_flagship_corpus_filter_identical_under_both_forms(spark, monkeypatch):
    """The REAL q_corpus_filter (PII graft, scrub, quality, langid, exact
    dedup, decontam, representative agg) must emit identical rows
    whichever decontam form the dispatcher picks — forcing the broadcast
    form module-wide via EXPR_FORM_MAX_NGRAMS=0 must change only the plan
    shape."""
    import __spark_entry__ as entry
    from time_series_loader_spark.operators import decontam

    sf = "/root/testdata/sf0.001"

    def run():
        df = entry.q_corpus_filter(spark, sf)
        return sorted(tuple(r) for r in df.collect())

    base = run()
    assert len(base) > 0
    monkeypatch.setattr(decontam, "EXPR_FORM_MAX_NGRAMS", 0)
    forced = run()
    assert forced == base


def test_multiline_benchmark_entry_matches_nothing(spark, corpus):
    """A benchmark entry containing a newline can never equal a
    whitespace-split shingle: the literal forms drop it instead of
    raising, and count exactly as the list without it."""
    from time_series_loader_spark.operators.decontam import strip_count_expr
    from time_series_loader_spark.operators.text import tokens

    docs, eval_q = corpus
    clean = ngram_set([eval_q], n=8)
    dirty = clean + ["what is the capital\nof france paris is"]
    toked = docs.select("doc_id", tokens("text").alias("_toks"))

    def counts(bench):
        from time_series_loader_spark.operators.decontam import contamination_expr

        return sorted(
            toked.select(
                "doc_id",
                contamination_expr(F.col("_toks"), bench, n=8).alias("c"),
                strip_count_expr(F.col("_toks"), bench, n=8).alias("s"),
            ).collect()
        )

    assert counts(dirty) == counts(clean)
    assert counts(["only\nentry"]) == counts(["no such eight gram anywhere in corpus"])
