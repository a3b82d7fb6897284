"""Tests for deterministic sampling, shard packing, PII redaction, and the
composite text profile."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.operators.sampling import (
    BUCKETS,
    hash_bucket,
    shard_pack,
    stratified_sample,
)
from time_series_loader_spark.operators.text import redact_pii, text_profile


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "lang%d" % (i % 3), "tok " * (i % 17 + 1)) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")


def test_hash_bucket_range_and_determinism(spark, docs):
    b = docs.select(hash_bucket("doc_id").alias("b")).toPandas()["b"]
    assert b.between(0, BUCKETS - 1).all()
    b2 = docs.repartition(7).select(hash_bucket("doc_id").alias("b")).toPandas()["b"]
    assert sorted(b) == sorted(b2)


def test_stratified_sample_deterministic_and_stratified(spark, docs):
    rates = {"lang0": 0.8, "lang1": 0.2}
    out = stratified_sample(docs, "doc_id", "lang", rates, default_rate=0.0)
    ids = sorted(r["doc_id"] for r in out.collect())
    # re-running on a different partitioning keeps the SAME rows
    ids2 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(13), "doc_id", "lang", rates, default_rate=0.0
        ).collect()
    )
    assert ids == ids2
    by_lang = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert "lang2" not in by_lang  # default_rate=0 drops the whole stratum
    # loose rate sanity on ~67 rows per stratum
    assert by_lang["lang0"] > by_lang.get("lang1", 0)
    # salt changes the selection
    salted = stratified_sample(docs, "doc_id", "lang", rates, 0.0, salt="v2")
    assert sorted(r["doc_id"] for r in salted.collect()) != ids


@pytest.mark.parametrize("num_buckets", [1, 4, 256])
def test_shard_pack_matches_sequential(spark, docs, num_buckets):
    weighted = docs.select("doc_id", F.size(F.split("text", " ")).alias("w"))
    out = shard_pack(weighted, "doc_id", "w", budget=50, num_buckets=num_buckets)
    pdf = out.orderBy("doc_id").toPandas()
    seq = weighted.orderBy("doc_id").toPandas()
    seq["cum"] = seq["w"].cumsum()
    assert list(pdf["cum_weight"]) == list(seq["cum"])
    assert list(pdf["shard_id"]) == [int((c - w) // 50) for c, w in zip(seq["cum"], seq["w"])]
    # shards are contiguous in key order and start at 0
    assert pdf["shard_id"].iloc[0] == 0
    assert (pdf["shard_id"].diff().dropna() >= 0).all()


def test_shard_pack_empty(spark):
    empty = spark.createDataFrame([], "doc_id LONG, w LONG")
    assert shard_pack(empty, "doc_id", "w", budget=10).count() == 0


def test_shard_pack_all_null_weight_bucket(spark):
    """A bucket whose every weight is NULL must pack as weightless, not
    crash the driver-side prefix scan (F.sum over all-null is NULL)."""
    # num_buckets=2 over keys 0..3 → bucket 0 = {0,1} (weights NULL),
    # bucket 1 = {2,3} (weights 5, 6)
    rows = [(0, None), (1, None), (2, 5), (3, 6)]
    df = spark.createDataFrame(rows, "doc_id LONG, w LONG")
    out = {
        r["doc_id"]: r
        for r in shard_pack(df, "doc_id", "w", budget=10, num_buckets=2).collect()
    }
    assert out[2]["cum_weight"] == 5 and out[3]["cum_weight"] == 11
    assert out[3]["shard_id"] == 0  # (11-6)//10


def test_shard_pack_rows_frame_no_tie_collapse(spark):
    """Duplicate key values must accumulate row-by-row (ROWS frame), not
    receive one collapsed cumulative value (the default RANGE frame)."""
    rows = [(1, 10), (1, 10), (2, 10)]
    df = spark.createDataFrame(rows, "k LONG, w LONG")
    cums = sorted(
        r["cum_weight"] for r in shard_pack(df, "k", "w", budget=100, num_buckets=1).collect()
    )
    assert cums == [10, 20, 30]  # RANGE frame would yield [20, 20, 30]


def test_redact_pii(spark):
    rows = [
        (1, "mail me at a.b-c%x@foo-bar.co.uk now"),
        (2, "server 192.168.0.1 and phone +1 415 555 0000 ok"),
        (3, "clean text with no pii at all"),
        (4, "two mails x@y.io and z@w.ai"),
    ]
    df = spark.createDataFrame(rows, "id LONG, text STRING")
    out = {r["id"]: r for r in redact_pii(df, "text").collect()}
    assert out[1]["n_pii"] == 1 and "<EMAIL>" in out[1]["redacted"]
    assert "@" not in out[1]["redacted"].replace("<EMAIL>", "")
    assert out[2]["n_pii"] == 2
    assert "<IPV4>" in out[2]["redacted"] and "<PHONE>" in out[2]["redacted"]
    assert out[3]["n_pii"] == 0 and out[3]["redacted"] == rows[2][1]
    assert out[4]["n_pii"] == 2


def test_text_profile_matches_standalone_ops(spark, docs):
    from time_series_loader_spark.operators.text import (
        fingerprint,
        quality_features,
        simhash16,
        token_stats,
    )

    prof = {r["doc_id"]: r for r in text_profile(docs, "text", "doc_id").collect()}
    toks = {r["doc_id"]: r for r in token_stats(docs, "text", "doc_id").collect()}
    qual = {r["doc_id"]: r for r in quality_features(docs, "text", "doc_id").collect()}
    fps = {r["doc_id"]: r for r in fingerprint(docs, "text", "doc_id").collect()}
    sh = {r["doc_id"]: r for r in simhash16(docs, "text", "doc_id").collect()}
    for i in (0, 7, 199):
        assert prof[i]["n_tokens"] == toks[i]["n_tokens"]
        assert prof[i]["mean_token_len"] == toks[i]["mean_token_len"]
        assert prof[i]["quality_score"] == qual[i]["quality_score"]
        assert prof[i]["fingerprint"] == fps[i]["fingerprint"]
        assert prof[i]["simhash"] == sh[i]["simhash"]
    # repetition signals: "tok tok ... tok" repeats one token entirely
    assert prof[7]["dup_token_ratio"] > 0.8
    assert prof[7]["top_bigram_frac"] == 1.0


def test_text_profile_drops_null_text_like_simhash_bits(spark):
    """Null-text docs are excluded from the profile, matching
    simhash_bits (whose kernel filters them) — the two surfaces must
    agree row-for-row on nullable corpora."""
    from time_series_loader_spark.operators.text import simhash_bits

    df = spark.createDataFrame(
        [(1, "some real text here"), (2, None)], "doc_id LONG, text STRING"
    )
    prof_ids = {r["doc_id"] for r in text_profile(df, "text", "doc_id").collect()}
    sh_ids = {r["doc_id"] for r in simhash_bits(df, "text", "doc_id").collect()}
    assert prof_ids == sh_ids == {1}


def test_write_packed_shards_layout_and_roundtrip(spark, tmp_path):
    """shard_pack → write_packed_shards: one file per shard directory,
    full row round-trip, and reading one shard prunes to its directory."""
    from time_series_loader_spark.sources.sink import read_shard, write_packed_shards

    rows = [(i, (i % 7) + 1) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id LONG, n_tokens LONG")
    packed = shard_pack(df, "doc_id", "n_tokens", budget=40)
    path = str(tmp_path / "shards")
    manifest = write_packed_shards(packed, path, order_col="doc_id")
    man = {r["shard_id"]: r for r in manifest.collect()}

    # one physical file per shard directory, even though shards share tasks
    assert all(r["n_files"] == 1 for r in man.values())
    # every input row landed in exactly one shard
    assert sum(r["n_rows"] for r in man.values()) == 100

    back = spark.read.parquet(path)
    assert sorted(r["doc_id"] for r in back.collect()) == list(range(100))

    # per-shard budget honored (greedy close-on-cross: a shard's total may
    # overshoot by at most one row's weight; max weight here is 7)
    totals = {
        r["shard_id"]: r["t"]
        for r in back.groupBy("shard_id").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert all(t <= 40 + 7 for t in totals.values())

    # shard read prunes: partition filter, not a full scan
    one = read_shard(spark, path, shard_id=0)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard_id" in plan
    assert one.count() == man[0]["n_rows"]


def test_write_packed_shards_deterministic_bytes(spark, tmp_path):
    """Same rows, different incoming partitioning → identical shard files
    (order_col makes the write byte-deterministic)."""
    import hashlib
    import pathlib

    from time_series_loader_spark.sources.sink import write_packed_shards

    rows = [(i, 5) for i in range(60)]

    def digest(base: str, df) -> dict:
        packed = shard_pack(df, "doc_id", "n_tokens", budget=25)
        write_packed_shards(packed, base, order_col="doc_id")
        out = {}
        for p in sorted(pathlib.Path(base).rglob("*.parquet")):
            out[p.parent.name] = hashlib.sha256(p.read_bytes()).hexdigest()
        return out

    d1 = digest(str(tmp_path / "a"), spark.createDataFrame(rows, "doc_id LONG, n_tokens LONG"))
    d2 = digest(
        str(tmp_path / "b"),
        spark.createDataFrame(rows, "doc_id LONG, n_tokens LONG").repartition(13),
    )
    assert d1 == d2


def test_weighted_sample_deterministic_and_proportional(spark):
    from time_series_loader_spark.operators.sampling import weighted_sample

    # weights 1 vs 9: heavy rows should be kept ~9x as often
    rows = [(i, 1 if i % 2 == 0 else 9) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, w LONG")
    out = weighted_sample(df, "doc_id", "w", fraction=0.2)
    ids = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in weighted_sample(df.repartition(7), "doc_id", "w", fraction=0.2).collect()
    )
    assert ids == ids2  # partitioning-independent
    light = sum(1 for i in ids if i % 2 == 0)
    heavy = len(ids) - light
    # expected: light p=0.2*1/5=0.04 → ~40; heavy p=0.2*9/5=0.36 → ~360
    assert heavy > 5 * light
    assert abs(len(ids) / 2000 - 0.2) < 0.05  # realized ≈ target fraction

    # raising the fraction only ADDs rows (bucket-threshold nesting)
    more = sorted(
        r["doc_id"] for r in weighted_sample(df, "doc_id", "w", fraction=0.4).collect()
    )
    assert set(ids) <= set(more)


def test_weighted_sample_null_and_negative_weights_dropped(spark):
    from time_series_loader_spark.operators.sampling import weighted_sample

    rows = [(1, None), (2, -5), (3, 100)]
    df = spark.createDataFrame(rows, "doc_id LONG, w INT")
    kept = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", 0.5).collect()}
    assert 1 not in kept and 2 not in kept  # null p → dropped; clamped 0 → dropped


def test_sample_exact_k(spark):
    from time_series_loader_spark.operators.sampling import sample_exact_k

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id LONG")
    s1 = [r["doc_id"] for r in sample_exact_k(df, "doc_id", 50).collect()]
    assert len(s1) == 50 and len(set(s1)) == 50
    s2 = [r["doc_id"] for r in sample_exact_k(df.repartition(11), "doc_id", 50).collect()]
    assert s1 == s2  # deterministic incl. order
    # independent draw under a different salt
    s3 = {r["doc_id"] for r in sample_exact_k(df, "doc_id", 50, salt="x").collect()}
    assert set(s1) != s3
    # adding rows displaces, never reshuffles: old sample ∩ new sample
    # == new sample minus newly-ranked-in rows
    bigger = spark.createDataFrame([(i,) for i in range(600)], "doc_id LONG")
    s4 = {r["doc_id"] for r in sample_exact_k(bigger, "doc_id", 50).collect()}
    assert s4 & set(s1) == s4 - (s4 - set(s1))
    # k > n → every row, no error
    assert sample_exact_k(df, "doc_id", 10_000).count() == 500


def test_sample_exact_k_plan_is_top_k_not_global_sort(spark):
    from time_series_loader_spark.operators.sampling import sample_exact_k

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id LONG")
    plan = sample_exact_k(df, "doc_id", 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_compact_parquet_rebins_small_files(spark, tmp_path):
    from time_series_loader_spark.sources.sink import compact_parquet

    src = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(4000).withColumn("v", F.col("id") * 2).repartition(40).write.parquet(src)
    import pathlib

    n_in = len(list(pathlib.Path(src).glob("*.parquet")))
    assert n_in == 40
    total = sum(p.stat().st_size for p in pathlib.Path(src).glob("*.parquet"))

    out = str(tmp_path / "compact")
    # target = half the table → exactly 2 output files
    rep = compact_parquet(spark, src, out, target_bytes=(total + 1) // 2)
    assert rep["in_files"] == 40 and rep["in_bytes"] == total and rep["out_files"] == 2
    assert len(list(pathlib.Path(out).glob("*.parquet"))) == 2
    back = spark.read.parquet(out)
    assert back.count() == 4000
    assert back.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(4000))

    # refuses to clobber an existing layout unless told to
    with pytest.raises(Exception):
        compact_parquet(spark, src, out, target_bytes=total)


def test_weighted_sample_degenerate_weights(spark):
    """Review findings: an all-zero (or negative-mean) weight corpus must
    yield an EMPTY sample, not all rows / an inverted decision."""
    from time_series_loader_spark.operators.sampling import weighted_sample

    zeros = spark.createDataFrame([(i, 0) for i in range(50)], "doc_id LONG, w INT")
    assert weighted_sample(zeros, "doc_id", "w", 0.5).count() == 0

    # negative weights clamp to 0 in BOTH numerator and mean: the
    # positive-weight rows still sample at ~fraction instead of being
    # wiped out by a negative raw mean
    mixed = spark.createDataFrame(
        [(i, -100 if i % 2 else 10) for i in range(400)], "doc_id LONG, w INT"
    )
    kept = [r["doc_id"] for r in weighted_sample(mixed, "doc_id", "w", 0.3).collect()]
    assert len(kept) > 0
    assert all(i % 2 == 0 for i in kept)  # clamped rows (w<0) never sampled


def test_weighted_sample_unusable_weights_leave_the_mean(spark):
    """Null and NaN weights are dropped AND left out of mean(w): the
    usable rows keep exactly the rows they keep with those rows removed
    (counting them would halve the mean and double every p)."""
    from time_series_loader_spark.operators.sampling import weighted_sample

    usable = [(i, 1.0) for i in range(200)]
    unusable = [(1000 + i, None if i % 2 else float("nan")) for i in range(200)]
    clean = spark.createDataFrame(usable, "doc_id LONG, w DOUBLE")
    dirty = spark.createDataFrame(usable + unusable, "doc_id LONG, w DOUBLE")
    want = {r["doc_id"] for r in weighted_sample(clean, "doc_id", "w", 0.1).collect()}
    got = {r["doc_id"] for r in weighted_sample(dirty, "doc_id", "w", 0.1).collect()}
    assert got == want and 0 < len(want) < 60


def test_shard_pack_rejects_string_keys(spark):
    rows = [("doc-%03d" % i, 5) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id STRING, w LONG")
    with pytest.raises(ValueError, match="numeric"):
        shard_pack(df, "doc_id", "w", budget=10)


def test_write_packed_shards_empty_input(spark, tmp_path):
    from time_series_loader_spark.sources.sink import write_packed_shards

    empty = spark.createDataFrame([], "doc_id LONG, n_tokens LONG")
    packed = shard_pack(empty, "doc_id", "n_tokens", budget=10)
    man = write_packed_shards(packed, str(tmp_path / "none"))
    assert man.count() == 0
    assert set(man.columns) == {"shard_id", "n_rows", "n_files"}


def test_sample_exact_k_excludes_null_keys_and_clean_schema(spark):
    from time_series_loader_spark.operators.sampling import sample_exact_k

    rows = [(None,)] * 60 + [(float(i),) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id DOUBLE")
    out = sample_exact_k(df, "doc_id", 50)
    got = [r["doc_id"] for r in out.collect()]
    assert len(got) == 50 and all(g is not None for g in got)
    assert out.columns == ["doc_id"]  # no helper rank column leaks


def test_quantile_bucket_deciles(spark):
    from time_series_loader_spark.operators.sampling import quantile_bucket

    rows = [(i, float(i)) for i in range(1000)] + [(1000, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, score DOUBLE")
    out = {r["doc_id"]: r["q_bucket"] for r in quantile_bucket(df, "score", 10).collect()}
    assert out[1000] is None
    # deciles of 0..999: value v lands in bucket ~v//100 (boundary values
    # fall LOW: x > b rule)
    assert out[0] == 0 and out[50] == 0
    assert out[500] == 5 or out[500] == 4  # 500 is near the exact median boundary
    assert out[999] == 9
    # every bucket holds ~100 rows
    from collections import Counter

    c = Counter(v for v in out.values() if v is not None)
    assert all(80 <= c[b] <= 120 for b in range(10))
    # partitioning invariant
    out2 = {
        r["doc_id"]: r["q_bucket"]
        for r in quantile_bucket(df.repartition(7), "score", 10).collect()
    }
    assert out == out2


def test_quantile_bucket_duckdb_differential(spark):
    import duckdb
    import pandas as pd

    from time_series_loader_spark.operators.sampling import quantile_bucket

    rows = [(i, float((i * 37) % 101) / 7.0) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, score DOUBLE")
    got = {r["doc_id"]: r["q_bucket"] for r in quantile_bucket(df, "score", 4).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "score"]))
    duck = dict(
        con.execute(
            """
            WITH b AS (SELECT quantile_cont(score, 0.25) q1, quantile_cont(score, 0.5) q2,
                              quantile_cont(score, 0.75) q3 FROM t)
            SELECT doc_id, CAST((score > q1) AS INT) + CAST((score > q2) AS INT)
                           + CAST((score > q3) AS INT)
            FROM t, b
            """
        ).fetchall()
    )
    assert got == duck


def test_quantile_bucket_with_unigram_scores(spark):
    """The CCNet pairing: bucket real testdata docs by their own-LM score."""
    from time_series_loader_spark.operators.sampling import quantile_bucket
    from time_series_loader_spark.operators.text import unigram_logprob
    from time_series_loader_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    scored = unigram_logprob(docs, "text", "doc_id")
    out = quantile_bucket(scored, "mean_logprob", 4)
    from collections import Counter

    c = Counter(r["q_bucket"] for r in out.collect())
    assert set(c) == {0, 1, 2, 3}
    assert sum(c.values()) == 500


def test_ppl_decile_boundary_margins(spark, sf_dir):
    """r6 parity canary for corpus_filter's ppl_decile: every document's
    mean_logprob on the REAL gate corpus must sit far (>1e-9) from every
    interpolated decile boundary, so cross-engine interpolation-rounding
    drift (~ulp) can never flip a bucket assignment."""
    import os

    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    from time_series_loader_spark.operators.text import (
        normalize_text,
        redact_pii,
        unigram_logprob,
    )
    from time_series_loader_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    # mirror q_corpus_filter's r7 lineage exactly — PII graft + unicode
    # graft + NFC normalize + scrub, pinned-ln logp — the gate's deciles
    # are computed over THIS text with THESE integer micro-units
    # (unigram_logprob(pinned_ln=True) produces the identical
    # logp_u/mean values as the slot's str_to_map literal fold)
    graft = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +123 456 789"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        )
    )
    ugraft = F.when(
        F.col("doc_id") % 3 == 0, F.lit(" café zw​sp")
    ).otherwise(F.lit(""))
    grafted = normalize_text(
        docs.withColumn("text", F.concat(F.col("text"), graft, ugraft)),
        "text",
        form="NFC",
        strip_controls=True,
    )
    clean = (
        redact_pii(grafted, "text", out_col="text_clean", count_col="n_pii")
        .drop("text")
        .withColumnRenamed("text_clean", "text")
    )
    uni = unigram_logprob(clean, "text", "doc_id", pinned_ln=True)
    qs = [i / 10 for i in range(1, 10)]
    bounds = uni.agg(
        F.percentile("mean_logprob", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    vals = [r[0] for r in uni.select("mean_logprob").collect()]
    margin = min(abs(v - b) for v in vals for b in bounds)
    assert margin > 1e-9, f"decile boundary margin too small: {margin}"


def test_exact_k_per_group(spark):
    """Per-stratum exact-k: exactly min(k, n_g) rows per group,
    deterministic, salt-independent draws, displacement <= 1 per group
    on insert — the per-group mirror of the sample_exact_k contracts."""
    from time_series_loader_spark.operators.sampling import sample_exact_k_per_group

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(90)] + [
        (1000, "tiny"), (1001, "tiny")
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = sample_exact_k_per_group(df, "doc_id", ["lang"], k=5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert {l: len(v) for l, v in by_lang.items()} == {
        "en": 5, "de": 5, "fr": 5, "tiny": 2
    }
    # deterministic across reruns and partitionings
    again = sample_exact_k_per_group(df.repartition(13), "doc_id", ["lang"], 5).collect()
    assert {(r["doc_id"], r["lang"]) for r in again} == {
        (r["doc_id"], r["lang"]) for r in out
    }
    # independent draw under a different salt (overwhelmingly likely to differ)
    salted = sample_exact_k_per_group(df, "doc_id", ["lang"], 5, salt="x").collect()
    assert {r["doc_id"] for r in salted} != {r["doc_id"] for r in out}
    # consistency under insert: adding one row changes each group by <= 1
    df2 = df.union(spark.createDataFrame([(5000, "en")], "doc_id LONG, lang STRING"))
    after = sample_exact_k_per_group(df2, "doc_id", ["lang"], 5).collect()
    by_lang2 = {}
    for r in after:
        by_lang2.setdefault(r["lang"], set()).add(r["doc_id"])
    for lang in by_lang:
        assert len(by_lang[lang] - by_lang2.get(lang, set())) <= 1, lang
    # null keys excluded
    df3 = spark.createDataFrame([(None, "en"), (1, "en")], "doc_id LONG, lang STRING")
    got = sample_exact_k_per_group(df3, "doc_id", ["lang"], 5).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_quantile_bucket_approx_mode(spark):
    """exact=False (t-digest boundaries) must agree with exact deciles
    except possibly for edge-adjacent rows; on a small frame the sketch
    is exact, so assignments match outright."""
    from time_series_loader_spark.operators.sampling import quantile_bucket

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id LONG, v DOUBLE"
    )
    ex = {r["id"]: r["q_bucket"] for r in quantile_bucket(df, "v").collect()}
    ap = {r["id"]: r["q_bucket"]
          for r in quantile_bucket(df, "v", exact=False).collect()}
    diffs = sum(1 for k in ex if ex[k] != ap[k])
    assert diffs <= 10  # ≤ one edge-adjacent row per boundary
    assert set(ap.values()) == set(range(10))
