"""One-pass table profiler (operators/profile.py)."""

import duckdb
import pytest

from time_series_loader_spark.operators.profile import profile_table


@pytest.fixture(scope="module")
def tbl(spark):
    rows = [
        (1, "a", 10.0, [1, 2]),
        (2, "b", None, [3]),
        (3, "a", 30.0, None),
        (4, None, 20.0, [1, 2]),
    ]
    return spark.createDataFrame(rows, "id LONG, s STRING, v DOUBLE, arr ARRAY<INT>")


def test_profile_exact_stats(spark, tbl):
    prof = {r["column"]: r for r in profile_table(tbl, approx=False).collect()}
    assert set(prof) == {"id", "s", "v", "arr"}
    assert all(r["n_rows"] == 4 for r in prof.values())

    assert prof["s"]["n_nonnull"] == 3
    assert prof["s"]["null_frac"] == 0.25
    assert prof["s"]["n_distinct"] == 2
    assert prof["s"]["min_str"] == "a" and prof["s"]["max_str"] == "b"
    assert prof["s"]["mean"] is None and prof["s"]["stddev"] is None

    assert prof["v"]["n_nonnull"] == 3
    assert prof["v"]["mean"] == 20.0
    assert abs(prof["v"]["stddev"] - 10.0) < 1e-9
    assert prof["v"]["min_str"] == "10.0" and prof["v"]["max_str"] == "30.0"

    # complex type: counts + distincts profile, no min/max
    assert prof["arr"]["n_nonnull"] == 3
    assert prof["arr"]["n_distinct"] == 2  # [1,2] appears twice
    assert prof["arr"]["min_str"] is None and prof["arr"]["max_str"] is None


def test_profile_is_one_aggregation_pass(spark, tbl):
    plan = (
        profile_table(tbl, approx=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one scan feeding one partial/final aggregate pair — not a pass per column
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") <= 1
    assert plan.count("Exchange") <= 1


def test_profile_approx_close_to_exact_on_testdata(spark):
    from time_series_loader_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    prof = {r["column"]: r for r in profile_table(docs, approx=True).collect()}
    assert prof["doc_id"]["n_rows"] == 500
    assert prof["doc_id"]["null_frac"] == 0.0
    # HLL at 5% rsd on 500 distinct ids
    assert abs(prof["doc_id"]["n_distinct"] - 500) <= 50


def test_profile_duckdb_parity_exact(spark, tbl):
    """Exact mode agrees with a DuckDB profile of the same frame (simple
    columns; the oracle dialect has no typed-struct cast quirks here)."""
    pdf = tbl.select("id", "s", "v").toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.execute(
        """
        SELECT count(*) AS n_rows, count(s) AS nn_s, count(DISTINCT s) AS nd_s,
               min(s) AS min_s, count(v) AS nn_v,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE)/count(v) AS mean_v,
               stddev_samp(v) AS std_v
        FROM t
        """
    ).fetchone()
    prof = {r["column"]: r for r in profile_table(tbl.select("id", "s", "v"), approx=False).collect()}
    assert prof["s"]["n_rows"] == duck[0]
    assert prof["s"]["n_nonnull"] == duck[1]
    assert prof["s"]["n_distinct"] == duck[2]
    assert prof["s"]["min_str"] == duck[3]
    assert prof["v"]["n_nonnull"] == duck[4]
    assert prof["v"]["mean"] == duck[5]
    assert abs(prof["v"]["stddev"] - duck[6]) < 1e-12


def test_profile_unknown_column_raises(spark, tbl):
    with pytest.raises(ValueError, match="nope"):
        profile_table(tbl, cols=["nope"])


def test_profile_empty_frame(spark):
    df = spark.createDataFrame([], "id LONG, v DOUBLE")
    prof = {r["column"]: r for r in profile_table(df, approx=False).collect()}
    assert prof["id"]["n_rows"] == 0
    assert prof["id"]["null_frac"] is None
    assert prof["v"]["mean"] is None


def test_profile_mean_skips_nan_and_propagates_inf(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (float("nan"), float("inf")), (2.0, 2.0)], "a DOUBLE, b DOUBLE"
    )
    prof = {r["column"]: r for r in profile_table(df, approx=False).collect()}
    assert prof["a"]["mean"] == pytest.approx(1.5)  # pandas mean of [1, NaN, 2]
    assert prof["b"]["mean"] == float("inf")
    # the other facets skip NaN too: pandas describe gives count 2, max 2, std 0.7071
    a = prof["a"]
    assert (a["n_nonnull"], a["n_distinct"], a["min_str"], a["max_str"]) == (2, 2, "1.0", "2.0")
    assert a["null_frac"] == pytest.approx(1 / 3)
    assert a["stddev"] == pytest.approx(0.70710678)
