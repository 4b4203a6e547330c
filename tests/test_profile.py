"""Column profiling (reference: bigquery.go:386-411 aggregates)."""

from __future__ import annotations

import pytest

from meteor_spark.operators.profile import profile_columns, profile_df


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "b"), (4, None, None)],
        "id long, val double, cat string",
    )


def test_profile_columns_wide(df):
    p, rows = profile_columns(df, exact=True)
    assert rows == 4  # count(1): the all-null row counts
    assert p["id"]["min"] == "1" and p["id"]["max"] == "4"
    assert p["id"]["count"] == 4 and p["id"]["unique"] == 4
    assert p["val"]["count"] == 3  # nulls excluded (COUNT(col))
    assert p["val"]["avg"] == 20.0 and p["val"]["med"] == 20.0
    assert p["cat"]["top"] == "b"


def test_profile_df_exact(df):
    rows = {r["column"]: r.asDict() for r in profile_df(df).collect()}
    assert rows["id"]["min"] == "1"           # integral renders without .0
    assert rows["val"]["min"] == "10.0"       # fractional keeps .0
    assert rows["val"]["med"] == 20.0
    assert rows["id"]["med"] == 2.5           # interpolated even count
    assert rows["cat"]["unique"] == 2 and rows["cat"]["count"] == 3
    assert rows["cat"]["avg"] is None and rows["cat"]["med"] is None
    assert rows["cat"]["top"] == "b"


def test_profile_df_mode_deterministic_ties(spark):
    # tie on frequency -> smallest value wins (documented determinism)
    df = spark.createDataFrame([(1,), (1,), (2,), (2,), (3,)], "x long")
    rows = {r["column"]: r.asDict() for r in profile_df(df).collect()}
    assert rows["x"]["top"] == "1"


def test_profile_skips_complex_types(spark):
    df = spark.createDataFrame([(1, [1, 2])], "id long, arr array<long>")
    p, _ = profile_columns(df)
    assert "arr" not in p  # bigquery.go:340-343 skips repeated/record


def test_median_interpolation_matches_duckdb(spark):
    import duckdb

    vals = [1.0, 3.0, 7.0, 20.0, 21.0, 100.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r["column"]: r.asDict() for r in profile_df(df).collect()}
    expected = duckdb.sql(
        "SELECT round(median(x), 4) FROM (SELECT unnest(?::DOUBLE[]) AS x)", params=[vals]
    ).fetchone()[0]
    assert rows["x"]["med"] == expected


def test_weighted_median_hand_worked(spark):
    from meteor_spark.operators.profile import weighted_median

    # group g: values 1,2,3 weights 1,1,10 -> total 12, half 6 -> median 3
    # group h: values 5,6 weights 3,1 -> total 4, half 2 -> median 5
    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0),
         ("h", 5.0, 3.0), ("h", 6.0, 1.0)],
        "k string, v double, w double",
    )
    out = {r["k"]: r for r in weighted_median(df, "v", "w", ["k"]).collect()}
    assert out["g"]["weighted_median"] == 3.0 and out["g"]["total_weight"] == 12.0
    assert out["h"]["weighted_median"] == 5.0


def test_weighted_median_unit_weights_equal_plain_median(spark, sf_dir):
    from pyspark.sql import functions as F

    from meteor_spark.operators.profile import weighted_median

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn("one", F.lit(1.0))
    wm = {
        r["event_type"]: r["weighted_median"]
        for r in weighted_median(ev, "value", "one", ["event_type"]).collect()
    }
    # weight==1 weighted median = lower median (smallest v with cum >= n/2)
    for r in ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5, 1)").alias("ignore"),
        F.sort_array(F.collect_list("value")).alias("vs"),
    ).collect():
        vs = r["vs"]; n = len(vs)
        lower = vs[(n - 1) // 2] if n % 2 else vs[n // 2 - 1]
        assert abs(wm[r["event_type"]] - round(lower, 2)) < 1e-9


def test_functional_dependencies_detects_key_and_rejects_nonkey(spark):
    from meteor_spark.operators.profile import functional_dependencies

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 20), (4, "c", 20)],
        "k int, name string, grp int",
    )
    fds = {
        (r["det"], r["dep"]): r["holds"]
        for r in functional_dependencies(df, ["k", "name", "grp"]).collect()
    }
    assert fds[("k", "name")] and fds[("k", "grp")]          # k is a key
    assert fds[("name", "grp")]                               # name -> grp holds here
    assert not fds[("grp", "name")]                           # grp 20 -> c only, 10 -> a,b
    assert not fds[("name", "k")] is True or True             # name 'c' maps to 3,4
    assert fds[("name", "k")] is False


def test_functional_dependencies_null_dependent_breaks_fd(spark):
    # a=1 maps to both 'x' and NULL: the FD must NOT hold. The naive
    # count_distinct(a, b) drops b-IS-NULL rows and reports it holding;
    # the null-safe struct composite counts NULL as a distinct mapping.
    from meteor_spark.operators.profile import functional_dependencies

    df = spark.createDataFrame(
        [(1, "x"), (1, None), (2, "y"), (None, "z")],
        "a int, b string",
    )
    fds = {
        (r["det"], r["dep"]): r
        for r in functional_dependencies(df, ["a", "b"]).collect()
    }
    r = fds[("a", "b")]
    assert r["n_det"] == 2            # NULL determinant excluded
    assert r["n_pairs"] == 3          # (1,'x'), (1,NULL), (2,'y')
    assert r["holds"] is False
    # b -> a: 'x'->1, NULL-det row excluded, 'y'->2, 'z'->NULL distinct
    r2 = fds[("b", "a")]
    assert r2["n_det"] == 3 and r2["n_pairs"] == 3 and r2["holds"] is True


def test_inclusion_dependency_counts_violations(spark):
    from meteor_spark.operators.profile import inclusion_dependency

    child = spark.createDataFrame([(1,), (2,), (2,), (9,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = inclusion_dependency(child, "fk", parent, "pk").collect()[0]
    assert row["n_child_values"] == 3      # 1, 2, 9 (null ignored)
    assert row["violations"] == 1          # 9
    assert row["holds"] is False


def test_weighted_percentiles_monotone_and_match_median(spark):
    from meteor_spark.operators.profile import weighted_median, weighted_percentiles

    df = spark.createDataFrame(
        [("g", float(v), 1.0) for v in range(1, 101)], "k string, v double, w double"
    )
    row = weighted_percentiles(df, "v", "w", ["k"]).collect()[0]
    assert row["wp25"] <= row["wp50"] <= row["wp75"] <= row["wp95"]
    assert row["wp25"] == 25.0 and row["wp50"] == 50.0 and row["wp95"] == 95.0
    med = weighted_median(df, "v", "w", ["k"]).collect()[0]["weighted_median"]
    assert row["wp50"] == med


def test_footer_stats_match_scanned_data(spark, sf_dir, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meteor_spark.operators.profile import footer_stats

    # multi-row-group file with nulls: footer aggregation must merge
    # row-group stats and count nulls across groups
    t = pa.table({"x": pa.array([1.0, None, 3.0, -2.0, 8.0, None], pa.float64())})
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=2)
    assert pq.read_metadata(p).num_row_groups == 3
    row = footer_stats(spark, p, ["x"]).collect()[0]
    assert row["n_rows"] == 6 and row["null_count"] == 2
    assert row["min_value"] == -2.0 and row["max_value"] == 8.0


def test_mad_outliers_hand_checked(spark):
    from meteor_spark.operators.profile import mad_outlier_report

    # group a: med=3, adevs {2,1,0,1,2,97} -> mad=1.5;
    # 100 is an outlier (0.6745*97 > 3.5*1.5), the rest are not
    vals = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 5.0, 100.0]]
    # group b: constant -> mad=0 -> no outliers, no div blow-up
    vals += [("b", 7.0)] * 5
    df = spark.createDataFrame(vals, "k string, v double")
    rows = {r["k"]: r for r in mad_outlier_report(df, "k", "v").collect()}
    a = rows["a"]
    assert a["med"] == 3.5 and a["mad"] == 1.5 and a["n"] == 6
    assert a["n_outliers"] == 1
    b = rows["b"]
    assert b["med"] == 7.0 and b["mad"] == 0.0 and b["n_outliers"] == 0
