"""Compare tests (reference parity: test/compare/)."""

import time

import pytest

from parq_tools_spark.operators.compare import compare_dataframes, compare_parquet_files


def test_identical_files_match(spark, wide_tables):
    report = compare_parquet_files(spark, wide_tables["wide_1"], wide_tables["wide_1"])
    assert report["row_count_match"]
    assert report["schema_match"]
    assert report["content_match"]
    assert all(report["column_match"].values())


def test_schema_diff_reported(spark, wide_tables):
    report = compare_parquet_files(spark, wide_tables["wide_1"], wide_tables["wide_2"])
    assert report["columns_only_in_first"] == ["a"]
    assert report["columns_only_in_second"] == ["b"]
    assert not report["schema_match"]


def test_value_change_localized_to_column(spark):
    df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k int, s string, v double")
    df2 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 99.0)], "k int, s string, v double")
    report = compare_dataframes(df1, df2)
    assert report["column_match"] == {"k": True, "s": True, "v": False}
    assert report["content_match"] is False


def test_row_order_is_ignored(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    df2 = spark.createDataFrame([(2, "b"), (1, "a")], "k int, s string")
    report = compare_dataframes(df1, df2)
    assert report["content_match"] is True


def test_row_count_mismatch(spark):
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(1,), (1,)], "k int")
    report = compare_dataframes(df1, df2)
    assert report["row_counts"] == (1, 2)
    assert report["content_match"] is False


def test_dtype_mismatch_reported(spark):
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(1.0,)], "k double")
    report = compare_dataframes(df1, df2)
    assert report["dtype_mismatches"] == {"k": ("int", "double")}
    assert not report["schema_match"]
    # every common column is mismatched: nothing left to compare
    assert report["column_match"] == {}
    assert report["content_match"] is False


def test_compare_identical_frames_with_nulls(spark):
    """Multiset equality must treat NULL keys as equal (exceptAll
    semantics): a frame with NULL cells equals itself."""
    from parq_tools_spark.operators.compare import compare_dataframes

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, None)], "k int, v string"
    )
    r = compare_dataframes(df, spark.createDataFrame(df.collect(), df.schema))
    assert r["content_match"] is True
    assert r["column_match"] == {"k": True, "v": True}
    # and a genuine NULL-pattern difference is still caught
    df2 = spark.createDataFrame(
        [(1, "a"), (2, "x"), (None, None)], "k int, v string"
    )
    r = compare_dataframes(df, df2)
    assert r["column_match"] == {"k": True, "v": False}
    assert r["content_match"] is False


NAN = float("nan")
KV, KS = "k int, v double", "k int, s string"
SD = "s struct<a:int,d:double>"
MAP = "m map<string,double>"


@pytest.mark.parametrize(
    "schema, rows1, rows2, kwargs, column_match, content_match",
    [
        # the sign of a zero is part of the value, as in the reference's
        # byte-level hashes
        pytest.param(
            KV, [(1, -0.0)], [(1, 0.0)], {}, {"k": True, "v": False}, False,
            id="negative-zero",
        ),
        # rows that differ only by where the signed zeros sit: every
        # fingerprint matches, the multiset check tells them apart
        pytest.param(
            KV, [(1, -0.0), (2, 0.0)], [(1, 0.0), (2, -0.0)], {},
            {"k": True, "v": True}, False,
            id="negative-zero-swapped",
        ),
        pytest.param(
            KV, [(1, NAN), (2, None)], [(2, None), (1, NAN)], {},
            {"k": True, "v": True}, True,
            id="nan-equals-nan",
        ),
        # values swapped across two rows: each column holds the same
        # multiset, the rows do not
        pytest.param(
            KS, [(1, "a"), (2, "b")], [(1, "b"), (2, "a")], {},
            {"k": True, "s": True}, False,
            id="values-swapped-across-rows",
        ),
        pytest.param(
            KS, [(1, "a")], [(1, "b")], {"check_content": False}, {}, None,
            id="no-content-check",
        ),
        pytest.param(
            KS, [(1, "a")], [(1, "b")], {"columns": ["k"]}, {"k": True}, True,
            id="columns-subset",
        ),
        pytest.param("k int", [], [(1,)], {}, {"k": False}, False, id="empty-first"),
        pytest.param("k int", [], [], {}, {"k": True}, True, id="both-empty"),
        # a nested value whose string form collides ("{x, y, z, 1.0}")
        pytest.param(
            "s struct<a:string,b:string,d:double>",
            [(("x, y", "z", 1.0),)],
            [(("x", "y, z", 1.0),)],
            {},
            {"s": True},
            False,
            id="struct-string-collision",
        ),
        pytest.param(
            SD, [((1, -0.0),)], [((1, 0.0),)], {}, {"s": False}, False,
            id="struct-negative-zero",
        ),
        pytest.param(
            f"{SD}, a array<double>",
            [(None, [1.0, None]), ((None, None), None)],
            [((None, None), None), (None, [1.0, None])],
            {},
            {"s": True, "a": True},
            True,
            id="nested-nulls",
        ),
        pytest.param(
            MAP, [({"a": 1.0},)], [({"a": 1.0},)], {}, {"m": True}, True, id="map"
        ),
        pytest.param(
            MAP, [({"a": -0.0},)], [({"a": 0.0},)], {}, {"m": False}, False,
            id="map-negative-zero",
        ),
        pytest.param(
            "f float", [(1.5,), (-0.0,)], [(-0.0,), (1.5,)], {}, {"f": True}, True,
            id="float",
        ),
    ],
)
def test_compare_report_matrix(
    spark, schema, rows1, rows2, kwargs, column_match, content_match
):
    df1 = spark.createDataFrame(rows1, schema)
    df2 = spark.createDataFrame(rows2, schema)
    r = compare_dataframes(df1, df2, **kwargs)
    assert r["row_counts"] == (len(rows1), len(rows2))
    assert r["row_count_match"] is (len(rows1) == len(rows2))
    assert r["schema_match"] is True
    assert r["column_match"] == column_match
    assert r["content_match"] is content_match


def test_compare_no_common_columns(spark):
    df1 = spark.createDataFrame([(1,)], "a int")
    r = compare_dataframes(df1, spark.createDataFrame([(1,), (2,)], "b int"))
    assert r["row_counts"] == (1, 2)
    assert r["columns_only_in_first"] == ["a"]
    assert r["columns_only_in_second"] == ["b"]
    assert r["column_match"] == {}
    assert r["content_match"] is None


def test_compare_dataframes_job_count(spark, wide_tables):
    """Counts, fingerprints and the multiset check come from one grouped
    and one global aggregate: at most three jobs, not a count, a
    fingerprint scan and an aggregation per side plus a join."""
    from parq_tools_spark.sources.parquet_io import read_parquet

    sc = spark.sparkContext
    df1 = read_parquet(spark, wide_tables["wide_1"])
    df2 = read_parquet(spark, wide_tables["wide_1"])
    group = f"compare_jobs_{time.monotonic_ns()}"
    sc.setJobGroup(group, "compare_dataframes job count")
    try:
        r = compare_dataframes(df1, df2)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert r["content_match"] is True
    assert 0 < len(jobs) <= 3


def test_group_overlap_report_exact_and_approximate(spark):
    from pyspark.sql import functions as F

    from parq_tools_spark.operators.compare import group_overlap_report

    # small sets: theta sketches are in exact mode
    rows = (
        [("a", k) for k in range(100)]
        + [("b", k) for k in range(50, 150)]
        + [("c", k) for k in range(200, 210)]
    )
    df = spark.createDataFrame(rows, "g string, k long")
    got = {
        (r.group_a, r.group_b): (r.n_common_est, r.n_union_est, r.jaccard_est)
        for r in group_overlap_report(df, "g", "k").collect()
    }
    assert got[("a", "b")] == (50, 150, 50 / 150)
    assert got[("a", "c")] == (0, 110, 0.0)
    assert got[("b", "c")] == (0, 110, 0.0)
    # beyond the 4096-hash retention: estimates, within ~5%
    big = spark.range(40000).select(
        F.when(F.col("id") < 30000, F.lit("x")).otherwise(F.lit("y")).alias("g"),
        (F.col("id") % 25000).alias("k"),  # y: k 5000..14999, all inside x
    )
    est = {
        (r.group_a, r.group_b): r
        for r in group_overlap_report(big, "g", "k").collect()
    }[("x", "y")]
    assert abs(est.n_common_est - 10000) / 10000 < 0.05
    assert abs(est.n_union_est - 25000) / 25000 < 0.05


def test_group_overlap_null_group_excluded_and_no_nan(spark):
    from parq_tools_spark.operators.compare import group_overlap_report

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), ("b", None), ("c", None)],
        "g string, k long",
    )
    rows = {
        (r.group_a, r.group_b): r
        for r in group_overlap_report(df, "g", "k").collect()
    }
    # NULL group never appears in any pair
    assert all(None not in k for k in rows)
    # b and c hold only NULL keys: empty sketches -> jaccard 0, not NaN
    bc = rows[("b", "c")]
    assert (bc.n_common_est, bc.n_union_est, bc.jaccard_est) == (0, 0, 0.0)
