"""Core profile operator tests.

Mirrors the reference's tracker unit tests (SURVEY.md §5):
- ColumnProfileTest.java:36-66 null/NaN/Inf/null-string handling
- ColumnProfileTest.java:69-87 merge doubling
- SchemaTrackerTest.java:43-112 type-inference decision tree
- VarianceTrackerTest.java:13-92 variance vs an independent oracle (numpy)
- DatasetProfileAggregatorTest.scala:48-84 group counts sum to total,
  group column excluded from profiling
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark import (
    finalize_profile,
    merge_profile_atoms,
    profile,
    profile_atoms,
)


def _by_col(rows):
    return {r["column_name"]: r for r in rows}


def test_null_nan_inf_nullstrings(spark):
    # ColumnProfileTest.java:36-66 semantics on a single mixed column set
    data = [
        (1.0, "a", True),
        (float("nan"), "nil", False),
        (float("inf"), None, None),
        (None, "null", True),
        (2.0, "b", True),
    ]
    df = spark.createDataFrame(data, "x double, s string, b boolean")
    rows = _by_col(profile(df, null_strings=["nil", "null", "NaN", "nan"]).collect())

    x = rows["x"]
    assert x["count"] == 5
    assert x["null_count"] == 3  # None, NaN, Inf
    assert x["n"] == 2
    assert x["min"] == 1.0 and x["max"] == 2.0 and x["mean"] == 1.5

    s = rows["s"]
    assert s["null_count"] == 3  # None, "nil", "null"
    assert s["string_count"] == 2
    assert s["inferred_type"] == "NULL"  # 3/5 nulls: majority > 0.5

    b = rows["b"]
    assert b["true_count"] == 3
    assert b["boolean_count"] == 4
    assert b["inferred_type"] == "BOOLEAN"  # 4/5 > 0.7


def test_group_counts_sum_to_total_and_exclusion(spark):
    # DatasetProfileAggregatorTest.scala:48-84
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    total = df.count()
    p = profile(df, group_by=["l_returnflag"])
    assert "l_returnflag" not in [r["column_name"] for r in p.collect()]
    counts = (
        p.filter(F.col("column_name") == "l_quantity")
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    assert counts == total


def test_variance_matches_numpy(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = _by_col(profile(df).collect())
    vals = np.array([r["l_extendedprice"] for r in df.select("l_extendedprice").collect()])
    assert p["l_extendedprice"]["variance"] == pytest.approx(vals.var(ddof=1), rel=1e-9)
    # outputs are rounded to 6 decimals, so compare at matching precision
    assert p["l_extendedprice"]["mean"] == pytest.approx(vals.mean(), abs=1e-5)
    assert p["l_extendedprice"]["stddev"] == pytest.approx(vals.std(ddof=1), rel=1e-9)


def test_merge_equals_whole(spark):
    # DatasetProfileTest merge invariant: profile(A) ⊕ profile(B) == profile(A∪B)
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    keys = ["l_returnflag"]
    a = profile_atoms(df.filter("l_orderkey % 2 = 0"), group_by=keys)
    b = profile_atoms(df.filter("l_orderkey % 2 = 1"), group_by=keys)
    merged = finalize_profile(merge_profile_atoms(a.unionByName(b), keys), keys)
    whole = profile(df, group_by=keys)

    key = lambda r: (r["l_returnflag"], r["column_name"])
    m = {key(r): r for r in merged.collect()}
    w = {key(r): r for r in whole.collect()}
    assert set(m) == set(w)
    for k in w:
        for f in ("count", "null_count", "n", "min", "max", "sum", "mean", "variance", "stddev"):
            mv, wv = m[k][f], w[k][f]
            if isinstance(mv, float) and isinstance(wv, float):
                assert mv == pytest.approx(wv, rel=1e-12, abs=1e-12), (k, f)
            else:
                assert mv == wv, (k, f)


def test_finalize_profile_schema(spark):
    # the finalized summary is read by field name downstream (protobuf
    # ColumnMessage assembly, drift, the monitor): pin the column order and
    # the Spark type of every field, so a type drift (e.g. n long -> double)
    # fails here rather than in a name-sorted, stringified value compare
    df = spark.createDataFrame(
        [("a", 1, 2.5, "x y"), ("b", None, float("nan"), None)],
        "k string, i long, d double, s string",
    )
    out = finalize_profile(profile_atoms(df, group_by=["k"]), ["k"])
    suite = ["n", "min", "max", "sum", "mean", "variance", "stddev"]
    suite_types = ["bigint"] + ["double"] * 6
    expected = (
        [("k", "string"), ("column_name", "string")]
        + [
            (f, "bigint")
            for f in (
                "count", "null_count", "true_count", "integral_count",
                "fractional_count", "boolean_count", "string_count",
                "unknown_count",
            )
        ]
        + [("inferred_type", "string")]
        + [
            (pre + f, t)
            for pre in ("", "len_", "tok_")
            for f, t in zip(suite, suite_types)
        ]
    )
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    assert got == expected
    assert out.count() == 6


def test_variance_edge_cases(spark):
    # VarianceTracker.java:31-46: n==1 -> 0; n==0 -> NULL (ref: NaN)
    df = spark.createDataFrame([(1.0,)], "x double")
    r = _by_col(profile(df).collect())["x"]
    assert r["variance"] == 0.0 and r["stddev"] == 0.0
    df0 = spark.createDataFrame([(None,)], "x double")
    r0 = _by_col(profile(df0).collect())["x"]
    assert r0["variance"] is None and r0["mean"] is None


@pytest.mark.parametrize(
    "mix,expected",
    [
        # SchemaTrackerTest.java:43-112 shapes (coerce_strings mode)
        ({"s": 80, "i": 20}, "STRING"),  # >70% strings
        ({"f": 60, "i": 40}, "FRACTIONAL"),  # int folds into fractional
        ({"i": 60, "s": 40}, "INTEGRAL"),  # majority > 0.5
        ({"s": 40, "i": 30, "f": 30}, "STRING"),  # string > int+frac? 40 < 60 -> FRACTIONAL
    ],
)
def test_type_inference_coercion(spark, mix, expected):
    vals = (
        ["word%d" % i for i in range(mix.get("s", 0))]
        + [str(i) for i in range(mix.get("i", 0))]
        + ["%d.5" % i for i in range(mix.get("f", 0))]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    r = _by_col(profile(df, coerce_strings=True).collect())["v"]
    if mix == {"s": 40, "i": 30, "f": 30}:
        # string(40) NOT > int+frac(60) -> falls through; no type > 0.5;
        # frac+int = 60% > 0.5 -> FRACTIONAL (SchemaTracker.java:94-100)
        expected = "FRACTIONAL"
    assert r["inferred_type"] == expected, r


def test_string_length_token_stats(spark):
    # StringTrackerTest.java:17-123 style
    df = spark.createDataFrame(
        [("To be or not to be that is the question",), ("ab",)], "t string"
    )
    r = _by_col(profile(df).collect())["t"]
    assert r["len_min"] == 2.0 and r["len_max"] == 39.0
    assert r["tok_min"] == 1.0 and r["tok_max"] == 10.0
    assert r["tok_mean"] == pytest.approx(5.5)


def test_coercion_feeds_value_trackers(spark):
    # TypedDataConverter.java:62-84 -> ColumnProfile.track: a coerced value
    # updates the tracker of its COERCED type — parsed integrals/
    # fractionals feed the numeric suite, 'true' increments trueCount, and
    # coerced values never reach the string length/token suites
    vals = ["12", "3.5", "true", "False", "hello world", "NA", "+ 7", "- 2.5", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    r = _by_col(profile(df, null_strings=["NA"], coerce_strings=True).collect())["v"]
    assert r["count"] == 9 and r["null_count"] == 2
    assert r["integral_count"] == 2      # "12", "+ 7"
    assert r["fractional_count"] == 2    # "3.5", "- 2.5"
    assert r["boolean_count"] == 2       # "true", "False"
    assert r["string_count"] == 1        # "hello world"
    assert r["true_count"] == 1          # only "true"
    # numeric suite over the parsed values {12, 3.5, 7, -2.5}
    assert r["n"] == 4
    assert r["min"] == -2.5 and r["max"] == 12.0
    assert r["sum"] == pytest.approx(20.0)
    assert r["mean"] == pytest.approx(5.0)
    # string suites over the single STRING-counted value only
    assert r["len_n"] == 1 and r["len_min"] == 11.0 and r["len_max"] == 11.0
    assert r["tok_n"] == 1 and r["tok_min"] == 2.0 and r["tok_max"] == 2.0


def test_token_count_java_split_semantics(spark):
    # Java String.split(" ") (StringTracker.java:25): trailing empties
    # drop ('a b ' -> 2), '' -> [''] -> 1, all-spaces -> [] -> 0, inner
    # empties kept ('a  b' -> 3)
    df = spark.createDataFrame(
        [("a b ",), ("",), ("   ",), ("a  b",)], "t string"
    )
    r = _by_col(profile(df).collect())["t"]
    assert r["tok_n"] == 4
    assert r["tok_min"] == 0.0 and r["tok_max"] == 3.0
    assert r["tok_mean"] == pytest.approx(1.5)


def test_check_constraints_grouped_and_summary(spark):
    from whylogs_java_spark.operators.constraints import (
        check_constraints,
        constraints_summary,
    )
    from whylogs_java_spark.operators.profile import profile

    df = spark.createDataFrame(
        [("a", 1.0, "x"), ("a", 3.0, None), ("b", 10.0, "y"), ("b", None, "z")],
        "g string, v double, s string",
    )
    prof = profile(df, group_by=["g"])
    rules = [
        ("v", "null_rate", "<=", "0.1"),     # fails in group b (0.5)
        ("v", "max", "<=", "100"),           # passes both groups
        ("s", "inferred_type", "==", "STRING"),
        ("s", "mean", ">=", "0"),            # NULL observed -> fails
    ]
    out = check_constraints(prof, rules, keys=["g"]).collect()
    got = {(r["g"], r["rule_id"]): r["passed"] for r in out}
    assert got[("a", 0)] is True and got[("b", 0)] is False
    assert got[("a", 1)] is True and got[("b", 1)] is True
    assert got[("a", 2)] is True and got[("b", 2)] is True
    assert got[("a", 3)] is False and got[("b", 3)] is False

    summ = {
        r["rule_id"]: (r["n_groups"], r["n_failed"], r["passed"])
        for r in constraints_summary(
            check_constraints(prof, rules, keys=["g"])
        ).collect()
    }
    assert summ[0] == (2, 1, False)
    assert summ[1] == (2, 0, True)
    assert summ[3] == (2, 2, False)


def test_check_constraints_validates_rules(spark):
    import pytest as _pytest

    from whylogs_java_spark.operators.constraints import check_constraints
    from whylogs_java_spark.operators.profile import profile

    prof = profile(spark.createDataFrame([(1.0,)], "v double"))
    with _pytest.raises(ValueError, match="string metric"):
        check_constraints(prof, [("v", "inferred_type", "<=", "STRING")])
    with _pytest.raises(ValueError, match="unknown op"):
        check_constraints(prof, [("v", "mean", "~", "1")])


def test_constraints_over_sketch_summary_store(spark, tmp_path):
    # the sketch-store gate: windowed sketch profiles (streaming store
    # rows) -> merge -> sketch_summary long format -> the SAME
    # check_constraints evaluates cardinality expectations
    from whylogs_java_spark.operators.approx import (
        merge_sketch_profiles,
        sketch_profile,
        sketch_summary,
    )
    from whylogs_java_spark.operators.constraints import check_constraints

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_linestatus"
    )
    halves = [
        sketch_profile(li.where(F.col("l_orderkey") % 2 == i)) for i in (0, 1)
    ]
    store = str(tmp_path / "store")
    halves[0].write.parquet(store)
    halves[1].write.mode("append").parquet(store)
    summary = sketch_summary(merge_sketch_profiles(spark.read.parquet(store)))
    rules = [
        ("l_quantity", "unique_theta", "<=", "100"),     # 50 distinct
        ("l_quantity", "unique_theta", ">=", "10"),
        ("l_linestatus", "unique_hll", "<=", "5"),       # 2 distinct
        ("l_orderkey", "unique_theta", ">", "1000000"),  # fails
    ]
    got = {
        r["rule_id"]: r["passed"]
        for r in check_constraints(summary, rules).collect()
    }
    assert got == {0: True, 1: True, 2: True, 3: False}


def test_check_constraints_missing_column_fails(spark):
    from whylogs_java_spark.operators.constraints import check_constraints
    from whylogs_java_spark.operators.profile import profile

    prof = profile(spark.createDataFrame([(1.0,)], "v double"))
    out = check_constraints(
        prof, [("v", "count", ">=", "1"), ("no_such_col", "count", ">=", "1")]
    ).collect()
    got = {r["rule_id"]: r["passed"] for r in out}
    # the typo'd rule surfaces as a FAILING row, not a silent no-op
    assert got == {0: True, 1: False}


def test_quantile_constraints(spark):
    # quantile expectations: quantile_metrics pivots into the SAME gate
    from whylogs_java_spark.operators.constraints import (
        check_constraints,
        quantile_metrics,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "latency double"
    )
    qm = quantile_metrics(df, ["latency"], quantiles=(0.5, 0.99), tier="exact")
    row = qm.first()
    assert row["column_name"] == "latency"
    assert abs(row["q_50"] - 50.5) < 1e-6
    rules = [
        ("latency", "q_50", "<=", "60"),
        ("latency", "q_99", "<=", "50"),   # fails: p99 ~ 99
    ]
    got = {r["rule_id"]: r["passed"] for r in check_constraints(qm, rules).collect()}
    assert got == {0: True, 1: False}
