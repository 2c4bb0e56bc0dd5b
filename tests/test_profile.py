"""Table profiling operator (operators/profile.py): stat values, histogram
bucketing/clamping, and the one-pass plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F

from f1_data_pipeline_spark.operators import profile as P


def _stats(df):
    return {(r["col_name"], r["stat"]): r["value"] for r in df.collect()}


def test_profile_long_counts_nulls_and_distincts(spark):
    rows = [(1, "a"), (2, None), (3, "a"), (None, "b")]
    df = spark.createDataFrame(rows, "id int, tag string")
    got = _stats(P.profile_long(df))
    assert got[("*", "n_rows")] == 4.0
    assert got[("id", "n_nulls")] == 1.0
    assert got[("id", "null_frac")] == 0.25
    assert got[("id", "n_distinct")] == 3.0
    assert got[("tag", "n_nulls")] == 1.0
    assert got[("tag", "n_distinct")] == 2.0


def test_histogram_clamps_under_and_overflow(spark):
    vals = [(-5.0,), (0.0,), (1.9,), (2.0,), (19.9,), (25.0,), (None,)]
    df = spark.createDataFrame(vals, "v double")
    got = _stats(P.histogram(df, "v", 2.0, 10))
    # -5.0 clamps into bucket 0 with 0.0 and 1.9; 25.0 into overflow bucket 10
    assert got[("v", "hist_00")] == 3.0
    assert got[("v", "hist_01")] == 1.0
    assert got[("v", "hist_09")] == 1.0
    assert got[("v", "hist_10")] == 1.0
    # NULL excluded entirely
    assert sum(got.values()) == 6.0


def test_profile_is_single_pass_no_joins(spark, sf_dir):
    """The stats block must stay one aggregate over one scan — a per-column
    loop of separate queries would read the table N times at 100 TB."""
    from f1_data_pipeline_spark.plans import audit
    from f1_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    js = audit.join_strategies(P.profile_long(ev))
    assert js["cartesian"] == 0 and js["sort_merge"] == 0
    plan = P.profile_long(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") + plan.count("Scan parquet") <= 2


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from f1_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = _stats(P.profile_long(ev, columns=["user_id"]))
    approx = _stats(P.profile_long(ev, columns=["user_id"], approx_distinct=True))
    e = exact[("user_id", "n_distinct")]
    a = approx[("user_id", "n_distinct")]
    assert abs(a - e) / e < 0.1
    assert approx[("user_id", "n_nulls")] == exact[("user_id", "n_nulls")]

def test_distinct_strategies_agree_on_float_edge_cases(spark):
    """The default "set" strategy must reproduce count_distinct exactly,
    including the float cases where collect_set's primitive == diverges
    (NaN never equals itself, -0.0 keeps its bit pattern): r14 normalizes
    -0.0 via +0.0 and routes NaN through a max(isnan) flag."""
    rows = [
        (float("nan"), 1),
        (float("nan"), 1),
        (-0.0, None),
        (0.0, 2),
        (None, 2),
        (1.5, 3),
        (1.5, 3),
    ]
    df = spark.createDataFrame(rows, "v double, k int")
    a = _stats(P.profile_long(df, distinct_strategy="expand"))
    b = _stats(P.profile_long(df, distinct_strategy="set"))
    assert a == b
    assert b[("v", "n_distinct")] == 3.0  # {NaN, 0.0, 1.5}
    assert b[("k", "n_distinct")] == 3.0

    # zero rows: no division by zero under ANSI mode, null_frac NULL, and
    # n_distinct 0 (the set strategy's NaN flag is a max over no rows)
    empty = spark.createDataFrame([], "v double, k int")
    a = _stats(P.profile_long(empty, distinct_strategy="expand"))
    b = _stats(P.profile_long(empty, distinct_strategy="set"))
    assert a == b
    assert b[("*", "n_rows")] == 0.0
    for c in ("v", "k"):
        assert b[(c, "null_frac")] is None
        assert b[(c, "n_distinct")] == 0.0


def test_set_strategy_has_no_expand(spark, sf_dir):
    from f1_data_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = P.profile_long(ev)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    plan_e = (
        P.profile_long(ev, distinct_strategy="expand")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in plan_e
