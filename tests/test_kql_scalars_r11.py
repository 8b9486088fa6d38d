"""Round-11 scalar batch 6 edge cases — the shapes the catalog row's
uniform data cannot reach: negative/oversized shift and rotate counts,
array_iff length mismatch, empty replace_strings, extract_json typed
casts + loud errors, iif alias."""

import datetime

import pytest

from azuredataengineering_deeplearning_spark.sources.kql import kql_to_df


def _one(spark, expr):
    df = spark.createDataFrame([(1,)], "id int")
    return kql_to_df(
        {"T": df}, f"T | extend r = {expr} | project r"
    ).collect()[0]["r"]


def test_rotate_wraps_and_negatives(spark):
    assert _one(spark, "array_rotate_left(pack_array(1,2,3), 4)") == [2, 3, 1]
    assert _one(spark, "array_rotate_left(pack_array(1,2,3), -1)") == [3, 1, 2]
    assert _one(spark, "array_rotate_right(pack_array(1,2,3), 2)") == [2, 3, 1]
    assert _one(spark, "array_rotate_left(pack_array(7), 5)") == [7]


def test_shift_negative_oversize_and_fill_typing(spark):
    # negative count shifts the other way
    assert _one(spark, "array_shift_left(pack_array(1,2,3), -1)") == [
        None, 1, 2
    ]
    assert _one(spark, "array_shift_right(pack_array(1,2,3), 1, 0)") == [
        0, 1, 2
    ]
    # count > size -> all fill, size preserved
    assert _one(spark, "array_shift_left(pack_array(1,2), 5)") == [None, None]
    # null fill inherits the ELEMENT type (no array<void> concat crash)
    assert _one(spark, "array_shift_left(pack_array('a','b'), 1)") == [
        "b", None
    ]


def test_array_split_bounds(spark):
    assert _one(spark, "array_split(pack_array(1,2,3,4), 0)") == [
        [], [1, 2, 3, 4]
    ]
    assert _one(spark, "array_split(pack_array(1,2,3,4), 9)") == [
        [1, 2, 3, 4], []
    ]


def test_array_iff_length_mismatch_nulls(spark):
    # t runs short at index 2 (cond true -> null), f runs short at
    # index 1 (cond false -> null): per-position null like Kusto
    got = _one(
        spark,
        "array_iff(pack_array(true, false, true),"
        " pack_array(1, 2), pack_array(9))",
    )
    assert got == [1, None, None]
    got2 = _one(
        spark,
        "array_iff(pack_array(false, true),"
        " pack_array(1, 2), pack_array(8, 9))",
    )
    assert got2 == [8, 2]


def test_replace_strings_empty_and_sequential(spark):
    assert _one(
        spark,
        "replace_strings('abc', pack_array(), pack_array())",
    ) == "abc"
    # applied in order: 'a'->'b' happens before 'b'->'c' (Kusto order)
    assert _one(
        spark,
        "replace_strings('ab', pack_array('a','b'), pack_array('b','c'))",
    ) == "cc"


def test_extract_json_typed_and_errors(spark):
    df = spark.createDataFrame(
        [('{"a": {"b": "12"}, "c": "x"}',)], "s string"
    )
    row = kql_to_df(
        {"T": df},
        "T | extend v = extract_json('$.a.b', s, typeof(long)),"
        " w = extract_json('$.c', s),"
        " bad = extract_json('$.c', s, typeof(long))"
        " | project v, w, bad",
    ).collect()[0]
    assert row["v"] == 12 and row["w"] == "x" and row["bad"] is None
    with pytest.raises(ValueError, match="typeof"):
        kql_to_df(
            {"T": df}, "T | extend v = extract_json('$.a', s, 7)"
        )


def test_iif_alias_and_regex_family(spark):
    assert _one(spark, "iif(2 > 1, 'y', 'n')") == "y"
    assert _one(spark, "indexof_regex('xyz', '[0-9]')") == -1
    assert _one(spark, "countof_regex('a1b22', '[0-9]+')") == 2
    assert _one(spark, "replace_regex('a1b2', '[0-9]', '#')") == "a#b#"


def test_series_comparisons_and_folds(spark):
    assert _one(
        spark, "series_less_equals(pack_array(1,5), pack_array(2,2))"
    ) == [True, False]
    assert _one(spark, "series_round(pack_array(1.4, 2.6))") == [1.0, 3.0]
    assert _one(spark, "series_sign(pack_array(-3.0, 0.0, 9.0))") == [
        -1.0, 0.0, 1.0
    ]
    assert _one(spark, "series_sum(pack_array(1, 2, 3))") == 6.0
    assert _one(spark, "endofyear(datetime(2023-02-01))").isoformat(
    ).startswith("2023-12-31T23:59:59")


def test_row_rank_dense_and_min(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "a"),
         (6, "c"), (7, "c"), (8, "c")],
        "i int, t string",
    )
    out = kql_to_df(
        {"T": df},
        "T | sort by i asc"
        " | extend d = row_rank_dense(t), m = row_rank_min(t)",
    )
    rows = sorted((r["i"], r["d"], r["m"]) for r in out.collect())
    # dense advances at every CONSECUTIVE change (the second 'a' run is
    # a NEW rank — not a sort-based dense_rank); min repeats the run's
    # first row number
    assert rows == [
        (1, 1, 1), (2, 1, 1), (3, 2, 3), (4, 2, 3),
        (5, 3, 5), (6, 4, 6), (7, 4, 6), (8, 4, 6),
    ]


def test_row_rank_requires_sort_and_term(spark):
    df = spark.createDataFrame([(1, "a")], "i int, t string")
    with pytest.raises(ValueError, match="sort by"):
        kql_to_df({"T": df}, "T | extend d = row_rank_dense(t)")
    with pytest.raises(ValueError, match="Term column"):
        kql_to_df(
            {"T": df}, "T | sort by i asc | extend d = row_rank_min()"
        )


def test_row_rank_null_runs_nullsafe(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a")], "i int, t string"
    )
    out = kql_to_df(
        {"T": df}, "T | sort by i asc | extend d = row_rank_dense(t)"
    )
    rows = sorted((r["i"], r["d"]) for r in out.collect())
    # a null run is ONE run (null-safe comparison), and the value
    # coming back after it is a new run
    assert rows == [(1, 1), (2, 2), (3, 2), (4, 3)]


def test_join_rightsemi_rightanti(spark):
    left = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "z")], "k int, lv string"
    )
    right = spark.createDataFrame(
        [(2, "a"), (3, "b"), (4, "c")], "k int, rv string"
    )
    t = {"L": left, "R": right}
    semi = kql_to_df(t, "L | join kind=rightsemi (R) on k")
    # right-side rows with a left match, right columns only, no dup
    # multiplication from the two k=2 left rows
    assert sorted(semi.columns) == ["k", "rv"]
    assert sorted(tuple(r) for r in semi.collect()) == [(2, "a")]
    anti = kql_to_df(t, "L | join kind=rightanti (R) on k")
    assert sorted(tuple(r) for r in anti.collect()) == [(3, "b"), (4, "c")]
    # $left/$right key form + broadcast hint
    semi2 = kql_to_df(
        t,
        "L | join kind=rightsemi hint.strategy=broadcast (R)"
        " on $left.k == $right.k",
    )
    assert [tuple(r) for r in semi2.collect()] == [(2, "a")]


def test_series_outliers_fences_and_edges(spark):
    got = _one(
        spark,
        "series_outliers(pack_array(1.0, 2.0, 2.0, 3.0, 2.0, 100.0,"
        " 2.0, 1.0, 2.0, -50.0))",
    )
    assert [round(x, 3) if x is not None else None for x in got] == [
        0.0, 0.0, 0.0, 0.0, 0.0, 48.5, 0.0, 0.0, 0.0, -25.5
    ]
    # tukey kind uses p25/p75
    got_t = _one(
        spark,
        "series_outliers(pack_array(1.0, 2.0, 2.0, 3.0, 2.0, 100.0,"
        " 2.0, 1.0, 2.0, -50.0), 'tukey')",
    )
    assert round(got_t[5], 3) == 98.0 and round(got_t[3], 3) == 1.0
    # constant series -> all zero; nulls stay null; empty -> empty
    assert _one(spark, "series_outliers(pack_array(5.0, 5.0, 5.0))") == [
        0.0, 0.0, 0.0
    ]
    # null element (shift pads one in) stays null in the score array
    withnull = _one(
        spark,
        "series_outliers(array_shift_right("
        "pack_array(1.0, 1.0, 1.0), 1))",
    )
    assert withnull[0] is None
    with pytest.raises(ValueError, match="ctukey"):
        _one(spark, "series_outliers(pack_array(1.0), 'frob')")


def test_series_fir_shapes(spark):
    base = "pack_array(10.0, 20.0, 30.0, 40.0)"
    # all-ones normalized FIR == moving average, EXACTLY (pinned
    # consistency between the two kernels' edge disciplines)
    df = spark.createDataFrame([(1,)], "id int")
    r = kql_to_df(
        {"T": df},
        f"T | extend ma = series_moving_avg({base}, 2),"
        f" f1 = series_fir({base}, dynamic([1, 1]))"
        " | project same = series_equals(ma, f1)",
    ).collect()[0]
    assert r["same"] == [True, True, True, True]
    # normalize=false: raw partial-window sums
    assert _one(
        spark, f"series_fir({base}, dynamic([1, 1]), false)"
    ) == [10.0, 30.0, 50.0, 70.0]
    # a negative coefficient disables Kusto's default normalization
    assert _one(
        spark, f"series_fir({base}, dynamic([2, -1]))"
    ) == [20.0, 30.0, 40.0, 50.0]
    # centered + normalized
    assert _one(
        spark, f"series_fir({base}, dynamic([1, 1, 1]), true, true)"
    ) == [15.0, 20.0, 30.0, 35.0]
    # zero-sum normalized filter: interior divisors are 0 -> null
    # (try_divide); element 0 uses only the in-bounds tap (divisor 1),
    # the partial-window edge discipline shared with series_moving_avg
    assert _one(
        spark, f"series_fir({base}, dynamic([1, -1]), true)"
    ) == [10.0, None, None, None]
    with pytest.raises(ValueError, match="normalize"):
        _one(spark, f"series_fir({base}, dynamic([1]), frob)")


def test_series_iir_recursion_and_edges(spark):
    # impulse through y[n] = x[n] + 0.5 y[n-1]: exponential decay,
    # zero initial conditions (Kusto's documented edge semantics)
    assert _one(
        spark,
        "series_iir(pack_array(1.0, 0.0, 0.0, 0.0, 4.0),"
        " dynamic([1]), dynamic([1, -0.5]))",
    ) == [1.0, 0.5, 0.25, 0.125, 4.0625]
    # a = [1] degenerates to an un-normalized FIR
    assert _one(
        spark,
        "series_iir(pack_array(1.0, 0.0, 0.0), dynamic([1, 1]),"
        " dynamic([1]))",
    ) == [1.0, 1.0, 0.0]
    # a[0] = 0 -> nulls via try_divide; empty series passes through
    assert _one(
        spark,
        "series_iir(pack_array(1.0, 2.0), dynamic([1]),"
        " dynamic([0, 1]))",
    ) == [None, None]


@pytest.mark.parametrize(
    "expr, want",
    [
        # every call translates once, inside-out: an inner call never
        # hides an outer call from its own rewrite
        ("split(tolower('Www.Example.COM'), '.')", ["www", "example", "com"]),
        ("extract('([0-9]+)', 1, tolower('ID-42X'))", "42"),
        ("tostring(strlen('hello'))", "5"),
        (
            "startofday(todatetime('2024-03-05 17:45:00'))",
            datetime.datetime(2024, 3, 5),
        ),
        ("todouble(tolong(strlen('hello')))", 5.0),
        # a registered call with the wrong number of arguments fails at
        # translate time, naming the function and its offset
        ("1 + substring('abc')", ValueError(r"substring\(\) at offset 4")),
    ],
)
def test_nested_calls_match_kusto(spark, expr, want):
    if isinstance(want, ValueError):
        with pytest.raises(ValueError, match=str(want)):
            _one(spark, expr)
    else:
        assert _one(spark, expr) == want
