"""Regression pins for the round-13 ADVICE items.

1. medium — the dynamic countof rewrite ran in phase 1 (pre-masking)
   through the balanced-paren call rewriter (since replaced by the
   single-pass call scanner, _scan_calls), which was not
   quote-aware: a quoted term containing '(' or ')' with a
   non-identifier first arg mangled the SQL
   (countof(tostring(x), ':)') emitted replace(cast(x as string),
   ':, '')). Fixed by moving countof to phase 2 (post-masking) where
   literal terms arrive as inert \\0L<i>\\0 placeholders and are
   unmasked inside the rewrite.
2. low — the literal and dynamic countof paths disagreed on escaping:
   the literal path doubled backslashes before embedding the term in
   SQL, the dynamic path spliced the quoted literal verbatim, so
   countof(strcat(a, b), '\\n') and countof(col, '\\n') interpreted
   the term differently. The unified phase-2 path applies ONE escape
   discipline to every masked-literal term regardless of the first
   arg's shape.
3. low — int-literal indexing on a property BAG: bag[0] compiles to
   try_element_at(bag, 1) without knowing the primary's type. The
   ADVICE feared Spark would implicitly cast the int to the string
   key '1' (a silent wrong answer); on this Spark (4.x) the analyzer
   instead raises DATATYPE_MISMATCH.MAP_FUNCTION_DIFF_TYPES — a LOUD
   error where Kusto returns null. Documented deviation (PARITY.md):
   no silent wrong answer is possible; string-key bag indexing is
   exact. Pinned here so a Spark upgrade that starts coercing the
   key shows up as a deliberate semantic change, not silent drift.
4. low — graph-to-table nodes derived the node set solely from
   distinct edge endpoints, so node-table rows with no incident edge
   silently disappeared; Kusto's make-graph retains isolated nodes.
   Fixed: when a node table is bound, its ids are unioned into the
   endpoint set (degree-0 nodes appear with their props).
"""

import pytest
from pyspark.sql import functions as F

from azuredataengineering_deeplearning_spark.sources.kql import kql_to_df


@pytest.fixture(scope="module")
def tdf(spark):
    return spark.createDataFrame(
        [(1, "ab:)cd:)e", "x:(y"), (2, ":)", ""), (3, "plain", None)],
        "rid int, s string, t string",
    )


# ---- 1 (medium): quoted term containing parens, any first-arg shape --


def test_countof_paren_term_nonidentifier_first_arg(spark, tdf):
    out = kql_to_df(
        {"T": tdf},
        "T | extend c = countof(tostring(s), ':)') | project rid, c",
    ).collect()
    assert {r["rid"]: r["c"] for r in out} == {1: 2, 2: 1, 3: 0}


def test_countof_paren_term_identifier_first_arg(spark, tdf):
    out = kql_to_df(
        {"T": tdf}, "T | extend c = countof(s, ':)') | project rid, c"
    ).collect()
    assert {r["rid"]: r["c"] for r in out} == {1: 2, 2: 1, 3: 0}


def test_countof_open_paren_term(spark, tdf):
    out = kql_to_df(
        {"T": tdf},
        "T | extend c = countof(strcat(s, t), '(') | project rid, c",
    ).collect()
    # row 3: strcat -> concat null-propagates in this dialect, so the
    # whole count is null there; rows 1/2 exercise the open-paren term
    assert {r["rid"]: r["c"] for r in out} == {1: 1, 2: 0, 3: None}


# ---- 2 (low): one escape discipline for literal terms ----------------


def test_countof_backslash_term_escape_consistency(spark):
    df = spark.createDataFrame(
        [(1, r"a\nb\nc")], "rid int, s string"
    )
    lit = kql_to_df(
        {"T": df}, r"T | extend c = countof(s, '\n') | project c"
    ).collect()[0]["c"]
    dyn = kql_to_df(
        {"T": df},
        r"T | extend c = countof(strcat(s, ''), '\n') | project c",
    ).collect()[0]["c"]
    # the raw text contains two literal backslash-n sequences; both
    # paths must count them identically (term = backslash + 'n')
    assert lit == dyn == 2


def test_countof_empty_literal_term_still_loud(spark, tdf):
    with pytest.raises(ValueError, match="non-empty"):
        kql_to_df({"T": tdf}, "T | extend c = countof(tostring(s), '')")


def test_countof_column_term_null_semantics_kept(spark, tdf):
    out = kql_to_df(
        {"T": tdf}, "T | extend c = countof(s, t) | project rid, c"
    ).collect()
    got = {r["rid"]: r["c"] for r in out}
    # empty-string and null TERM VALUES stay null (data condition)
    assert got[2] is None and got[3] is None


# ---- 3 (low): bag-with-int-index documented deviation ----------------


def test_bag_int_index_pinned_deviation(spark):
    from pyspark.errors.exceptions.captured import AnalysisException

    df = spark.createDataFrame(
        [(1,)], "rid int"
    ).select(
        "rid",
        F.create_map(
            F.lit("1"), F.lit("one"), F.lit("k"), F.lit("v")
        ).alias("bag"),
    )
    # bag[0] -> try_element_at(bag, 1): Spark 4's analyzer rejects an
    # int key on a string-keyed map LOUDLY (DATATYPE_MISMATCH) where
    # Kusto returns null — documented deviation, no silent wrong
    # answer (PARITY.md)
    with pytest.raises(AnalysisException, match="DATATYPE_MISMATCH"):
        kql_to_df({"T": df}, "T | extend a = bag[0] | project a")
    # string-key bag indexing is exact, missing key -> null
    out = kql_to_df(
        {"T": df}, "T | extend b = bag['k'], m = bag['zz'] | project b, m"
    ).collect()[0]
    assert out["b"] == "v" and out["m"] is None


# ---- 4 (low): graph-to-table retains bound degree-0 nodes ------------


def test_graph_to_table_isolated_node_retained(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "s string, d string"
    )
    nodes = spark.createDataFrame(
        [("a", 10), ("c", 30), ("z", 99)], "nid string, w int"
    )
    out = kql_to_df(
        {"E": edges, "N": nodes},
        "E | make-graph s --> d with N on nid | graph-to-table nodes",
    ).collect()
    got = sorted((r["id"], r["w"]) for r in out)
    # z has no incident edge but IS a graph node (Kusto retains it);
    # endpoint-only b keeps null props
    assert got == [("a", 10), ("b", None), ("c", 30), ("z", 99)]


def test_graph_to_table_unbound_nodes_unchanged(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "s string, d string"
    )
    out = kql_to_df(
        {"E": edges}, "E | make-graph s --> d | graph-to-table nodes"
    ).collect()
    assert sorted(r["id"] for r in out) == ["a", "b", "c"]
