"""Encoded-query compiler: unit + property tests (SURVEY §5.3)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
    Term,
    compile_encoded,
    parse,
    parse_term,
)


def test_parse_term_ops():
    assert parse_term("a=b") == Term("a", "=", "b")
    assert parse_term("f>=10") == Term("f", ">=", "10")
    assert parse_term("fld!=x") == Term("fld", "!=", "x")
    assert parse_term("p_nameLIKEgear") == Term("p_name", "LIKE", "gear")
    assert parse_term("xSTARTSWITHab") == Term("x", "STARTSWITH", "ab")
    assert parse_term("xENDSWITHab") == Term("x", "ENDSWITH", "ab")
    assert parse_term("segINa,b,c") == Term("seg", "IN", "a,b,c")
    assert parse_term("szBETWEEN1@9") == Term("sz", "BETWEEN", "1@9")
    assert parse_term("aSAMEASb") == Term("a", "SAMEAS", "b")
    assert parse_term("xISEMPTY") == Term("x", "ISEMPTY", "")
    assert parse_term("xISNOTEMPTY") == Term("x", "ISNOTEMPTY", "")


def test_parse_term_op_inside_value_or_field():
    # 'IN' inside the value must not split the term
    assert parse_term("c_mktsegment=BUILDING") == Term("c_mktsegment", "=", "BUILDING")
    # value containing another op token after a real op
    assert parse_term("noteLIKEnice=stuff") == Term("note", "LIKE", "nice=stuff")


def test_parse_groups_and_order():
    qs = parse("a=1^b=2^ORc=3^ORDERBYx^ORDERBYDESCy")
    assert len(qs) == 1
    q = qs[0]
    assert [len(g) for g in q.groups] == [1, 2]  # a AND (b OR c)
    assert q.order_by == [("x", False), ("y", True)]


def test_parse_nq_branches():
    qs = parse("a=1^NQb=2^c=3")
    assert len(qs) == 2
    assert qs[0].groups == [[Term("a", "=", "1")]]
    assert [len(g) for g in qs[1].groups] == [1, 1]


_FIELDS = st.sampled_from(["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])
_VALS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=8
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(_FIELDS, st.sampled_from(["=", "!=", ">", "<", "LIKE"]), _VALS),
        min_size=1,
        max_size=5,
    )
)
def test_parse_roundtrip_property(terms):
    """Any well-formed AND-chain parses back to its exact terms."""
    encoded = "^".join(f"{f}{op}{v}" for f, op, v in terms)
    [q] = parse(encoded)
    flat = [t for g in q.groups for t in g]
    assert [(t.field, t.op, t.value) for t in flat] == terms


def test_parse_or_prefix_fallback():
    """A token starting 'OR' whose remainder is unparseable must be a
    plain term (field literally named 'OR'/'ORDER...'), not a broken
    disjunction; a parseable remainder stays a disjunction per the
    lowercase-field platform convention."""
    [q] = parse("a=1^OR=5")  # remainder '=5' unparseable -> field 'OR'
    assert q.groups == [[Term("a", "=", "1")], [Term("OR", "=", "5")]]
    # leading token with no antecedent can't be a disjunction
    [q] = parse("ORG_ID=5")
    assert q.groups == [[Term("ORG_ID", "=", "5")]]
    # lowercase remainder still parses as a disjunction
    [q] = parse("a=1^ORb=2")
    assert [len(g) for g in q.groups] == [2]


def test_compile_matches_handbuilt(spark, sf_dir):
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    c = scan(spark, sf_dir, "customer")
    got = compile_encoded(c, "c_mktsegment=BUILDING^c_acctbal>5000").count()
    want = c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    ).count()
    assert got == want


def test_dotwalk_matches_manual_join(spark, sf_dir):
    """p4: the semi-join chain equals the manual 2-hop join filter and
    preserves base cardinality (no row duplication)."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        compile_encoded_dotwalk,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    got = compile_encoded_dotwalk(
        spark, sf_dir, "orders", "o_custkey.c_nationkey.n_name=NATION_3"
    )
    o = scan(spark, sf_dir, "orders")
    c = scan(spark, sf_dir, "customer")
    n = scan(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    want = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .select(o["o_orderkey"])
    )
    got_keys = sorted(r["o_orderkey"] for r in got.collect())
    want_keys = sorted(r["o_orderkey"] for r in want.collect())
    assert got_keys == want_keys and len(got_keys) > 0
    assert got.columns == o.columns


def test_dotwalk_rejects_or_groups_and_unknown_refs(spark, sf_dir):
    import pytest

    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        compile_encoded_dotwalk,
    )

    with pytest.raises(ValueError, match="AND terms"):
        compile_encoded_dotwalk(
            spark,
            sf_dir,
            "orders",
            "o_orderstatus=O^ORo_custkey.c_nationkey.n_name=NATION_1",
        )
    with pytest.raises(ValueError, match="not a reference field"):
        compile_encoded_dotwalk(
            spark, sf_dir, "orders", "o_orderstatus.foo=1"
        )


def test_dotwalk_plan_is_broadcast_semi_no_base_shuffle(spark, sf_dir):
    """The base table must reach the result through broadcast semi
    joins only — no Exchange on the orders side."""
    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        compile_encoded_dotwalk,
    )

    df = compile_encoded_dotwalk(
        spark, sf_dir, "orders", "o_custkey.c_nationkey.n_name=NATION_3"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dotwalk_select_shares_prefix_join(spark, sf_dir):
    """p5: two walked columns through o_custkey must cost ONE customer
    join (chain-prefix reuse), and base cardinality is preserved."""
    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        dotwalk_select,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    df = dotwalk_select(
        spark,
        sf_dir,
        "orders",
        ["o_orderkey", "o_custkey.c_name", "o_custkey.c_nationkey.n_name"],
    )
    assert df.count() == scan(spark, sf_dir, "orders").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("customer.parquet") == 1, plan.count("customer.parquet")
    assert plan.count("BroadcastHashJoin") == 2


def test_text_query_pseudo_field(spark, sf_dir):
    """p10: 123TEXTQUERY321 compiles to a case-insensitive
    any-string-column search and composes with ordinary terms."""
    from pyspark.sql import functions as F

    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        compile_encoded,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    o = scan(spark, sf_dir, "orders")
    got = compile_encoded(o, "123TEXTQUERY321=uRgEnT").count()
    want = o.filter(
        F.lower("o_orderstatus").contains("urgent")
        | F.lower("o_orderpriority").contains("urgent")
    ).count()
    assert got == want > 0
    # no string column matches → empty, not an error
    assert compile_encoded(o.select("o_orderkey"), "123TEXTQUERY321=x").count() == 0


def test_engine_encoded_query_text_search(spark, sf_dir):
    """CmdbEngine.encoded_query (the dot-walk compiler) reads the
    123TEXTQUERY321 pseudo-field as a text search, as compile_encoded
    does, and composes it with a dot-walk term."""
    from servicenow_cmdb_integration_to_aws_spark import CmdbEngine
    from servicenow_cmdb_integration_to_aws_spark.plans.encoded_query import (
        compile_encoded_dotwalk,
    )
    from servicenow_cmdb_integration_to_aws_spark.sources.tables import scan

    encoded = "123TEXTQUERY321=URGENT^o_totalprice>250000"
    got = CmdbEngine(spark, sf_dir).encoded_query("orders", encoded)
    want = compile_encoded(scan(spark, sf_dir, "orders"), encoded)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect()) and want.count() > 0
    walked = compile_encoded_dotwalk(
        spark, sf_dir, "orders", f"{encoded}^o_custkey.c_nationkey.n_name=NATION_7"
    ).count()
    assert 0 < walked < want.count()
