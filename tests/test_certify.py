"""Certification melt (certify.py): engine-identical long-format rules.

The oracle sweeps certify every real suite end-to-end; these unit tests
pin the melt CONTRACT itself — lane assignment, null tokens, signed-zero
collapse, schema-drift failure — against a handmade member on both
engines.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from accelerated_intelligent_document_processing_on_aws_spark import certify


def test_kind_of_lanes():
    assert certify.kind_of("double") == "num"
    assert certify.kind_of("float") == "num"
    assert certify.kind_of("decimal(18,4)") == "num"
    for t in ("bigint", "int", "string", "boolean", "date", "void"):
        assert certify.kind_of(t) == "str", t


def test_parse_schema_roundtrip_and_validation():
    s = certify.parse_schema("a=num b=str")
    assert s == [("a", "num"), ("b", "str")]
    with pytest.raises(ValueError):
        certify.parse_schema("a=weird")


def test_melt_matches_duckdb_on_handmade_member(spark):
    """One member with every lane type: the Spark melt and the SQL melt
    must produce the identical multiset, including NULL tokens and the
    -0.0 collapse."""
    rows = [
        (1, 0.25, "x", True, None),
        (2, None, None, None, -0.0),
    ]
    df = spark.createDataFrame(
        rows, "id bigint, score double, label string, flag boolean, z double"
    )
    schema = certify.melt_kinds(df.dtypes)
    assert dict(schema) == {
        "id": "str", "score": "num", "label": "str", "flag": "str", "z": "num"
    }
    melted = certify.melt_spark(df, "q_fake", schema).orderBy(
        "query", "metric", "value_num", "value_str"
    )
    got = [tuple(r) for r in melted.collect()]

    member_sql = (
        "SELECT * FROM (VALUES "
        "(1, 0.25, 'x', TRUE, NULL), "
        "(2, NULL, NULL, NULL, -0.0)"
        ") t(id, score, label, flag, z)"
    )
    sql = certify.suite_sql(
        ["q_fake"], {"q_fake": member_sql}, {"q_fake": "id=str score=num label=str flag=str z=num"}
    )
    want = [tuple(r) for r in duckdb.connect().execute(sql).fetchall()]
    assert sorted(got) == sorted(want)
    # the -0.0 collapsed to +0.0 on both sides
    zrows = [r for r in got if r[1] == "z" and r[3] == ""]
    assert zrows and all(str(r[2]) == "0.0" for r in zrows)
    # NULLs became the token in the right lane; a string-lane NULL also
    # carries value_num 1.0
    assert ("q_fake", "label", 1.0, "null") in got
    assert ("q_fake", "flag", 1.0, "null") in got
    assert ("q_fake", "score", 0.0, "null") in got


def test_melt_null_differs_from_literal_null_string(spark):
    """A SQL NULL and the literal string 'null' must melt to different
    rows, identically in Spark and DuckDB — otherwise a member returning
    NULL where its oracle returns 'null' (or the reverse) would certify."""
    schema = [("label", "str")]
    sides = {"null_side": None, "literal_side": "null"}
    spark_melts, sql_melts = {}, {}
    for name, v in sides.items():
        df = spark.createDataFrame([(v,)], "label string")
        spark_melts[name] = [
            tuple(r) for r in certify.melt_spark(df, "q_fake", schema).collect()
        ]
        lit = "CAST(NULL AS VARCHAR)" if v is None else f"'{v}'"
        sql = certify.suite_sql(
            ["q_fake"],
            {"q_fake": f"SELECT {lit} AS label"},
            {"q_fake": "label=str"},
        )
        sql_melts[name] = [
            tuple(r) for r in duckdb.connect().execute(sql).fetchall()
        ]
    assert spark_melts["null_side"] != spark_melts["literal_side"]
    assert sql_melts == spark_melts


def test_melt_schema_drift_fails_loudly(spark):
    df = spark.createDataFrame([(1,)], "renamed bigint")
    with pytest.raises(ValueError, match="melt schema drift"):
        certify.melt_spark(df, "q_fake", [("id", "str")])


def test_registry_suites_cover_every_member_exactly_once():
    """No member in two suites, every suite member resolves to a callable
    and has a frozen melt schema and an oracle."""
    import __spark_entry__ as em

    seen = {}
    sqls = em._member_sql()
    for suite, members in em._SUITES.items():
        assert 4 <= len(members) <= 7, (suite, len(members))
        for m in members:
            assert m not in seen, f"{m} in both {seen.get(m)} and {suite}"
            seen[m] = suite
            assert callable(getattr(em, m)), m
            assert m in em._MELT_SCHEMAS, m
            assert m in sqls, m
    # and no suite member also holds its own registry slot
    reg = set(em._QUERIES_WINDOW_R5) | set(em._QUERIES_PAST_WINDOW)
    assert not (set(seen) & reg), sorted(set(seen) & reg)


# ---------------------------------------------------------------- fuzzing

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# contract-domain doubles: 6dp-rounded, |x| < 1e9 (certify.py docstring);
# constructed as exact integer multiples of 1e-6 the way member queries
# produce them (round(v, 6))
_num = st.one_of(
    st.none(),
    st.integers(min_value=-10**15, max_value=10**15).map(
        lambda n: round(n / 1_000_000, 6)
    ),
    st.sampled_from([0.0, -0.0, 0.5, -0.5, 1e-6, -1e-6, 123456.789012]),
)
_int = st.one_of(
    st.none(), st.integers(min_value=-(2**62), max_value=2**62)
)
_str = st.one_of(
    st.none(),
    st.text(alphabet="ab '\"\\,%_øπ\n\tnull", min_size=0, max_size=12),
)
_bool = st.one_of(st.none(), st.booleans())

_row = st.tuples(_int, _num, _str, _bool)


def _sql_lit(v, kind):
    if v is None:
        return f"CAST(NULL AS {kind})"
    if kind == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if kind == "DOUBLE":
        return f"CAST({v!r} AS DOUBLE)"
    if kind == "VARCHAR":
        return "'" + str(v).replace("'", "''") + "'"
    return f"CAST({v} AS BIGINT)"


@settings(max_examples=20, deadline=None)
@given(st.lists(_row, min_size=0, max_size=6))
def test_melt_fuzz_differential(spark_session_for_fuzz, rows):
    """Differential fuzz over the melt contract domain: for random
    member tables mixing ints, 6dp doubles, adversarial strings (quotes,
    backslashes, newlines, the literal word null, unicode), booleans and
    NULLs, the Spark melt and the DuckDB suite_sql melt must agree as
    multisets."""
    spark = spark_session_for_fuzz
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ic", T.LongType()),
            T.StructField("dc", T.DoubleType()),
            T.StructField("sc", T.StringType()),
            T.StructField("bc", T.BooleanType()),
        ]
    )
    df = spark.createDataFrame([tuple(r) for r in rows], schema)
    melt_schema = "ic=str dc=num sc=str bc=str"
    got = sorted(
        tuple(r)
        for r in certify.melt_spark(
            df, "q_fuzz", certify.parse_schema(melt_schema)
        ).collect()
    )
    kinds = ("BIGINT", "DOUBLE", "VARCHAR", "BOOLEAN")
    if rows:
        vals = ", ".join(
            "(" + ", ".join(_sql_lit(v, k) for v, k in zip(r, kinds)) + ")"
            for r in rows
        )
        member = f"SELECT * FROM (VALUES {vals}) t(ic, dc, sc, bc)"
    else:
        member = (
            "SELECT CAST(NULL AS BIGINT) AS ic, CAST(NULL AS DOUBLE) AS dc,"
            " CAST(NULL AS VARCHAR) AS sc, CAST(NULL AS BOOLEAN) AS bc"
            " WHERE 1 = 0"
        )
    sql = certify.suite_sql(["q_fuzz"], {"q_fuzz": member}, {"q_fuzz": melt_schema})
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want
