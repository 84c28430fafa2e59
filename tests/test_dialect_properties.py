"""Property-based tests for the dialect rewriter (hypothesis).

The rewriter must never corrupt string literals and must be idempotent
— both properties hold for ALL inputs, which example-based tests can't
show.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xngin_spark.dialect import rewrite_sql

pytestmark = pytest.mark.slow

# SQL-ish fragments: identifiers, operators, quoted strings (with ''
# escapes), the shimmed tokens
_token = st.one_of(
    st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True),
    st.sampled_from(
        ["xor", "XOR", "Xor", "select", "'it''s'", "'xor'", '"value"', "<=>", "*", ",", "(", ")"]
    ),
)
_sql = st.lists(_token, min_size=0, max_size=30).map(" ".join)


@given(_sql)
@settings(max_examples=300, deadline=None)
def test_rewrite_idempotent(sql):
    once = rewrite_sql(sql)
    assert rewrite_sql(once) == once


@given(st.lists(st.sampled_from(["xor", "abc", "1", "+"]), max_size=10).map(" ".join))
@settings(max_examples=200, deadline=None)
def test_single_quoted_strings_never_touched(inner):
    lit = "'" + inner.replace("'", "''") + "'"
    out = rewrite_sql(f"select {lit} as c")
    assert lit in out  # the literal survives byte-for-byte


@given(_sql)
@settings(max_examples=300, deadline=None)
def test_no_xor_survives_outside_strings(sql):
    out = rewrite_sql(sql)
    # strip single-quoted strings, then no bare xor token may remain
    import re

    stripped = re.sub(r"'(?:[^']|'')*'", "", out)
    assert not re.search(r"\bxor\b", stripped, re.IGNORECASE)


def test_ansi_escaped_identifier():
    # "a""b" names the identifier a"b -> backticked `a"b`
    assert rewrite_sql('select x as "a""b"') == 'select x as `a"b`'
    # a backtick inside a quoted ident must be doubled for Spark
    assert rewrite_sql('select x as "a`b"') == "select x as `a``b`"


def test_mysql_dialect_double_quoted_strings_protected():
    sql = 'select "a xor b", c from t'
    assert rewrite_sql(sql, dialect="mysql") == sql
    assert rewrite_sql("select a xor b", dialect="mysql") == "select a != b"


def test_spark_dialect_passthrough():
    sql = 'select "literal string", a xor b from t'
    assert rewrite_sql(sql, dialect="spark") == sql


def test_unknown_dialect_rejected():
    import pytest

    with pytest.raises(ValueError, match="unknown dialect"):
        rewrite_sql("select 1", dialect="postgres")


# --- QUALIFY lowering properties ---

_IDENTS = st.sampled_from(["a", "b", "c", "grp", "val"])


@given(
    st.lists(st.sampled_from(["'qualify in a string'", "x", "(", ")", "qualify_col"]),
             max_size=8).map(" ".join)
)
@settings(max_examples=200, deadline=None)
def test_qualify_rewrite_noop_without_keyword(frag):
    # QUALIFY inside strings / as identifier-prefix tokens never triggers
    from xngin_spark.dialect import rewrite_qualify

    sql = f"SELECT {frag} FROM t"
    if "qualify_col" in sql or "'" in sql:
        assert rewrite_qualify(sql) == sql


@given(_IDENTS, _IDENTS, st.integers(min_value=1, max_value=3))
@settings(max_examples=50, deadline=None)
def test_qualify_rewrite_shape_invariants(part, order, k):
    from xngin_spark.dialect import rewrite_qualify

    sql = (
        f"SELECT a, b FROM t WHERE a > 0 "
        f"QUALIFY row_number() OVER (PARTITION BY {part} ORDER BY {order}) <= {k} "
        f"ORDER BY a"
    )
    out = rewrite_qualify(sql)
    # the predicate moved inside the wrap, tail preserved, one wrap only
    assert out.count("EXCEPT(__q)") == 1
    assert f"ORDER BY {order}) <= {k}) AS __q" in out.replace("\n", " ")
    assert out.rstrip().endswith("ORDER BY a")
    assert "QUALIFY" not in out.upper().replace("__Q", "")


def test_qualify_equivalent_to_row_number_subquery(spark):
    # semantic oracle: the lowering must match the canonical rewrite
    from xngin_spark.dialect import rewrite_qualify

    df = spark.createDataFrame(
        [(g, v) for g in range(5) for v in range(7)], "g long, v long"
    )
    df.createOrReplaceTempView("qt")
    lowered = spark.sql(rewrite_qualify(
        "SELECT g, v FROM qt QUALIFY row_number() OVER "
        "(PARTITION BY g ORDER BY v DESC) <= 3"
    ))
    canonical = spark.sql(
        "SELECT g, v FROM (SELECT g, v, row_number() OVER "
        "(PARTITION BY g ORDER BY v DESC) AS rn FROM qt) WHERE rn <= 3"
    )
    assert sorted(map(tuple, lowered.collect())) == sorted(
        map(tuple, canonical.collect())
    )
