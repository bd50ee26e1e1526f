"""Property tests for the SQL statement front (round 13): the scanner
primitives that still split scripts and parse the engine's own
statements (the quote/paren mask, the top-level splitter, the comment
stripper), derive_prune's structural invariants and the MERGE ON split
over Spark's parse tree. A mask bug would mis-split a script whose
EXPRESSIONS contain commas/keywords inside strings, the silent class of
bug the e2e tests can't enumerate."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from database_anonymiser_spark.sql_dml import (
    _mask,
    _split_top,
    _strip_line_comments,
    derive_prune,
)

# text that exercises the scanner: quotes, parens, commas, dashes,
# keywords, escapes
_sql_chars = st.text(
    alphabet="ab ,()'\"`-=<>%_\nANDORWHEREIN0123456789",
    max_size=60,
)


@settings(max_examples=300, deadline=None)
@given(_sql_chars)
def test_mask_shape_and_depth(s):
    m = _mask(s)
    assert len(m) == len(s)
    for depth, _code in m:
        assert depth >= 0


@settings(max_examples=300, deadline=None)
@given(_sql_chars)
def test_split_top_round_trips(s):
    # joining the parts back with the separator reconstructs the input
    assert ",".join(_split_top(s, ",")) == s
    assert ";".join(_split_top(s, ";")) == s


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="abc -x,()", max_size=30))
def test_quoted_payload_is_never_split_or_stripped(payload):
    quoted = "'" + payload.replace("'", "''") + "'"
    s = f"a = {quoted}, b = 2"
    parts = _split_top(s, ",")
    # the quoted literal stays whole inside the first part even when the
    # payload contains commas
    assert parts[0] == f"a = {quoted}"
    # -- inside a string literal is not a comment
    assert _strip_line_comments(s) == s


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abc x=1", max_size=20),
       st.text(alphabet="abc x=1,'", max_size=20))
def test_line_comments_stripped_outside_strings(code, comment):
    code = code.replace("--", "ab").replace("'", "a")
    s = f"{code}-- {comment}\nrest"
    out = _strip_line_comments(s)
    assert out == f"{code}\nrest"


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k", "v", "p"]),
            st.sampled_from(["=", "<", "<=", ">", ">="]),
            st.integers(min_value=-99, max_value=99),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_derive_prune_structural_invariants(spark, conjuncts):
    pred = " AND ".join(f"{c} {op} {v}" for c, op, v in conjuncts)
    prune = derive_prune(pred)
    mentioned = {c for c, _o, _v in conjuncts}
    assert set(prune) <= mentioned
    for col, b in prune.items():
        assert isinstance(b, tuple)
        lo, hi = b
        # an infeasible conjunction may narrow past empty (lo > hi) —
        # that is still a RELAXATION-consistent prune (matches nothing,
        # and the predicate matches nothing either); both-None never
        # appears (a no-information column is simply absent)
        assert lo is not None or hi is not None
        # every bound traces back to a literal the predicate mentioned
        vals = {v for c, _o, v in conjuncts if c == col}
        assert (lo is None or lo in vals) and (hi is None or hi in vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-5, 5), min_size=1, max_size=6))
def test_derive_prune_equality_chain_is_intersection(spark, vals):
    pred = " AND ".join(f"k = {v}" for v in vals)
    prune = derive_prune(pred)
    assert prune == {"k": (max(vals), min(vals))}


# --------------------------------------------------------------------------
# round 14: ON-split, literal escaping, MV parser
# --------------------------------------------------------------------------

from database_anonymiser_spark.sql_dml import (  # noqa: E402
    _head_args,
    _parse_on_keys,
    _sq_quote,
    SqlDmlError,
)
from database_anonymiser_spark.sources.materialized import (  # noqa: E402
    parse_mv_query,
)

_ident = st.sampled_from(["a", "b", "c", "amt", "region", "k2"])
_residual = st.sampled_from([
    "t.region = 'EU'",
    "s.amt > 10",
    "t.v BETWEEN 1 AND 5",
    "coalesce(s.x, 0) <> t.y",
    "(t.p = 1 OR s.q = 2)",
    "s.name LIKE 'a%'",
    "name = 'x AND y'",
    "upper(v) IN ('AND', 'OR')",
])


@settings(max_examples=200, deadline=None)
@given(
    keys=st.lists(_ident, min_size=1, max_size=3, unique=True),
    residuals=st.lists(_residual, max_size=3),
    flip=st.booleans(),
)
def test_on_split_partitions_conjuncts(spark, keys, residuals, flip):
    """_parse_on_keys: the key-equality conjuncts land in the pair map,
    EVERYTHING else lands verbatim (requalified) in the residual — a
    partition, nothing dropped, order preserved within the residual."""
    eqs = [
        (f"s.{k} = t.{k}" if flip else f"t.{k} = s.{k}") for k in keys
    ]
    on = " AND ".join(eqs + residuals)
    pairs, res = _parse_on_keys(on, "t", "s", tuple(keys))
    assert pairs == {k: k for k in keys}
    assert res == residuals
    # dropping any key equality must refuse
    if len(eqs) >= 1:
        broken = " AND ".join(eqs[1:] + residuals)
        try:
            _parse_on_keys(broken, "t", "s", tuple(keys))
            assert False, "missing key equality must refuse"
        except SqlDmlError:
            pass


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ab',= c()", max_size=20))
def test_sq_literal_round_trip(spark, s):
    """The TBLPROPERTIES literal grammar round-trips ANY value: quote →
    parse (Spark's property-list grammar) → read is the identity."""
    lit = _sq_quote(s)
    props = _head_args("set_properties", {"props": f"('k' = {lit})"})
    assert props == {"properties": {"k": s}}, lit


@settings(max_examples=200, deadline=None)
@given(
    keys=st.lists(
        st.sampled_from(["g1", "g2", "region"]), min_size=1, max_size=3,
        unique=True,
    ),
    aggs=st.lists(
        st.tuples(
            st.sampled_from(["n1", "n2", "s1", "m1"]),
            st.sampled_from(
                ["count(*)", "count(x)", "sum(a * b)", "avg(x + 1)"]
            ),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda t: t[0],
    ),
)
def test_mv_parser_round_trips(spark, keys, aggs):
    sel = ", ".join(keys + [f"{expr} AS {name}" for name, expr in aggs])
    src, got_keys, got_aggs, _pf = parse_mv_query(
        f"SELECT {sel} FROM my_view GROUP BY {', '.join(keys)}"
    )
    assert src == "my_view" and got_keys == keys
    for name, expr in aggs:
        kind = expr.split("(")[0]
        arg = expr[expr.index("(") + 1 : -1]
        want = (kind, None if arg == "*" else arg)
        assert got_aggs[name] == want


@settings(max_examples=200, deadline=None)
@given(
    code=st.sampled_from(
        ["UPDATE t SET v = 'x'", "DELETE FROM t", "BEGIN", "COMMIT"]
    ),
    comment=st.text(alphabet="ab c'\"`()-,x", max_size=25),
)
def test_comment_quotes_never_poison_the_split(code, comment):
    """Round-14 fix pinned: quotes INSIDE a -- comment must not leak
    into the splitter's string state — every statement still splits out
    and every comment still strips, whatever the comment contains."""
    from database_anonymiser_spark.sql_dml import split_statements

    script = (
        f"-- {comment}\n{code};\n-- {comment}\n{code};\n-- {comment}\n"
    )
    assert split_statements(script) == [code, code]
