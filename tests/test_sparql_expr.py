"""SPARQL expressions as one parsed tree compiled to Columns
(sparql_expr): builtins over nested arguments, aggregate calls inside
expressions, the numeric-operand rule, and a property test of random
FILTER expressions against a Python reference evaluator."""

import re
from collections import Counter

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import SF_SMALL as SF
from ont_d2rq_spark.examples import tpch_mapping
from ont_d2rq_spark.graph import TRIPLE_SCHEMA, VirtualGraph, bgp_over_triples
from ont_d2rq_spark.sparql import execute

EX = "http://example.org/"


@pytest.fixture(scope="module")
def graph(spark):
    return VirtualGraph(tpch_mapping(SF), spark)


def _db(sql: str):
    return duckdb.sql(sql.replace("{T}", SF)).fetchall()


def _sparql(graph, body: str):
    return execute(graph, f"PREFIX ex: <{EX}>\n{body}").collect()


# ---------------------------------------------------------------------------
# builtins over calls, constants and nested arguments
# ---------------------------------------------------------------------------


def _customers_matching(pattern):
    names = _db("SELECT c_custkey, c_name FROM '{T}/customer.parquet'")
    return {EX + f"customer/{k}" for k, n in names if re.search(pattern, n.lower())}


_NATION3 = (
    "SELECT count(*) FROM (SELECT c_custkey FROM '{T}/customer.parquet'"
    " WHERE c_nationkey = 3 UNION ALL SELECT s_suppkey FROM"
    " '{T}/supplier.parquet' WHERE s_nationkey = 3)"
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@pytest.mark.parametrize(
    "body, check",
    [
        pytest.param(
            """SELECT ?c WHERE { ?c a ex:Customer ; ex:name ?n .
                FILTER(regex(LCASE(?n), "^customer#0+1[0-9]$")) }""",
            lambda rows: {r["c"] for r in rows} == _customers_matching("^customer#0+1[0-9]$"),
            id="regex_over_call",
        ),
        pytest.param(
            """SELECT ?c WHERE { ?c ex:inNation ?n .
                FILTER(sameTerm(?n, <http://example.org/nation/3>)) }""",
            lambda rows: len(rows) == _db(_NATION3)[0][0] > 0,
            id="sameterm_iri_constant",
        ),
        pytest.param(
            """SELECT DISTINCT ?b WHERE { ?c a ex:Customer ; ex:name ?n .
                BIND(STRBEFORE(UCASE(CONCAT(?n, "-")), "#") AS ?b) }""",
            lambda rows: [r["b"] for r in rows] == ["CUSTOMER"],
            id="strbefore_nested",
        ),
        pytest.param(
            """SELECT ?e WHERE { ?r a ex:Region ; ex:name ?n .
                BIND(ENCODE_FOR_URI(CONCAT(?n, UCASE(" a"))) AS ?e) }""",
            lambda rows: sorted(r["e"] for r in rows)
            == sorted(n.replace(" ", "%20") + "%20A" for n in _REGIONS),
            id="encode_for_uri_nested",
        ),
        pytest.param(
            """SELECT ?r ?y WHERE { ?r a ex:Region .
                OPTIONAL { ?r ex:orderDate ?d }
                BIND(YEAR(COALESCE(?d, CONCAT("2011", STR("-01-01")))) AS ?y) }""",
            lambda rows: len(rows) == 5 and {r["y"] for r in rows} == {2011},
            id="year_nested",
        ),
    ],
)
def test_builtins_over_nested_arguments(graph, body, check):
    assert check(_sparql(graph, body))


# ---------------------------------------------------------------------------
# aggregate calls anywhere in a SELECT expression or HAVING constraint
# ---------------------------------------------------------------------------

_REGION_BAL = """SELECT r_name, sum(c_acctbal), count(*)
  FROM '{T}/customer.parquet' JOIN '{T}/nation.parquet' ON c_nationkey = n_nationkey
  JOIN '{T}/region.parquet' ON n_regionkey = r_regionkey GROUP BY r_name"""
_REGION_PATTERN = """?c ex:acctbal ?b ; ex:inNation ?n .
    ?n ex:inRegion ?reg . ?reg ex:name ?rn ."""


def test_aggregate_calls_inside_expressions(graph):
    want = {r: (s, n) for r, s, n in _db(_REGION_BAL)}
    rows = _sparql(
        graph,
        f"""SELECT ?rn (SUM(?b) / COUNT(*) AS ?r) (COUNT(*) + 1 AS ?k)
        WHERE {{ {_REGION_PATTERN} }} GROUP BY ?rn""",
    )
    assert {r["rn"] for r in rows} == set(want)
    for r in rows:
        s, n = want[r["rn"]]
        assert r["r"] == pytest.approx(s / n)
        assert int(r["k"]) == n + 1
    # an aggregate over an expression inside HAVING: 2·SUM above the
    # third-largest doubled region sum keeps exactly two regions
    cut = 2 * sorted(s for s, _ in want.values())[2]
    rows = _sparql(
        graph,
        f"""SELECT ?rn WHERE {{ {_REGION_PATTERN} }} GROUP BY ?rn
        HAVING (SUM(?b * 2) > {cut:.4f})""",
    )
    assert {r["rn"] for r in rows} == {r for r, (s, _) in want.items() if 2 * s > cut}
    assert len(rows) == 2


# ---------------------------------------------------------------------------
# one numeric-operand rule: arithmetic operands and a variable compared
# with a number read the lexical binding as a double
# ---------------------------------------------------------------------------


def test_numeric_operands_read_lexical_bindings(graph):
    [(gt, ge)] = _db(
        "SELECT count(*) FILTER (c_acctbal > 9000), count(*) FILTER (c_acctbal >= 0)"
        " FROM '{T}/customer.parquet'"
    )
    rows = _sparql(graph, "SELECT ?c WHERE { ?c ex:acctbal ?bal . FILTER(?bal > 9000) }")
    assert len(rows) == gt > 0
    rows = _sparql(graph, "SELECT ?c WHERE { ?c ex:acctbal ?b . FILTER(?b >= 0) }")
    assert len(rows) == ge > 0
    rows = _sparql(
        graph, "SELECT ?b ?x WHERE { ?c ex:acctbal ?b . BIND(?b * 2 AS ?x) }"
    )
    assert len(rows) == 150
    assert all(r["x"] == pytest.approx(2 * float(r["b"])) for r in rows)


# ---------------------------------------------------------------------------
# property: random FILTER expressions agree with a reference evaluator
# ---------------------------------------------------------------------------

# ?x always bound, ?y bound on s1, s3, s4 only (OPTIONAL)
_PROP_TRIPLES = [
    ("s1", "a", "ab"), ("s1", "b", "Ab-c"),
    ("s2", "a", "x-y"),
    ("s3", "a", ""), ("s3", "b", "ab"),
    ("s4", "a", "B-a"), ("s4", "b", "b"),
]


class _MemGraph:
    """The graph surface the SPARQL evaluator needs, over a small
    in-memory triple frame."""

    def __init__(self, spark):
        self.spark = spark
        rows = [(EX + s, EX + p, o, None, None, True) for s, p, o in _PROP_TRIPLES]
        self._tdf = spark.createDataFrame(rows, TRIPLE_SCHEMA).cache()
        self._tdf.count()

    def bgp(self, patterns):
        return bgp_over_triples(self._tdf, patterns)


@pytest.fixture(scope="module")
def mem_graph(spark):
    return _MemGraph(spark)


_str_leaf = st.one_of(
    st.sampled_from([("var", "x"), ("var", "y")]),
    st.sampled_from(["", "a", "ab", "-", "B"]).map(lambda s: ("const", s)),
)


def _str_t(depth):
    if depth == 0:
        return _str_leaf
    sub = _str_t(depth - 1)
    return st.one_of(
        _str_leaf,
        st.tuples(st.sampled_from(["STR", "UCASE", "LCASE"]), sub),
        st.tuples(st.sampled_from(["CONCAT", "STRBEFORE"]), sub, sub),
    )


def _bool_t(depth):
    s = _str_t(max(depth - 1, 0))
    leaves = st.one_of(
        st.tuples(st.sampled_from(["=", "!="]), s, s),
        st.tuples(st.just("LEN="), _str_t(max(depth - 2, 0)), st.integers(0, 3)),
        st.tuples(st.just("IN"), s, st.lists(s, min_size=1, max_size=2)),
        st.tuples(st.just("BOUND"), st.sampled_from(["x", "y"])),
        st.tuples(st.just("STRSTARTS"), s, s),
    )
    if depth <= 1:
        return leaves
    sub = _bool_t(depth - 1)
    return st.one_of(
        leaves,
        st.tuples(st.sampled_from(["&&", "||"]), sub, sub),
        st.tuples(st.just("!"), sub),
    )


def _txt(e) -> str:
    op = e[0]
    if op == "var":
        return "?" + e[1]
    if op == "const":
        return f'"{e[1]}"'
    if op in ("=", "!=", "&&", "||"):
        return f"({_txt(e[1])} {op} {_txt(e[2])})"
    if op == "LEN=":
        return f"(STRLEN({_txt(e[1])}) = {e[2]})"
    if op == "IN":
        return f"({_txt(e[1])} IN ({', '.join(_txt(i) for i in e[2])}))"
    if op == "BOUND":
        return f"BOUND(?{e[1]})"
    if op == "!":
        return f"(!{_txt(e[1])})"
    return f"{op}({', '.join(_txt(a) for a in e[1:])})"


def _ref(e, sol: dict):
    """SPARQL value of ``e`` under ``sol``; None is the error value
    (unbound variable), which the logical operators absorb per 17.2."""
    op = e[0]
    if op == "var":
        return sol.get(e[1])
    if op == "const":
        return e[1]
    if op == "BOUND":
        return e[1] in sol
    if op == "&&":
        a, b = _ref(e[1], sol), _ref(e[2], sol)
        return False if False in (a, b) else None if None in (a, b) else True
    if op == "||":
        a, b = _ref(e[1], sol), _ref(e[2], sol)
        return True if True in (a, b) else None if None in (a, b) else False
    if op == "!":
        a = _ref(e[1], sol)
        return None if a is None else not a
    if op == "IN":
        x, items = _ref(e[1], sol), [_ref(i, sol) for i in e[2]]
        if x is None:
            return None
        return True if x in items else None if None in items else False
    if op == "LEN=":
        x = _ref(e[1], sol)
        return None if x is None else len(x) == e[2]
    args = [_ref(a, sol) for a in e[1:]]
    if None in args:
        return None
    if op == "=":
        return args[0] == args[1]
    if op == "!=":
        return args[0] != args[1]
    if op == "STRSTARTS":
        return args[0].startswith(args[1])
    if op == "STR":
        return args[0]
    if op == "UCASE":
        return args[0].upper()
    if op == "LCASE":
        return args[0].lower()
    if op == "CONCAT":
        return args[0] + args[1]
    if op == "STRBEFORE":
        i = args[0].find(args[1])
        return args[0][:i] if i >= 0 else ""
    raise AssertionError(op)


def _ref_rows(e):
    sols = {}
    for s, p, o in _PROP_TRIPLES:
        sols.setdefault(s, {})["x" if p == "a" else "y"] = o
    return Counter(
        (EX + s, sol["x"], sol.get("y")) for s, sol in sols.items() if _ref(e, sol) is True
    )


@settings(max_examples=100, deadline=None, derandomize=True, database=None)
@given(_bool_t(3))
def test_random_filter_expressions_match_reference(mem_graph, e):
    query = (
        f"PREFIX ex: <{EX}> SELECT ?s ?x ?y WHERE {{ ?s ex:a ?x . "
        f"OPTIONAL {{ ?s ex:b ?y }} FILTER ({_txt(e)}) }}"
    )
    got = Counter(tuple(r) for r in execute(mem_graph, query).collect())
    assert got == _ref_rows(e), query
