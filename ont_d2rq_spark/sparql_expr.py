"""SPARQL expressions as one tree, compiled to Spark Columns — the
analogue of the reference's TransformExprToSQLApplyer + expr/* layer.

Every expression site (FILTER, BIND incl. STRLANG/STRDT, SELECT
``(expr AS ?a)``, aggregate arguments, HAVING, ORDER BY, and the string
filters of ``graph.bgp`` / ``optional_join``) parses once into a tuple
tree, which ``compile_expr`` turns into a Column; no expression text is
rewritten or re-parsed as SQL.  Nodes: a ``str`` is a variable (or bare
column) name; ("lit", value, datatype, lang) with value None = unbound;
("iri", iri); ("call", NAME, [args]); ("agg", FN, arg | None for *,
distinct, separator); ("not", x); ("neg", x); ("op", op, a, b);
("in", x, [items], negated); ("like", x, pattern, negated).

Dialect: SPARQL expressions plus LIKE, AND/OR/NOT, bare identifiers as
variables, single-quoted strings and pass-through Spark function names
(any name that is not a SPARQL builtin).

A per-site resolver ``col(name) -> Column`` maps variable and companion
names (``x``, ``x__dt``, ``x__lang``, ``x__islit``) to Columns — the
frame's column, an absent companion's untyped default, an OPTIONAL
slice's adopted side, an EXISTS body's binding; ``unbind`` turns
out-of-scope variables into the unbound value on the tree.  Bindings
are lexical strings, so arithmetic operands, and the non-numeric side
of a comparison with a number, read as ``try_cast(x AS double)``: a
non-numeric form is NULL (the SPARQL type error), not a failed cast.
"""

from __future__ import annotations

import operator
import re
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
COMPANIONS = ("__dt", "__lang", "__islit")
AGGREGATES = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}

_NUMERIC_DTS = {
    XSD + t
    for t in "integer decimal float double long int short byte nonNegativeInteger"
    " nonPositiveInteger negativeInteger positiveInteger unsignedLong unsignedInt"
    " unsignedShort unsignedByte".split()
}
# a trailing timezone designator of an xsd:dateTime lexical form
_TZ = r"(Z|[+-][0-9]{2}:[0-9]{2})$"

_TOK = re.compile(
    r"""
    (?P<iri><[^>\s]*>)
  | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')(?P<lang>@[\w-]+)?(?:\^\^(?P<dtiri><[^>]*>|[\w.-]*:[\w.-]+))?
  | (?P<var>[?$][A-Za-z_]\w*)
  | (?P<num>[+-]?\d+(?:\.\d+)?)
  | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<local>[\w.%-]*)
  | (?P<kw>[A-Za-z_]\w*)
  | (?P<op>>=|<=|!=|&&|\|\||[=<>+\-/!%^|?])
  | (?P<punct>[{}()\[\].;,*])
  | (?P<comment>\#[^\n]*)
  | (?P<ws>\s+)
""",
    re.VERBOSE,
)
_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


class SparqlError(ValueError):
    pass


def tokenize(text: str) -> list:
    """SPARQL text → token matches (whitespace and comments dropped)."""
    toks, pos = [], 0
    while pos < len(text):
        m = _TOK.match(text, pos)
        if not m:
            raise SparqlError(f"cannot tokenize at {text[pos:pos+30]!r}")
        pos = m.end()
        if m.lastgroup not in ("ws", "comment"):
            toks.append(m)
    return toks


def unescape(s: str) -> str:
    """SPARQL string escapes (\\t \\n \\" \\\\ …); any other backslash
    stays, so a regex written with a lone \\d keeps it."""
    return re.sub(r"\\(.)", lambda m: _ESCAPES.get(m.group(1), m.group(0)), s)


def _num_lit(text: str):
    n = float(text) if "." in text else int(text)
    return ("lit", n, XSD + ("integer" if isinstance(n, int) else "decimal"), None)


class ExprParser:
    """Precedence-climbing parser over ``tokenize`` output: ``expr()``
    parses a full expression, ``primary()`` one bracketed expression or
    call (a SPARQL Constraint), from token ``i`` on.  ``prefixes``
    expands pname IRIs; every ``?var`` seen is added to ``seen``."""

    def __init__(self, toks):
        self.toks, self.i = toks, 0
        self.prefixes: dict[str, str] = {}
        self.seen: set = set()

    def _g(self, k: int = 0):
        j = self.i + k
        return self.toks[j].group(0).upper() if j < len(self.toks) else None

    def _take(self):
        if self.i >= len(self.toks):
            raise SparqlError("unexpected end of expression")
        self.i += 1
        return self.toks[self.i - 1]

    def _expect(self, s: str):
        g = self._take().group(0)
        if g.upper() != s:
            raise SparqlError(f"expected {s!r}, got {g!r}")

    def _list(self) -> list:
        """Comma-separated expressions up to a closing ')' (consumed)."""
        items = []
        if self._g() != ")":
            items.append(self.expr())
            while self._g() == ",":
                self.i += 1
                items.append(self.expr())
        self._expect(")")
        return items

    def expr(self):
        a = self._and()
        while self._g() in ("||", "OR"):
            self.i += 1
            a = ("op", "||", a, self._and())
        return a

    def _and(self):
        a = self._not()
        while self._g() in ("&&", "AND"):
            self.i += 1
            a = ("op", "&&", a, self._not())
        return a

    def _not(self):
        # SQL's NOT binds looser than a comparison; SPARQL's '!' is unary
        if self._g() == "NOT" and self._g(1) != "EXISTS":
            self.i += 1
            return ("not", self._not())
        return self._rel()

    def _rel(self):
        a = self._add()
        g = self._g()
        if g in ("=", "!=", "<", ">", "<=", ">=", "<>"):
            self.i += 1
            return ("op", "!=" if g == "<>" else g, a, self._add())
        neg = g == "NOT" and self._g(1) in ("IN", "LIKE")
        if neg:
            self.i += 1
            g = self._g()
        if g == "IN":
            self.i += 1
            self._expect("(")
            return ("in", a, self._list(), neg)
        if g == "LIKE":
            self.i += 1
            return ("like", a, self._add(), neg)
        return a

    def _add(self):
        a = self._mul()
        while True:
            g = self._g()
            if g in ("+", "-"):
                self.i += 1
                a = ("op", g, a, self._mul())
            elif g is not None and self.toks[self.i].lastgroup == "num" and g[0] in "+-":
                # `?a -1`: the tokenizer reads a signed number
                self.i += 1
                a = ("op", g[0], a, self._mul_tail(_num_lit(g[1:])))
            else:
                return a

    def _mul(self):
        return self._mul_tail(self._unary())

    def _mul_tail(self, a):
        while self._g() in ("*", "/", "%"):
            op = self._take().group(0)
            a = ("op", op, a, self._unary())
        return a

    def _unary(self):
        g = self._g()
        if g in ("!", "-", "+"):
            self.i += 1
            x = self._unary()
            return ("not", x) if g == "!" else ("neg", x) if g == "-" else x
        return self.primary()

    def primary(self):
        t = self._take()
        g, kind = t.group(0), t.lastgroup
        if g == "(":
            x = self.expr()
            self._expect(")")
            return x
        if kind == "var":
            self.seen.add(g[1:])
            return g[1:]
        if kind == "num":
            return _num_lit(g)
        if t.group("str") is not None:
            lex = unescape(t.group("str")[1:-1])
            lang, dt = t.group("lang"), t.group("dtiri")
            dt = self._iri(dt) if dt else None
            if dt in _NUMERIC_DTS and re.fullmatch(r"[+-]?\d+(\.\d+)?", lex):
                return _num_lit(lex)[:2] + (dt, None)
            return ("lit", lex, dt, lang[1:] if lang else None)
        if kind == "iri":
            return ("iri", g[1:-1])
        if t.group("local") is not None:
            return ("iri", self._iri(g))
        if kind == "kw":
            w = g.upper()
            if self._g() == "(":
                self.i += 1
                if w in AGGREGATES:
                    return self._aggregate(w)
                return ("call", w, self._list())
            if w in ("TRUE", "FALSE"):
                return ("lit", w == "TRUE", XSD + "boolean", None)
            return g  # bare identifier: a column of the solution frame
        raise SparqlError(f"unexpected {g!r} in expression")

    def _iri(self, text: str) -> str:
        if text.startswith("<"):
            return text[1:-1]
        pfx, _, local = text.partition(":")
        if pfx not in self.prefixes:
            raise SparqlError(f"unknown prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def _aggregate(self, fn: str):
        distinct = self._g() == "DISTINCT"
        self.i += distinct
        arg = None
        if self._g() == "*":
            self.i += 1
            if distinct or fn != "COUNT":
                raise SparqlError(f"{fn}(*) only as COUNT(*)")
        elif self._g() in (")", ";"):
            raise SparqlError(f"empty aggregate argument in {fn}()")
        else:
            arg = self.expr()
        sep = None
        if self._g() == ";":
            if fn != "GROUP_CONCAT":
                raise SparqlError(f"';' only valid inside GROUP_CONCAT, not {fn}")
            self.i += 1
            self._expect("SEPARATOR")
            self._expect("=")
            st = self._take()
            if st.group("str") is None:
                raise SparqlError("SEPARATOR needs a string constant")
            sep = unescape(st.group("str")[1:-1])
        self._expect(")")
        return ("agg", fn, arg, distinct, sep)


def as_tree(f):
    """A filter given as one expression string (the graph API) → tree;
    a parsed tree passes through (a bare name is a variable either way)."""
    if not isinstance(f, str) or f.isidentifier():
        return f
    p = ExprParser(tokenize(f))
    tree = p.expr()
    if p.i != len(p.toks):
        raise SparqlError(f"unexpected {p.toks[p.i].group(0)!r} in expression {f!r}")
    return tree


_KIDS = {"not": (1,), "neg": (1,), "op": (2, 3), "like": (1, 2), "in": (1, 2),
         "call": (2,), "agg": (2,)}


def _map(tree, fn):
    """Rebuild ``tree`` with ``fn`` applied to every node, bottom-up."""
    if isinstance(tree, tuple) and tree[0] in _KIDS:
        parts = list(tree)
        for i in _KIDS[tree[0]]:
            x = parts[i]
            if isinstance(x, list):
                parts[i] = [_map(a, fn) for a in x]
            elif x is not None:
                parts[i] = _map(x, fn)
        tree = tuple(parts)
    return fn(tree)


def unbind(tree, names):
    """Replace references to the variables in ``names`` by the unbound
    value — SPARQL scope: a variable the group does not bind is
    unbound in its expressions even when an outer group binds it."""
    if not names:
        return tree
    return _map(tree, lambda t: ("lit", None, None, None) if isinstance(t, str) and t in names else t)


def lift_aggregates(tree, hidden: list):
    """Replace each aggregate call by a hidden column name, appending
    ``(name, agg node)`` to ``hidden``; the aggregation computes those
    columns, the rest of the tree evaluates over its output."""

    def lift(t):
        if isinstance(t, tuple) and t[0] == "agg":
            hidden.append((f"__h{len(hidden)}", t))
            return hidden[-1][0]
        return t

    return _map(tree, lift)


def split_companion(name: str):
    """'x__lang' → ('x', '__lang'); 'x' → ('x', None)."""
    base, sep, suf = name.rpartition("__")
    return (base, sep + suf) if base and sep + suf in COMPANIONS else (name, None)


def companion_default(name: str) -> Column:
    """What an absent companion column stands for: an untyped,
    non-literal binding (false islit, NULL datatype / lang)."""
    return F.lit(False) if name.endswith("__islit") else F.lit(None).cast("string")


def frame_resolver(cols):
    """Resolver over a frame with columns ``cols``: a column by its
    name, an absent companion by its untyped default."""
    cols = set(cols)

    def col(name):
        if name not in cols and split_companion(name)[1]:
            return companion_default(name)
        return F.col(name)

    return col


_ARITH = {"+": operator.add, "-": operator.sub, "*": operator.mul,
          "/": operator.truediv, "%": operator.mod}
_CMP = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
        ">": operator.gt, "<=": operator.le, ">=": operator.ge}
_NUMERIC_NODES = (
    {("op", o) for o in _ARITH}
    | {("agg", a) for a in ("COUNT", "SUM", "AVG")}
    | {("call", f) for f in "STRLEN ABS ROUND CEIL FLOOR RAND YEAR MONTH DAY HOURS"
       " MINUTES SECONDS".split()}
)


def _numeric(t) -> bool:
    """Statically numeric-valued node (its Column is already a number)."""
    if not isinstance(t, tuple):
        return False
    if t[0] == "lit":
        return type(t[1]) in (int, float)
    return t[0] == "neg" or t[:2] in _NUMERIC_NODES


def compile_expr(tree, col) -> Column:
    """Tree → Column; ``col(name)`` resolves variable and companion
    names at this expression site."""

    def c(t):
        return compile_expr(t, col)

    def num(t):
        return c(t) if _numeric(t) else c(t).try_cast("double")

    if isinstance(tree, str):
        return col(tree)
    kind = tree[0]
    if kind == "lit":
        return F.lit(tree[1]) if tree[1] is not None else F.lit(None).cast("string")
    if kind == "iri":
        return F.lit(tree[1])
    if kind == "not":
        return ~c(tree[1])
    if kind == "neg":
        return -num(tree[1])
    if kind == "op":
        op, a, b = tree[1:]
        if op == "&&":
            return c(a) & c(b)
        if op == "||":
            return c(a) | c(b)
        if op in _ARITH:
            return _ARITH[op](num(a), num(b))
        if _numeric(a) != _numeric(b):
            return _CMP[op](num(a), num(b))
        return _CMP[op](c(a), c(b))
    if kind == "in":
        x, items, neg = tree[1:]
        cast = not _numeric(x) and any(_numeric(i) for i in items)
        out = (num(x) if cast else c(x)).isin(*[c(i) for i in items])
        return ~out if neg else out
    if kind == "like":
        out = F.call_function("like", c(tree[1]), c(tree[2]))
        return ~out if tree[3] else out
    if kind == "call":
        name, args = tree[1], tree[2]
        if name in _TERM_FNS:
            return _TERM_FNS[name](*args, col=col)
        fn = _FNS.get(name) or (lambda *xs: F.call_function(name.lower(), *xs))
        return fn(*[c(a) for a in args])
    if kind == "agg":
        raise SparqlError(f"aggregate {tree[1]}() outside SELECT / HAVING")
    raise SparqlError(f"unknown expression node {kind!r}")  # pragma: no cover


def companion(t, suf: str, col) -> Column:
    """The typed-literal companion ``suf`` of an expression's value: a
    variable's companion column, a constant's own tag, a STRLANG /
    STRDT constructor's tag; other call results are simple literals
    (IRI() results are IRIs)."""
    if isinstance(t, str):
        return col(t + suf)
    kind, dt, lang, islit = t[0], None, None, True
    if kind == "lit":
        if t[1] is None:  # unbound
            return companion_default(suf)
        dt, lang = t[2], t[3]
    elif kind == "iri" or (kind == "call" and t[1] in ("IRI", "URI")):
        islit = False
    elif kind == "call" and t[1] in ("STRLANG", "STRDT") and len(t[2]) == 2:
        if suf == ("__lang" if t[1] == "STRLANG" else "__dt"):
            return compile_expr(t[2][1], col)
    if suf == "__islit":
        return F.lit(islit)
    return F.lit(dt if suf == "__dt" else lang).cast("string")


def _islit(t, col) -> Column:
    return F.coalesce(companion(t, "__islit", col), F.lit(False))


def _ts(x: Column) -> Column:
    # the accessors return the component IN THE VALUE'S OWN timezone;
    # a zone-qualified cast would shift it into the session timezone
    # (HOURS('…T14:45:13-05:00') must be 14, not 19 under UTC), so the
    # designator is stripped before the cast
    return F.regexp_replace(x, _TZ, "").cast("timestamp")


def _flagged(pat: Column, flags) -> Column:
    """REGEX / REPLACE pattern with its optional flags as an inline
    (?flags) group."""
    return F.concat(F.lit("(?"), flags[0], F.lit(")"), pat) if flags else pat


def _strbefore(a, b):
    # '' (not NULL) when the needle is absent; unbound stays unbound
    pos = F.call_function("instr", a, b)
    return F.when(pos > 0, F.substring(a, F.lit(1), pos - 1)).when(pos == 0, F.lit(""))


def _strafter(a, b):
    pos = F.call_function("instr", a, b)
    rest = F.call_function("substring", a, pos + F.length(b))
    return F.when(pos > 0, rest).when(pos == 0, F.lit(""))


def _lang_matches(tag, rng):
    tag, low = F.lower(tag), F.lower(rng)
    exact = (tag == low) | tag.startswith(F.concat(low, F.lit("-")))
    # langMatches(x, "*"): any non-empty tag
    return F.when(rng == F.lit("*"), tag != F.lit("")).otherwise(exact)


def _datatype(t, col):
    # RDF 1.1 / SPARQL 17.4.2.7: a language-tagged literal's datatype is
    # rdf:langString; a plain literal IS xsd:string
    lang = companion(t, "__lang", col)
    return F.when(F.nullif(lang, F.lit("")).isNotNull(), F.lit(RDF_LANGSTRING)).otherwise(
        F.coalesce(companion(t, "__dt", col), F.when(_islit(t, col), F.lit(XSD_STRING)))
    )


def _same_term(a, b, col):
    """Full RDF-term identity: lexical form, datatype, lang and
    literal-kind, null-safe on every part."""
    out = compile_expr(a, col).eqNullSafe(compile_expr(b, col))
    for suf in ("__dt", "__lang"):
        out = out & companion(a, suf, col).eqNullSafe(companion(b, suf, col))
    return out & _islit(a, col).eqNullSafe(_islit(b, col))


def _is_iri(t, col):
    return ~_islit(t, col) & ~compile_expr(t, col).startswith("_:")


# builtins over whole RDF terms (value and companions): they take the
# argument trees
_TERM_FNS = {
    "LANG": lambda t, col: F.coalesce(companion(t, "__lang", col), F.lit("")),
    "DATATYPE": _datatype,
    "ISLITERAL": _islit,
    "ISBLANK": lambda t, col: ~_islit(t, col) & compile_expr(t, col).startswith("_:"),
    "ISIRI": _is_iri,
    "ISURI": _is_iri,
    "ISNUMERIC": lambda t, col: _islit(t, col) & F.coalesce(
        companion(t, "__dt", col).isin(*sorted(_NUMERIC_DTS)), F.lit(False)
    ),
    "SAMETERM": _same_term,
}


def _same(x, *_tag):
    return x


# builtins over argument values; any other name calls the Spark function
_FNS = {
    # node values are lexical strings; STRLANG / STRDT tags go to the
    # companions (``companion``)
    "STR": _same, "IRI": _same, "URI": _same, "STRLANG": _same, "STRDT": _same,
    "BOUND": Column.isNotNull,
    "LANGMATCHES": _lang_matches,
    "REGEX": lambda x, pat, *flags: F.regexp_like(x, _flagged(pat, flags)),
    # SPARQL REPLACE is regex-based (fn:replace), like regexp_replace
    "REPLACE": lambda x, pat, rep, *flags: F.regexp_replace(x, _flagged(pat, flags), rep),
    "STRSTARTS": Column.startswith, "STRENDS": Column.endswith,
    "CONTAINS": Column.contains,
    "STRBEFORE": _strbefore, "STRAFTER": _strafter,
    "STRLEN": F.length, "UCASE": F.upper, "LCASE": F.lower,
    "SUBSTR": lambda *xs: F.call_function("substring", *xs),
    # RFC 3986 percent-encoding: url_encode is form encoding ('+' for space)
    "ENCODE_FOR_URI": lambda x: F.replace(F.url_encode(x), F.lit("+"), F.lit("%20")),
    "MD5": F.md5, "SHA1": F.sha1,
    "SHA256": lambda x: F.sha2(x, 256),
    "SHA384": lambda x: F.sha2(x, 384),
    "SHA512": lambda x: F.sha2(x, 512),
    "YEAR": lambda x: F.year(_ts(x)),
    "MONTH": lambda x: F.month(_ts(x)),
    "DAY": lambda x: F.dayofmonth(_ts(x)),
    "HOURS": lambda x: F.hour(_ts(x)),
    "MINUTES": lambda x: F.minute(_ts(x)),
    # SECONDS is xsd:decimal: fractional seconds survive
    "SECONDS": lambda x: F.date_format(_ts(x), "ss.SSS").cast("decimal(9,3)"),
    "TZ": lambda x: F.coalesce(F.regexp_extract(x, _TZ, 1), F.lit("")),
    # UUID mints a urn:uuid IRI, STRUUID the bare string; NOW is the
    # xsd:dateTime lexical form (one timestamp per query)
    "UUID": lambda: F.concat(F.lit("urn:uuid:"), F.uuid()),
    "STRUUID": F.uuid,
    "RAND": F.rand,
    "NOW": lambda: F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSxxx"),
}
