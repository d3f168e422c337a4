"""SPARQL front-end — the analogue of QueryEngineD2RQ (SURVEY §3 E2).

The reference registers a custom ARQ engine: BGPs compile to SQL via
GraphPatternTranslator/NodeRelationJoiner, residual algebra runs in
ARQ.  Here the same split is: BGP + pushable FILTERs compile to the
DataFrame join DAG (graph.bgp), residual ops (ORDER BY, LIMIT,
DISTINCT, projection) are native DataFrame ops — Catalyst is both the
translator and the executor.

Grammar (the practical subset D2RQ deployments use — the reference
gets the residual algebra free from ARQ, engine/QueryEngineD2RQ.java;
here the residual ops are native DataFrame ops):

  PREFIX pfx: <iri>                         (any number)
  CONSTRUCT { template triples } WHERE { ... }   → triple frame
  DESCRIBE (?v ... | <iri> ...) [WHERE { ... }]  → triple frame
  SELECT [DISTINCT] (?v ... | (AGG(?v) AS ?a) | (expr AS ?a) | *) WHERE {
      triple patterns '.'-separated;  { A } UNION { B } groups;
      FILTER (<expr>)            — SPARQL expressions plus LIKE and
                                   pass-through Spark function names
                                   (sparql_expr: one tree, compiled
                                   to a Column), with the builtins
                                   regex()/str()/lang()/datatype()/
                                   bound()/isLiteral()/isIRI()/
                                   STRSTARTS/STRENDS/STRLEN/UCASE/LCASE/
                                   CONTAINS/SUBSTR/langMatches/STRBEFORE/
                                   STRAFTER/REPLACE (regex)/CONCAT/
                                   ENCODE_FOR_URI/IRI/MD5/SHA1/SHA256/384/
                                   512/isBlank/isNumeric/sameTerm/
                                   YEAR..SECONDS/TZ/UUID/STRUUID/RAND/NOW
      FILTER [NOT] EXISTS { triple patterns }  — semi/anti join
      OPTIONAL { triple patterns [FILTER...] }  — FILTERs written inside
                                   the braces scope to the LeftJoin
                                   condition (failing filter un-binds
                                   the optional part, SPARQL leftjoin)
      MINUS { triple patterns [FILTER...] }  — anti-join on the shared
                                   variables; inner FILTERs scope to
                                   the group (same for UNION branches,
                                   EXISTS and GRAPH groups)
      BIND (<expr> AS ?v)        — incl. STRLANG/STRDT constructors,
                                   whose tag lands in ?v's companion
                                   columns (visible to lang()/datatype()
                                   and typed CONSTRUCT output)
      VALUES ?v { t1 t2 ... } | VALUES (?v ?w) { (t1 t2) ... }
      { SELECT ... WHERE { ... } ... }  — subquery, joined on shared vars
      GRAPH (<iri> | ?g) { ... }  — named-graph scope (data / vocabulary)
  }
  [GROUP BY ?v ...] [HAVING (<expr over aliases or aggregate calls>) ...]
  [ORDER BY [ASC|DESC](<expr>) | ?v ...] [LIMIT n] [OFFSET n]
  ASK WHERE { ... }

Aggregates: COUNT(*) / COUNT(?v) / COUNT(DISTINCT ?v) / SUM / AVG /
MIN / MAX (SUM/AVG cast the lexical binding to double; MIN/MAX compare
the lexical form) / GROUP_CONCAT([DISTINCT] ?v; SEPARATOR="s") /
SAMPLE(?v).  Aggregate arguments may be full EXPRESSIONS —
SUM(?price * (1 - ?disc)), the TPC-H Q1 shape — and aggregate calls
may sit anywhere in a SELECT expression or HAVING constraint, each one
hidden aggregate column (numeric operands: sparql_expr).  GROUP_CONCAT
sorts members before joining and SAMPLE takes the minimum — SPARQL
leaves both unspecified; this engine picks the deterministic
representative so results are reproducible across partitionings (and
replayable by the DuckDB oracle).  BINDs evaluate before FILTERs
within a group.

Terms: <iri>, pfx:local, "literal" (@lang / ^^dt make the bound term a
TYPED literal — datatype/lang must unify, TypedNodeMaker semantics),
numbers, ?var / $var, 'a' for rdf:type, and blank-node property lists
`[ p1 o1 ; p2 o2 ]` / `[]` in subject or object position (expanded to
non-distinguished `?__bn…` variables, excluded from SELECT *).
`# line comments` are skipped by the tokenizer.

Property paths (predicate position): ^p inverse, p1/p2 sequence
(rewritten through fresh join variables), p1|p2 alternation (union of
bridge candidates), p+ / p* / p? repetition (distributed transitive
closure, operators/closure.py), parenthesized groups — inline splice
or `(p1/p2)+` composite-edge closure, `!p` / `!(p1|^p2)` negated
property sets (mixed forward/inverse member lists evaluate as the
union of the two directions).  VALUES supports UNDEF (NULL cell +
null-safe join).  DESCRIBE emits the full Concise Bounded Description
(bNode fixpoint expansion).

Group bodies are RECURSIVE (r5): OPTIONAL/UNION/MINUS/EXISTS/GRAPH
groups carry the same algebra as the top level — BIND, VALUES, nested
OPTIONAL/UNION/MINUS/EXISTS, subqueries and GRAPH all evaluate inside
the group with correct scope (_eval_where; the reference gets this
from ARQ's recursive OpExecutor).  An OPTIONAL group's TOP-LEVEL
filters form the LeftJoin condition; nested filters scope to their own
group.  Known scope limits (loud, not silent): a filter in an inner
group referencing an outer-group-only variable fails Catalyst
resolution, and FILTER EXISTS evaluates group-locally (it cannot see
the outer row's bindings — no correlated substitution).

Repetition also composes over a negated set (`!p+`, `!(p|^q)*`): the
NPS evaluation supplies the closure's base edge set.

Not supported (raise): SERVICE (permanently excluded — this engine
runs without network access; the reference gets federation free from
ARQ).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ont_d2rq_spark.sparql_expr import (
    COMPANIONS,
    ExprParser,
    SparqlError,
    companion,
    compile_expr,
    frame_resolver,
    lift_aggregates,
    split_companion,
    tokenize,
    unbind,
    unescape,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

@dataclass
class Query:
    form: str  # SELECT | ASK
    variables: list[str] = field(default_factory=list)  # output names; empty = *
    distinct: bool = False
    patterns: list[tuple] = field(default_factory=list)
    # expressions are sparql_expr trees (FILTER, HAVING, BIND, ORDER BY,
    # SELECT expressions)
    filters: list = field(default_factory=list)
    # OPTIONAL groups: full recursive Query bodies whose top-level
    # .filters form the LeftJoin condition (SPARQL leftjoin)
    optional: list["Query"] = field(default_factory=list)
    # UNION branches: full recursive Query bodies (branch-scoped
    # filters and nested constructs evaluate inside the branch)
    union: list["Query"] = field(default_factory=list)
    order_by: list[tuple] = field(default_factory=list)  # (tree, desc)
    limit: Optional[int] = None
    offset: Optional[int] = None
    # ("var", name) | ("expr", tree, alias)
    projections: list[tuple] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: list = field(default_factory=list)
    binds: list[tuple] = field(default_factory=list)  # (tree, var)
    values_clauses: list[tuple] = field(default_factory=list)  # (vars, rows)
    # trailing query-level ValuesClause: joined AFTER the WHERE group
    # evaluates (SPARQL 18.2.2 P := Join(P, ToMultiSet(data))) — a WHERE
    # filter referencing a var bound only here must see it UNBOUND
    trailing_values: list[tuple] = field(default_factory=list)  # (vars, rows)
    minus: list["Query"] = field(default_factory=list)  # recursive group bodies
    template: list[tuple] = field(default_factory=list)  # CONSTRUCT triples
    describe: list[str] = field(default_factory=list)  # DESCRIBE nodes
    subqueries: list["Query"] = field(default_factory=list)
    graphs: list[tuple] = field(default_factory=list)  # (graph term, Query body)
    exists: list[tuple] = field(default_factory=list)  # (negated, Query body)
    # dataset clauses (top-level queries only; subqueries cannot carry
    # them per the grammar): FROM <g> graphs merge into the default
    # graph, FROM NAMED <g> restricts what GRAPH can range over
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # every ?var seen in any expression of the query (nested groups
    # inherit via known_vars): a var only an expression references is
    # no binding column, yet must read as unbound (_in_scope), not fail
    # Catalyst resolution
    expr_vars: set = field(default_factory=set)


class _GroupAtom:
    """Parser-internal: a parenthesized path group's alternatives."""

    def __init__(self, alts):
        self.alts = alts


class _P(ExprParser):
    """The query parser; its expression sites call the inherited
    ExprParser (``expr()``, or ``primary()`` for a FILTER / HAVING /
    ORDER BY constraint), which records every ?var in ``seen``."""

    def __init__(self, text: str):
        super().__init__(tokenize(text))
        self._fresh_n = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        if t is None:
            raise SparqlError("unexpected end of query")
        self.i += 1
        return t

    def kw(self, *words) -> Optional[str]:
        t = self.peek()
        if t is not None and t.group(0).upper() in words:
            self.next()
            return t.group(0).upper()
        return None

    def expect(self, s):
        t = self.next()
        if t.group(0).upper() != s.upper():
            raise SparqlError(f"expected {s!r}, got {t.group(0)!r}")

    # ---- terms -----------------------------------------------------
    def term(self):
        t = self.next()
        g = t.group(0)
        if t.lastgroup in ("iri",):
            return g[1:-1]
        if t.group("str") is not None:
            lex = unescape(t.group("str")[1:-1])
            lang, dt = t.group("lang"), t.group("dtiri")
            if lang or dt:
                # typed literal → datatype/lang must UNIFY with the
                # relation's literal type (TypedNodeMaker semantics)
                from ont_d2rq_spark.graph import Lit

                dturi = self._iri(dt) if dt else None
                return Lit(lex, datatype=dturi, lang=lang[1:] if lang else None)
            # plain literal → matched on lexical form
            return lex
        if t.lastgroup == "var":
            return "?" + g[1:]
        if t.lastgroup == "num":
            return g
        if g == "a":
            return RDF_TYPE
        if t.group("local") is not None:
            pfx = t.group("pname") or ""
            if pfx not in self.prefixes:
                raise SparqlError(f"unknown prefix {pfx!r}")
            return self.prefixes[pfx] + t.group("local")
        raise SparqlError(f"unexpected token {g!r}")

    # ---- grammar ---------------------------------------------------
    def parse(self) -> Query:
        while self.kw("PREFIX"):
            t = self.next()
            pfx = t.group("pname") or ""
            iri = self.next().group(0)
            if not iri.startswith("<"):
                raise SparqlError("PREFIX needs <iri>")
            self.prefixes[pfx] = iri[1:-1]
        form = self.kw("SELECT", "ASK", "CONSTRUCT", "DESCRIBE")
        if not form:
            raise SparqlError("only SELECT / ASK / CONSTRUCT / DESCRIBE supported")
        q = Query(form=form)
        if form == "CONSTRUCT":
            nxt = self.peek()
            if nxt is not None and nxt.group(0).upper() in ("WHERE", "FROM"):
                # CONSTRUCT WHERE { tp … } shorthand: the WHERE pattern
                # doubles as the template (plain triple patterns only —
                # paths/brackets have no template form, per the spec).
                # Grammar: CONSTRUCT DatasetClause* WHERE GroupGraphPattern
                self._dataset(q)
                self.expect("WHERE")
                self.expect("{")
                self._group(q.patterns, q)
                for s, p, o in q.patterns:
                    if not isinstance(p, str):
                        raise SparqlError(
                            "CONSTRUCT WHERE shorthand allows plain triple "
                            "patterns only (no property paths)"
                        )
                if _where_content(q) and (
                    q.filters or q.optional or q.union or q.binds
                    or q.values_clauses or q.minus or q.exists or q.graphs
                    or q.subqueries
                ):
                    raise SparqlError(
                        "CONSTRUCT WHERE shorthand allows triple patterns only"
                    )
                q.template = list(q.patterns)
                self._modifiers(q)
                if self.kw("VALUES"):
                    q.trailing_values.append(self._values_clause())
                return q
            self.expect("{")
            self._template(q)
        if form == "DESCRIBE":
            while True:
                t = self.peek()
                if (
                    t is None
                    or t.group(0).upper() in ("WHERE", "FROM")
                    or t.group(0) == "{"
                ):
                    break
                q.describe.append(self.term())
            if not q.describe:
                raise SparqlError("DESCRIBE needs at least one node")
            self._dataset(q)
            if self.peek() is None:  # DESCRIBE <iri> with no WHERE
                return q
        if form == "SELECT":
            self._select_clause(q)
        self._dataset(q)
        self.kw("WHERE")
        self.expect("{")
        self._group(q.patterns, q)
        self._modifiers(q)
        # trailing VALUES block (SPARQL ValuesClause: after the solution
        # modifiers, applies to the whole query — joined AFTER the WHERE
        # group so group FILTERs see its vars as unbound, per 18.2.2)
        if self.kw("VALUES"):
            q.trailing_values.append(self._values_clause())
        return q

    def _select_clause(self, q: Query):
        """SELECT [DISTINCT] projection list (after SELECT consumed)."""
        q.distinct = bool(self.kw("DISTINCT"))
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("missing WHERE")
            if t.group(0) == "*":
                self.next()
                break
            if t.lastgroup == "var":
                v = self.next().group(0)[1:]
                q.projections.append(("var", v))
                q.variables.append(v)
                continue
            if t.group(0) == "(":
                self.next()
                tree = self.expr()
                self.expect("AS")
                alias = self.next()
                if alias.lastgroup != "var":
                    raise SparqlError("select expression needs AS ?alias")
                self.expect(")")
                q.projections.append(("expr", tree, alias.group(0)[1:]))
                q.variables.append(alias.group(0)[1:])
                continue
            break

    def _dataset(self, q: Query):
        """DatasetClause*: FROM <iri> | FROM NAMED <iri>.  The reference
        inherits dataset handling from ARQ (engine/QueryEngineD2RQ.java
        delegates query-level dataset construction); here the clauses
        select/merge named graphs before evaluation (_DatasetGraph)."""
        while self.kw("FROM"):
            named = bool(self.kw("NAMED"))
            t = self.peek()
            if t is None or not (t.lastgroup == "iri" or t.group("local") is not None):
                raise SparqlError("FROM needs an IRI")
            iri = self.term()
            (q.from_named if named else q.from_graphs).append(iri)

    def _modifiers(self, q: Query):
        """GROUP BY / HAVING / ORDER BY / LIMIT / OFFSET."""
        if self.kw("GROUP"):
            self.expect("BY")
            while self.peek() is not None and self.peek().lastgroup == "var":
                q.group_by.append(self.next().group(0)[1:])
            if not q.group_by:
                raise SparqlError("GROUP BY needs at least one ?var")
        while self.kw("HAVING"):
            q.having.append(self.primary())
        if self.kw("ORDER"):
            self.expect("BY")
            # [ASC|DESC](expr), ?var, (expr) or a call, until the next clause
            while True:
                desc = self.kw("ASC", "DESC")
                t = self.peek()
                if desc is None and (
                    t is None or t.group(0).upper() in ("LIMIT", "OFFSET", "VALUES", "}")
                ):
                    break
                q.order_by.append((self.primary(), desc == "DESC"))
        if self.kw("LIMIT"):
            q.limit = int(self.next().group(0))
        if self.kw("OFFSET"):
            q.offset = int(self.next().group(0))

    def _braced(self) -> "Query":
        """Parse a braced group's contents ('{' already consumed) into
        a scratch Query: patterns plus ALL nested constructs (OPTIONAL,
        UNION, BIND, VALUES, MINUS, FILTER EXISTS, GRAPH, subqueries),
        recursively — group bodies carry the same algebra as the top
        level and evaluate through _eval_where (the Spark analogue of
        ARQ's recursive OpExecutor).  The caller decides how the
        group's TOP-LEVEL filters scope: OPTIONAL puts them in the
        LeftJoin condition; UNION branches / MINUS / EXISTS / GRAPH
        evaluate them inside the group."""
        subq = Query(form="SELECT")
        self._group(subq.patterns, subq)
        return subq

    def _group(self, patterns: list, q: Query):
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated group")
            g = t.group(0)
            if g == "}":
                self.next()
                return
            if g == ".":
                self.next()
                continue
            if g.upper() == "FILTER":
                self.next()
                nxt = self.peek()
                # FILTER [NOT] EXISTS { … } → semi/anti join on the
                # shared variables; both the bare form and the
                # parenthesized spelling FILTER ((NOT) EXISTS { … })
                wrapped = False
                if nxt is not None and nxt.group(0) == "(":
                    a1 = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
                    a2 = self.toks[self.i + 2] if self.i + 2 < len(self.toks) else None
                    is_ex = a1 is not None and (
                        a1.group(0).upper() == "EXISTS"
                        or (
                            a1.group(0).upper() == "NOT"
                            and a2 is not None
                            and a2.group(0).upper() == "EXISTS"
                        )
                    )
                    if is_ex:
                        self.next()  # consume '('
                        wrapped = True
                        nxt = self.peek()
                if nxt is not None and nxt.group(0).upper() in ("EXISTS", "NOT"):
                    neg = nxt.group(0).upper() == "NOT"
                    self.next()
                    if neg:
                        ex = self.next()
                        if ex is None or ex.group(0).upper() != "EXISTS":
                            raise SparqlError("expected EXISTS after FILTER NOT")
                    self.expect("{")
                    q.exists.append((neg, self._braced()))
                    if wrapped:
                        self.expect(")")
                    continue
                q.filters.append(self.primary())
                continue
            if g.upper() == "OPTIONAL":
                self.next()
                self.expect("{")
                # FILTERs written at the TOP level of the OPTIONAL
                # braces belong to the LeftJoin condition (SPARQL
                # leftjoin): a failing filter un-binds the optional
                # part instead of dropping the solution.  Anything
                # nested deeper (another OPTIONAL, UNION, BIND, ...)
                # evaluates recursively inside the group body.
                q.optional.append(self._braced())
                continue
            if g == "{":
                self.next()
                nxt = self.peek()
                if nxt is not None and nxt.group(0).upper() == "SELECT":
                    # subquery: { SELECT ... WHERE { ... } modifiers } —
                    # evaluated independently, joined on shared variables
                    self.next()
                    sub = Query(form="SELECT")
                    self._select_clause(sub)
                    self.kw("WHERE")
                    self.expect("{")
                    self._group(sub.patterns, sub)
                    self._modifiers(sub)
                    self.expect("}")
                    q.subqueries.append(sub)
                    continue
                # group — the { A } UNION { B } [UNION { C }] form.
                # Each branch is a full recursive group; its FILTERs
                # (and nested constructs) scope to that branch alone.
                # A lone braced group with no UNION keyword evaluates
                # as a plain nested group (one-branch "union").
                q.union.append(self._braced())
                while self.kw("UNION"):
                    self.expect("{")
                    q.union.append(self._braced())
                continue
            if g.upper() == "MINUS":
                self.next()
                self.expect("{")
                q.minus.append(self._braced())
                continue
            if g.upper() == "BIND":
                # STRLANG / STRDT constructors are calls like any other;
                # their tag lands in the target's companion columns
                self.next()
                self.expect("(")
                tree = self.expr()
                self.expect("AS")
                var = self.next()
                if var.lastgroup != "var":
                    raise SparqlError("BIND needs (expr AS ?var)")
                self.expect(")")
                q.binds.append((tree, var.group(0)[1:]))
                continue
            if g.upper() == "VALUES":
                self.next()
                q.values_clauses.append(self._values_clause())
                continue
            if g.upper() == "GRAPH":
                # GRAPH <iri> { … } / GRAPH ?g { … }: the group's
                # patterns evaluate against the named graph (data or
                # vocabulary); ?g unions both with ?g bound
                self.next()
                gterm = self.term()
                self.expect("{")
                q.graphs.append((gterm, self._braced()))
                continue
            if g.upper() == "SERVICE":
                raise SparqlError("SERVICE not supported (no network)")
            s = self._term_or_bnode(patterns)
            # a bracketed subject may stand alone as a whole triple
            # block: `[ a ex:Nation ; ex:p ?o ] .` (SPARQL grammar:
            # TriplesSameSubject → BlankNodePropertyList PropertyList?)
            nxt_t = self.peek()
            if (
                isinstance(s, str)
                and s.startswith("?__bn")
                and (nxt_t is None or nxt_t.group(0) in (".", "}"))
            ):
                continue
            alts = self._path()
            patterns.extend(self._expand_path(s, alts, self._term_or_bnode(patterns)))
            # object lists: s p o1 , o2
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                patterns.extend(
                    self._expand_path(s, alts, self._term_or_bnode(patterns))
                )
            # predicate lists: s p1 o1 ; p2 o2
            while self.peek() is not None and self.peek().group(0) == ";":
                self.next()
                if self.peek() is not None and self.peek().group(0) in (".", "}"):
                    break
                alts2 = self._path()
                patterns.extend(
                    self._expand_path(s, alts2, self._term_or_bnode(patterns))
                )

    def _term_or_bnode(self, patterns: list):
        """A term, or a blank-node property list `[ p1 o1 ; p2 o2 ]`
        (anonymous `[]` allowed) — SPARQL's bracketed bnode syntax.  A
        query bnode is a NON-DISTINGUISHED variable: expand to a fresh
        `?__bn…` (the `__` prefix keeps it out of SELECT *) and append
        the bracketed triples to the current group; nested brackets
        recurse."""
        t = self.peek()
        if t is None or t.group(0) != "[":
            return self.term()
        self.next()
        self._fresh_n += 1
        var = f"?__bn{self._fresh_n}"
        if self.peek() is not None and self.peek().group(0) == "]":
            self.next()
            return var
        while True:
            alts = self._path()
            patterns.extend(
                self._expand_path(var, alts, self._term_or_bnode(patterns))
            )
            while self.peek() is not None and self.peek().group(0) == ",":
                self.next()
                patterns.extend(
                    self._expand_path(var, alts, self._term_or_bnode(patterns))
                )
            if self.peek() is not None and self.peek().group(0) == ";":
                self.next()
                if self.peek() is not None and self.peek().group(0) == "]":
                    break
                continue
            break
        self.expect("]")
        return var

    def _template(self, q: Query):
        """CONSTRUCT template: plain s/p/o triples, '.'-separated."""
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated CONSTRUCT template")
            if t.group(0) == "}":
                self.next()
                return
            if t.group(0) == ".":
                self.next()
                continue
            q.template.append(
                (self._template_term(), self._template_term(), self._template_term())
            )

    def _template_term(self):
        """Template terms must distinguish literal constants from IRIs —
        force plain string literals into Lit so CONSTRUCT emits them as
        literals."""
        t = self.peek()
        is_str = t is not None and t.group("str") is not None
        term = self.term()
        if is_str and not hasattr(term, "datatype"):
            from ont_d2rq_spark.graph import Lit

            term = Lit(term)
        return term

    # ---- property paths (pred position): ^inv, p1/p2 sequence,
    #      p1|p2 alternation, p+ / p* / p? repetition, (group) ------------
    def _path_atom(self):
        inv = False
        if self.peek() is not None and self.peek().group(0) == "^":
            self.next()
            inv = True
        if self.peek() is not None and self.peek().group(0) == "!":
            self.next()
            t = self._negated_set(outer_inv=inv)
            # repetition over a negated set — `!p+`, `(^!(p|q))*`: the
            # NPS defines the closure's base edge set (any edge whose
            # predicate is outside the list); PathPlus handles the
            # iteration exactly as for a named predicate.  `^` was
            # already folded into the member directions (`^!p ≡ !^p`,
            # and the inverse of a closure is the closure of the
            # inverted edge set), so inv is always False here.
            mod = None
            if self.peek() is not None and self.peek().group(0) in ("+", "*", "?"):
                mod = self.next().group(0)
            return (t, False, mod)
        if self.peek() is not None and self.peek().group(0) == "(":
            self.next()
            t = _GroupAtom(self._path())
            self.expect(")")
        else:
            t = self.term()
        mod = None
        if self.peek() is not None and self.peek().group(0) in ("+", "*", "?"):
            mod = self.next().group(0)
        return (t, inv, mod)

    def _negated_set(self, outer_inv: bool):
        """After '!': a single (possibly ^-inverted) IRI or a
        parenthesized |-list of them → graph.NegatedSet (mixed
        forward/inverse sets evaluate as a union of the two
        directions, graph.bgp).  ``outer_inv`` handles `^!(...)` ≡
        `!(^...)` by flipping every member's direction."""
        from ont_d2rq_spark.graph import NegatedSet

        members: list[tuple[str, bool]] = []

        def one():
            minv = False
            if self.peek() is not None and self.peek().group(0) == "^":
                self.next()
                minv = True
            m = self.term()
            if not isinstance(m, str) or m.startswith("?"):
                raise SparqlError("negated property set members must be IRIs")
            members.append((m, minv != outer_inv))

        if self.peek() is not None and self.peek().group(0) == "(":
            self.next()
            one()
            while True:
                t = self.next()
                if t is None:
                    raise SparqlError("unterminated negated property set")
                if t.group(0) == ")":
                    break
                if t.group(0) != "|":
                    raise SparqlError(
                        f"expected '|' or ')' in negated property set, got {t.group(0)!r}"
                    )
                one()
        else:
            one()
        fwd = tuple(m for m, i in members if not i)
        inv = tuple(m for m, i in members if i)
        return NegatedSet(fwd, inv)

    def _path(self):
        """→ list of alternatives; each alternative a list of atoms
        ('/' binds tighter than '|', per the SPARQL grammar)."""
        alts = [[self._path_atom()]]
        while self.peek() is not None and self.peek().group(0) in ("/", "|"):
            op = self.next().group(0)
            atom = self._path_atom()
            if op == "/":
                alts[-1].append(atom)
            else:
                alts.append([atom])
        return alts

    def _expand_path(self, s, alts, o) -> list:
        """Path → plain triple patterns: sequences chain through fresh
        variables, ^ swaps s/o, repetition modifiers become PathPlus
        markers the BGP compiler evaluates as a transitive closure;
        parenthesized groups splice inline (no modifier) or become a
        PathGroup closure base — `(p1/p2)+` iterates over the group's
        composite edge set."""
        from ont_d2rq_spark.graph import PathGroup, PathPlus

        if len(alts) == 1:
            out = []
            seq = alts[0]
            cur = s
            for i, (pred, inv, mod) in enumerate(seq):
                self._fresh_n += 1
                nxt = o if i == len(seq) - 1 else f"?__pp{self._fresh_n}"
                if isinstance(pred, _GroupAtom):
                    galts = pred.alts
                    if inv:
                        # ^(a/b) ≡ ^b/^a — reverse atoms, flip each inv
                        galts = [
                            [(p, not iv, m) for (p, iv, m) in reversed(sq)]
                            for sq in galts
                        ]
                    if mod:
                        gpats = self._expand_path("?__cs", galts, "?__co")
                        out.append((cur, PathPlus(PathGroup(gpats), mod), nxt))
                    else:
                        out.extend(self._expand_path(cur, galts, nxt))
                    cur = nxt
                    continue
                subj, obj = (nxt, cur) if inv else (cur, nxt)
                out.append((subj, PathPlus(pred, mod) if mod else pred, obj))
                cur = nxt
            return out
        from ont_d2rq_spark.graph import NegatedSet

        preds = []
        for seq in alts:
            if len(seq) != 1 or seq[0][1] or seq[0][2] or isinstance(
                seq[0][0], (_GroupAtom, NegatedSet)
            ):
                raise SparqlError(
                    "path alternation supports plain predicates only (p1|p2)"
                )
            preds.append(seq[0][0])
        return [(s, tuple(preds), o)]

    def _values_clause(self):
        """VALUES ?v { t … } | VALUES (?v ?w) { (t t) … } → (vars, rows)."""
        t = self.peek()
        if t is not None and t.group(0) == "(":
            self.next()
            vars_: list[str] = []
            while self.peek() is not None and self.peek().lastgroup == "var":
                vars_.append(self.next().group(0)[1:])
            self.expect(")")
        else:
            v = self.next()
            if v.lastgroup != "var":
                raise SparqlError("VALUES needs ?var or (?v ?w …)")
            vars_ = [v.group(0)[1:]]
        self.expect("{")
        rows: list[tuple] = []
        while True:
            t = self.peek()
            if t is None:
                raise SparqlError("unterminated VALUES block")
            if t.group(0) == "}":
                self.next()
                break
            if len(vars_) == 1:
                rows.append((self._values_cell(),))
            else:
                self.expect("(")
                row = []
                while self.peek() is not None and self.peek().group(0) != ")":
                    row.append(self._values_cell())
                self.expect(")")
                if len(row) != len(vars_):
                    raise SparqlError("VALUES row arity mismatch")
                rows.append(tuple(row))
        return (vars_, rows)

    def _values_cell(self):
        """One VALUES cell: a term, or UNDEF → None (unbound — the row
        places no constraint on that variable)."""
        t = self.peek()
        if t is not None and t.group(0).upper() == "UNDEF":
            self.next()
            return None
        return str(self.term())


def parse(query: str) -> Query:
    p = _P(query)
    q = p.parse()
    q.expr_vars |= p.seen
    return q


def _agg_column(node, col):
    """One aggregate call (sparql_expr "agg" node) → aggregate Column;
    its argument compiles over the pre-aggregation frame."""
    _, fn, arg, distinct, sep = node
    x = None if arg is None else compile_expr(arg, col)
    if fn == "COUNT":
        if x is None:
            return F.count(F.lit(1))
        return F.countDistinct(x) if distinct else F.count(x)
    if fn == "SUM":
        return F.sum_distinct(x.cast("double")) if distinct else F.sum(x.cast("double"))
    if fn == "AVG":
        if distinct:
            raise SparqlError("AVG(DISTINCT) not supported")
        return F.avg(x.cast("double"))
    if fn == "GROUP_CONCAT":
        # members sorted before joining → deterministic across
        # partitionings (SPARQL leaves the order unspecified); DuckDB
        # twin: string_agg(x, sep ORDER BY x)
        c = F.collect_set(x) if distinct else F.collect_list(x)
        return F.array_join(F.array_sort(c), sep if sep is not None else " ")
    # MIN / MAX compare the lexical form; SAMPLE takes the deterministic
    # representative (any member is a valid SAMPLE)
    return F.max(x) if fn == "MAX" else F.min(x)


def _construct_frame(df: DataFrame, template: list) -> DataFrame:
    """CONSTRUCT: instantiate each template triple per binding row →
    TRIPLE_SCHEMA-shaped frame, deduped (CONSTRUCT graphs are sets).
    Rows with an unbound (NULL) template variable emit no triple.

    `?__bn…` vars (bracketed bnode property lists in the CONSTRUCT
    WHERE shorthand) are template blank nodes: per spec each solution
    instantiates a FRESH bnode, not the matched term.  Labels are
    minted from a hash of the full solution row — same solution ⇒ same
    label across the template's triples, distinct solutions ⇒ distinct
    labels — which is distributed-safe (no driver counter, stable
    under recomputation).  Duplicate solutions merge their bnodes; the
    output is a graph (set), so the merge is a lean of the spec graph."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import Lit, _is_companion, _is_var, _var_name

    bn_vars = {
        _var_name(t)
        for tri in template
        for t in tri
        if _is_var(t) and _var_name(t).startswith("__bn")
    }
    sol_hash = None
    if bn_vars:
        sol_cols = [c for c in df.columns if c != "_m" and not _is_companion(c)]
        sol_hash = (
            F.md5(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in sol_cols
                    ],
                )
            )
            if sol_cols
            else F.lit("0")
        )

    frames = []
    col = frame_resolver(df.columns)
    for ts, tp, to in template:
        def _node(term):
            if _is_var(term):
                v = _var_name(term)
                if v in bn_vars:
                    return F.concat(F.lit(f"_:cb{v[4:]}_"), sol_hash)
                return F.col(v)
            return F.lit(str(term))

        # the object term as an expression tree: its companions are the
        # emitted literal metadata (a template bnode is a non-literal)
        if _is_var(to) and _var_name(to) not in bn_vars:
            obj = _var_name(to)
        elif isinstance(to, Lit):
            obj = ("lit", str(to), to.datatype, to.lang)
        else:
            obj = ("iri", str(to))
        o_dt, o_lang, o_islit = (companion(obj, suf, col) for suf in COMPANIONS)
        frames.append(
            df.select(
                _node(ts).cast("string").alias("subj"),
                _node(tp).cast("string").alias("pred"),
                _node(to).cast("string").alias("obj"),
                o_dt.alias("obj_datatype"),
                o_lang.alias("obj_lang"),
                o_islit.cast("boolean").alias("is_literal"),
            ).filter(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            )
        )
    out = _reduce(lambda a, b: a.unionByName(b), frames)
    return out.dropDuplicates(["subj", "pred", "obj", "obj_datatype", "obj_lang"])


def _describe_frame(
    graph, df: Optional[DataFrame], nodes: list, max_bnode_depth: int = 8
) -> DataFrame:
    """DESCRIBE with full Concise Bounded Description: all outbound
    triples of the described nodes, plus — to a fixpoint — the outbound
    triples of every blank node reached as an object (Jena CBD).  The
    mapping mints stable `_:b…` labels, so bNode objects are detected
    lexically; depth is bounded by `max_bnode_depth` (the mapping caps
    real bNode depth far below it)."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import _is_var, _var_name

    frames = []
    all_t = None
    for term in nodes:
        if _is_var(term):
            if df is None:
                raise SparqlError(f"DESCRIBE {term} needs a WHERE clause")
            if all_t is None:
                all_t = graph.triples(fuse=True)
            vals = df.select(F.col(_var_name(term)).alias("subj")).distinct()
            frames.append(all_t.join(F.broadcast(vals), "subj", "left_semi"))
        else:
            frames.append(graph.find(s=str(term)))
    out = _reduce(lambda a, b: a.unionByName(b), frames)
    # CBD fixpoint: chase bNode objects, FULLY DISTRIBUTED (no driver
    # collect — same discipline as operators/closure.py): each round
    # takes the bNode objects of only the PREVIOUS round's new triples,
    # anti-joins the already-described set, and semi-joins the full
    # graph.  Frontier and new-triples frames are lazily
    # localCheckpoint-ed and materialized by the single convergence
    # count — one Spark job per round, nothing re-executed.  The
    # frontier is explicitly broadcast (iterative outputs carry no
    # stats, so Catalyst would otherwise pick a sort-merge join).
    described = graph.spark.createDataFrame([], "subj string")
    out = out.localCheckpoint(eager=False)  # seed executes once, not per round
    cbd_frames = [out]
    cur = out
    for _ in range(max_bnode_depth):
        newb = (
            cur.filter(~F.col("is_literal") & F.col("obj").startswith("_:"))
            .select(F.col("obj").alias("subj"))
            .distinct()
        )
        frontier = newb.join(described, "subj", "left_anti").localCheckpoint(
            eager=False
        )
        if frontier.count() == 0:
            break
        if all_t is None:
            all_t = graph.triples(fuse=True)
        cur = all_t.join(F.broadcast(frontier), "subj", "left_semi").localCheckpoint(
            eager=False
        )
        cbd_frames.append(cur)
        described = described.unionByName(frontier)
    out = _reduce(lambda a, b: a.unionByName(b), cbd_frames)
    return out.dropDuplicates(["subj", "pred", "obj", "obj_datatype", "obj_lang"])


def execute(graph, query: str) -> DataFrame:
    """Run a SPARQL query against a VirtualGraph → DataFrame of bindings
    (SELECT), a single boolean column 'ask' (ASK), or a
    TRIPLE_SCHEMA-shaped frame (CONSTRUCT / DESCRIBE)."""
    return _execute_query(graph, parse(query))


def _pattern_vars(pats) -> set:
    """Variable names a pattern list can bind (s/p/o term positions)."""
    from ont_d2rq_spark.graph import _is_var, _var_name

    vs = set()
    for s, p, o in pats:
        for t in (s, p, o):
            if t is not None and _is_var(t):
                vs.add(_var_name(t))
    return vs


def _q_all_vars(q: Query) -> set:
    """Every variable a group's solutions CAN bind (recursive over
    nested group bodies)."""
    vs = _pattern_vars(q.patterns)
    vs |= {b[1] for b in q.binds}
    for vars_, _rows in q.values_clauses + q.trailing_values:
        vs |= set(vars_)
    for oq in q.optional:
        vs |= _q_all_vars(oq)
    for bq in q.union:
        vs |= _q_all_vars(bq)
    for gterm, gq in q.graphs:
        vs |= _q_all_vars(gq)
        if isinstance(gterm, str) and gterm.startswith("?"):
            vs.add(gterm[1:])
    for s in q.subqueries:
        vs |= set(s.variables) if s.variables else _q_all_vars(s)
    return vs


def _q_certain_vars(q: Query) -> set:
    """Variables bound in EVERY solution of the group (recursive
    under-approximation): pattern vars, VALUES vars with no UNDEF
    cell, vars certain in every UNION branch, GRAPH bodies' certain
    vars, and subquery projections minus what the subquery can itself
    leave unbound.  OPTIONAL/MINUS/EXISTS guarantee nothing — and
    neither do BIND targets: BIND(?r AS ?y) from a maybe-unbound ?r
    (or any NULL/error-producing expression) yields an unbound ?y, so
    counting it certain would give downstream joins null-rejecting
    equality and silently drop compatible solutions."""
    vs = _pattern_vars(q.patterns)
    for vars_, rows in q.values_clauses + q.trailing_values:
        vs |= {v for i, v in enumerate(vars_) if all(r[i] is not None for r in rows)}
    if q.union:
        vs |= set.intersection(*[_q_certain_vars(b) for b in q.union])
    for gterm, gq in q.graphs:
        vs |= _q_certain_vars(gq)
        if isinstance(gterm, str) and gterm.startswith("?"):
            vs.add(gterm[1:])
    for s in q.subqueries:
        proj = set(s.variables) if s.variables else _q_all_vars(s)
        vs |= proj - _query_maybe_unbound(s)
    return vs


def _query_maybe_unbound(q: Query) -> set:
    """Variables a query's solutions can leave NULL: anything the group
    can bind that is not CERTAINLY bound in every solution — vars
    introduced only by OPTIONAL groups, asymmetric UNION branches,
    VALUES UNDEF cells, or a subquery's own maybe-unbound projections,
    recursively through nested group bodies.  (Static
    over-approximation from the parse — decides which joins need
    SPARQL compatibility semantics.)"""
    return _q_all_vars(q) - _q_certain_vars(q)


def _in_scope(tree, cols, known_vars):
    """SPARQL filter scope: a known query variable that the frame does
    not carry is UNBOUND in the group's expressions — the reference
    evaluates it as an error → false — even when an outer group binds
    it; its companions take the untyped defaults."""
    return unbind(tree, set(known_vars) - set(cols))


class _DatasetGraph:
    """FROM / FROM NAMED dataset view over a VirtualGraph (SPARQL
    'Specifying RDF Datasets'): when a query carries dataset clauses,
    the default graph is exactly the merge of the FROM graphs (empty if
    none) and GRAPH may range only over the FROM NAMED graphs.  The
    reference gets this behavior from ARQ's DatasetDescription handling
    (engine/QueryEngineD2RQ.java delegation, public layout); here it is
    a thin proxy the recursive evaluator sees in place of the graph.

    Scale shape: a SINGLE FROM graph keeps that graph's native BGP path
    (for the data graph that is the mapping-compiled relation algebra
    with full source pushdown); only a multi-graph default merge falls
    back to a unioned triple frame with set-dedup (RDF merge is a set
    union), which is a full materialize — the rare case, priced
    accordingly."""

    def __init__(self, base, default_iris, named_iris):
        self._base = base
        self._default = list(dict.fromkeys(default_iris))
        self._named = list(dict.fromkeys(named_iris))

    def __getattr__(self, name):
        return getattr(self._base, name)

    def graph_names(self) -> list:
        known = set(self._base.graph_names())
        return [g for g in self._named if g in known]

    def graph_scoped_bgp(self, graph_iri: str, patterns) -> DataFrame:
        if graph_iri not in self._named:
            # GRAPH <iri> outside the FROM NAMED set: empty solutions
            from ont_d2rq_spark.graph import TRIPLE_SCHEMA, bgp_over_triples

            return bgp_over_triples(
                self._base.spark.createDataFrame([], TRIPLE_SCHEMA), patterns
            )
        return self._base.graph_scoped_bgp(graph_iri, patterns)

    def bgp(self, patterns) -> DataFrame:
        from functools import reduce as _reduce

        from ont_d2rq_spark.graph import TRIPLE_SCHEMA, bgp_over_triples

        if len(self._default) == 1:
            return self._base.graph_scoped_bgp(self._default[0], patterns)
        if not self._default:
            return bgp_over_triples(
                self._base.spark.createDataFrame([], TRIPLE_SCHEMA), patterns
            )
        tdf = _reduce(
            DataFrame.unionByName,
            [self._base.graph_triples(g) for g in self._default],
        ).dropDuplicates()
        return bgp_over_triples(tdf, patterns)


def _unit_frame(graph) -> DataFrame:
    """The unit solution (one row, no bindings) — SPARQL's Join
    identity; what an empty group evaluates to."""
    return graph.spark.range(1).select(F.lit(1).alias("_m"))


def _where_content(q: Query) -> bool:
    return bool(
        q.patterns
        or q.union
        or q.subqueries
        or q.graphs
        or q.optional
        or q.values_clauses
        or q.binds
        or q.filters
        or q.exists
        or q.minus
    )


def _outer_domains(graph, q, bgp_fn):
    """Cross-group URIMakerRule input: the per-var candidate spec
    domains of this group's ALWAYS-BOUND top-level patterns (only those
    — a var bound by an OPTIONAL may be unbound in some outer row,
    where it is compatible with ANY body value and must not prune).
    Best-effort: pruning is an optimization, never a failure path."""
    try:
        if q.patterns and bgp_fn == graph.bgp and hasattr(graph, "var_spec_domains"):
            return graph.var_spec_domains(q.patterns) or None
    except Exception:
        return None
    return None


def _eval_where(graph, q: Query, bgp_fn=None, skip_filters=False, known_vars=None,
                outer_specs=None):
    """Evaluate the WHERE-clause content of ``q`` -> (bindings frame or
    None, maybe-unbound variable set).  RECURSIVE: OPTIONAL / UNION /
    MINUS / FILTER-EXISTS / GRAPH bodies are full Query groups that
    evaluate through this same function, so arbitrary nesting —
    OPTIONAL inside OPTIONAL, UNION inside OPTIONAL, BIND/VALUES in a
    UNION branch, OPTIONAL inside GRAPH — works the way the reference
    gets it from ARQ's recursive OpExecutor (engine/QueryEngineD2RQ
    delegates residual algebra back to ARQ; here the residual algebra
    is native DataFrame ops at every depth).

    ``bgp_fn`` overrides how triple patterns evaluate — GRAPH groups
    pass the graph-scoped BGP so every pattern nested inside them
    (including subqueries) stays against the named graph.
    ``skip_filters`` leaves q.filters to the caller: an OPTIONAL's
    top-level filters belong to the LeftJoin condition (a failing
    filter un-binds the optional part), while everything nested deeper
    evaluates inside the body first.

    Fixed application order within a group (same fold as previous
    rounds, now uniform at every nesting depth): patterns, UNION,
    OPTIONAL, subqueries, GRAPH, VALUES, BIND, FILTER, FILTER EXISTS,
    MINUS.  EXISTS bodies are correlated through their top-level
    filters (folded into the semi/anti-join condition over the merged
    row); everywhere else a filter referencing a variable outside its
    group's scope evaluates it as UNBOUND (_in_scope), the
    SPARQL bottom-up scope rule."""
    from functools import reduce as _reduce

    from ont_d2rq_spark.graph import _is_companion, optional_join

    if bgp_fn is None:
        bgp_fn = graph.bgp
    if known_vars is None:
        known_vars = _q_all_vars(q) | q.expr_vars
    maybe_unbound: set = set()
    if q.patterns and outer_specs and bgp_fn == graph.bgp:
        df = bgp_fn(q.patterns, outer_specs=outer_specs)
    elif q.patterns:
        df = bgp_fn(q.patterns)
    else:
        df = None
    body_specs = _outer_domains(graph, q, bgp_fn)

    # { A } UNION { B }: branches evaluate recursively; a var missing
    # from (or maybe-unbound inside) any branch is maybe-unbound
    if q.union:
        parts, part_maybes = [], []
        for branch in q.union:
            b, bm = _eval_where(graph, branch, bgp_fn, known_vars=known_vars,
                                outer_specs=body_specs)
            parts.append(b if b is not None else _unit_frame(graph))
            part_maybes.append(bm)
        u = _reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        part_cols = [{c for c in p.columns if not _is_companion(c)} for p in parts]
        u_maybe = (
            set.union(*part_cols) - set.intersection(*part_cols)
        ) | set.union(*part_maybes)
        if df is None:
            df = u
            maybe_unbound |= u_maybe
        else:
            # join main |X| union with compatibility on maybe-unbound
            # vars (left = union side, right = the fully-bound main
            # pattern frame, so the hash-joinable decomposition
            # applies); an inner-join merge binds the shared vars
            shared = [
                c for c in df.columns if c in u.columns and not _is_companion(c)
            ]
            if set(shared) & u_maybe:
                df = optional_join(u, df, maybe_unbound=u_maybe, how="inner")
                maybe_unbound |= u_maybe - set(shared)
            else:
                u = u.drop(
                    *[c for c in u.columns if _is_companion(c) and c in df.columns]
                )
                df = df.join(u, on=shared, how="inner") if shared else df.crossJoin(u)
                maybe_unbound |= u_maybe

    # OPTIONAL groups: recursive body (nested OPTIONAL/UNION/BIND/...
    # evaluate inside first); the group's TOP-LEVEL filters form the
    # LeftJoin condition; a later group can adopt an earlier group's
    # binding (maybe_unbound chaining).  When the group has NO pattern/
    # union basis, applying OPTIONALs against the unit frame and then
    # inner-joining the subqueries/GRAPHs would drop or multiply
    # solutions — defer them until after those joins instead (the same
    # deferral previous rounds kept via optionals_consumed).
    def _apply_optionals(df, mu):
        for oq in q.optional:
            rdf, sub_maybe = _eval_where(graph, oq, bgp_fn, skip_filters=True,
                                         known_vars=known_vars, outer_specs=body_specs)
            if rdf is None:
                continue
            shared_bound = {
                c for c in df.columns if c in rdf.columns and not _is_companion(c)
            } - mu
            filts = [
                _in_scope(f, set(df.columns) | set(rdf.columns), known_vars)
                for f in oq.filters
            ]
            df = optional_join(
                df, rdf, filts, maybe_unbound=mu, right_maybe=sub_maybe
            )
            mu = mu | (
                {c for c in rdf.columns if not _is_companion(c)} - shared_bound
            )
        return df, mu

    optionals_done = not q.optional
    if df is not None and not optionals_done:
        df, maybe_unbound = _apply_optionals(df, maybe_unbound)
        optionals_done = True

    # subqueries evaluate independently, join on shared variables;
    # vars the subquery can leave NULL join — and propagate — as
    # maybe-unbound on the RIGHT side
    for sub in q.subqueries:
        sdf = _execute_query(graph, sub, bgp_fn, known_vars | _q_all_vars(sub))
        sub_maybe = _query_maybe_unbound(sub) & set(sdf.columns)
        if df is None:
            df = sdf
        else:
            shared = [
                c for c in df.columns if c in sdf.columns and not _is_companion(c)
            ]
            if set(shared) & (maybe_unbound | sub_maybe):
                df = optional_join(
                    df,
                    sdf,
                    maybe_unbound=maybe_unbound,
                    right_maybe=sub_maybe,
                    how="inner",
                )
            elif shared:
                df = df.join(sdf, on=shared, how="inner")
            else:
                df = df.crossJoin(sdf)
        maybe_unbound |= sub_maybe

    # GRAPH groups: recursive bodies with the graph-scoped BGP (nested
    # constructs inside GRAPH stay against the named graph); constant
    # IRI scopes directly, ?g unions all named graphs with ?g bound
    for gterm, gq in q.graphs:
        from ont_d2rq_spark.graph import _is_var as _isv, _var_name as _vn

        if _isv(gterm):
            parts2, gms = [], []
            for iri in graph.graph_names():
                def _scoped(pats, _iri=iri):
                    return graph.graph_scoped_bgp(_iri, pats)

                gb, gm = _eval_where(graph, gq, _scoped, known_vars=known_vars)
                parts2.append(
                    (gb if gb is not None else _unit_frame(graph)).withColumn(
                        _vn(gterm), F.lit(iri)
                    )
                )
                gms.append(gm)
            gdf = _reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts2
            )
            gcols = [{c for c in p.columns if not _is_companion(c)} for p in parts2]
            g_maybe = (
                set.union(*gcols) - set.intersection(*gcols)
            ) | set.union(*gms)
        else:
            def _scoped(pats, _iri=str(gterm)):
                return graph.graph_scoped_bgp(_iri, pats)

            gdf, g_maybe = _eval_where(graph, gq, _scoped, known_vars=known_vars)
            if gdf is None:
                gdf = _unit_frame(graph)
        if df is None:
            df = gdf
            maybe_unbound |= g_maybe
        else:
            shared = [
                c for c in df.columns if c in gdf.columns and not _is_companion(c)
            ]
            if set(shared) & (maybe_unbound | g_maybe):
                df = optional_join(
                    df,
                    gdf,
                    maybe_unbound=maybe_unbound,
                    right_maybe=g_maybe,
                    how="inner",
                )
                # the inner-join merge binds shared vars the graph side
                # always binds; its own nullable vars stay maybe-unbound
                maybe_unbound -= set(shared) - g_maybe
                maybe_unbound |= g_maybe
            else:
                gdf = gdf.drop(
                    *[c for c in gdf.columns if _is_companion(c) and c in df.columns]
                )
                df = (
                    df.join(gdf, on=shared, how="inner")
                    if shared
                    else df.crossJoin(gdf)
                )
                maybe_unbound |= g_maybe

    if not optionals_done:
        # dangling OPTIONALs: the solution so far came from subqueries
        # or GRAPH groups (or the unit solution) — left-join each group
        # NOW, with the same maybe-unbound chaining as the main path
        if df is None:
            df = _unit_frame(graph)
        df, maybe_unbound = _apply_optionals(df, maybe_unbound)

    if df is None and (q.values_clauses or q.binds or q.filters or q.exists):
        df = _unit_frame(graph)
    if df is None:
        return None, maybe_unbound

    # VALUES: inline binding tables, broadcast-joined on shared vars.
    # UNDEF cells (None) place no constraint on that variable in that
    # row (SPARQL solution compatibility), so rows containing UNDEF
    # take the compatibility-join path: per shared var, the VALUES cell
    # must be unbound OR equal; the surviving binding coalesces.
    for vars_, rows in q.values_clauses:
        df = _join_values(graph, df, maybe_unbound, vars_, rows)
    # BIND: new columns (evaluated before FILTERs, see module doc)
    for tree, var in q.binds:
        # a BIND expression referencing an out-of-scope var evaluates
        # it as UNBOUND (error -> the target stays unbound), same
        # scope rule as FILTER
        cols = df.columns
        tree = _in_scope(tree, cols, known_vars)
        col = frame_resolver(cols)
        df = df.withColumn(var, compile_expr(tree, col))
        if isinstance(tree, tuple) and tree[0] == "call" and tree[1] in ("STRLANG", "STRDT"):
            # typed-literal constructor: the tag lands in the companions
            for suf in COMPANIONS:
                df = df.withColumn(var + suf, companion(tree, suf, col))
    if not skip_filters:
        for f in q.filters:
            cols = df.columns
            df = df.filter(compile_expr(_in_scope(f, cols, known_vars), frame_resolver(cols)))
    # FILTER [NOT] EXISTS: semi/anti join on shared variables; with no
    # shared variables the group acts as a global non-emptiness gate
    # (unlike MINUS, NOT EXISTS on disjoint domains still filters).
    # Bodies are recursive groups; vars nullable on EITHER side get
    # compatibility conditions.  The body's TOP-LEVEL filters evaluate
    # over the MERGED outer×body row as part of the join condition —
    # the Spark shape of ARQ's correlated EXISTS substitution: a
    # filter referencing an OUTER variable sees the outer row's
    # binding (deeper-nested filters stay group-local).
    for neg, eq in q.exists:
        sub, sub_maybe = _eval_where(graph, eq, bgp_fn, skip_filters=True,
                                     known_vars=known_vars, outer_specs=body_specs)
        if sub is None:
            sub = _unit_frame(graph)
        efilts = [
            _in_scope(f, set(df.columns) | set(sub.columns), known_vars)
            for f in eq.filters
        ]
        shared = [c for c in df.columns if c in sub.columns and not _is_companion(c)]
        how = "left_anti" if neg else "left_semi"
        compat = [c for c in shared if c in maybe_unbound or c in sub_maybe]
        if compat or efilts:
            merged = frame_resolver(set(df.columns) | set(sub.columns))
            # rename every body column colliding with the outer frame
            # (shared vars, their companions, the unit marker) so the
            # join condition can address both sides
            ren = {c: f"__ex_{c}" for c in sub.columns if c in df.columns}
            sub = sub.select(
                *[F.col(c).alias(ren.get(c, c)) for c in sub.columns]
            )
            sub_cols = set(sub.columns)
            cond = _compat_cond(shared, compat, maybe_unbound, sub_maybe, "__ex_")

            def exists_col(name):
                # a shared var means the body's binding (≡ the outer one
                # when both are bound — the join condition equates them;
                # the body's when the outer is unbound) and the body's
                # companions; outer-only vars resolve from the left side
                base, suf = split_companion(name)
                if base in shared:
                    if suf is None:
                        return F.coalesce(F.col(f"__ex_{base}"), F.col(base))
                    if f"__ex_{name}" in sub_cols:
                        return F.col(f"__ex_{name}")
                return merged(name)

            for f in efilts:
                cond = cond & compile_expr(f, exists_col)
            df = df.join(sub, cond, how)
        elif shared:
            df = df.join(sub.select(*shared), on=shared, how=how)
        else:
            df = df.join(sub, F.lit(True), how)

    # MINUS: anti-join on shared variables (no shared vars -> no-op,
    # per SPARQL MINUS semantics on disjoint domains); removal requires
    # a compatible solution AND dom(mu1) int dom(mu2) != empty
    for mq in q.minus:
        sub, sub_maybe = _eval_where(graph, mq, bgp_fn, known_vars=known_vars,
                                     outer_specs=body_specs)
        if sub is None:
            continue
        shared = [c for c in df.columns if c in sub.columns and not _is_companion(c)]
        compat = [c for c in shared if c in maybe_unbound or c in sub_maybe]
        if compat:
            sub = sub.select(*[F.col(c).alias(f"__mn_{c}") for c in shared])
            cond = _compat_cond(shared, compat, maybe_unbound, sub_maybe, "__mn_")
            dom = F.lit(False)
            for c in shared:
                dom = dom | (F.col(c).isNotNull() & F.col(f"__mn_{c}").isNotNull())
            df = df.join(sub, cond & dom, "left_anti")
        elif shared:
            df = df.join(sub.select(*shared), on=shared, how="left_anti")
    return df, maybe_unbound


def _compat_cond(shared, compat, left_maybe, right_maybe, prefix: str):
    """Join condition between shared vars and their ``prefix``-renamed
    right copies: equality, or for a ``compat`` var either side may
    leave unbound, unbound-or-equal (SPARQL compatibility)."""
    cond = F.lit(True)
    for c in shared:
        eq_ = F.col(c) == F.col(prefix + c)
        if c in compat:
            if c in left_maybe:
                eq_ = eq_ | F.col(c).isNull()
            if c in right_maybe:
                eq_ = eq_ | F.col(prefix + c).isNull()
        cond = cond & eq_
    return cond


def _join_values(graph, df, maybe_unbound: set, vars_, rows) -> DataFrame:
    """Join one VALUES binding table into a solution frame (mutates
    maybe_unbound in place).  All-bound tables take a plain broadcast
    equi-join; rows with UNDEF cells take the compatibility join —
    per shared var the VALUES cell must be unbound OR equal, and the
    surviving binding coalesces."""
    vdf = graph.spark.createDataFrame(rows, ", ".join(f"{v} string" for v in vars_))
    shared = [c for c in df.columns if c in vars_]
    has_undef = any(cell is None for row in rows for cell in row)
    if not has_undef:
        return (
            df.join(F.broadcast(vdf), on=shared, how="inner")
            if shared
            else df.crossJoin(F.broadcast(vdf))
        )
    vdf = vdf.select(*[F.col(v).alias(f"__val_{v}") for v in vars_])
    if shared:
        cond = None
        for v in shared:
            # either side unbound -> compatible; both bound -> equal
            c = (
                F.col(f"__val_{v}").isNull()
                | F.col(v).isNull()
                | (F.col(v) == F.col(f"__val_{v}"))
            )
            cond = c if cond is None else cond & c
        df = df.join(F.broadcast(vdf), cond, "inner")
    else:
        df = df.crossJoin(F.broadcast(vdf))
    for v in vars_:
        df = (
            df.withColumn(v, F.coalesce(F.col(v), F.col(f"__val_{v}")))
            if v in shared
            else df.withColumn(v, F.col(f"__val_{v}"))
        )
    df = df.drop(*[f"__val_{v}" for v in vars_])
    # a var with an UNDEF cell can remain NULL after the merge
    for i, v in enumerate(vars_):
        if any(row[i] is None for row in rows):
            maybe_unbound.add(v)
    return df


def _execute_query(graph, q: Query, bgp_fn=None, known_vars=None) -> DataFrame:
    from ont_d2rq_spark.graph import _is_companion

    if q.from_graphs or q.from_named:
        # dataset clauses exist only on top-level queries (the grammar
        # gives subqueries no DatasetClause), so this wraps exactly once
        graph = _DatasetGraph(graph, q.from_graphs, q.from_named)
    if q.form == "DESCRIBE" and not _where_content(q):
        return _describe_frame(graph, None, q.describe)
    df, _maybe = _eval_where(graph, q, bgp_fn, known_vars=known_vars)
    if df is None:  # empty group = one empty solution (SPARQL algebra)
        df = _unit_frame(graph)
    # trailing query-level VALUES: Join(P, ToMultiSet(data)) AFTER the
    # group pattern (18.2.2) — its vars were out of scope for the
    # group's FILTERs (which saw them as unbound via _in_scope)
    for vars_, rows in q.trailing_values:
        df = _join_values(graph, df, _maybe, vars_, rows)

    if q.form == "ASK":
        return graph.spark.createDataFrame([(not df.isEmpty(),)], "ask boolean")
    if q.form == "CONSTRUCT":
        out = _construct_frame(df, q.template)
        return out.limit(q.limit) if q.limit is not None else out
    if q.form == "DESCRIBE":
        out = _describe_frame(graph, df, q.describe)
        return out.limit(q.limit) if q.limit is not None else out

    # aggregation: every aggregate call in a SELECT expression or a
    # HAVING constraint — (COUNT(*) AS ?n), HAVING (SUM(?b * 2) > 3),
    # (SUM(?a) / COUNT(*) AS ?r) — becomes a hidden agg column; a
    # projection that IS one aggregate is computed under its alias
    hidden: list[tuple] = []
    exprs = []
    for _, tree, alias in (p for p in q.projections if p[0] == "expr"):
        if isinstance(tree, tuple) and tree[0] == "agg":
            hidden.append((alias, tree))
        else:
            exprs.append((tree, alias))
    n_direct = len(hidden)
    exprs = [(lift_aggregates(t, hidden), alias) for t, alias in exprs]
    having = [lift_aggregates(h, hidden) for h in q.having]
    if q.group_by or hidden:
        for _, name in (p for p in q.projections if p[0] == "var"):
            if name not in q.group_by:
                raise SparqlError(f"?{name} in SELECT must appear in GROUP BY")
        col = frame_resolver(df.columns)
        agg_cols = [_agg_column(node, col).alias(name) for name, node in hidden]
        df = df.groupBy(*q.group_by).agg(*agg_cols) if q.group_by else df.agg(*agg_cols)
        for h in having:
            df = df.filter(compile_expr(h, frame_resolver(df.columns)))
    # select expressions (post-aggregation when hidden agg columns exist)
    for tree, alias in exprs:
        df = df.withColumn(alias, compile_expr(tree, frame_resolver(df.columns)))
    df = df.drop(*[name for name, _ in hidden[n_direct:]])
    # ORDER BY may name variables the projection drops
    order_col = frame_resolver(df.columns) if q.order_by else None

    if q.variables:
        df = df.select(*q.variables)
    else:  # SELECT * — expose variables, not companion/marker columns
        # (nor __-prefixed internals: path-sequence join vars are not
        # selectable per the SPARQL path rewrite)
        df = df.select(
            *[
                c
                for c in df.columns
                if not _is_companion(c) and c != "_m" and not c.startswith("__")
            ]
        )
    if q.distinct:
        df = df.distinct()
    if q.order_by:
        keys = [compile_expr(t, order_col) for t, _ in q.order_by]
        df = df.orderBy(*[k.desc() if d else k.asc() for k, (_, d) in zip(keys, q.order_by)])
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df
