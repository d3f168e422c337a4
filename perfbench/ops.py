"""SPARQL request templates and the independent DuckDB oracles.

Every check here evaluates the expected answer from the generated
parquet tables with DuckDB (or plain Python for the N-Triples dumps and
the Jaccard recomputation); nothing calls back into ``ont_d2rq_spark``
except ``SQL_PIPELINE_KG``, the oracle SQL text the test suite already uses.
"""

from __future__ import annotations

import hashlib
import os
import re
from urllib.parse import quote

import duckdb

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEG_URI = {s: EX + "segment/" + s.lower() for s in
           ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]}
_P = "PREFIX ex: <http://example.org/>\n"

# Templated on queries.py: q_sparql_select (FILTER over a join chain),
# q_sparql_nested_optional, q_sparql_agg (GROUP BY) and q_sparql_path.
# The constant ``c`` is drawn by the request stream (Zipf-skewed).
SPARQL_TEMPLATES = [
    lambda c: _P + "SELECT ?c ?name WHERE { ?c ex:inNation ?n . ?n ex:inRegion ?r . "
    f'?r ex:name ?rname . ?c ex:name ?name . FILTER (?rname = "{REGIONS[c % 5]}") }}',
    lambda c: _P + "SELECT ?name ?r ?rname WHERE { ?n a ex:Nation . ?n ex:name ?name . "
    f"OPTIONAL {{ ?n ex:inRegion ?r . FILTER(?r != <{EX}region/{c % 5}>) "
    f'OPTIONAL {{ ?r ex:name ?rname . FILTER(?rname != "{REGIONS[(c // 5) % 5]}") }} }} }}',
    lambda c: _P + "SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:marketSegment ?seg . "
    f"?c ex:inNation <{EX}nation/{c % 25}> . }} GROUP BY ?seg",
    lambda c: _P + f"SELECT ?o ?rname WHERE {{ ?o ex:placedBy <{EX}customer/{c}> . "
    f"?o ex:placedBy/ex:inNation/ex:inRegion/ex:name ?rname . }}",
]


def _sparql_oracle_sql(t: int, c: int) -> str:
    if t == 0:
        r = REGIONS[c % 5]
        return f"""
        SELECT '{EX}customer/' || c_custkey, c_name FROM customer
          JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '{r}'
        UNION ALL
        SELECT '{EX}supplier/' || s_suppkey, s_name FROM supplier
          JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = '{r}'"""
    if t == 1:
        rk, rn = c % 5, REGIONS[(c // 5) % 5]
        return f"""
        SELECT n_name,
               CASE WHEN n_regionkey <> {rk} THEN '{EX}region/' || n_regionkey END,
               CASE WHEN n_regionkey <> {rk} AND r_name <> '{rn}' THEN r_name END
        FROM nation LEFT JOIN region ON n_regionkey = r_regionkey"""
    if t == 2:
        case = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in SEG_URI.items())
        return f"""
        SELECT CASE c_mktsegment {case} END AS seg, COUNT(*) FROM customer
        WHERE c_nationkey = {c % 25} GROUP BY seg"""
    return f"""
    SELECT '{EX}order/' || o_orderkey, r_name FROM orders
      JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE o_custkey = {c} AND o_orderstatus <> 'P'"""


class Oracle:
    """DuckDB views over one directory of generated parquet tables."""

    def __init__(self, tables_dir: str, names=("region", "nation", "customer",
                                                "supplier", "part", "orders", "lineitem")):
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        for t in names:
            path = os.path.join(tables_dir, f"{t}.parquet")
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> list[tuple]:
        return self.db.execute(sql).fetchall()

    # -- find ---------------------------------------------------------
    def find_subject(self, ent: str, key: int) -> set:
        """Expected (pred, obj) pairs of find(s=<ent>/<key>)."""
        s = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
             "order": "o_orderkey"}[ent]
        table = "orders" if ent == "order" else ent
        r = self.rows(f"SELECT * FROM {table} WHERE {s} = {key}")
        if not r:
            return set()
        r = r[0]
        if ent == "customer":
            _, name, nk, bal, seg = r
            return {(RDF_TYPE, EX + "Customer"), (EX + "name", name), (EX + "acctbal", _num(bal)),
                    (EX + "marketSegment", SEG_URI[seg]), (EX + "display", f"Customer {key} ({seg})"),
                    (EX + "inNation", f"{EX}nation/{nk}")}
        if ent == "supplier":
            _, name, nk, _bal = r
            return {(RDF_TYPE, EX + "Supplier"), (EX + "name", name),
                    (EX + "inNation", f"{EX}nation/{nk}")}
        if ent == "part":
            _, name, brand, _ptype, size, price = r
            return {(RDF_TYPE, EX + "Part"), (EX + "name", name),
                    (f"{EX}brand/{quote(brand, safe='')}", _num(size)),
                    (EX + "retailPriceCents", _num(round(price * 100)))}
        _, ck, status, total, odate, _prio = r
        if status == "P":  # the orders ClassMap's d2rq:condition
            return set()
        return {(RDF_TYPE, EX + "Order"), (EX + "placedBy", f"{EX}customer/{ck}"),
                (EX + "totalPrice", _num(total)), (EX + "orderDate", odate.strftime("%Y-%m-%d"))}

    def find_po(self, prop: str, key: int) -> set:
        """Expected subjects of find(p=ex:<prop>, o=<entity>/<key>)."""
        if prop == "inNation":
            sql = (f"SELECT '{EX}customer/' || c_custkey FROM customer WHERE c_nationkey = {key} "
                   f"UNION ALL SELECT '{EX}supplier/' || s_suppkey FROM supplier "
                   f"WHERE s_nationkey = {key}")
        elif prop == "placedBy":
            sql = (f"SELECT '{EX}order/' || o_orderkey FROM orders "
                   f"WHERE o_custkey = {key} AND o_orderstatus <> 'P'")
        else:
            sql = (f"SELECT '_:lineitem@@' || l_orderkey || '@@' || l_linenumber "
                   f"FROM lineitem WHERE l_partkey = {key}")
        return {r[0] for r in self.rows(sql)}

    def sparql(self, t: int, c: int) -> set:
        return {_norm_row(r) for r in self.rows(_sparql_oracle_sql(t, c))}


def _num(x) -> str:
    return repr(round(float(x), 6))


def _norm_obj(obj, datatype):
    if datatype in (XSD + "double", XSD + "integer", XSD + "int", XSD + "long") or (
        datatype is None and obj is not None and re.fullmatch(r"-?\d+", obj)
    ):
        return _num(obj)
    return obj


def _norm_row(r) -> tuple:
    return tuple(_num(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v
                 for v in r)


def check_find_subject(rows, ent: str, key: int, oracle: Oracle) -> bool:
    s = f"{EX}{ent}/{key}"
    got = {(r[1], _norm_obj(r[2], r[3])) for r in rows}
    return all(r[0] == s for r in rows) and len(got) == len(rows) and got == oracle.find_subject(ent, key)


def check_find_po(rows, prop: str, key: int, oracle: Oracle) -> bool:
    target = {"inNation": "nation", "placedBy": "customer", "ofPart": "part"}[prop]
    o = f"{EX}{target}/{key}"
    ok = all(r[1] == EX + prop and r[2] == o for r in rows)
    subjects = [r[0] for r in rows]
    return ok and len(set(subjects)) == len(subjects) and set(subjects) == oracle.find_po(prop, key)


def check_sparql(rows, t: int, c: int, oracle: Oracle) -> bool:
    got = [_norm_row(tuple(r)) for r in rows]
    return len(set(got)) == len(got) and set(got) == oracle.sparql(t, c)


# -- N-Triples dumps ------------------------------------------------------

def nt_fingerprint(path: str) -> tuple[int, int, int, int, int]:
    """(lines, distinct lines, order-free line-hash sum, bytes, part files)
    of a ``dump_nt`` output directory."""
    n = 0
    acc = 0
    seen = set()
    nbytes = nfiles = 0
    for f in sorted(os.listdir(path)):
        if not f.startswith("part-"):
            continue
        with open(os.path.join(path, f), "rb") as fh:
            data = fh.read()
        nbytes += len(data)
        nfiles += 1
        for line in data.splitlines():
            d = hashlib.blake2b(line, digest_size=8).digest()
            seen.add(d)
            acc = (acc + int.from_bytes(d, "little")) & ((1 << 64) - 1)
            n += 1
    return n, len(seen), acc, nbytes, nfiles


# -- doc_kg ---------------------------------------------------------------

def pipeline_kg_expected(corpus_dir: str) -> set:
    from ont_d2rq_spark.queries import SQL_PIPELINE_KG

    db = duckdb.connect()
    db.execute("SET threads TO 2")
    for t in ("documents", "customer"):
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                   f"read_parquet('{os.path.join(corpus_dir, t + '.parquet')}')")
    return {tuple(r[:3]) for r in db.execute(SQL_PIPELINE_KG).fetchall()}


def shingle_set(text: str, n: int = 3) -> set:
    """Word n-gram set after the operator's normalization
    (lower(trim(collapse whitespace)))."""
    toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
    m = max(len(toks) - n, 0) + 1
    return {" ".join(toks[i : i + n]) for i in range(m)}


def check_dedup_pairs(pairs, texts: dict, threshold: float, planted) -> bool:
    """Every pair is unique, ordered and a true near-duplicate, and
    every planted pair was found.  A planted pair has Jaccard ≥ 0.9, where
    16 bands of 4 rows miss it with probability < 1e-7."""
    for a, b, j in pairs:
        sa, sb = shingle_set(texts[a]), shingle_set(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        if not (a < b and exact >= threshold and abs(exact - j) <= 1e-6):
            return False
    found = {(a, b) for a, b, _ in pairs}
    return len(found) == len(pairs) and set(planted) <= found
