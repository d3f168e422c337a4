"""Seeded input generators for the benchmark.

* ``write_tables`` writes the TPC-H-star tables the ``tpch_mapping``
  maps (same columns, types and value domains as the sf0.1 test
  tables).  The benchmark reads only inside its own checkout, so it makes
  its tables instead of reading a shared data directory.  The tables do
  not depend on the workload seed: every dump is the same graph.
* ``doc_corpus`` plants seeded near-duplicates in the ``documents`` table.
* ``request_stream`` draws the ``serve_mix`` requests: a fixed op mix in
  seeded order, with Zipf-skewed keys.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20241017  # fixed: table contents never depend on --seed

# rows at sf0.1 (the sizes of the sf0.1 test tables); scaled linearly by sf / 0.1
SF01_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "cold", "hot", "large", "red", "small"]
PNOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
BASE_DOCS = 5000


def _ts(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    return out


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    """Write region … lineitem + documents at scale ``sf``; → row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    k = sf / 0.1
    n = {t: max(int(r * k), 10) for t, r in SF01_ROWS.items()}
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    _write(out_dir, "region", {"r_regionkey": i32(range(5)), "r_name": REGIONS})
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
    )
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        },
    )
    adj, noun = rng.integers(0, len(PADJ), np_), rng.integers(0, len(PNOUN), np_)
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), np_)],
            "p_size": i32(rng.integers(1, 51, np_)),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2),
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000, 500000),
            "o_orderdate": _ts(rng, no),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        },
    )
    # TPC-H shape: every order has lines 1..k, so (orderkey, linenumber)
    # — the blank-node key — is unique and strict == reference dump
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, np_, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": i32(np.arange(nl) - starts + 1),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(rng, nl, "1995-01-02"),
        },
    )
    texts = _doc_texts(rng, BASE_DOCS)
    _write(out_dir, "documents", _doc_cols(np.arange(BASE_DOCS, dtype=np.int64), texts))
    return {**n, "lineitem": nl, "documents": BASE_DOCS}


def _doc_cols(ids, texts) -> dict:
    return {
        "doc_id": ids,
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def doc_corpus(
    tables_dir: str, out_dir: str, seed: int, near_dup_share: float, limit: int | None = None
) -> dict:
    """``doc_kg`` input: the first ``limit`` documents, ``near_dup_share``
    of them then overwritten by a one-token edit of another long
    document.  ``customer`` is copied unchanged.  → the corpus facts
    recorded in the output."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    shutil.copy(os.path.join(tables_dir, "customer.parquet"), out_dir)
    rng = np.random.default_rng(seed)
    base = pq.read_table(os.path.join(tables_dir, "documents.parquet"))
    texts = base.column("text").to_pylist()[:limit]
    n = len(texts)
    # planted near-duplicate: a copy of a source doc with one token
    # replaced — of n tokens' n - 2 word 3-grams at most 3 change, so
    # Jaccard ≥ (n - 5) / (n + 1) ≥ 0.9 for n ≥ 60
    n_dup = int(round(near_dup_share * n))
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 59]
    picks = rng.choice(len(long_ids), size=2 * n_dup, replace=False)
    planted = []
    for src, dst in zip(picks[:n_dup], picks[n_dup:]):
        s, d = long_ids[src], long_ids[dst]
        toks = texts[s].split(" ")
        j = int(rng.integers(0, len(toks)))
        toks[j] = "dup"
        texts[d] = " ".join(toks)
        planted.append((min(s, d), max(s, d)))
    _write(out_dir, "documents", _doc_cols(np.arange(n, dtype=np.int64), texts))
    return {"docs": n, "planted_pairs": sorted(planted),
            "near_dup_share": n_dup / n}


class _Zipf:
    """Zipf(a) ranks folded into [0, space), scattered by one fixed
    permutation per key space so hot keys are not the low key numbers."""

    def __init__(self, rng, a: float):
        self.rng, self.a, self.perms = rng, a, {}

    def __call__(self, space: int) -> int:
        if space not in self.perms:
            self.perms[space] = self.rng.permutation(space)
        return int(self.perms[space][(self.rng.zipf(self.a) - 1) % space])


FIND_KINDS = ("customer", "order", "supplier", "part")


def request_stream(seed: int, blocks: int, counts: dict[str, int], zipf_a: float = 1.2):
    """→ ``blocks`` lists of eight (kind, args) requests: one bound-subject
    find per entity kind, two (p, o)-bound finds and two SPARQL SELECTs
    (properties and templates of :data:`ops.SPARQL_TEMPLATES` taken in
    turn), shuffled within the block.  The mix is thus the same for every
    seed; the seed draws the order and the Zipf-skewed keys."""
    from ops import SPARQL_TEMPLATES

    rng = np.random.default_rng(seed)
    zipf = _Zipf(rng, zipf_a)
    po = [("inNation", 25), ("placedBy", counts["customer"]), ("ofPart", counts["part"])]
    out = []
    for b in range(blocks):
        block = [("find_s", (ent, zipf(counts[ent]))) for ent in FIND_KINDS]
        for j in (2 * b, 2 * b + 1):
            prop, space = po[j % len(po)]
            block.append(("find_po", (prop, zipf(space))))
            block.append(("sparql", (j % len(SPARQL_TEMPLATES), zipf(counts["customer"]))))
        out.append([block[i] for i in rng.permutation(len(block))])
    return out
