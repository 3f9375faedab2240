"""Seeded benchmark inputs, written as Parquet before any timing starts.

Every file is a pure function of (seed, size): rows come from
``random.Random`` streams and ``synth.make_page``, and pyarrow writes them
with fixed row-group sizes, so the same seed yields byte-identical files
and a different seed yields different ones (selftest.py checks both).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from genie_spark import synth

ROW_GROUP = 4096

_TRIPLE = pa.struct([("s", pa.string()), ("r", pa.string()), ("o", pa.string())])
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("gold", pa.list_(_TRIPLE)),
    ]
)

# the registry tables mirror the column names and types of the TPC-H-like
# test tables the registry queries and their DuckDB oracles are written for
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
SUPPLIER_SCHEMA = pa.schema(
    [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ]
)
NATION_SCHEMA = pa.schema(
    [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SYLLABLES = (
    "ka ro mi te lu sa no vi da pe zo ri fa gu be lo ne ti ma ku "
    "sor vel tan dor mir kel bran fen gal hon"
).split()


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy")
    return path


def write_pages(path: str, n: int, seed: int) -> str:
    """``n`` synthetic web pages with gold triples (synth.pages_local)."""
    return _write(pa.Table.from_pylist(synth.pages_local(n, seed), PAGES_SCHEMA), path)


def distractor_names(n: int, seed: int) -> List[str]:
    """``n`` seeded person-like names that share first/last-name pieces
    with the synth catalog: a third reuse a synth first name, a third a
    synth last name, the rest invent both pieces. Invented first pieces
    give the entity trie a root fan-out in the thousands, as a
    Wikidata-sized catalog has."""
    rng = random.Random(seed * 7919 + 17)
    firsts = sorted(synth._FIRST)
    lasts = sorted(synth._LAST)
    taken = set(synth.unique_entity_names(synth.make_entities()))
    out: List[str] = []

    def word() -> str:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.choice((2, 3))))
        return w.capitalize()

    while len(out) < n:
        kind = len(out) % 3
        first = rng.choice(firsts) if kind == 0 else word()
        last = rng.choice(lasts) if kind == 1 else word()
        name = f"{first} {last}"
        if name not in taken:
            taken.add(name)
            out.append(name)
    return out


def large_catalog(n_distractors: int, seed: int) -> Dict[str, List[str]]:
    """Extraction catalog: the synth entities plus ``n_distractors``
    seeded names, and the synth relations."""
    ents = synth.unique_entity_names(synth.make_entities())
    return {
        "ents": sorted(ents + distractor_names(n_distractors, seed)),
        "rels": sorted(synth.RELATIONS),
    }


def write_registry_tables(dir_: str, seed: int, n_orders: int, n_docs: int) -> Dict[str, str]:
    """lineitem/supplier/nation/documents with the test-table schemas,
    scaled by ``n_orders`` (≈4 lines each) and ``n_docs``. A tenth of the
    documents are near-copies of earlier ones and some lines repeat
    verbatim, so the dedup queries find pairs."""
    rng = random.Random(seed * 104729 + 3)
    n_parts, n_supp, n_nation = max(n_orders // 2, 10), max(n_orders // 50, 10), 25
    epoch = dt.datetime(1992, 1, 1)
    li = {f.name: [] for f in LINEITEM_SCHEMA}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            price = round(rng.uniform(900.0, 100000.0), 2)
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_parts))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randint(1, 50)))
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.randint(0, 10) / 100.0)
            li["l_tax"].append(rng.randint(0, 8) / 100.0)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(epoch + dt.timedelta(days=rng.randrange(3650)))
    supplier = {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(n_nation) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.0, 9999.0), 2) for _ in range(n_supp)],
    }
    nation = {
        "n_nationkey": list(range(n_nation)),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": [i % 5 for i in range(n_nation)],
    }
    docs = {f.name: [] for f in DOCUMENTS_SCHEMA}
    shared_lines = [
        " ".join(rng.choice(_DOC_WORDS) for _ in range(8)) for _ in range(20)
    ]
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.1:
            words = docs["text"][rng.randrange(d)].split(" ")
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 90))]
            if rng.random() < 0.2:
                words = rng.choice(shared_lines).split(" ") + words
        text = " ".join(words)
        docs["doc_id"].append(d)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(("en", "en", "en", "de", "fr", "es", "zh")))
        docs["source"].append(f"src{d % 20}")
        docs["n_chars"].append(len(text))
    tables = {
        "lineitem": (li, LINEITEM_SCHEMA),
        "supplier": (supplier, SUPPLIER_SCHEMA),
        "nation": (nation, NATION_SCHEMA),
        "documents": (docs, DOCUMENTS_SCHEMA),
    }
    return {
        name: _write(pa.Table.from_pydict(cols, schema), os.path.join(dir_, f"{name}.parquet"))
        for name, (cols, schema) in tables.items()
    }
