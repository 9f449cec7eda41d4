"""Seeded input generator for the benchmark.

Every input is synthesized from ``--seed`` with numpy and written as
parquet under the run's own directory, in the shape of the engine's
TPC-H-ish source tables (region, nation, customer, supplier, part,
orders, lineitem, events) plus a text corpus for the index workload. The same seed gives byte-identical inputs; row counts
do not depend on the seed, only values do.

The engine receives nothing but these files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# star schema scale, shaped like the engine's sf0.01 source tables
STAR = dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000, events=10000)

# index_lifecycle corpus: base slice + APPEND_BATCHES batches, 5,000
# documents in all, as many as the engine's sf0.1 documents table
INDEX_BASE_DOCS = 4500
INDEX_BATCH_DOCS = 500
APPEND_BATCHES = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "light", "dark", "bright", "soft", "hard", "fast"]
NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The shape of the engine's sf0.1 documents table (5,000 rows), measured
# once with its tokenizer (lower-case, split on [^a-z0-9]+): 30 words, each
# 3.26-3.39 % of all tokens and drawn independently (adjacent repeats 3.34 %
# against 3.33 % for independent draws); 10-99 words per document, flat; 5 %
# of the documents (250) are a copy of another document with the marker word
# "dup" appended; lang en 41 %, de/es/fr/zh about 15 % each; 20 sources.
WORDS = (
    "a the data spark line column order small sort fast value scan hash slow group agg "
    "filter query big key window row part table stream merge vector customer join batch"
).split()
DOC_WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"
LANG_SHARE = {"de": 0.1404, "en": 0.4118, "es": 0.1488, "fr": 0.1484, "zh": 0.1506}
SOURCES = 20

DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Paths:
    root: str

    def star(self) -> str:
        return os.path.join(self.root, "star")

    def corpus(self) -> str:
        return os.path.join(self.root, "corpus")


def write(table: dict, path: str, schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(table, schema=schema), path)


def _ts(days_from: str, rng: np.random.Generator, n: int, span_days: int, intraday: bool = False):
    base = np.datetime64(days_from, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * DAY_US
    if intraday:
        us = us + rng.integers(0, DAY_US, n)
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]),
    "customer": pa.schema(
        [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
         ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]
    ),
    "supplier": pa.schema(
        [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]
    ),
    "part": pa.schema(
        [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())]
    ),
    "orders": pa.schema(
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
         ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]
    ),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
         ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
         ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
    ),
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string()),
         ("n_chars", pa.int64())]
    ),
}


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def orders(rng, keys: np.ndarray, n_customers: int, date_from: str, span_days: int) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, n_customers, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(date_from, rng, n, span_days),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def lineitem(rng, order_keys: np.ndarray, n_lines: int, n_parts: int, n_suppliers: int,
              ship_from: str, span_days: int) -> dict:
    # keys drawn independently, so (orderkey, linenumber) collides now and
    # then with different content — the dedup the fact plan must resolve
    return {
        "l_orderkey": order_keys[rng.integers(0, len(order_keys), n_lines)],
        "l_partkey": rng.integers(0, n_parts, n_lines),
        "l_suppkey": rng.integers(0, n_suppliers, n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _ts(ship_from, rng, n_lines, span_days),
    }


def customers(rng, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def write_star(out: str, rng: np.random.Generator) -> None:
    """The eight source tables the star build reads, with four line items
    per order on average."""
    s = STAR
    write({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}, f"{out}/region.parquet", SCHEMAS["region"])
    nk = np.arange(25, dtype=np.int32)
    write({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % 5},
           f"{out}/nation.parquet", SCHEMAS["nation"])
    write(customers(rng, np.arange(s["customer"])), f"{out}/customer.parquet", SCHEMAS["customer"])
    sk = np.arange(s["supplier"])
    write({"s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, 25, len(sk)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(sk))}, f"{out}/supplier.parquet", SCHEMAS["supplier"])
    pk = np.arange(s["part"])
    write({"p_partkey": pk, "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, len(pk)), _pick(rng, NOUN, len(pk)))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": _pick(rng, PART_TYPES, len(pk)), "p_size": rng.integers(1, 51, len(pk)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}, f"{out}/part.parquet", SCHEMAS["part"])
    okeys = np.arange(s["orders"])
    write(orders(rng, okeys, s["customer"], "1995-01-01", 2400), f"{out}/orders.parquet", SCHEMAS["orders"])
    write(lineitem(rng, okeys, 4 * s["orders"], s["part"], s["supplier"], "1995-01-02", 2500),
           f"{out}/lineitem.parquet", SCHEMAS["lineitem"])
    n = s["events"]
    write({"event_id": np.arange(n), "ts": _ts("2024-01-01", rng, n, 30, intraday=True),
            "user_id": rng.integers(0, 1500, n), "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2), "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
           f"{out}/events.parquet", SCHEMAS["events"])


def make_star(paths: Paths, seed: int) -> None:
    write_star(paths.star(), np.random.default_rng([seed, 1]))


def _docs(rng, n: int, pool: list[str]) -> list[str]:
    """``n`` documents: independent uniform draws from WORDS, DOC_WORDS long;
    NEAR_DUP_SHARE of them are instead a copy of a document of ``pool`` or of
    this batch, with NEAR_DUP_MARK appended."""
    lens = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in flat[at:at + k]))
        at += k
    originals = pool + out
    for i in sorted(rng.choice(n, int(round(n * NEAR_DUP_SHARE)), replace=False)):
        out[i] = f"{originals[int(rng.integers(0, len(originals)))]} {NEAR_DUP_MARK}"
    return out


def make_corpus(paths: Paths, seed: int) -> None:
    """Documents split into base / batch_<i>, in the shape of the engine's
    documents table (see WORDS)."""
    rng = np.random.default_rng([seed, 3])
    d = paths.corpus()
    splits = {"base": (0, INDEX_BASE_DOCS)}
    for b in range(APPEND_BATCHES):
        lo = INDEX_BASE_DOCS + b * INDEX_BATCH_DOCS
        splits[f"batch_{b}"] = (lo, lo + INDEX_BATCH_DOCS)
    langs = list(LANG_SHARE)
    p = np.array([LANG_SHARE[k] for k in langs])
    pool: list[str] = []
    for name, (lo, hi) in splits.items():
        ids = np.arange(lo, hi)
        text = _docs(rng, len(ids), pool)
        pool += text
        write({"doc_id": ids, "text": text, "lang": np.asarray(langs, dtype=object)[rng.choice(len(langs), len(ids), p=p / p.sum())],
                "source": [f"src{s}" for s in rng.integers(0, SOURCES, len(ids))],
                "n_chars": np.array([len(t) for t in text], dtype=np.int64)},
               f"{d}/docs_{name}.parquet", SCHEMAS["documents"])
