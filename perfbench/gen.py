"""Seeded input generator for the benchmark.

Writes the ten canonical tables (star schema, ``events``, ``documents``,
``embeddings``) as one single-row-group parquet file each, with exactly
the column names and Arrow types of the engine's test fixtures
(FIXTURES.md). Keys follow the fixtures' layout (dense 0-based ids,
``src{doc_id % 20}`` sources, ``doc_id % 10 == 0`` eval fold); every
measure, every foreign key and the row order are drawn from the seed,
so the same seed always writes byte-identical files and the DuckDB
oracles apply to any seed.

The corpus mimics the fixture text: space-separated words drawn from
the fixture's 30-word vocabulary, 10-100 words per document. The seed
additionally plants near-duplicate copies (about ``NEAR_DUP_FRAC`` of
the corpus: another document's text with one word changed or ``dup``
appended) and eval-fold leaks (about ``LEAK_FRAC``: a training document
that embeds a 12-word passage of an eval document), so the dedup and
decontamination operators have real work on every seed. A document
that repeats an earlier text (exactly, or with ``dup`` appended) gets
that text's embedding plus small noise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EVAL_FOLD_MOD = 10
NEAR_DUP_FRAC = 0.10
LEAK_FRAC = 0.03
LEAK_WORDS = 12
EMB_DIM = 64

SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
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
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input directory. ``sf`` scales the
    star schema and ``events`` like the fixtures (sf0.01: 60k lineitem,
    10k events); the corpus sizes are independent of it."""

    sf: float
    docs: int
    vecs: int


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    first = np.datetime64(lo, "D").astype(np.int64)
    last = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(first, last + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name: str, cols: dict, order: np.ndarray | None = None) -> pa.Table:
    schema = SCHEMAS[name]
    arrays = []
    for field in schema:
        col = cols[field.name]
        if order is not None:
            col = col[order] if isinstance(col, np.ndarray) else [col[i] for i in order]
        arrays.append(pa.array(col, type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev * 3 // 200)
    out: dict[str, pa.Table] = {}
    out["region"] = _table(
        "region",
        {
            "r_regionkey": np.arange(5),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    out["nation"] = _table(
        "nation",
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = _table(
        "customer",
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        },
        rng.permutation(n_cust),
    )
    out["supplier"] = _table(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        rng.permutation(n_supp),
    )
    adjs = np.array(["hot", "old", "red", "small", "new", "large", "cold", "blue"])
    nouns = np.array(["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = _table(
        "part",
        {
            "p_partkey": np.arange(n_part),
            "p_name": np.char.add(
                np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                nouns[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10.0, 1),
        },
        rng.permutation(n_part),
    )
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = _table(
        "orders",
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
        },
        rng.permutation(n_ord),
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = _table(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
    )
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n_ev))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    out["events"] = _table(
        "events",
        {
            "event_id": np.arange(n_ev),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offsets).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": etypes[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        rng.permutation(n_ev),
    )
    return out


def corpus_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Document texts with planted near-duplicates and eval-fold leaks."""
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n_docs)]
    for d in range(1, n_docs):
        if rng.random() < NEAR_DUP_FRAC:
            src = list(words[int(rng.integers(0, d))])
            if rng.random() < 0.5:
                src.append("dup")
            else:
                src[int(rng.integers(0, len(src)))] = str(vocab[rng.integers(0, len(vocab))])
            words[d] = src
    evals = np.arange(0, n_docs, EVAL_FOLD_MOD)
    for d in range(n_docs):
        if d % EVAL_FOLD_MOD and rng.random() < LEAK_FRAC:
            ev = words[int(evals[rng.integers(0, len(evals))])]
            start = int(rng.integers(0, max(1, len(ev) - LEAK_WORDS)))
            at = int(rng.integers(0, len(words[d]) + 1))
            words[d] = words[d][:at] + ev[start : start + LEAK_WORDS] + words[d][at:]
    return [" ".join(w) for w in words]


def corpus_tables(rng: np.random.Generator, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    texts = corpus_texts(rng, n_docs)
    ids = np.arange(n_docs)
    docs = _table(
        "documents",
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.array([len(t) for t in texts]),
        },
        rng.permutation(n_docs),
    )
    emb = rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n_vecs, EMB_DIM)).astype(np.float32)
    # near-duplicate texts get near-duplicate vectors
    first_of: dict[str, int] = {}
    for i, t in enumerate(texts[:n_vecs]):
        key = t.removesuffix(" dup")
        if key in first_of:
            emb[i] = emb[first_of[key]] + rng.normal(0.0, 0.01, EMB_DIM).astype(np.float32)
        else:
            first_of[key] = i
    vecs = _table(
        "embeddings",
        {
            "vec_id": np.arange(n_vecs),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_vecs),
        },
        rng.permutation(n_vecs),
    )
    return {"documents": docs, "embeddings": vecs}


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """Write every table under ``out_dir`` as ``<name>.parquet`` and
    return them. Star schema and corpus draw from independent streams of
    the seed, so changing one size never reshuffles the other."""
    os.makedirs(out_dir, exist_ok=True)
    star_rng, corpus_rng = (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(2))
    tables = {**star_tables(star_rng, sizes.sf), **corpus_tables(corpus_rng, sizes.docs, sizes.vecs)}
    for name, table in tables.items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
