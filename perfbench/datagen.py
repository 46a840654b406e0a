"""Seeded generator for the benchmark's input tables.

Writes one Parquet file per table with the fixture schemas documented in
``FIXTURES.md`` (TPC-H-ish star schema plus ``documents`` and
``embeddings``), drawn from the same value ranges as the fixtures so that
every registry plan and its DuckDB oracle see the shapes they were written
for: keys are 0-based, dates span 1995-2001, nation names are
``NATION_<i>``, documents draw from a 30-word vocabulary and embeddings are
64-dimensional unit vectors.

The same ``(seed, sf)`` always writes the same bytes of data; a different
seed draws different values from the same distributions, so run times stay
comparable across seeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("documents", "embeddings")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                    "PROMO"])
_COLORS = np.array(["small", "red", "blue", "green", "big", "steel"])
_NOUNS = np.array(["ring", "widget", "bolt", "gear", "pipe", "valve"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_VOCAB = np.array(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "filter group big vector stream".split())
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_EMB_DIMS = 64


def _days(rng: np.random.Generator, start: str, end: str,
          n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def generate(out_dir: str, seed: int, sf: float,
             tables: tuple[str, ...] = ALL_TABLES,
             n_docs: int | None = None) -> dict[str, int]:
    """Write ``tables`` under ``out_dir`` and return their row counts.

    Row counts follow the fixtures: ``orders = 1,500,000 * sf``,
    ``lineitem = 4 * orders``, ``customer = 150,000 * sf``,
    ``part = 200,000 * sf``, ``supplier = 10,000 * sf``,
    ``documents = embeddings = 50,000 * sf`` (at least 500; ``n_docs``
    overrides the document count).  One document in twenty is an earlier
    document with a word appended, the fixtures' near-duplicate shape.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_vecs = max(500, int(50_000 * sf))
    n_docs = n_docs or n_vecs
    # one stream per table, so generating a subset draws the same values
    streams = np.random.SeedSequence(seed).spawn(len(ALL_TABLES))
    rngs = {t: np.random.default_rng(s) for t, s in zip(ALL_TABLES, streams)}
    out: dict[str, pa.Table] = {}
    if "region" in tables:
        out["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in tables:
        keys = np.arange(25, dtype=np.int32)
        out["nation"] = pa.table({
            "n_nationkey": pa.array(keys),
            "n_name": [f"NATION_{i}" for i in keys],
            "n_regionkey": pa.array(keys % 5),
        })
    if "customer" in tables:
        rng = rngs["customer"]
        keys = np.arange(n_cust, dtype=np.int64)
        out["customer"] = pa.table({
            "c_custkey": pa.array(keys),
            "c_name": [f"Customer#{i:09d}" for i in keys],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust,
                                                 dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n_cust)]),
        })
    if "supplier" in tables:
        rng = rngs["supplier"]
        keys = np.arange(n_supp, dtype=np.int64)
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(keys),
            "s_name": [f"Supplier#{i:09d}" for i in keys],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp,
                                                 dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        })
    if "part" in tables:
        rng = rngs["part"]
        keys = np.arange(n_part, dtype=np.int64)
        names = np.char.add(np.char.add(_COLORS[rng.integers(0, 6, n_part)],
                                        " "),
                            _NOUNS[rng.integers(0, 6, n_part)])
        out["part"] = pa.table({
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(_PTYPES[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 12_000) * 0.1,
                                               2)),
        })
    if "orders" in tables:
        rng = rngs["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord,
                                               dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])
                                      [rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5,
                                                                 n_ord)]),
        })
    if "lineitem" in tables:
        rng = rngs["lineitem"]
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line,
                                                dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line,
                                               dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line,
                                               dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line,
                                                  dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line)
                                   .astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0,
                                               n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])
                                     [rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])
                                     [rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        })
    if "documents" in tables:
        rng = rngs["documents"]
        lengths = rng.integers(8, 91, n_docs)
        words = _VOCAB[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
        texts = [" ".join(ws) for ws in
                 np.split(words, np.cumsum(lengths)[:-1])]
        for i in np.flatnonzero(rng.random(n_docs) < 0.05):
            if i > 0:
                texts[i] = texts[rng.integers(0, i)] + " dup"
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_LANGS[rng.choice(
                5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts],
                                         dtype=np.int64)),
        })
    if "embeddings" in tables:
        rng = rngs["embeddings"]
        vecs = rng.standard_normal((n_vecs, _EMB_DIMS)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                vecs.ravel(), _EMB_DIMS).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
        })
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in out.items()}
