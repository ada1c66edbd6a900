"""Seeded sf0.1-shaped input tables for the query workloads.

Same schemas and row counts as the repo's sf0.1 test tables, regenerated
from the benchmark seed so a run needs nothing outside its checkout.  Only
the tables the benchmark's queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15_000, "part": 20_000, "documents": 5_000}

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
#: Share of documents that are an earlier/later document's text + " dup".
NEAR_DUP_SHARE = 0.05


def customer(rng: np.random.Generator) -> pa.Table:
    n = ROWS["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, len(_SEGMENTS), n)],
    })


def part(rng: np.random.Generator) -> pa.Table:
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.array(_ADJ)[rng.integers(0, 8, n)], " "), np.array(_NOUN)[rng.integers(0, 8, n)]
    )
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(_TYPES)[rng.integers(0, len(_TYPES), n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })


def documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS[0])[rng.choice(5, size=n, p=_LANGS[1])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


GENERATORS = {"customer": customer, "part": part, "documents": documents}


def generate(seed: int, out_dir: str, names: list[str]) -> None:
    """Write ``<out_dir>/<name>.parquet`` for each requested table."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(sorted(names)):
        table = GENERATORS[name](np.random.default_rng([seed, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
