"""Seeded inputs for the two workloads.

- ``write_chain_inputs``: the reference's raw files, ratings as
  ``userId,productId,score,timestamp`` CSV and products as 7-field
  ``^``-delimited lines, generated with the program's own
  ``io.fixtures.make_ratings`` / ``make_products``.
- ``write_mix_tables``: the two parquet tables the mix's queries read,
  ``documents`` and ``orders``, drawn with numpy from the seed.  Column
  names, types, value ranges and row counts follow the repository's test
  tables, which the registry's queries and oracles are written for.

Both write single files in a fixed row order, so one seed gives
byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class ChainSize:
    ratings: int
    users: int
    products: int


def write_chain_inputs(spark, seed: int, size: ChainSize, out_dir: str) -> dict[str, str]:
    from myrecommendsystem_spark.io import fixtures

    ratings = fixtures.make_ratings(
        spark, size.ratings, size.users, size.products, seed=seed
    ).toPandas()
    products = fixtures.make_products(spark, size.products).toPandas()
    paths = {
        "ratings": os.path.join(out_dir, "ratings.csv"),
        "products": os.path.join(out_dir, "products.csv"),
    }
    with open(paths["ratings"], "w") as f:
        for r in ratings.itertuples(index=False):
            f.write(f"{r.userId},{r.productId},{r.score!r},{r.timestamp}\n")
    with open(paths["products"], "w") as f:
        for p in products.itertuples(index=False):
            pid = p.productId
            f.write(
                f"{pid}^{p.name}^{pid % 7},{pid % 3},{pid % 11}^B{pid:08d}"
                f"^{p.imageUrl}^{'|'.join(p.categories)}^{'|'.join(p.tags)}\n"
            )
    return paths


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

MIX_TABLES = ("documents", "orders")

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def mix_rows(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf``, those of the repository's test
    tables (TESTDATA.md): 500 documents up to sf0.01 and 5,000 at sf0.1;
    1,500,000 orders per unit of sf over 150,000 customers."""
    return {
        "documents": max(500, int(50_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "customers": max(150, int(150_000 * sf)),
    }


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = mix_rows(sf)
    n_docs, n_ord = n["documents"], n["orders"]

    texts: list[str] = []
    for i in range(n_docs):
        if i > 5 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 90)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customers"], n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _EPOCH_1995 + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    return {"documents": docs, "orders": orders}


def write_mix_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write ``<out_dir>/<table>.parquet`` for every table of the mix."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
