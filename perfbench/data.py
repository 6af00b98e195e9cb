"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``async_pipes_spark.sources.tables.TABLES`` names,
with the column names and types of the engine's synthetic test data, as
one parquet file each. The same seed gives byte-identical frames, so a
run is reproducible from its ``--seed`` alone and needs no data outside
the checkout.

Row counts are those of the engine's scale factor 0.1 bench data
(600k lineitem rows, 5,000 documents, 2,000 64-d embeddings), and the
documents have the same shape: 10-100 words drawn from the same
31-word vocabulary, so random texts share shingles and LSH finds chance
pairs as it does there.

Most documents are the same for every seed: the chance pairs among
them set how many rounds the dedup label loop takes, and a seed that
changed them would change the operation's job count. The seed plants
near-duplicate families on top (copies of one text with another last
word, in words no base document uses, so each family stays a component
of its own) and shapes every other table, including the families of
near-duplicate ``embeddings`` (small perturbations of one unit vector).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_FAMILIES = 40  # of FAMILY_SIZE documents each, after the base ones
FAMILY_SIZE = 3
BASE_DOC_SEED = 0
N_VECS = 2_000
DIM = 64

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()
FAMILY_WORDS = [f"{w}s" for w in WORDS]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal doubles (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _text(rng: np.random.Generator, words: list[str]) -> str:
    return " ".join(rng.choice(words, int(rng.integers(10, 101))))


def documents(rng: np.random.Generator) -> pd.DataFrame:
    base = np.random.default_rng(BASE_DOC_SEED)
    texts = [_text(base, WORDS) for _ in range(N_DOCS - N_FAMILIES * FAMILY_SIZE)]
    for _ in range(N_FAMILIES):
        # members differ in the last word only: every pair shares all
        # shingles but one, so LSH nearly always pairs them
        stem = _text(rng, FAMILY_WORDS)
        texts += [f"{stem} {w}" for w in rng.choice(FAMILY_WORDS, FAMILY_SIZE, replace=False)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator) -> pd.DataFrame:
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    # planted families: later rows pulled close to one of the first
    # quarter's vectors. All members of a family are near each other,
    # so the members that share an IVF cell are all paired.
    for i in range(N_VECS // 4, N_VECS):
        if rng.random() < 0.3:
            j = int(rng.integers(0, N_VECS // 4))
            vecs[i] = vecs[j] + 0.2 * rng.standard_normal(DIM).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )


def generate(seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables for ``seed``, as pandas frames."""
    rng = np.random.default_rng(seed)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": rng.choice(["small ring", "red widget", "blue bolt", "hot gear"], N_PART),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1 % 100, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _dates(rng, "1995-01-01", 1500, N_ORDERS),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
            ),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100000, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
            "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
            "l_shipdate": _dates(rng, "1995-01-02", 2500, N_LINEITEM),
        }
    )
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], N_EVENTS),
            "value": _money(rng, 0.01, 20, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    t["documents"] = documents(rng)
    t["embeddings"] = embeddings(rng)
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
