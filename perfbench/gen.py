"""Seeded input generators for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
as one Parquet file per table, with the column names and physical types
the package's registry queries read (``sources.catalog.TESTDATA_TABLES``).
The same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(int)) + 1
_SHIP_START = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2499
_EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables (region … lineitem) at scale factor ``sf``."""
    n_cust = max(50, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(64, round(200_000 * sf))
    n_ord = max(200, round(1_500_000 * sf))
    n_line = max(800, round(6_000_000 * sf))

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": (
                _ORDER_START + rng.integers(0, _ORDER_DAYS, n_ord).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.1, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": (
                _SHIP_START + rng.integers(0, _SHIP_DAYS, n_line).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Clickstream over 30 days: ~66 events per user, exponential values."""
    n_users = max(20, n // 66)
    offs = np.sort(rng.integers(0, _EVENT_SPAN_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _EVENT_START + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` texts of 10-100 tokens drawn from the 31-word vocabulary."""
    lens = rng.integers(10, 101, n)
    return [" ".join(rng.choice(VOCAB, k)) for k in lens]


def documents_frame(doc_ids: np.ndarray, texts: list[str], langs, sources) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Unit-norm float32 vectors with a 10-way label."""
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def write_star_dir(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the star tables plus ``events`` for the BI workload; returns
    row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(rng, sf)
    tables["events"] = events_table(rng, max(1000, round(1_000_000 * sf)))
    for name, df in tables.items():
        _write(df, out_dir, name)
    return {name: len(df) for name, df in tables.items()}


def _near_copy(rng: np.random.Generator, text: str, edits: int) -> str:
    """Replace ``edits`` token positions with random vocabulary words,
    retrying until the copy differs from the original."""
    toks = text.split()
    while True:
        out = list(toks)
        for pos in rng.choice(len(toks), size=min(edits, len(toks)), replace=False):
            out[pos] = VOCAB[rng.integers(len(VOCAB))]
        if out != toks:
            return " ".join(out)


def corpus_replica(
    seed: int, n_base: int, copies: int, exact_share: float
) -> tuple[pd.DataFrame, dict[str, float]]:
    """A K-copy corpus replica: ``n_base`` distinct documents, each followed
    by ``copies - 1`` copies of which a seeded ``exact_share`` are exact
    and the rest near copies with 1-3 token edits.

    Returns the documents frame and the replica's recorded shape
    (documents, distinct texts, exact and near copy counts)."""
    rng = np.random.default_rng(seed)
    base = random_texts(rng, n_base)
    texts, n_exact, n_near = [], 0, 0
    for t in base:
        texts.append(t)
        for _ in range(copies - 1):
            if rng.random() < exact_share:
                texts.append(t)
                n_exact += 1
            else:
                texts.append(_near_copy(rng, t, int(rng.integers(1, 4))))
                n_near += 1
    n = len(texts)
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    docs = documents_frame(
        np.arange(n),
        texts,
        rng.choice(LANGS, n, p=LANG_WEIGHTS),
        [f"src{i % 20}" for i in range(n)],
    )
    shape = {
        "docs": n,
        "distinct_texts": len(set(texts)),
        "exact_copies": n_exact,
        "near_copies": n_near,
    }
    return docs, shape


def write_corpus_dir(
    out_dir: str, seed: int, n_base: int, copies: int, exact_share: float, n_vectors: int
) -> dict[str, float]:
    """Write ``documents`` (a corpus replica) and ``embeddings`` for one
    curation pass; returns the replica shape."""
    os.makedirs(out_dir, exist_ok=True)
    docs, shape = corpus_replica(seed, n_base, copies, exact_share)
    _write(docs, out_dir, "documents")
    _write(embeddings_table(np.random.default_rng(seed + 1), n_vectors), out_dir, "embeddings")
    return shape

