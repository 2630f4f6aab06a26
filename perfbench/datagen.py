"""Seeded synthetic tables in the engine's fixture schemas.

The engine reads ten parquet tables from one directory
(``intellect_bi_spark.catalog.TABLE_NAMES``): a TPC-H-like star schema,
an ``events`` stream table, a ``documents`` text corpus and an
``embeddings`` vector table.  This module writes all ten from a seed,
with the column types, value domains and cardinalities the engine's
templates depend on (four sales regions from five TPC-H regions, ship
dates spanning 1995-2001 so year-over-year and quarter templates have
rows, exact 2-decimal prices, 64-dim unit embeddings, a 31-word
document vocabulary with the rare BM25 query term ``dup``).

Same seed, same bytes: every random draw comes from one
``numpy.random.Generator`` seeded here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# documents: the fixture's uniform 30-word vocabulary plus one rare term
VOCAB = (
    "join hash row batch scan customer column filter small slow merge"
    " order vector line data table agg value key stream window spark a"
    " group part big sort query fast the"
).split()
RARE_TERM = "dup"
LANGS = ("en", "fr", "es", "zh", "de")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
EMBED_DIM = 64

# Row counts.  lineitem is the fact table behind the cached ``sales``
# view; the rest keep the fixture's ratios to it.
SIZES = {
    "lineitem": 120_000,
    "orders": 30_000,
    "customer": 3_000,
    "part": 2_000,
    "supplier": 100,
    "events": 12_000,
    "documents": 600,
    "embeddings": 600,
}


def _ts(days: np.ndarray, start: str) -> pd.Series:
    return pd.Series(
        (np.datetime64(start, "D") + days.astype("timedelta64[D]")).astype(
            "datetime64[us]"
        )
    )


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact 2-decimal doubles in [lo, hi]."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 8-90 words; about one in twenty carries the
    rare term."""
    out = []
    lens = rng.integers(8, 91, n)
    for i in range(n):
        words = rng.choice(VOCAB, size=int(lens[i])).tolist()
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = RARE_TERM
        out.append(" ".join(words))
    return out


def make_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x5EED])
    n = SIZES
    rows: dict[str, int] = {}

    def put(name: str, df: pd.DataFrame) -> None:
        _write(out_dir, name, df)
        rows[name] = len(df)

    put(
        "region",
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    put(
        "nation",
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
    )
    nc = n["customer"]
    put(
        "customer",
        pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"],
                    nc,
                ),
            }
        ),
    )
    ns = n["supplier"]
    put(
        "supplier",
        pd.DataFrame(
            {
                "s_suppkey": np.arange(ns, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
                "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
            }
        ),
    )
    npart = n["part"]
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut"])
    put(
        "part",
        pd.DataFrame(
            {
                "p_partkey": np.arange(npart, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(rng.choice(adj, npart), " "),
                    rng.choice(noun, npart),
                ),
                "p_brand": np.char.add(
                    "Brand#", rng.integers(1, 26, npart).astype(str)
                ),
                "p_type": rng.choice(
                    ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                    npart,
                ),
                "p_size": rng.integers(1, 51, npart).astype(np.int32),
                "p_retailprice": _cents(rng, 900.0, 999.9, npart),
            }
        ),
    )
    no = n["orders"]
    put(
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], no),
                "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
                "o_orderdate": _ts(rng.integers(0, 2404, no), "1995-01-01"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    no,
                ),
            }
        ),
    )
    nl = n["lineitem"]
    put(
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
                "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
                "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _cents(rng, 901.0, 104999.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], nl),
                "l_linestatus": rng.choice(["F", "O"], nl),
                "l_shipdate": _ts(rng.integers(1, 2499, nl), "1995-01-01"),
            }
        ),
    )
    nev = n["events"]
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * 86_400_000_000, nev
    ).astype("timedelta64[us]")
    ev_ts.sort()
    put(
        "events",
        pd.DataFrame(
            {
                "event_id": np.arange(nev, dtype=np.int64),
                "ts": pd.Series(ev_ts),
                "user_id": rng.integers(0, 150, nev).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, nev),
                "value": _cents(rng, 0.01, 490.0, nev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
            }
        ),
    )
    nd = n["documents"]
    texts = doc_texts(rng, nd)
    put(
        "documents",
        pd.DataFrame(
            {
                "doc_id": np.arange(nd, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
                "source": [f"src{i % 20}" for i in range(nd)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
    )
    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + 1.5 * rng.normal(size=(ne, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": np.arange(ne, dtype=np.int64),
                "embedding": list(vecs.astype(np.float32)),
                "label": labels.astype(np.int32),
            }
        ),
    )
    return rows
