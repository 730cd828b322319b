"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:

- :func:`service_plan` — the ids, priorities and sizes of every ingestion a
  service client submits (ids are globally distinct, so "each id processed
  exactly once" is checkable from ``processed_results()``).
- :func:`write_tables` — the ten parquet tables the analytics registry reads
  (the names, columns and types of the repository's test tables, see
  TESTDATA.md), at a size given in orders.
- :func:`entry_order` — the order the analytics entries run in.

Only numpy, pandas and pyarrow are used, so the generators run without
Spark and without the package under test.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

MAX_ID = 1_000_000_007  # valid id range of the ingestion API: [1, 10^9 + 7]
PRIORITIES = ("HIGH", "MEDIUM", "LOW")


@dataclass(frozen=True)
class Ingestion:
    ids: tuple[int, ...]
    priority: str


def service_plan(seed: int, n: int, max_ids: int) -> list[Ingestion]:
    """``n`` ingestions of 1..``max_ids`` distinct ids each, with a
    uniformly drawn priority. No id repeats across the plan."""
    rng = random.Random(f"service:{seed}")
    sizes = [rng.randint(1, max_ids) for _ in range(n)]
    ids = rng.sample(range(1, MAX_ID + 1), sum(sizes))
    plan, at = [], 0
    for size in sizes:
        plan.append(Ingestion(tuple(ids[at : at + size]), rng.choice(PRIORITIES)))
        at += size
    return plan


def entry_order(seed: int, names: list[str]) -> list[str]:
    order = list(names)
    random.Random(f"entries:{seed}").shuffle(order)
    return order


# -- analytics tables ---------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "small red blue hot old large new cold".split()
_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()


def write_tables(seed: int, out_dir: str, n_orders: int = 15_000) -> None:
    """Write ``<table>.parquet`` for the ten registry tables into
    ``out_dir``. Row counts scale with ``n_orders`` in the proportions of
    the test tables (15 000 orders is the size of sf0.01)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    scale = n_orders / 15_000
    n_cust = max(int(1500 * scale), 50)
    n_supp = max(int(100 * scale), 10)
    n_part = max(int(2000 * scale), 50)
    n_line = 4 * n_orders
    n_events = max(int(10_000 * scale), 500)
    n_docs = max(int(500 * scale), 100)
    n_vecs = max(int(500 * scale), 100)

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, span: int, n: int):
        d = pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span, n), unit="D")
        return d.astype("datetime64[us]")

    def pick(values, n: int):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def keys(n: int, dtype: str):
        return np.arange(n, dtype=dtype)

    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": keys(5, "int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": keys(25, "int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": keys(n_cust, "int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": keys(n_supp, "int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": keys(n_part, "int64"),
                "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": keys(n_orders, "int64"),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
                "o_orderstatus": pick(["F", "O", "P"], n_orders),
                "o_totalprice": money(1000, 500_000, n_orders),
                "o_orderdate": days("1995-01-01", 2404, n_orders),
                "o_orderpriority": pick(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, n_line).astype("int64"),
                "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
                "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": money(900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": days("1995-01-02", 2498, n_line),
            }
        ),
        "events": _events(rng, n_events),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _events(rng, n: int):
    import numpy as np
    import pandas as pd

    gaps = rng.exponential(259.0, n)  # ~30 days of events at the reference density
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, n).astype("int64"),
            "event_type": np.asarray(["click", "error", "purchase", "signup", "view"], dtype=object)[
                rng.integers(0, 5, n)
            ],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int):
    """Word-salad documents of 10..99 words over a 30-word vocabulary; one in
    twenty is a copy of another document with the word ``dup`` appended, so
    the dedup and similarity entries find real near-duplicate pairs."""
    import numpy as np
    import pandas as pd

    texts = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    copies = set(rng.choice(n, n // 20, replace=False).tolist())
    originals = [i for i in range(n) if i not in copies]
    for i in sorted(copies):
        texts[i] = texts[originals[int(rng.integers(0, len(originals)))]] + " dup"
    langs = np.asarray(["en", "de", "es", "fr", "zh"], dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": langs[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.13, 0.15])],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int):
    """Random unit vectors in 64 dimensions with a label in 0..9."""
    import numpy as np
    import pandas as pd

    labels = rng.integers(0, 10, n)
    vecs = rng.normal(size=(n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(vecs.astype("float32")),
            "label": labels.astype("int32"),
        }
    )
