"""Seeded generator for the TPC-H-shaped analytics tables the query
registry reads (region nation customer supplier part orders lineitem
events documents embeddings), one Parquet file each.

Marginals follow the engine's test corpus: money on the exact 2-decimal
grid (the registry's grid-sum rules depend on it), discounts and taxes
in 1% steps, integer quantities, per-order line counts from the measured
1..17 histogram, exponential event values rounded to cents, documents of
10-100 words from a 31-word vocabulary with injected exact and mutated
near duplicates, and unit-normalised 64-dim embeddings. Row counts scale
linearly with `sf` (sf=0.1 gives 600k lineitem rows); documents and
embeddings keep the corpus's sublinear sizes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINES_PMF = np.array(
    [11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818,
     292, 93, 29, 10, 1, 2, 1],
    dtype=float,
)
LINES_PMF /= LINES_PMF.sum()

VOCAB = np.array(
    (
        "a agg batch big column customer data dup fast filter group hash "
        "join key line merge order part query row scan slow small sort "
        "spark stream table the value vector window"
    ).split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEG = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PNAMES = np.array(
    [
        f"{a} {b}"
        for a in "blue cold hot large new old red small".split()
        for b in "anvil bolt gear gizmo plate ring rod widget".split()
    ]
)
BRANDS = np.array([f"Brand#{i}" for i in range(1, 26)])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
ETYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _write(path: str, cols: dict, schema: list[tuple[str, pa.DataType]]) -> None:
    table = pa.table(
        {name: pa.array(cols[name], type=t) for name, t in schema},
        schema=pa.schema(schema),
    )
    pq.write_table(table, path)


def _money(rng, n, lo_cents, hi_cents):
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _days(rng, n, start, end):
    span = int((np.datetime64(end) - np.datetime64(start)).astype(int)) + 1
    return (
        np.datetime64(start, "us")
        + rng.integers(0, span, n).astype("timedelta64[D]")
    )


def _documents(rng, n_docs):
    """Texts with ~0.2% exact copies of the first 50 docs and ~0.6%
    mutated copies whose 3-shingle Jaccard to their base is 0.75-0.92,
    so exact and near dedup both have real pairs to find."""
    lengths = rng.integers(10, 101, n_docs)
    words = [VOCAB[rng.integers(0, len(VOCAB), k)] for k in lengths]
    base = rng.integers(0, min(50, n_docs), n_docs)
    kind = rng.random(n_docs)
    for i in range(min(200, n_docs), n_docs):
        if kind[i] < 1 / 600:
            words[i] = words[base[i]].copy()
        elif kind[i] < 1 / 600 + 1 / 166:
            toks = words[base[i]].copy()
            j = rng.uniform(0.75, 0.92)
            m = max(1, int(round((len(toks) - 2) * (1 - j) / (3 * (1 + j)))))
            for p in rng.choice(len(toks), size=min(m, len(toks)), replace=False):
                alt = toks[p]
                while alt == toks[p]:
                    alt = VOCAB[rng.integers(0, len(VOCAB))]
                toks[p] = alt
            words[i] = toks
    return [" ".join(w) for w in words]


def write_tables(dst: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under `dst` and return its row counts."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_orders = max(10, int(1_500_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(2000 * (sf / 0.1) ** 0.6))
    path = lambda t: os.path.join(dst, f"{t}.parquet")  # noqa: E731

    _write(
        path("region"),
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    )
    _write(
        path("nation"),
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())],
    )
    ck = np.arange(n_cust, dtype=np.int64)
    _write(
        path("customer"),
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -100_000, 1_000_000),
            "c_mktsegment": MKTSEG[rng.integers(0, 5, n_cust)],
        },
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())],
    )
    sk = np.arange(n_supp, dtype=np.int64)
    _write(
        path("supplier"),
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -100_000, 1_000_000),
        },
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    )
    pk = np.arange(n_part, dtype=np.int64)
    _write(
        path("part"),
        {
            "p_partkey": pk,
            "p_name": PNAMES[rng.integers(0, len(PNAMES), n_part)],
            "p_brand": BRANDS[rng.integers(0, 25, n_part)],
            "p_type": PTYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        },
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    )
    ok = np.arange(n_orders, dtype=np.int64)
    _write(
        path("orders"),
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 100_000, 50_000_000),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": PRIO[rng.integers(0, 5, n_orders)],
        },
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
         ("o_orderdate", pa.timestamp("us")),
         ("o_orderpriority", pa.string())],
    )
    n_lines = rng.choice(np.arange(1, 18), size=n_orders, p=LINES_PMF)
    lk = np.repeat(ok, n_lines)
    n_li = len(lk)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    _write(
        path("lineitem"),
        {
            "l_orderkey": lk,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenum.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, n_li, 90_000, 10_500_000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
         ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
         ("l_discount", pa.float64()), ("l_tax", pa.float64()),
         ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
         ("l_shipdate", pa.timestamp("us"))],
    )
    span_us = int(
        (np.datetime64("2024-01-31") - np.datetime64("2024-01-01"))
        / np.timedelta64(1, "us")
    )
    _write(
        path("events"),
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + rng.integers(0, span_us, n_events).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": ETYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)],
        },
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())],
    )
    texts = _documents(rng, n_docs)
    _write(
        path("documents"),
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())],
    )
    g = rng.standard_normal((n_emb, 64))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    _write(
        path("embeddings"),
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(g.astype(np.float32)),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())],
    )
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_orders, "lineitem": n_li, "events": n_events,
        "documents": n_docs, "embeddings": n_emb,
    }
