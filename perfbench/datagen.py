"""Seeded generator for the engine's input tables.

Writes the ten tables the engine reads (`engine.session.TABLES`) as one
parquet file each, with the schemas and row counts of the sf0.1 fixtures
(FIXTURES.md). The value domains follow a profile of the sf0.1 fixture
files themselves (`fixture_profile.json`, written by profile_tables.py;
test_perfbench.py checks the generated tables against it), which is
wider than FIXTURES.md's wording, verified at sf0.001: order and ship
dates span 1995-01-01 to 2001-11-04, and account balances run from
-999.99 to 9999.99, about a tenth of them negative.

Measured and matched (min, max and mean of every column, distinct
counts, document-length quantiles, vocabulary, language shares, vector
norms): uniform keys and closed foreign keys, date-valued timestamps,
two-decimal money, exponential event gaps and values, 10-100 tokens per
document from a 30-word vocabulary, 250 near-duplicate documents (5%,
another document's text plus the token ``dup``; the fixtures have the
same 250 ``dup``-suffixed texts) and unit-norm 64-dim embeddings.

Guessed, because the profile does not pin them: every draw is
independent of every other column (no correlation between, say, an
order's total price and its line items), the enums are uniform, and the
embedding directions are isotropic Gaussian. The exact-duplicate count
is left to chance: two near-duplicates of the same source are equal
(the fixtures have 8, this generator 4 at seed 42).

The same seed gives the same bytes; different seeds give tables of the
same size and shape.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _tag(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    """Build every table in memory. Row counts follow the fixtures:
    customer 150k·sf, supplier 10k·sf, part 200k·sf, orders 1.5M·sf,
    lineitem 6M·sf, events 1M·sf, 5000 documents and 2000 embeddings."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 5000, 2000
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _tag("Customer", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _tag("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    # Every customer has at least one order (FIXTURES.md invariant 2).
    ocust = rng.integers(0, n_cust, n_ord)
    ocust[rng.permutation(n_ord)[:n_cust]] = ck
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": ocust,
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }
    )
    # Strictly increasing timestamps, so (user_id, ts) pairs are unique.
    gaps_us = np.maximum(1, rng.exponential(26e6, n_ev).astype(np.int64))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(m))])
        for m in rng.integers(10, 101, n_doc)
    ]
    # 5% near-duplicates: another document's text plus one token.
    n_dup = n_doc // 20
    for d, src in zip(
        rng.choice(np.arange(1, n_doc), n_dup, replace=False).tolist(),
        rng.integers(0, n_doc, n_dup).tolist(),
    ):
        texts[d] = texts[src if src != d else d - 1] + " dup"
    doc_id = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
            "source": np.char.add("src", (doc_id % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_emb, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vec.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write(seed: int, out_dir: str, sf: float = SF) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

