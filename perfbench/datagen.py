"""Seeded generator for the engine's ten input tables.

Writes one single-row-group parquet file per table, with the schemas that
``sources.readers.EXPECTED_SCHEMAS`` pins and the value domains of the
TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``
that the engine's queries were written against. Row counts scale with
``sf`` (lineitem is 6,000,000 * sf rows); the same ``(sf, seed)`` always
gives byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = (np.datetime64(start, "D") - _EPOCH_1995).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH_1995).astype(int)
    d = rng.integers(lo, hi + 1, n)
    return (_EPOCH_1995 + d).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(n: int, rng) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    vocab = np.array(WORDS, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i]:bounds[i + 1]]]) for i in range(n)]
    # near-duplicates: a share of documents copies another one plus a word
    dups = rng.choice(n, max(1, int(n * DUP_SHARE)), replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(LANGS, n, rng, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory. Each table draws from its own child
    stream, so adding a column to one table never shifts another."""
    streams = np.random.SeedSequence([seed, int(round(sf * 1_000_000))]).spawn(10)
    r = [np.random.default_rng(s) for s in streams]
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = r[0]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(-999.99, 9999.99, n_cust, g),
            "c_mktsegment": _pick(SEGMENTS, n_cust, g),
        }
    )
    g = r[1]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(-999.99, 9999.99, n_supp, g),
        }
    )
    g = r[2]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(names, n_part, g),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, g),
            "p_type": _pick(PART_TYPES, n_part, g),
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    g = r[3]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, g),
            "o_totalprice": _money(1000.0, 500000.0, n_ord, g),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, g)),
            "o_orderpriority": _pick(PRIORITIES, n_ord, g),
        }
    )
    g = r[4]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
            "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105000.0, n_line, g),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], n_line, g),
            "l_linestatus": _pick(["F", "O"], n_line, g),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, g)),
        }
    )
    g = r[5]
    # events arrive in id order over 30 days, Poisson-spaced
    gaps = g.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(EVENT_TYPES, n_ev, g),
            "value": np.round(g.exponential(50.0, n_ev), 2),
            "props": _pick([f'{{"k": {i}}}' for i in range(100)], n_ev, g),
        }
    )
    out["documents"] = _documents(n_docs, r[6])
    out["embeddings"] = _embeddings(n_vec, r[7])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table under ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total
