"""Seeded input generator for the benchmark.

Writes the engine's ten tables (same names, columns, types and value
domains as the engine's testdata: a TPC-H-like star schema, an `events`
click stream, a `documents` corpus and an `embeddings` table) as one
single-row-group parquet file per table.

The table *content* comes from a fixed base seed, so every benchmark
seed sees the same multiset of facts and the same amount of work. The
benchmark seed sets what the issue calls the run's inputs:

- the row order of every fact table (a seeded permutation);
- the key offsets of the fact keys (order, event and user ids are
  shifted by seeded amounts, consistently across the tables that share
  them);
- the request order of the dashboard loop (see `request_order`).

Output is cached by (seed, scale) under the given root, so a repeated
seed does not regenerate.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per unit of scale factor (sf=0.1 gives the engine's bench sizes)
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "users": 15_000, "documents": 50_000, "embeddings": 20_000,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")  # en twice: ~1/3 English
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

DATE_LO = dt.datetime(1995, 1, 1)
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400


def n_rows(table: str, sf: float) -> int:
    fixed = {"region": 5, "nation": 25}
    if table in fixed:
        return fixed[table]
    return max(1, int(round(ROWS_PER_SF[table] * sf)))


def _days(rng, n, lo_days, hi_days):
    d = rng.integers(lo_days, hi_days + 1, n)
    return (np.datetime64(DATE_LO, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables(sf: float) -> dict[str, dict[str, np.ndarray]]:
    """The seed-independent content, keys starting at 0."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, dict[str, np.ndarray]] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.asarray(REGIONS, dtype=object)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": nk,
                   "n_name": np.asarray([f"NATION_{i}" for i in nk], dtype=object),
                   "n_regionkey": (nk % 5).astype(np.int32)}
    n = n_rows("customer", sf)
    t["customer"] = {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": np.asarray([f"Customer#{i:09d}" for i in range(n)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }
    n_supp = n_rows("supplier", sf)
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.asarray([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    n_part = n_rows("part", sf)
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(_pick(rng, PART_ADJ, n_part).astype(str), " "),
                              _pick(rng, PART_NOUN, n_part).astype(str)).astype(object),
        "p_brand": np.asarray([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    n_ord = n_rows("orders", sf)
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_rows("customer", sf), n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    n_li = n_rows("lineitem", sf)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, n_li, 1, 2499),
    }
    n_ev = n_rows("events", sf)
    offs = np.sort(rng.uniform(0, EVENTS_SPAN_S, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64(EVENTS_T0, "us")
               + (offs * 1e6).astype(np.int64).astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_rows("users", sf), n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.asarray([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], dtype=object),
    }
    t["documents"] = _documents(rng, n_rows("documents", sf))
    n_vec = n_rows("embeddings", sf)
    emb = rng.standard_normal((n_vec, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }
    return t


def _documents(rng, n: int) -> dict[str, np.ndarray]:
    """Random-word documents. About 1 in 500 repeats an earlier text
    exactly and 1 in 25 is a near duplicate of one (a few words swapped,
    a trailing "dup" token), so the dedup operators have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 1 / 500:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 1 / 25:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(8, 100)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.asarray(texts, dtype=object),
        "lang": _pick(rng, LANGS, n),
        "source": np.asarray([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
    }


# fact key -> the (table, column) pairs that carry it. doc_id and vec_id
# stay put: the engine treats vec_id < 8 as its query vectors.
KEYS = {
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "event_id": (("events", "event_id"),),
    "user_id": (("events", "user_id"),),
}
PERMUTED = ("customer", "supplier", "part", "orders", "lineitem", "events",
            "documents", "embeddings")


def _apply_seed(base, seed: int):
    rng = np.random.default_rng(seed)
    out = {name: dict(cols) for name, cols in base.items()}
    for pairs in KEYS.values():
        off = int(rng.integers(1, 1_000)) * 1_000_000
        for table, col in pairs:
            out[table][col] = out[table][col] + off
    for name in PERMUTED:
        cols = out[name]
        perm = rng.permutation(len(next(iter(cols.values()))))
        out[name] = {c: v[perm] for c, v in cols.items()}
    return out


def _to_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    arrays = {}
    for c, v in cols.items():
        if c == "embedding":
            arrays[c] = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(
                pa.list_(pa.float32()))
        elif v.dtype == object:
            arrays[c] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def request_order(seed: int, names: list[str]) -> list[str]:
    """One seeded shuffled pass over `names`."""
    rng = np.random.default_rng(seed + 7)
    return [names[i] for i in rng.permutation(len(names))]


def generate(root: str, seed: int, sf: float) -> str:
    """Directory holding the ten tables for (seed, sf); built once."""
    d = os.path.join(root, f"s{seed}_sf{sf:g}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = _apply_seed(_base_tables(sf), seed)
    for name in TABLES:
        pq.write_table(_to_arrow(tables[name]), os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, d)
    return d


def table_stats(sf_dir: str) -> dict[str, tuple[int, int]]:
    """(rows, bytes) per table as written."""
    out = {}
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        out[name] = (pq.ParquetFile(p).metadata.num_rows, os.path.getsize(p))
    return out
