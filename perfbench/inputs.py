"""Seeded input generation for the benchmark.

Writes the ten tables the registry queries read (the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``) at a given scale factor,
one single-row-group parquet file each, shaped after the repository's
sf0.001/sf0.01/sf0.1 test tables (TESTDATA.md), which were measured for it:

- the same column names and types, the same pandas schema metadata, and
  the same row count per table and scale (documents and embeddings never
  fewer than 500 rows);
- events: microsecond timestamps over 30 days in ``event_id`` order, 150
  users per sf0.01, five equally likely event types, ``value`` exponential
  with mean 50 in whole cents, 100 distinct ``props``;
- documents: 10 to 99 words drawn from a 30-word vocabulary, 5% of them a
  near-duplicate (another document's text plus `` dup``), one exact copy
  per 625 documents (none at 500), five languages, 20 sources;
- embeddings: unit-norm 64-d float vectors, no near-duplicate pairs, ten
  labels;
- lineitem and orders: the same key, price, discount and date ranges.

Doubles are exact two-decimal values, as the registry's DECIMAL-exact
aggregations and their oracle SQL expect.

Inputs depend only on the seed and are cached by it: a second call with the
same seed and the same generator version reuses the files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal doubles in [lo, hi]."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    off = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _tpch(rng, scale: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "green"])
    noun = np.array(["anvil", "bolt", "gear", "plate", "ring", "widget", "nut", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_line),
    })
    return out


def _events(rng, n: int, n_users: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(5000.0, n)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; 5% of documents are a
    near-duplicate (another document's text plus `` dup``) and one in 625
    an exact copy, so every dedup family has work to find."""
    words = np.array(WORDS)
    lens = rng.integers(10, 100, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, n // 625
    for i in range(n_near):
        texts[ids[i]] = texts[ids[n_near + i]] + " dup"
    for i in range(n_exact):
        texts[ids[2 * n_near + i]] = texts[ids[2 * n_near + n_exact + i]]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, seed: int, scale: float = 0.1) -> None:
    rng = np.random.default_rng([seed, 20261016])
    tables = _tpch(rng, scale)
    tables["events"] = _events(rng, int(1_000_000 * scale), int(15_000 * scale))
    tables["documents"] = _documents(rng, max(500, int(50_000 * scale)))
    tables["embeddings"] = _embeddings(rng, max(500, int(20_000 * scale)))
    for name in TABLES:
        # through pandas, as the test tables were written: the files then
        # carry the same pandas schema metadata
        table = pa.Table.from_pandas(tables[name].to_pandas(), preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def ensure(cache_root: str, seed: int, scale: float = 0.1) -> str:
    """Return the directory holding the inputs for ``seed``, generating them
    on first use. A half-written directory never counts as cached."""
    out = os.path.join(cache_root, f"sf{scale}-seed{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, seed, scale)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def describe(in_dir: str) -> dict:
    """Files, bytes and rows of the inputs, read from parquet footers."""
    files = nbytes = rows = 0
    for name in TABLES:
        path = os.path.join(in_dir, f"{name}.parquet")
        files += 1
        nbytes += os.path.getsize(path)
        rows += pq.ParquetFile(path).metadata.num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}

