"""Seeded input generator for the benchmark.

Writes the ten tables the engine's registry reads (``region`` .. ``embeddings``)
as parquet, with the schemas and value distributions of the engine's
sf-scaled testdata, from numpy + pyarrow only: generation never starts or
warms the JVM the benchmark measures.

Row counts follow the testdata's scale rules: ``lineitem`` 6M x sf,
``orders`` 1.5M x sf, ``events`` 1M x sf over 15k x sf users,
``documents`` max(500, 50k x sf), ``embeddings`` max(500, 20k x sf).
Keys are uniform (no hot key); 5% of documents are near-duplicates of
another document (its text plus one appended token).

The same (seed, scale) gives byte-identical files.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def row_counts(scale: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * scale),
        "supplier": round(10_000 * scale),
        "part": round(200_000 * scale),
        "orders": round(1_500_000 * scale),
        "lineitem": round(6_000_000 * scale),
        "events": round(1_000_000 * scale),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _pick(rng: np.random.Generator, n: int, values: list[str],
          p: list[float] | None = None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, first: int, last: int) -> pa.Array:
    """Midnight timestamps, uniform over days ``first..last`` after 1995-01-01."""
    days = rng.integers(first, last + 1, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    word_idx = rng.integers(0, len(WORDS), (n, 100))
    vocab = np.array(WORDS, dtype=object)
    texts = [" ".join(vocab[word_idx[i, :lengths[i]]]) for i in range(n)]
    n_dup = round(n * NEAR_DUP_SHARE)
    dup_ids = rng.choice(n, size=n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n), dup_ids)
    for d, src in zip(dup_ids, rng.choice(originals, size=n_dup)):
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, n, ["en", "de", "es", "fr", "zh"],
                      [0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.reshape(-1))
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables for one (scale, seed); each table has its own stream,
    so a table's content does not depend on the others' sizes."""
    n = row_counts(scale)
    users = round(15_000 * scale)
    streams = np.random.SeedSequence([seed, round(scale * 1_000_000)]).spawn(len(TABLES))
    rng = {t: np.random.default_rng(s) for t, s in zip(TABLES, streams)}
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731

    r = rng["customer"]
    customer = pa.table({
        "c_custkey": i64(n["customer"]),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, n["customer"], -999.99, 9999.99)),
        "c_mktsegment": _pick(r, n["customer"], ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"]),
    })
    r = rng["supplier"]
    supplier = pa.table({
        "s_suppkey": i64(n["supplier"]),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, n["supplier"], -999.99, 9999.99)),
    })
    r = rng["part"]
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    partkey = np.arange(n["part"], dtype=np.int64)
    part = pa.table({
        "p_partkey": pa.array(partkey),
        "p_name": _pick(r, n["part"], [f"{a} {b}" for a in adjectives for b in nouns]),
        "p_brand": _pick(r, n["part"], [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": _pick(r, n["part"], ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"]),
        "p_size": pa.array(r.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": pa.array(900 + (partkey % 1000) / 10),
    })
    r = rng["orders"]
    orders = pa.table({
        "o_orderkey": i64(n["orders"]),
        "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"])),
        "o_orderstatus": _pick(r, n["orders"], ["F", "O", "P"]),
        "o_totalprice": pa.array(_money(r, n["orders"], 1000, 500_000)),
        "o_orderdate": _days(r, n["orders"], 0, 2404),
        "o_orderpriority": _pick(r, n["orders"], ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"]),
    })
    r, k = rng["lineitem"], n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k)),
        "l_partkey": pa.array(r.integers(0, n["part"], k)),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k)),
        "l_linenumber": pa.array(r.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, k, 900, 105_000)),
        "l_discount": pa.array(np.round(r.uniform(0, 0.1, k), 2)),
        "l_tax": pa.array(np.round(r.uniform(0, 0.08, k), 2)),
        "l_returnflag": _pick(r, k, ["A", "N", "R"]),
        "l_linestatus": _pick(r, k, ["F", "O"]),
        "l_shipdate": _days(r, k, 1, 2499),
    })
    r, k = rng["events"], n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k))
    events = pa.table({
        "event_id": i64(k),
        "ts": pa.array(_EPOCH_2024 + ts).cast(pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, k)),
        "event_type": _pick(r, k, ["click", "error", "purchase", "signup", "view"]),
        "value": pa.array(np.round(r.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": _documents(rng["documents"], n["documents"]),
        "embeddings": _embeddings(rng["embeddings"], n["embeddings"]),
    }


def write(out_dir: str, scale: float, seed: int) -> None:
    """Write the tables into ``out_dir`` atomically (tmp dir + rename)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build_tables(scale, seed)
    # one file per thread: the parquet writer releases the GIL
    with ThreadPoolExecutor(max_workers=4) as pool:
        for done in [pool.submit(pq.write_table, table, os.path.join(tmp, f"{name}.parquet"),
                                 compression="snappy")
                     for name, table in tables.items()]:
            done.result()
    os.rename(tmp, out_dir)


def ensure(cache_dir: str, scale: float, seed: int, keep: int = 2) -> str:
    """Directory holding the (scale, seed) inputs, generating it on a miss.

    The directory is ``<cache_dir>/seed<seed>/sf<scale>``: its base name is
    the scale, like the engine's testdata directories. At most ``keep``
    seeds stay cached per scale; older ones are removed.
    """
    leaf = f"sf{scale:g}"
    out = os.path.join(cache_dir, f"seed{seed}", leaf)
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        # in a child process, so generation's memory stays out of the
        # caller's high-water mark
        subprocess.run([sys.executable, os.path.abspath(__file__), out, f"{scale:g}", str(seed)],
                       check=True)
    os.utime(out)
    os.makedirs(cache_dir, exist_ok=True)
    cached = sorted((os.path.join(e.path, leaf) for e in os.scandir(cache_dir)
                     if os.path.isdir(os.path.join(e.path, leaf))),
                    key=os.path.getmtime, reverse=True)
    for stale in cached[keep:]:
        shutil.rmtree(stale, ignore_errors=True)
        if not os.listdir(os.path.dirname(stale)):
            os.rmdir(os.path.dirname(stale))
    return out


def properties(sf_dir: str) -> dict:
    """Measured input properties, for the run record."""
    counts = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
              for t in TABLES}
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey"])
    top = int(np.bincount(li.column(0).to_numpy()).max())
    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    dups = sum(t.endswith(" dup") for t in texts.column(0).to_pylist())
    return {
        "rows": counts,
        "bytes": sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)),
        "near_dup_share": round(dups / counts["documents"], 4),
        "hot_key_share": round(top / counts["lineitem"], 6),
    }


if __name__ == "__main__":
    # python3 gen.py OUT_DIR SCALE SEED
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
