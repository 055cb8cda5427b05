"""Seeded inputs for the benchmark workloads.

Everything the program under test receives is made here from the workload
seed (or, for the query tables, a fixed data seed): the crawl's seed list
and priorities, the files->WARC site tree, and the query-suite tables.
The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random
import shutil

# the reference's filename encode table (warcit base.py)
ENCODE_CHARS = "#;?:@&=+$, "
# characters that appear in generated file names: the encode table without
# ':' — Hadoop's Path cannot hold a file name with ':' (binaryFile's listing
# raises URISyntaxException), so warcit_run fails on such a tree; that open
# defect is recorded in perfbench/README.md
NAME_CHARS = ENCODE_CHARS.replace(":", "")

_KINDS = ("index", "page", "extensionless", "ico", "css", "js", "encoded")


def crawl_seeds(urls: list[str], seed: int, n_seeds: int) -> list[tuple[str, float]]:
    """Pick ``n_seeds`` of ``urls`` and a priority in (0, 1] for each."""
    rnd = random.Random(seed)
    picked = rnd.sample(sorted(urls), min(n_seeds, len(urls)))
    return [(u, round(1.0 - rnd.random(), 6)) for u in picked]


def _site_relpath(kind: str, i: int, depth: int, rnd: random.Random) -> str:
    dirs = "/".join(f"d{rnd.randrange(8)}" for _ in range(depth))
    prefix = f"{dirs}/" if dirs else ""
    if kind == "index":
        return f"{prefix}index.html"
    if kind == "page":
        return f"{prefix}page{i}.html"
    if kind == "extensionless":
        return f"{prefix}about{i}"
    if kind == "ico":
        return f"{prefix}icon{i}.ico"
    if kind == "css":
        return f"{prefix}style{i}.css"
    if kind == "js":
        return f"{prefix}app{i}.js"
    ch = NAME_CHARS[i % len(NAME_CHARS)]
    return f"{prefix}doc{ch}{i}.html"


def _payload(kind: str, i: int, size: int, rnd: random.Random) -> bytes:
    if kind == "ico":
        return rnd.randbytes(size)
    if kind in ("css", "js"):
        line = f"/* asset {i} */ body {{ margin: {rnd.randrange(99)}px; }}\n"
    else:
        line = (
            f"<p>page {i} sentence {rnd.randrange(10**6)} about the quick "
            f"brown fox and the lazy dog.</p>\n"
        )
    head = f"<html><head><title>doc {i}</title></head><body>\n"
    body = (line * (size // len(line) + 1)).encode()
    return (head.encode() + body)[:size]


def make_site(root: str, seed: int, n_files: int, file_bytes: int) -> list[str]:
    """Write a seeded site tree under ``root``; returns the relative paths.

    The tree has ``index.html`` at depths 0-3, extension-less pages, binary
    ``.ico`` files, css/js assets and names holding each character of
    NAME_CHARS.  Relative paths are unique.
    """
    shutil.rmtree(root, ignore_errors=True)
    rnd = random.Random(seed)
    rels: dict[str, bytes] = {}
    for depth in range(4):  # an index.html at every depth
        rel = _site_relpath("index", 0, depth, rnd)
        rels.setdefault(rel, _payload("index", 0, file_bytes, rnd))
    for j in range(len(NAME_CHARS)):  # every name character at least once
        rel = _site_relpath("encoded", j, rnd.randrange(4), rnd)
        rels.setdefault(rel, _payload("encoded", j, file_bytes, rnd))
    i = 0
    while len(rels) < n_files:
        # kinds in turn, so every seed gives the same mix (and the same
        # amount of work); the seed picks paths, names and bytes
        kind = _KINDS[i % len(_KINDS)]
        rel = _site_relpath(kind, i, rnd.randrange(4), rnd)
        i += 1
        if rel not in rels:
            rels[rel] = _payload(kind, i, file_bytes, rnd)
    for rel, data in rels.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
    return sorted(rels)


# ------------------------------------------------------------ query tables
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def make_query_tables(out_dir: str, sf: float, data_seed: int = 42) -> None:
    """Write the TPC-H-like star schema plus events/documents/embeddings
    (the ``__spark_entry__`` input contract) at scale factor ``sf``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(data_seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, df: pd.DataFrame) -> None:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )

    def n_of(base: int, floor: int = 1) -> int:
        return max(floor, int(base * sf))

    def days(start: str, n_days: int, n: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(1, "D")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    i32 = np.int32
    write("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    }))
    n_cust = n_of(150_000)
    write("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    }))
    n_supp = n_of(10_000)
    write("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }))
    n_part = n_of(200_000)
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    write("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    }))
    n_ord = n_of(1_500_000)
    write("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }))
    n_li = n_of(6_000_000)
    write("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2499, n_li),
    }))
    n_ev = n_of(1_000_000)
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    write("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_of(15_000), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    n_doc = n_of(50_000, 500)
    texts: list[str] = []
    for k in range(n_doc):
        if k >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (x1/t5 find these);
            # every 20th is an exact copy (t4 finds those)
            src = texts[int(rng.integers(0, k))]
            texts.append(src if k % 20 == 0 else src + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    write("documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(
            ["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]
        ),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    n_vec = n_of(20_000, 500)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(i32),
    }))
