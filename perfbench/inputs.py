"""Seeded benchmark inputs, cached on disk by (kind, seed, size).

Two input sets, both pure pyarrow/numpy (no SparkSession needed):

- the crawl corpus: ``sources.datagen.write_corpus_parquet`` — the
  default category mix (about a third kept, zipf-skewed hosts, 1/15 of
  the docs html-only), split into several files so the scan has more
  than one input split;
- the operator tables: only the tables the suite's queries read —
  ``documents`` (emb2, dd4, dd7, bpe1) and ``customer``/``orders``/
  ``lineitem`` (q3) — with the columns and value distributions of the
  fixed sf0.01 tables the queries were written against: word bags of
  10-100 words over a 30-word vocabulary, 5% near-duplicates marked
  with an extra word, five languages, 20 sources.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# documents.text vocabulary of the sf tables ("dup" only marks copies)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _publish(tmp: str, path: str) -> None:
    """Atomically expose a finished cache entry (a crashed generation
    leaves only a tmp dir, which the next call removes)."""
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def crawl_corpus(cache_dir: str, seed: int, n_docs: int, n_files: int) -> list[str]:
    """The ``n_files`` parquet files of an ``n_docs``-doc crawl. Each
    file's docs depend only on the seed and the file's doc offset, so
    the first k files of a larger corpus with the same docs per file
    are exactly a smaller corpus."""
    from gemproc2caom2_spark.sources.datagen import write_corpus_parquet

    path = os.path.join(cache_dir, f"crawl-s{seed}-n{n_docs}-f{n_files}")
    if not _done(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus_parquet(tmp, n_docs, seed=seed, n_files=n_files)
        _publish(tmp, path)
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str, unit: str) -> np.ndarray:
    a = np.datetime64(datetime.fromisoformat(lo), unit).astype(np.int64)
    b = np.datetime64(datetime.fromisoformat(hi), unit).astype(np.int64)
    return rng.integers(a, b, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5% near-duplicates: a copy of another doc's text plus a marker word
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs, probs = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(langs, n, p=probs), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _star(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    n_li, n_cust, n_part, n_supp = 4 * n_orders, n_orders // 10, n_orders * 2 // 15, max(10, n_orders // 150)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(_ts(rng, n_li, "1995-01-02", "2001-11-04", "D"), pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(_ts(rng, n_orders, "1995-01-01", "2001-08-01", "D"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(0, 10000, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer}


def operator_tables(cache_dir: str, seed: int, n_docs: int, n_orders: int) -> str:
    """Directory with one ``<table>.parquet`` per table the queries load."""
    path = os.path.join(cache_dir, f"tables-s{seed}-d{n_docs}-o{n_orders}")
    if not _done(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = np.random.default_rng(seed)
        tables = {
            "documents": _documents(rng, n_docs),
            **_star(rng, n_orders),
        }
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, path)
    return path
