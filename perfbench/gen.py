"""Seeded input generation for the benchmark workloads.

Every table follows the fixture schemas in FIXTURES.md (TPC-H-ish star
tables, events, documents, embeddings). Sizes are fixed per scale; the seed
only changes the values, so two seeds give the same amount of work.

Documents reproduce the shape the curation gates depend on: single-line
word streams over a small vocabulary, with a share of near duplicates
(a few words changed), exact duplicates, repetitive junk and boilerplate
pages, so every gate of the curation pipeline removes something.

Inputs are cached per (scale, seed) under ``<cache>/<scale>-seed<N>/``;
generation is excluded from every timed figure.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table. "bench" is the measured size, the row counts of the
#: sf0.1 fixtures (870,000 rows over the five tables; embeddings are 2/5 of
#: the documents); "tiny" is the self-test size (sf0.001-like). Orders also
#: seed the versioned_dml table.
SCALES = {
    "bench": {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
              "events": 100_000, "documents": 5_000},
    "tiny": {"customer": 150, "orders": 1_500, "lineitem": 6_000,
             "events": 1_000, "documents": 300},
}

VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
EMB_CENTERS = 10


def _dates(rng, n, lo="1992-01-01", hi="2001-12-31"):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(np.int64), n)
    return (lo_d + days).astype("datetime64[ms]")


def _customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(_dates(rng, n), pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _lineitem(rng, n, n_orders):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_dates(rng, n), pa.timestamp("ms")),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 200.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _texts(rng, n):
    """Word-stream documents with planted duplicates and junk."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.12:  # near duplicate: a few words changed
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and roll < 0.16:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif roll < 0.19:  # repetitive junk
            texts.append(" ".join([VOCAB[int(rng.integers(0, len(VOCAB)))]] * 40))
        elif roll < 0.21:  # boilerplate page
            texts.append("lorem ipsum dolor sit amet " + " ".join(
                rng.choice(VOCAB, int(rng.integers(20, 60)))))
        elif roll < 0.24:  # too short for the token gate
            texts.append(" ".join(rng.choice(VOCAB, 2)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(20, 100)))))
    return texts


def _documents(rng, n):
    texts = _texts(rng, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 10, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    centers = rng.normal(size=(EMB_CENTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CENTERS, n)
    vecs = (centers[labels] + 0.3 * rng.normal(size=(n, EMB_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def generate(out: Path, scale: str, seed: int) -> None:
    sizes = SCALES[scale]
    rng = np.random.default_rng(seed)
    tables = {
        "customer": _customer(rng, sizes["customer"]),
        "orders": _orders(rng, sizes["orders"], sizes["customer"]),
        "lineitem": _lineitem(rng, sizes["lineitem"], sizes["orders"]),
        "events": _events(rng, sizes["events"]),
        "documents": _documents(rng, sizes["documents"]),
        "embeddings": _embeddings(rng, sizes["documents"] * 2 // 5),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")


def ensure_inputs(cache: Path, scale: str, seed: int) -> Path:
    """Return the input directory for (scale, seed), generating it once.

    The directory is published by rename, so an interrupted generation
    never leaves a partial input set behind."""
    final = cache / f"{scale}-seed{seed}"
    if (final / "_SUCCESS").exists():
        return final
    tmp = cache / f".{final.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    generate(tmp, scale, seed)
    (tmp / "_SUCCESS").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def describe_inputs(data: Path, names) -> dict:
    """rows and bytes per input table, read from the parquet footers."""
    out = {}
    for name in names:
        path = data / f"{name}.parquet"
        out[name] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                     "bytes": path.stat().st_size}
    return out

