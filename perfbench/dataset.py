"""Deterministic scale-0.1 dataset in the layout the workload registry reads.

The registry's runners take an ``sf_dir`` holding one parquet file per
table (``workloads.TABLES``). The benchmark cannot rely on a dataset
outside its checkout, so it generates one here: the TPC-H-like star
schema plus the ``events`` series, ``documents`` corpus and
``embeddings`` table at scale factor 0.1. The generator draws from
``numpy.random.default_rng(42)`` in the order that reproduces the
repository's sf0.1 test dataset (``TESTDATA.md``) value for value, so
every workload sees the same traffic the repository's other benchmarks
see. Check a generated copy against such a directory with::

    python3 perfbench/dataset.py --compare DIR

``events.value`` carries exactly two decimals (integer cents / 100), so
the CP oracle can compute every window measure in exact integer
arithmetic (see ``cpgen.py``).

The dataset is a fixed input, not part of a workload's seed: the
``--seed`` of a run drives which queries are sent, not the data.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.1
# bump when the generator changes, so a stale dataset is rebuilt
VERSION = 2

N_EVENTS = 100_000
N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 64

# Category lists are in the order whose draws reproduce the reference
# tables value for value (see ``compare``).
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
# three in seven documents are English, one in seven each of the rest
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
N_DUPS = 250  # documents that repeat an earlier draw plus a " dup" token


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Every table, drawing from ``rng`` in a fixed order (the order is
    part of the data: moving a draw changes every later table)."""
    n_cust = int(150_000 * SCALE)
    n_supp = int(10_000 * SCALE)
    n_part = int(200_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_line = int(6_000_000 * SCALE)
    i32 = pa.int32()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(_ADJ, n_part)
    noun = rng.choice(_NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": money(0.0, 0.1, n_line),
            "l_tax": money(0.0, 0.08, n_line),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
        }
    )

    # 30 days of events at uniform instants, truncated to microseconds
    secs = np.sort(rng.uniform(0.0, 30 * 86_400, N_EVENTS))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + ((secs * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]")
    user_id = rng.integers(0, 1500, N_EVENTS)
    event_type = rng.choice(_EVENT_TYPES, N_EVENTS)
    cents = np.round(rng.exponential(5000.0, N_EVENTS)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ts,
            "user_id": user_id,
            "event_type": event_type,
            "value": cents / 100.0,
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)],
        }
    )

    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(N_DOCS)
    ]
    # near-duplicates: N_DUPS documents become a copy of another one
    # (itself possibly a copy already) plus a marker token
    dup_at = rng.choice(N_DOCS, N_DUPS, replace=False)
    for i, src in zip(dup_at, rng.integers(0, N_DOCS, N_DUPS)):
        texts[i] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    # unit vectors in uniformly random directions; labels carry no signal
    vecs = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMB, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMB), i32),
        }
    )
    return out


def ensure_dataset(root: str) -> str:
    """Generate the dataset under ``root`` unless a complete copy of this
    generator version is already there; return its directory."""
    sf_dir = os.path.join(root, f"sf{SCALE}")
    marker = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == str(VERSION):
                return sf_dir
    tmp = f"{sf_dir}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
        fh.write(str(VERSION))
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.rename(tmp, sf_dir)
    return sf_dir


def events_cents(sf_dir: str) -> np.ndarray:
    """``events.value`` in integer cents, ordered by ``event_id`` (index
    ``t - 1`` holds ``time_id`` ``t`` of the CP series)."""
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id", "value"])
    ids = t.column("event_id").to_numpy()
    cents = np.rint(t.column("value").to_numpy() * 100).astype(np.int64)
    out = np.empty_like(cents)
    out[ids] = cents
    return out


def compare(sf_dir: str, ref_dir: str) -> dict[str, str]:
    """Per table: ``"equal"`` when ``ref_dir`` holds the same rows in
    the same order with the same column names and types, else what
    differs."""
    out = {}
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    for name in names:
        ref_path = os.path.join(ref_dir, f"{name}.parquet")
        if not os.path.exists(ref_path):
            out[name] = "missing in reference"
            continue
        a = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        b = pq.read_table(ref_path)
        if a.schema.remove_metadata() != b.schema.remove_metadata():
            out[name] = f"schema {a.schema.types} != {b.schema.types}"
        elif a.num_rows != b.num_rows:
            out[name] = f"{a.num_rows} rows != {b.num_rows}"
        else:
            diff = [c for c in a.column_names if not a.column(c).equals(b.column(c))]
            out[name] = "equal" if not diff else "values differ in " + ", ".join(diff)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="Build the benchmark dataset, optionally comparing it with a reference copy."
    )
    ap.add_argument("--compare", metavar="DIR", help="a directory of the same parquet tables")
    args = ap.parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = ensure_dataset(os.path.join(here, ".work", "data"))
    print(sf_dir)
    if not args.compare:
        return 0
    res = compare(sf_dir, args.compare)
    for name, verdict in res.items():
        print(f"{name:12s} {verdict}")
    return 0 if all(v == "equal" for v in res.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
