"""Seeded input tables for the curation_small workload, and its expected
outputs.

The benchmark reads no data outside its checkout, so it renders the ten
tables the query registry reads (``sources.TABLES``) with the schemas and
value distributions of the repo's synthetic star schema: uniform keys, a
30-word vocabulary for documents with 5% near-duplicates (a copy of an
earlier document plus the token ``dup``), unit-norm 64-d embeddings,
Poisson event arrivals over January 2024. ``events.ts`` is written as
``TIMESTAMP(NANOS)``, so the nanos-to-micros restore in
``sources.load_table`` runs.

Every table has sf0.01 row counts. Sizes and shares are constants;
``--seed`` changes the values only. Near-duplicate copies collide into
exact duplicates only by chance (about 0.2% of documents at sf0.1), so the
dedup rate gate keeps the exhaustive plan.

Run as a script, it writes the tables and a manifest holding each query's
DuckDB oracle fingerprint and the input properties of the corpus:

    python3 perfbench/fixtures.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # sf0.01 row counts, as in the repo's test data
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}
NEAR_DUP_SHARE = 0.05  # a copy of an earlier document plus " dup"

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "blue cold hot large old red small green".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    """``n`` documents: fresh ones and near-duplicates of earlier ones,
    shuffled together."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return [texts[j] for j in rng.permutation(n).tolist()]


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)],
    })
    texts = _texts(rng, n["documents"])
    nd = len(texts)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    m = rng.standard_normal((nv, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return t


def corpus_properties(texts: list[str]) -> dict:
    """Document count, tokens, and the exact- and near-duplicate shares.

    ``exact_dup_share`` is the share of documents whose text another
    document repeats verbatim (every member of a class, the first one
    too); ``exact_copy_share`` is 1 - distinct texts / documents, the
    statistic the dedup rate gate compares with its 0.20 threshold.
    ``near_dup_share`` is the share of documents that end in the
    near-duplicate marker ``" dup"``."""
    counts = collections.Counter(texts)
    n = len(texts)
    return {
        "documents": n,
        "tokens": sum(len(x.split()) for x in texts),
        "exact_dup_share": sum(c for c in counts.values() if c > 1) / n,
        "exact_copy_share": 1 - len(counts) / n,
        "near_dup_share": sum(x.endswith(" dup") for x in texts) / n,
    }


def fingerprint(pdf) -> list:
    """``[rows, hash]`` of a pandas result, the hash order-insensitive
    (``tools.oracle_check.driver_canonicalize``). Spark results and DuckDB
    oracle results go through the same function."""
    from tools.oracle_check import driver_canonicalize

    return [len(pdf), driver_canonicalize(pdf)]


def oracle_fingerprints(sf_dir: str, names: list[str]) -> dict[str, list]:
    """``[rows, hash]`` of each named query's DuckDB oracle on ``sf_dir``."""
    from tools.oracle_check import duckdb_con
    from weather_stream_processor_spark.registry import all_queries

    specs = all_queries()
    con = duckdb_con(sf_dir)
    con.execute(f"SET temp_directory='{os.path.join(os.path.dirname(sf_dir), 'duckdb-tmp')}'")
    out = {name: fingerprint(con.execute(specs[name].oracle).fetchdf()) for name in names}
    con.close()
    return out


def build(seed: int, out: str) -> None:
    """Write the tables to ``out``/tables and the manifest to
    ``out``/manifest.json (written last: its presence means complete)."""
    from curation import QUERIES

    tables = make_tables(seed)
    sf_dir = os.path.join(out, "tables")
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    manifest = {
        "corpus": corpus_properties(tables["documents"].column("text").to_pylist()),
        "oracle": oracle_fingerprints(sf_dir, QUERIES),
    }
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    here = Path(__file__).resolve().parent
    sys.path[:0] = [str(here), str(here.parent)]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    build(a.seed, os.path.abspath(a.out))
