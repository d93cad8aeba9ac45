"""Deterministic fixture generator for the benchmark.

Writes the ten parquet tables the query registry reads (the simplified
TPC-H star schema plus ``events``, ``documents`` and ``embeddings``,
see FIXTURES.md part B) with the same column names, physical types and
value domains as the engine's test fixtures, so every registered query
and its DuckDB oracle run on them unchanged.

The tables have TPC-H sf0.01 row counts (lineitem 60 000 rows). They
depend only on the fixed generator seed, never on the benchmark's
``--seed``: a run's seed permutes query order, and a fixed input keeps
runs with different seeds comparable.

Run ``python3 benchmark/fixtures.py OUT_DIR`` to write a set by hand.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
#: Row counts of the sf0.01 test fixtures (TESTDATA.md).
_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
#: The vocabulary, language mix and near-duplicate share of the test
#: fixtures' ``documents`` table.
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DUP_SHARE = 0.05
_EMB_DIM = 64
_EMB_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: int, end: int, n: int) -> np.ndarray:
    return start + rng.integers(0, (end - start) // _DAY_US + 1, n) * _DAY_US


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n)
    ]
    # Near-duplicates: a copy of another document with one word changed
    # and a trailing marker, so the dedup rows find real clusters.
    for i in rng.choice(n, max(1, int(n * _DUP_SHARE)), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        texts[i] = " ".join(words + ["dup"])
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, _EMB_LABELS, n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (_EMB_LABELS, _EMB_DIM))
    vecs = 0.15 * centres[labels] + rng.normal(0.0, 1.0, (n, _EMB_DIM)) / 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def tables() -> dict[str, pa.Table]:
    """Every fixture table."""
    rng = np.random.default_rng(GEN_SEED)
    n = _ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(segments, n["customer"]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    adjs = np.array("small red blue hot old large cold new".split())
    nouns = np.array("ring widget bolt plate rod gizmo gear anvil".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(rng.choice(adjs, n["part"]), " "), rng.choice(nouns, n["part"])
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
            "p_type": rng.choice(types, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts(_days(rng, _us(1995, 1, 1), _us(2001, 8, 1), n["orders"])),
            "o_orderpriority": rng.choice(priorities, n["orders"]),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl),
            "l_partkey": rng.integers(0, n["part"], nl),
            "l_suppkey": rng.integers(0, n["supplier"], nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), nl),
            "l_linestatus": rng.choice(np.array(["F", "O"]), nl),
            "l_shipdate": _ts(_days(rng, _us(1995, 1, 2), _us(2001, 11, 4), nl)),
        }
    )
    ne = n["events"]
    start = _us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, ne))
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(1, n["customer"] // 10), ne),
            "event_type": rng.choice(kinds, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(out_dir: str) -> str:
    """Write every table to ``out_dir`` atomically (a finished set is
    never rewritten) and return its content fingerprint."""
    marker = os.path.join(out_dir, "FINGERPRINT")
    if os.path.exists(marker):
        with open(marker) as fh:
            return fh.read().strip()
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    digest = hashlib.sha256()
    for name, table in tables().items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        with open(path, "rb") as fh:
            digest.update(name.encode() + fh.read())
    fp = digest.hexdigest()[:16]
    with open(os.path.join(tmp, "FINGERPRINT"), "w") as fh:
        fh.write(fp + "\n")
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(tmp, out_dir)
    return fp


if __name__ == "__main__":
    print(write(sys.argv[1]))
