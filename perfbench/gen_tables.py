"""Seeded star-schema generator for the reader and writer sides of
``serving_mix``.

Writes ``{out_dir}/{table}.parquet`` for the ten tables the query catalog
reads (``sources.tables.TESTDATA_TABLES``), with the column names and
types the catalog expects: TPC-H-ish ``region nation customer supplier
part orders lineitem`` plus ``events`` (nanosecond timestamps, JSON
props), ``documents`` (word text with planted near-duplicates) and
``embeddings`` (64-d float vectors). Every money/quantity column is an
exact two-decimal value (integer cents / 100), which the catalog's
decimal-sum convention relies on for bit-exact oracle agreement.

Row counts scale linearly with ``sf`` (``sf=0.01`` gives 60k lineitems);
the seed changes every value but no size, so run time depends on ``sf``
alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_WORDS = ["small", "red", "blue", "large", "steel", "brass", "ring", "widget", "bolt", "gear"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO", "MEDIUM"]
LANGS = ["en"] * 5 + ["de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order stream group "
    "filter big vector"
).split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Exact two-decimal doubles in [lo, hi) cents."""
    return rng.integers(lo, hi, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, compression="snappy")
    return os.path.getsize(path)


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
        "embeddings": max(50, int(50_000 * sf)),
    }


def orders_columns(rng: np.random.Generator, keys: np.ndarray, n_customers: int) -> dict:
    """``orders`` rows for the given keys; also the row source for the
    writer's table commits."""
    n = len(keys)
    dates = _EPOCH_1995_MS + rng.integers(0, 2404, n) * _DAY_MS
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, n)),
        "o_orderdate": pa.array(dates, pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # Near-duplicate of an earlier document: a few words swapped,
            # so the dedup queries find real candidate pairs.
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 80)))])
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def generate_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write all ten tables; returns ``{"rows": {...}, "bytes": total}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    total = 0
    total += _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    total += _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    total += _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array(_names("Customer", n["customer"])),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -99_999, 1_000_000, n["customer"])),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])]),
    })
    total += _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array(_names("Supplier", n["supplier"])),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -99_999, 1_000_000, n["supplier"])),
    })
    words = np.array(PART_WORDS)
    total += _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(words[rng.integers(0, 5, n["part"])], words[rng.integers(5, 10, n["part"])])
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n["part"])]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array((90_000 + np.arange(n["part"]) % 10_000 * 10) / 100.0),
    })
    total += _write(out_dir, "orders", orders_columns(rng, np.arange(n["orders"]), n["customer"]))
    m = n["lineitem"]
    total += _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 90_000, 10_500_000, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
        "l_shipdate": pa.array(
            _EPOCH_1995_MS + rng.integers(1, 2499, m) * _DAY_MS, pa.timestamp("ms")
        ),
    })
    e = n["events"]
    ts = np.sort(_EPOCH_2024_NS + rng.integers(0, 30 * 86_400 * 10**9, e))
    total += _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(10, e // 66), e), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(_cents(rng, 0, 2_000, e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    total += _write(out_dir, "documents", _documents(rng, n["documents"]))
    v = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (v, 64)).astype(np.float32)
    total += _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return {"rows": n, "bytes": total}
