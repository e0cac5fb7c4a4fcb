"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the workload registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``) with
the schemas and value distributions of the repository's fixed test data:
uniform TPC-H-style keys and measures, a 30-word document vocabulary with
5% exact copies marked ``dup``, and unit-norm 64-d float embeddings. The
same ``(seed, scale)`` always writes the same rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP_MARK = "dup"
EMB_DIM = 64
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

_US_PER_DAY = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


@dataclass(frozen=True)
class Scale:
    """Row counts per table; ``sf`` scales the TPC-H-style tables like the
    repository's sf directories (lineitem = 6M x sf)."""

    sf: float
    documents: int
    embeddings: int

    @property
    def rows(self) -> dict[str, int]:
        sf = self.sf
        return {
            "customer": int(150_000 * sf),
            "supplier": max(int(10_000 * sf), 10),
            "part": int(200_000 * sf),
            "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf),
            "events": int(1_000_000 * sf),
            "users": max(int(15_000 * sf), 10),  # distinct events.user_id
        }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10-100 vocabulary words; 5% are an exact copy of
    an earlier document plus the ``dup`` marker (near-duplicate pairs)."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    is_dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.flatnonzero(is_dup):
        if i > 0:
            texts[i] = f"{texts[src[i]]} {DUP_MARK}"
    return texts


def unit_vectors(rng: np.random.Generator, n: int, dim: int = EMB_DIM) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _embedding_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), type=pa.int32())
    return pa.ListArray.from_arrays(offsets, flat)


def tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """Every input table as an Arrow table, drawn from one seeded stream
    per table (adding a table never shifts another table's rows)."""
    n = scale.rows
    streams = np.random.SeedSequence(seed).spawn(10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    rng = np.random.default_rng(streams[0])
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        }
    )

    rng = np.random.default_rng(streams[1])
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )

    rng = np.random.default_rng(streams[2])
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(k)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, names, k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    rng = np.random.default_rng(streams[3])
    k = n["orders"]
    d0, d1 = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    days = rng.integers(0, (d1 - d0) // _US_PER_DAY + 1, k)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts(d0 + days * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        }
    )

    rng = np.random.default_rng(streams[4])
    k = n["lineitem"]
    s0, s1 = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    ship = rng.integers(0, (s1 - s0) // _US_PER_DAY + 1, k)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["O", "F"], k),
            "l_shipdate": _ts(s0 + ship * _US_PER_DAY),
        }
    )

    rng = np.random.default_rng(streams[5])
    k = n["events"]
    t0 = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, k)) + t0
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )

    rng = np.random.default_rng(streams[6])
    k = scale.documents
    texts = doc_texts(rng, k)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, k, p=LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], k),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    rng = np.random.default_rng(streams[7])
    k = scale.embeddings
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": _embedding_column(unit_vectors(rng, k)),
            "label": pa.array(rng.integers(0, 10, k), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns the
    bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
