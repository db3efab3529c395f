"""Seeded input generation for the benchmark.

Every table the workloads read is drawn from ``numpy.random.default_rng``
seeded by ``--seed``, so one seed always yields byte-identical parquet
files. Schemas, key ranges and value distributions mirror the engine's
TPC-H-ish test tables (region .. lineitem, events, documents,
embeddings), so queries take the same code paths they take on those
tables; only the row counts are chosen per workload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


@dataclass(frozen=True)
class Scale:
    """Row counts per table; the small dimension tables are fixed."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def tpch(cls, sf: float) -> "Scale":
        """Row counts of the test tables at scale factor ``sf``; the
        documents and embeddings tables have 500 rows at every small sf."""
        return cls(
            customers=int(150_000 * sf),
            suppliers=max(int(10_000 * sf), 10),
            parts=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitems=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            documents=500,
            embeddings=500,
        )


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _documents(rng, n: int) -> list[str]:
    """Random texts over a 30-word vocabulary; one in twenty is a
    near-duplicate (an earlier text plus a trailing ``dup`` token), the
    shape the dedup and quality operators are built for."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return texts


def write_tables(out_dir: str, seed: int, scale: Scale) -> None:
    """Write one parquet file per table under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    s = scale

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(s.customers)
    _write(p("customer"), {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(_SEGMENTS, s.customers).tolist(),
    })
    sk = np.arange(s.suppliers)
    _write(p("supplier"), {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    pk = np.arange(s.parts)
    adj = rng.choice(_PART_ADJ, s.parts)
    noun = rng.choice(_PART_NOUN, s.parts)
    _write(p("part"), {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(_PART_TYPES, s.parts).tolist(),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(s.orders)
    _write(p("orders"), {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, s.customers, s.orders),
        "o_orderstatus": rng.choice(["O", "F", "P"], s.orders).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts_us(_EPOCH_1995_US + rng.integers(0, 2404, s.orders) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, s.orders).tolist(),
    })
    n = s.lineitems
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, s.orders, n),
        "l_partkey": rng.integers(0, s.parts, n),
        "l_suppkey": rng.integers(0, s.suppliers, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n).tolist(),
        "l_shipdate": _ts_us(_EPOCH_1995_US + rng.integers(1, 2499, n) * _DAY_US),
    })
    n = s.events
    _write(p("events"), {
        "event_id": np.arange(n),
        "ts": _ts_us(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": rng.integers(0, max(n // 66, 10), n),
        "event_type": rng.choice(_EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    texts = _documents(rng, s.documents)
    _write(p("documents"), {
        "doc_id": np.arange(s.documents),
        "text": texts,
        "lang": rng.choice(_LANGS, s.documents, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    v = rng.standard_normal((s.embeddings, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(s.embeddings),
        "embedding": pa.array(v.astype("float32").tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })


def write_text_corpus(tables_dir: str, out_dir: str, files: int = 8) -> None:
    """The documents' texts as ``files`` plain-text files (document i goes
    to file i mod ``files``): the input shape of the reference's word
    count (M=8), one whole file per map task."""
    texts = pq.read_table(os.path.join(tables_dir, "documents.parquet"), columns=["text"])
    texts = texts.column("text").to_pylist()
    os.makedirs(out_dir, exist_ok=True)
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f}.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(texts[f::files]) + "\n")
