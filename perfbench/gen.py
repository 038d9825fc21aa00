"""Seeded input generator for the benchmark.

Writes the ten driver-shaped tables (TPC-H-ish star schema, ``events``,
``documents``, ``embeddings``; schemas as in FIXTURES.md) as one parquet
file each, plus clinical report batches as CSV files.  The same seed gives
byte-identical inputs; nothing is read from outside the output directory.

Two properties are planted so rows-only outputs have a known answer:

- every near-duplicate document is an exact copy of an earlier one, and
  every other pair shares few character shingles, so a MinHash near-dup
  query must return exactly ``len(dup_pairs)`` pairs;
- clinical reports use ``~`` (HL7 segment break) instead of newlines, so
  each CSV record is one line and the default (splittable) reader applies.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the driver corpus vocabulary (documents.text draws from these words)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: clinical report vocabulary and section headers (functions.sections
#: DEFAULT_PATTERNS match these case-insensitively)
CLINICAL_WORDS = (
    "prostate biopsy core tissue gland gleason pattern adenocarcinoma benign "
    "margin negative positive tumor left right apex base lesion specimen "
    "received formalin fragments perineural invasion grade group"
).split()
SECTION_HEADERS = [
    "GROSS DESCRIPTION:",
    "MICROSCOPIC DESCRIPTION:",
    "DIAGNOSIS:",
    "COMMENT:",
    "ADDENDUM:",
]

#: 1995-01-01 and 2024-01-01 in µs since the epoch
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


#: Row counts of the sf0.01 test tables, the scale the oracle suite runs
#: at (``documents`` and ``embeddings`` have 500 rows there, as at
#: sf0.001).  At sf0.1 one text_dedup run takes about 100 s on 4 cores
#: (``q_graph_pagerank`` alone: 13.9 s cold, 8.3 s warm), more than a run
#: may take.  ``lineitem`` follows from ``ORDERS`` (1-7 lines per order).
CUSTOMERS = 1500
SUPPLIERS = 100
PARTS = 2000
ORDERS = 15000
EVENTS = 10000
USERS = 150
DOCUMENTS = 500
EMBEDDINGS = 500
#: clinical report batches, each as many reports as ``documents`` has rows
BATCHES = 4
BATCH_ROWS = DOCUMENTS


@dataclass(frozen=True)
class Inputs:
    sf_dir: str
    batch_paths: list[str]
    dup_pairs: int
    batch_bytes: int


def _write(sf_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], int]:
    texts: list[str] = []
    originals: set[int] = set()
    dup_pairs = 0
    for i in range(n):
        # ~5% exact copies of a distinct earlier document (never a copy
        # of a copy), so each copy adds exactly one near-dup pair
        if i >= 10 and rng.random() < 0.05:
            pool = [j for j in range(i) if j not in originals and texts[j] not in texts[:j]]
            j = int(rng.choice(pool))
            originals.add(j)
            texts.append(texts[j])
            dup_pairs += 1
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(WORDS, k)))
    return texts, dup_pairs


def _report(rng: np.random.Generator) -> str:
    """One single-line clinical report: HL7-style segments joined by ``~``,
    with stray runs of spaces/tabs for the cleaner to normalize."""
    k = int(rng.integers(0, len(SECTION_HEADERS) + 1))
    headers = list(rng.choice(SECTION_HEADERS, k, replace=False))
    segments = []
    for h in headers or [""]:
        body = " ".join(rng.choice(CLINICAL_WORDS, int(rng.integers(4, 40))))
        seg = f"{h} {body}".strip()
        if rng.random() < 0.3:
            seg = "OBX|1|" + seg
        if rng.random() < 0.2:
            seg = seg.replace(" ", "  \t", 1)
        segments.append(seg)
    return "~".join(segments)


def generate(out_dir: str, seed: int) -> Inputs:
    """Write every table and batch file under ``out_dir``; same seed, same bytes."""
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(out_dir, "sf")
    os.makedirs(sf_dir, exist_ok=True)

    _write(sf_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(sf_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = CUSTOMERS
    _write(sf_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = SUPPLIERS
    _write(sf_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = PARTS
    _write(sf_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })
    no = ORDERS
    _write(sf_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(sf_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines_per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per_order]), pa.int32()
        ),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, nl) * _DAY_US),
    })
    ne = EVENTS
    _write(sf_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, USERS, ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(_money(rng, 0.01, 500.0, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = DOCUMENTS
    texts, dup_pairs = _documents(rng, nd)
    _write(sf_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = EMBEDDINGS
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(sf_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    batch_dir = os.path.join(out_dir, "batches")
    os.makedirs(batch_dir, exist_ok=True)
    paths = []
    for b in range(BATCHES):
        path = os.path.join(batch_dir, f"batch_{b}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["msgid", "message"])
            for r in range(BATCH_ROWS):
                w.writerow([b * BATCH_ROWS + r, _report(rng)])
        paths.append(path)
    return Inputs(
        sf_dir=sf_dir,
        batch_paths=paths,
        dup_pairs=dup_pairs,
        batch_bytes=sum(os.path.getsize(p) for p in paths) // len(paths),
    )
