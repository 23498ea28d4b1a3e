"""Seeded input generators. The same seed gives byte-identical files.

Sizes are fixed per workload and only the contents depend on the seed,
so runs with different seeds measure the same amount of work.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# FTIF layout, written here without the program's encoder so that the
# inputs do not depend on the code under test:
# b"FTIF" | uint32 n_bands | uint32 width | uint32 height | float32 pixels
FTIF_HEADER = struct.Struct("<4sIII")
N_BANDS = 6

# (files per scene, edge length in pixels): two small, two medium and
# two large scene directories per seed
SCENE_SHAPES = ((8, 64), (8, 64), (24, 96), (24, 96), (48, 128), (48, 128))
ZERO_PIXEL_FRAC = 0.10

WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()


def ftif_bytes(bands: np.ndarray) -> bytes:
    n, h, w = bands.shape
    return FTIF_HEADER.pack(b"FTIF", n, w, h) + bands.astype("<f4").tobytes()


@dataclass
class Scene:
    path: str
    input_bytes: int
    n_files: int


def make_scenes(root: str, seed: int) -> list[Scene]:
    """Raster scene directories of FTIF files. Each scene holds about
    10% zero (nodata) pixels, one all-zero band, one file whose bytes
    are not FTIF and one truncated FTIF file."""
    rng = np.random.default_rng([seed, 1])
    scenes = []
    for s, (n_files, edge) in enumerate(SCENE_SHAPES):
        d = os.path.join(root, f"scene{s}")
        os.makedirs(d)
        broken = rng.choice(n_files, size=2, replace=False)
        zero_band = (int(rng.integers(n_files)), int(rng.integers(N_BANDS)))
        for i in range(n_files):
            if i == broken[0]:
                payload = rng.bytes(256)  # undecodable: wrong magic
            else:
                bands = rng.uniform(1.0, 4096.0, (N_BANDS, edge, edge))
                bands[rng.random(bands.shape) < ZERO_PIXEL_FRAC] = 0.0
                if i == zero_band[0]:
                    bands[zero_band[1]] = 0.0
                payload = ftif_bytes(bands.astype("f4"))
                if i == broken[1]:
                    payload = payload[: len(payload) // 2]
            with open(os.path.join(d, f"img{i:03d}.ftif"), "wb") as fh:
                fh.write(payload)
        size = sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
        )
        scenes.append(Scene(d, size, n_files))
    return scenes


def _text(rng: np.random.Generator, lo: int = 8, hi: int = 90) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(lo, hi))))


def make_doc_batches(
    root: str, seed: int, n_batches: int, batch_size: int = 500,
    dup_frac: float = 0.15,
) -> tuple[list[str], list[tuple[int, int]]]:
    """Parquet files of (doc_id long, text string), ids ascending across
    batches, and the planted (dup_id, src_id) pairs: about ``dup_frac``
    of each batch are near-duplicates (one word appended) of one of the
    last ``batch_size`` documents."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(root)
    recent: list[tuple[int, str]] = []
    paths, planted, next_id = [], [], 0
    for b in range(n_batches):
        ids, texts = [], []
        for _ in range(batch_size):
            if recent and rng.random() < dup_frac:
                src_id, src = recent[int(rng.integers(len(recent)))]
                t = f"{src} {WORDS[int(rng.integers(len(WORDS)))]}"
                planted.append((next_id, src_id))
            else:
                t = _text(rng)
            ids.append(next_id)
            texts.append(t)
            recent = recent[-(batch_size - 1):] + [(next_id, t)]
            next_id += 1
        p = os.path.join(root, f"batch{b:04d}.parquet")
        pq.write_table(
            pa.table(
                {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}
            ),
            p,
        )
        paths.append(p)
    return paths, planted


# -- TPC-H-shaped warehouse plus events/documents/embeddings -----------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "small", "hot", "old", "green", "big", "cold"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

# Rows per table, and the value ranges and frequencies below, follow
# the TPC-H-style test warehouse the program's queries are written
# against, at its scale factor 0.01: uniform keys, dates and prices,
# events from 150 users over 30 days, documents of 10 to 99 words of
# which 5% are another document plus " dup", unit 64-d embeddings.
# Scale factor 0.1 makes a query_mix run about 20 s longer, more than
# the repeated runs have time for.
WAREHOUSE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
DOC_DUP_FRAC = 0.05


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(len(values), size=n)])


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _days(rng, start: str, span_days: int, n):
    base = np.datetime64(start, "us")
    days = rng.integers(span_days, size=n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def make_warehouse(root: str, seed: int) -> dict[str, str]:
    """One parquet file per table, with the schema the program reads."""
    rng = np.random.default_rng([seed, 3])
    n = WAREHOUSE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
        "c_nationkey": pa.array(rng.integers(25, size=c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
        "s_nationkey": pa.array(rng.integers(25, size=s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array(
            [f"Brand#{k}" for k in rng.integers(1, 26, size=p)]
        ),
        "p_type": _pick(rng, _TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, size=p), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)
        ),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), i64),
        "o_custkey": pa.array(rng.integers(c, size=o), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(o, size=li), i64),
        "l_partkey": pa.array(rng.integers(p, size=li), i64),
        "l_suppkey": pa.array(rng.integers(s, size=li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, size=li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, size=li).astype("f8")),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": pa.array(rng.integers(0, 11, size=li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(30 * 86400 * 10**6, size=e))
    tables["events"] = pa.table({
        "event_id": pa.array(range(e), i64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(EVENT_USERS, size=e), i64),
        "event_type": _pick(rng, _EVENTS, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=e)]),
    })
    d = n["documents"]
    texts = [_text(rng, 10, 100) for _ in range(d)]
    for i in np.flatnonzero(rng.random(d) < DOC_DUP_FRAC):
        texts[i] = texts[int(rng.integers(d))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(d), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, d),
        "source": pa.array([f"src{k % 20}" for k in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = n["embeddings"]
    vecs = rng.normal(size=(v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("f4")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=v), i32),
    })
    os.makedirs(root)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
