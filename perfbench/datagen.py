"""Seeded generator for the engine's ten input tables.

The benchmark hands the engine only what this module writes: the same
``seed`` and ``sf`` give the same bytes.  Row counts, schemas and value
distributions follow the TPC-H-shaped layout the engine's queries are
written against (``catalog.TABLES``): keys are dense ``0..n-1``, fact
rows reference dimension keys uniformly, ``documents`` is the small-vocabulary
self-similar corpus with 5% ``" dup"``-suffixed copies, and ``embeddings``
are unit-norm 64-d float32 vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"], dtype=object)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = np.array(
    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(20, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, start = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[start : start + ln]]))
        start += ln
    # 5% near-duplicates: an earlier document's text plus a " dup" marker
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": np.array([f"src{i % 20}" for i in ids], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory.  Each table draws from its own stream
    of ``seed`` so changing one table's size leaves the others' bytes alone."""
    n = row_counts(sf)
    ss = np.random.SeedSequence(seed).spawn(10)
    r = {t: np.random.default_rng(s) for t, s in zip(n, ss)}
    i64 = lambda k: np.arange(n[k], dtype=np.int64)  # noqa: E731

    cols: dict[str, dict] = {}
    cols["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    }
    cols["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    rc = r["customer"]
    cols["customer"] = {
        "c_custkey": i64("customer"),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": rc.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rc, n["customer"], -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rc.integers(0, 5, n["customer"])],
    }
    rs = r["supplier"]
    cols["supplier"] = {
        "s_suppkey": i64("supplier"),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": rs.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rs, n["supplier"], -999.99, 9999.99),
    }
    rp = r["part"]
    np_ = n["part"]
    cols["part"] = {
        "p_partkey": i64("part"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rp.integers(0, 8, np_), rp.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rp.integers(1, 26, np_)],
        "p_type": PART_TYPES[rp.integers(0, 6, np_)],
        "p_size": rp.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    }
    ro = r["orders"]
    no = n["orders"]
    cols["orders"] = {
        "o_orderkey": i64("orders"),
        "o_custkey": ro.integers(0, n["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[ro.integers(0, 3, no)],
        "o_totalprice": _money(ro, no, 1000.0, 500000.0),
        "o_orderdate": _dates(ro, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[ro.integers(0, 5, no)],
    }
    rl = r["lineitem"]
    nl = n["lineitem"]
    cols["lineitem"] = {
        "l_orderkey": rl.integers(0, no, nl),
        "l_partkey": rl.integers(0, np_, nl),
        "l_suppkey": rl.integers(0, n["supplier"], nl),
        "l_linenumber": rl.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rl.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rl, nl, 900.0, 105000.0),
        "l_discount": rl.integers(0, 11, nl) / 100.0,
        "l_tax": rl.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rl.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rl.integers(0, 2, nl)],
        "l_shipdate": _dates(rl, nl, "1995-01-02", "2001-11-04"),
    }
    re_ = r["events"]
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    cols["events"] = {
        "event_id": i64("events"),
        "ts": start + np.sort(re_.integers(0, span_us, ne)).astype("timedelta64[us]"),
        "user_id": re_.integers(0, max(1, int(n["customer"] * 0.1)), ne),
        "event_type": EVENT_TYPES[re_.integers(0, 5, ne)],
        "value": np.round(re_.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in re_.integers(0, 100, ne)],
    }
    cols["documents"] = _documents(r["documents"], n["documents"])
    rv = r["embeddings"]
    nv = n["embeddings"]
    vecs = rv.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cols["embeddings"] = {
        "vec_id": i64("embeddings"),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rv.integers(0, 10, nv).astype(np.int32),
    }
    return {t: pa.table(c) for t, c in cols.items()}


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def inject_nulls(t: pa.Table, seed: int, frac: float) -> tuple[pa.Table, dict[str, int]]:
    """NULL out a seed-chosen ``frac`` of the cells of every column; return
    the new table and the NULL count per column."""
    rng = np.random.default_rng(seed)
    counts: dict[str, int] = {}
    for i, name in enumerate(t.column_names):
        mask = rng.random(t.num_rows) < frac
        col = pc.if_else(pa.array(mask), pa.nulls(t.num_rows, t.column(i).type), t.column(i))
        t = t.set_column(i, name, col)
        counts[name] = col.null_count
    return t, counts

