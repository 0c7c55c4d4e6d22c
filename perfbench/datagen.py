"""Seeded input generator: TPC-H-ish tables, a text corpus and an
embedding table with the schemas and value domains ``__spark_entry__``
queries expect (the same shapes as the repo's sf tables).

Everything is a pure function of ``(seed, sf)``: the same arguments
write byte-identical parquet. Tables are written as several row groups
so Spark scans them with one task per core instead of one task per
file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

_DAY_US = 86_400_000_000


def _ts(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, options: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(options), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(options)
    ).cast(pa.string())


def _labels(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _write(table: pa.Table, path: str, groups: int) -> None:
    rows = max(1, -(-table.num_rows // groups))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem at scale
    ``sf`` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _labels("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _labels("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
    })
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    return out


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``documents`` (50k docs per sf unit; ~2% planted near-duplicates
    and a few exact duplicates, so dedup stages have work) and
    ``embeddings`` (20k 64-d float vectors per sf unit, 10 labels)."""
    rng = np.random.default_rng([seed, 2])
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)
    words = np.array(WORDS)
    lens = rng.integers(8, 101, n_docs)
    flat = words[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts, pos = [], 0
    for n in lens.tolist():
        texts.append(" ".join(flat[pos:pos + n].tolist()))
        pos += n
    near = rng.choice(n_docs, n_docs // 50, replace=False)
    for i in near.tolist():
        src = texts[int(rng.integers(0, n_docs))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(WORDS))])
        texts[i] = " ".join(src)
    for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False).tolist():
        texts[i] = texts[(i + 1) % n_docs]
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in ids.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = (rng.standard_normal((n_vec, 64)) * 0.15).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str, groups: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"), groups)
