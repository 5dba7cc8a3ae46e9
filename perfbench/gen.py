"""Seeded input generator for the benchmark.

Every table has the column names and parquet types of the engine's test
fixtures (TPC-H-like star schema, an ``events`` stream table, a text corpus
and an embedding table). The same seed always yields byte-identical tables.

``amplify`` makes the K-fold copy the warehouse workload scans. It follows
the decorrelation the repository's scale harness uses, so every answer grows
linearly in K instead of planting cross-replica duplicates:

* keys are shifted per replica (orders, customers, events, documents);
* every document token is tagged with its replica id, which keeps all
  intra-replica Jaccard similarities and makes cross-replica shingle spaces
  disjoint;
* embeddings get a per-(replica, dimension) sign flip, an isometry inside a
  replica that drives cross-replica cosines to about zero.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_WORDS = (
    np.array(["small", "red", "blue", "large", "green", "steel"]),
    np.array(["ring", "widget", "bolt", "gear", "spring", "valve"]),
)
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()])


def base_tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """One scale-``sf`` copy of every table, drawn from ``seed``."""
    rng = np.random.default_rng([seed, int(sf * 1e6), n_docs, n_vecs])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": nk % 5,
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _fmt("Customer#", ck),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _fmt("Supplier#", sk),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900.0 + (pk % 20_000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_WORDS[0], n_part), " "),
            rng.choice(PART_WORDS[1], n_part),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": price,
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, per_order)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_part = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _ts(np.repeat(odate, per_order) + rng.integers(1, 122, n_li) * US_PER_DAY),
    })
    ev_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-vocabulary documents; one in twenty is an earlier document
    with a ``dup`` token appended, so near-duplicate detection has work."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n, dtype=np.int32)
    v = centers[label] + rng.normal(scale=0.6, size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label,
    })


def _shift(t: pa.Table, col: str, span: int, k: int) -> pa.Table:
    """Concatenate k copies of ``t`` with ``col`` shifted by rep * span."""
    reps = []
    for r in range(k):
        shifted = pa.array(t[col].to_numpy() + r * span)
        reps.append(t.set_column(t.schema.get_field_index(col), col, shifted))
    return pa.concat_tables(reps)


def amplify(base: dict[str, pa.Table], k: int) -> dict[str, pa.Table]:
    """K-fold decorrelated copy of ``base`` (see the module docstring)."""
    out = dict(base)
    li = base["lineitem"]
    out["lineitem"] = _shift(li, "l_orderkey", 10_000_000, k)
    o = _shift(base["orders"], "o_orderkey", 10_000_000, k)
    cust_of = np.concatenate([base["orders"]["o_custkey"].to_numpy() + r * 1_000_000 for r in range(k)])
    out["orders"] = o.set_column(o.schema.get_field_index("o_custkey"), "o_custkey", pa.array(cust_of))
    out["customer"] = _shift(base["customer"], "c_custkey", 1_000_000, k)
    ev = _shift(base["events"], "event_id", 100_000_000, k)
    users = np.concatenate([base["events"]["user_id"].to_numpy() + r * 1_000_000 for r in range(k)])
    out["events"] = ev.set_column(ev.schema.get_field_index("user_id"), "user_id", pa.array(users))

    docs = base["documents"]
    parts = []
    for r in range(k):
        tagged = [" ".join(f"{w}_r{r}" for w in s.split(" ")) for s in docs["text"].to_pylist()]
        parts.append(pa.table({
            "doc_id": pa.array(docs["doc_id"].to_numpy() + r * 10_000_000),
            "text": tagged,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": np.array([len(s) for s in tagged], dtype=np.int64),
        }))
    out["documents"] = pa.concat_tables(parts)

    emb = base["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    parts = []
    for r in range(k):
        flip = np.where(np.random.default_rng([r, 7]).integers(0, 2, DIM) == 1, -1.0, 1.0)
        parts.append(pa.table({
            "vec_id": pa.array(emb["vec_id"].to_numpy() + r * 10_000_000),
            "embedding": pa.array(list((vecs * flip).astype(np.float32)), type=pa.list_(pa.float32())),
            "label": emb["label"],
        }))
    out["embeddings"] = pa.concat_tables(parts)
    return out


def write_dataset(tables: dict[str, pa.Table], path: str, files: int = 1) -> dict:
    """Write each table to ``path/<name>.parquet`` (one file, or a directory
    of ``files`` row slices for the larger tables) and publish by rename.
    Returns {table: {"rows", "bytes"}}."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sizes = {}
    for name, t in tables.items():
        dest = os.path.join(tmp, f"{name}.parquet")
        if files > 1 and t.num_rows >= 100_000:
            os.makedirs(dest)
            step = -(-t.num_rows // files)
            for i in range(files):
                pq.write_table(t.slice(i * step, step), os.path.join(dest, f"part-{i:05d}.parquet"))
        else:
            pq.write_table(t, dest)
        sizes[name] = {"rows": t.num_rows, "bytes": _du(dest)}
    with open(os.path.join(tmp, "_SIZES.json"), "w") as f:
        json.dump(sizes, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return sizes


def read_sizes(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_SIZES.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _du(p: str) -> int:
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p) for f in fs)
