"""Seeded generator for the catalog tables the workloads read.

The catalog has the same ten tables, column names and physical types as
the engine's fixture set (`dataextractor_spark.catalog.SCHEMAS`), at the
sf0.1 row counts by default. Value domains follow the fixture footers:
uniform keys, TPC-H-style categorical columns, a month of events with a
small JSON ``props`` payload, a 31-token text corpus with planted exact
and near duplicates, and unit-norm 64-d embeddings drawn around ten
labelled centres. Same seed, same bytes of data; the engine sees only
the written Parquet files.

`write_catalog` writes the multi-file layout the engine is benchmarked
on: the four big tables as directories of N part files, every other
table as one file. `replicate` builds the disjoint m-fold scale-out.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: rows per table at sf0.1 (the fixture set's counts)
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: part files per table. A single-row-group table scans on one core,
#: so the large tables are split; the small ones stay one file because
#: extra tasks on a 2k-row table cost more than they parallelise.
RESTAGE_FILES = {"lineitem": 8, "documents": 8, "orders": 4, "events": 4}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _ts(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    tokens = rng.integers(0, len(VOCAB), lengths.sum())
    words = np.array(VOCAB, dtype=object)[tokens]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # planted duplicates: ~1% exact copies and ~2% one-token edits of an
    # earlier document, so dedup and near-dup queries find real pairs
    n_dup = max(2, n // 100)
    for dst in rng.choice(np.arange(n // 2, n), 3 * n_dup, replace=False)[:n_dup]:
        texts[dst] = texts[int(rng.integers(0, n // 2))]
    for dst in rng.choice(np.arange(n // 2, n), 2 * n_dup, replace=False):
        src = texts[int(rng.integers(0, n // 2))].split(" ")
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[dst] = " ".join(src)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def catalog(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """Every catalog table for ``seed``; ``rows`` overrides SF01_ROWS."""
    rows = {**SF01_ROWS, **(rows or {})}
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o, n_l, n_e = (
        rows[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _pick(rng, SEGMENTS, n_c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    adj = rng.integers(0, len(PART_ADJ), n_p)
    noun = rng.integers(0, len(PART_NOUN), n_p)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
        "p_type": _pick(rng, PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })
    order_days = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts("1995-01-01", order_days * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_o),
    })
    ship_days = rng.integers(0, 2499, n_l)  # 1995-01-02 .. 2001-11-04
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _ts("1995-01-02", ship_days * _DAY_US),
    })
    # strictly increasing event times over 30 days, so ts is a total order
    gaps = rng.integers(1, 2 * (30 * _DAY_US) // n_e, n_e)
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, max(1, n_e // 66), n_e).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(60.0, n_e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


# --- disjoint m-fold replication ---------------------------------------

#: key columns shifted per copy, grouped by the key space they share
KEY_SPACES = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}

#: dimension tables every copy shares
SHARED = ("region", "nation")


def replica_params(seed: int, base: dict[str, pa.Table], m: int) -> dict:
    """Seeded per-copy parameters: a key offset per key space (strides
    larger than the base key range, so copies never collide), a token
    suffix per copy, and a distinct embedding rotation per copy."""
    rng = np.random.default_rng([seed, m])
    offsets = {}
    for space, cols in KEY_SPACES.items():
        top = max(int(pc.max(base[t][c]).as_py()) for t, c in cols) + 1
        stride = top + int(rng.integers(1, 1000))
        offsets[space] = [i * stride for i in range(m)]
    suffixes = [""] + [f"_{s}" for s in rng.choice(900, m - 1, replace=False) + 100]
    rotations = [0] + list(rng.choice(np.arange(1, EMBED_DIM), m - 1, replace=False))
    return {"offsets": offsets, "suffixes": suffixes, "rotations": rotations}


def _copy(table: str, tb: pa.Table, i: int, params: dict) -> pa.Table:
    for space, cols in KEY_SPACES.items():
        off = params["offsets"][space][i]
        for t, c in cols:
            if t == table and off:
                idx = tb.schema.get_field_index(c)
                shifted = pc.add(tb[c], pa.scalar(off, tb.schema.field(c).type))
                tb = tb.set_column(idx, c, shifted)
    if table == "documents" and params["suffixes"][i]:
        # a per-copy token bijection: within-copy shingle structure is
        # kept exactly and no shingle is shared across copies
        suf = params["suffixes"][i]
        texts = [" ".join(w + suf for w in s.split(" ")) for s in tb["text"].to_pylist()]
        tb = tb.set_column(1, "text", pa.array(texts, pa.string()))
        tb = tb.set_column(4, "n_chars", pa.array([len(s) for s in texts], pa.int64()))
    if table == "embeddings" and params["rotations"][i]:
        # a coordinate rotation keeps norms and within-copy cosines
        vecs = np.stack(tb["embedding"].to_numpy(zero_copy_only=False))
        vecs = np.roll(vecs, int(params["rotations"][i]), axis=1)
        tb = tb.set_column(1, "embedding", pa.array(list(vecs), pa.list_(pa.float32())))
    return tb


def replicate(base: dict[str, pa.Table], m: int, seed: int) -> dict[str, pa.Table]:
    """m disjoint, isomorphic copies of ``base`` (copy 0 is ``base``);
    joins stay inside a copy and additive aggregates scale by m."""
    params = replica_params(seed, base, m)
    return {
        t: tb if t in SHARED else pa.concat_tables(_copy(t, tb, i, params) for i in range(m))
        for t, tb in base.items()
    }


# --- on-disk layout -------------------------------------------------------


def write_catalog(tables: dict[str, pa.Table], out_dir: str, files_scale: int = 1) -> None:
    """Write ``tables`` under ``out_dir`` as ``<name>.parquet``: a file,
    or a directory of part files for the tables in RESTAGE_FILES (their
    file count multiplied by ``files_scale``). Files are written on a
    few threads; Arrow's writer releases the interpreter lock."""
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(out_dir, exist_ok=True)
    jobs = []
    for name, tb in tables.items():
        n = RESTAGE_FILES.get(name, 1) * (files_scale if name in RESTAGE_FILES else 1)
        path = os.path.join(out_dir, f"{name}.parquet")
        if n == 1:
            jobs.append((tb, path))
            continue
        os.makedirs(path)
        step = -(-tb.num_rows // n)
        jobs += [(tb.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))
                 for k in range(n)]
    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(pq.write_table, tb, path) for tb, path in jobs]:
            f.result()


def parquet_glob(sf_dir: str, name: str) -> str:
    """The path DuckDB reads one table from (a glob for directories)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
