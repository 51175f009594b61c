"""Seed determinism of the generated inputs, and the disjoint replica's
structure. No Spark needed: tables are compared in Arrow and DuckDB."""

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from perfbench import datagen

SMALL = {
    "customer": 300, "supplier": 40, "part": 400, "orders": 3_000,
    "lineitem": 12_000, "events": 2_000, "documents": 300, "embeddings": 200,
}


def _cat(seed):
    return datagen.catalog(seed, SMALL)


def test_same_seed_same_rows_and_other_seed_other_rows():
    a, b, c = _cat(5), _cat(5), _cat(6)
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t
    changed = [t for t in datagen.TABLES if not a[t].equals(c[t])]
    assert set(changed) == set(datagen.TABLES) - set(datagen.SHARED)


def test_written_layout_round_trips(tmp_path):
    a = _cat(3)
    datagen.write_catalog(a, str(tmp_path))
    con = duckdb.connect()
    for t in datagen.TABLES:
        path = datagen.parquet_glob(str(tmp_path), t)
        assert path.endswith("*.parquet") == (t in datagen.RESTAGE_FILES)
        got = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        assert got == a[t].num_rows, t


def _flagship(tables):
    con = duckdb.connect()
    con.register("lineitem", tables["lineitem"])
    return {
        (r[0], r[1]): r[2:]
        for r in con.execute(
            "SELECT l_returnflag, l_linestatus, sum(l_quantity), "
            "sum(l_extendedprice * 100)::BIGINT, count(*) "
            "FROM lineitem GROUP BY ALL"
        ).fetchall()
    }


@pytest.mark.parametrize("m", [2, 8])
def test_replica_scales_additive_flagship_columns_by_m(m):
    base = _cat(9)
    rep = datagen.replicate(base, m, seed=9)
    b, r = _flagship(base), _flagship(rep)
    assert b.keys() == r.keys()
    for k, (qty, cents, n) in b.items():
        assert r[k] == (m * qty, m * cents, m * n)


def test_replica_copies_are_disjoint_and_isomorphic():
    m = 4
    base = _cat(2)
    rep = datagen.replicate(base, m, seed=2)
    for t in datagen.SHARED:
        assert rep[t].equals(base[t])
    n = base["lineitem"].num_rows
    for space, cols in datagen.KEY_SPACES.items():
        for t, c in cols:
            rows = base[t].num_rows
            keys = [set(rep[t][c].slice(i * rows, rows).to_pylist()) for i in range(m)]
            for i in range(m):
                for j in range(i + 1, m):
                    assert not keys[i] & keys[j], (space, t, c)
    # joins stay inside a copy: every lineitem order key of copy i is an
    # order key of copy i
    orders = rep["orders"]["o_orderkey"].to_numpy()
    items = rep["lineitem"]["l_orderkey"].to_numpy()
    n_o = base["orders"].num_rows
    for i in range(m):
        own = set(orders[i * n_o:(i + 1) * n_o])
        assert set(items[i * n:(i + 1) * n]) <= own
    # text: per-copy token bijection, no token shared across copies
    d = base["documents"].num_rows
    vocab = [
        {w for s in rep["documents"]["text"].slice(i * d, d).to_pylist() for w in s.split(" ")}
        for i in range(m)
    ]
    assert len(vocab[0]) == len(vocab[1])
    assert not vocab[0] & vocab[1]
    # embeddings: rotations keep norms and within-copy cosines
    e = base["embeddings"].num_rows
    v0 = np.stack(base["embeddings"]["embedding"].to_numpy(zero_copy_only=False))
    v3 = np.stack(rep["embeddings"]["embedding"].slice(3 * e, e).to_numpy(zero_copy_only=False))
    assert not np.array_equal(v0, v3)
    np.testing.assert_allclose(v0 @ v0.T, v3 @ v3.T, atol=1e-5)


def test_replica_parameters_follow_the_seed():
    base = _cat(1)
    p1 = datagen.replica_params(1, base, 8)
    assert p1 == datagen.replica_params(1, base, 8)
    assert p1 != datagen.replica_params(2, base, 8)
    assert len(set(p1["rotations"])) == 8 and len(set(p1["suffixes"])) == 8


def test_schema_matches_the_engine_catalog():
    from dataextractor_spark.catalog import SCHEMAS

    spark_types = {
        pa.int32(): "int", pa.int64(): "bigint", pa.float64(): "double",
        pa.string(): "string", pa.timestamp("us"): "timestamp",
        pa.list_(pa.float32()): "array<float>",
    }
    for t, tb in _cat(4).items():
        got = [(f.name, spark_types[f.type]) for f in tb.schema]
        want = [(f.name, f.dataType.simpleString()) for f in SCHEMAS[t].fields]
        assert got == want, t
