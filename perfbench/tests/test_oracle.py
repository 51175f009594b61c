"""Order-insensitive result comparison against a DuckDB query."""

import duckdb
import pytest

from perfbench.oracle import Mismatch, canonical, compare


@pytest.fixture
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a', 0.1), (2, 'b', 0.2)) v(k, s, x)")
    yield c
    c.close()


def test_equal_rows_in_any_order_and_column_order(con):
    sql = "SELECT k, s, round(x * 3, 6) AS y FROM t"
    assert compare(["y", "k", "s"], [(0.6, 2, "b"), (0.3, 1, "a")], con, sql) == 2


def test_value_row_and_column_mismatches_raise(con):
    sql = "SELECT k, s FROM t"
    with pytest.raises(Mismatch, match="rows differ"):
        compare(["k", "s"], [(1, "a"), (2, "c")], con, sql)
    with pytest.raises(Mismatch, match="row count"):
        compare(["k", "s"], [(1, "a")], con, sql)
    with pytest.raises(Mismatch, match="columns"):
        compare(["k", "z"], [(1, "a"), (2, "b")], con, sql)


def test_canonical_form_ignores_order_only():
    a = canonical(["b", "a"], [(2, 1), (1, 3)])
    assert a == canonical(["a", "b"], [(3, 1), (1, 2)])
    assert a != canonical(["a", "b"], [(3, 1), (1, 3)])
