"""Catalog contract tests: schema drift fails fast (the reference
would silently mistype — SURVEY.md §1.3), unknown tables fail early,
broadcast hints attach."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataextractor_spark.catalog import (
    SCHEMAS,
    SchemaDriftError,
    check_schema,
    load_table,
)
from dataextractor_spark.plans.inspect import physical_plan
from tests.conftest import SF_SMALL


def test_unknown_table_rejected(spark):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, SF_SMALL, "nonexistent")


def test_drift_missing_column(spark):
    df = load_table(spark, SF_SMALL, "orders").drop("o_orderpriority")
    with pytest.raises(SchemaDriftError, match="o_orderpriority"):
        check_schema("orders", df)


def test_drift_mistyped_column(spark):
    df = load_table(spark, SF_SMALL, "orders").withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")
    )
    with pytest.raises(SchemaDriftError, match="o_totalprice"):
        check_schema("orders", df)


def test_drift_extra_column(spark):
    df = load_table(spark, SF_SMALL, "orders").withColumn("surprise", F.lit(1))
    with pytest.raises(SchemaDriftError, match="surprise"):
        check_schema("orders", df)


def test_all_tables_load_and_validate(spark):
    for name in SCHEMAS:
        df = load_table(spark, SF_SMALL, name)
        assert df.count() > 0


def test_dim_broadcast_hint_attached(spark):
    n = load_table(spark, SF_SMALL, "nation")
    c = load_table(spark, SF_SMALL, "customer")
    plan = physical_plan(c.join(n, c.c_nationkey == n.n_nationkey), "simple")
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_ts_units_load_alike(spark, tmp_path, unit):
    """events.ts has shipped as parquet TIMESTAMP(MICROS) and
    TIMESTAMP(NANOS). A copy of the fixture written in either unit must
    load as TIMESTAMP_NTZ with the fixture's exact ts values, without
    a write to the session's conf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp(unit)))
    pq.write_table(t, tmp_path / "events.parquet")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == (
        pa.timestamp(unit)
    )

    s = spark.newSession()
    conf0 = s.conf.getAll
    got = load_table(s, str(tmp_path), "events")
    want = load_table(s, SF_SMALL, "events")
    assert got.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    assert sorted(got.select("event_id", "ts").collect()) == sorted(
        want.select("event_id", "ts").collect()
    )
    assert s.conf.getAll == conf0
