"""Table catalog + explicit schema registry.

The reference infers schemas from a bounded JSON sample
(``infer_schema_length=1000``, extract-data-dota.py:153 et al.) — its
main correctness hazard (SURVEY.md §1.3): a field null in the sampled
prefix gets mistyped. Our engine keeps an explicit StructType per
dataset and validates every scan against it (drift check), while still
letting the Parquet footer drive the physical read (vectorized reader,
predicate pushdown, column pruning all stay intact).

Small dimensions (region/nation — the analogues of the reference's
lobby_types/game_modes/clusters constants, opendotaapi.py:125-183) are
flagged broadcast-able so star joins never shuffle them.
"""

from __future__ import annotations

import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

#: Per-session memo of UNMATERIALIZED scan DataFrames, keyed
#: (sf_dir, name, validate). A DataFrame here is a plan, not data:
#: every action against it still scans the parquet files, so this
#: caches no results — it removes the ~0.12 s of file-listing +
#: footer-schema work `spark.read.parquet` re-does per call, which the
#: bench re-paid for EVERY query × rep (~300 load_table calls per sweep).
#: Weakly keyed so throwaway test sessions don't pin JVM state alive.
#: Caveat (docstring'd on load_table): within one session a table
#: path is assumed immutable — true for the driver fixtures and the
#: bench restage dir, which is written once before any load.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# --- explicit schema registry (FIXTURES.md §1) ---------------------------
#
# Timestamps are TIMESTAMP_NTZ, as the fixture files store them
# (parquet isAdjustedToUTC=false): wall-clock values with no zone, so
# no result depends on the reading session's timezone.

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

#: dimensions small enough to broadcast at ANY scale factor — these are
#: bounded-cardinality domain tables (5 regions / 25 nations), the
#: analogue of the reference's constants dicts (opendotaapi.py:136).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


class SchemaDriftError(RuntimeError):
    """A scanned dataset no longer matches its registered schema."""


def check_schema(name: str, df: DataFrame) -> None:
    """Drift check: scanned column names/types must match the registry.

    Unlike the reference (which would silently mistype — SURVEY.md §1.3)
    we fail fast with a precise diff.
    """
    expected = SCHEMAS[name]
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in expected.fields}
    if got != want:
        missing = set(want) - set(got)
        extra = set(got) - set(want)
        mistyped = {
            c: (want[c], got[c]) for c in set(want) & set(got) if want[c] != got[c]
        }
        raise SchemaDriftError(
            f"schema drift for table {name!r}: missing={sorted(missing)} "
            f"extra={sorted(extra)} mistyped={mistyped}"
        )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, validate: bool = True
) -> DataFrame:
    """Scan one catalog table as a lazy DataFrame.

    Broadcast-able dims come back with a broadcast hint already applied,
    so every downstream star join picks BroadcastHashJoin without the
    caller having to remember.

    The returned DataFrame is memoized per (session, sf_dir, name,
    validate) — it is a lazy scan plan, so sharing it across callers
    shares no computed data, only the file listing and schema. A
    table path must therefore not be rewritten mid-session (all
    driver fixtures and the bench restage dir satisfy this).
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(SCHEMAS)}")
    state = _SCAN_CACHE.setdefault(spark, {})
    key = (sf_dir, name, validate)
    cached = state.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{name}.parquet"
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        # events.ts has shipped as parquet TIMESTAMP(NANOS) as well as
        # TIMESTAMP(MICROS), depending on the fixture generator version.
        # Spark reads NANOS neither as a timestamp nor, without a
        # session conf, by inference: schema inference fails with
        # PARQUET_TYPE_ILLEGAL. Read with the registry schema and ts
        # declared BIGINT, which loads the raw int64 nanos, then convert
        # with NTZ arithmetic: integer `div` keeps every microsecond
        # exactly (a float division would not), and adding to the NTZ
        # epoch involves no zone.
        if name != "events" or e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        raw = T.StructType(
            [
                T.StructField("ts", T.LongType()) if f.name == "ts" else f
                for f in SCHEMAS[name].fields
            ]
        )
        df = spark.read.schema(raw).parquet(path).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
            ),
        )
    if validate:
        check_schema(name, df)
    if name in BROADCAST_DIMS:
        df = F.broadcast(df)
    state[key] = df
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the whole catalog as {name: DataFrame} (all lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
