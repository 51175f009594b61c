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

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dataextractor_spark.session import SESSION_PINS

#: Per-session memo of UNMATERIALIZED scan DataFrames, keyed
#: (sf_dir, name, validate), plus the one-time session-conf pin. A
#: DataFrame here is a plan, not data: every action against it still
#: scans the parquet files, so this caches no results — it removes the
#: ~0.12 s of file-listing + footer-schema work `spark.read.parquet`
#: re-does per call, and the 3 py4j conf round-trips, which the bench
#: re-paid for EVERY query × rep (~300 load_table calls per sweep).
#: Weakly keyed so throwaway test sessions don't pin JVM state alive.
#: Caveat (docstring'd on load_table): within one session a table
#: path is assumed immutable — true for the driver fixtures and the
#: bench restage dir, which is written once before any load.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# --- explicit schema registry (FIXTURES.md §1) ---------------------------

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
            T.StructField("o_orderdate", T.TimestampType()),
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
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class SchemaDriftError(RuntimeError):
    """A scanned dataset no longer matches its registered schema."""


def check_schema(name: str, df: DataFrame) -> None:
    """Drift check: scanned column names/types must match the registry.

    Unlike the reference (which would silently mistype — SURVEY.md §1.3)
    we fail fast with a precise diff.
    """
    def _canon(t: str) -> str:
        # Spark 4 reads parquet isAdjustedToUTC=false timestamps as
        # TIMESTAMP_NTZ; with our fixed UTC session tz the two flavors
        # are behaviorally identical, so the drift check unifies them.
        return "timestamp" if t == "timestamp_ntz" else t

    expected = SCHEMAS[name]
    got = {f.name: _canon(f.dataType.simpleString()) for f in df.schema.fields}
    want = {f.name: _canon(f.dataType.simpleString()) for f in expected.fields}
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
    if not state.get("_confs_set"):
        # Results must not depend on the caller's session (the driver
        # harness builds its own): apply the session pins, once per
        # session. Nothing in-repo unpins them after.
        for k, v in SESSION_PINS.items():
            spark.conf.set(k, v)
        # events.ts nanos handling (see the events branch below) must
        # be on before the first events read; harmless for µs files.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        state["_confs_set"] = True
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
        # Spark 4 refuses to read natively — the legacy conf, set with
        # the session pins above, surfaces it as raw int64 nanos) and
        # plain TIMESTAMP(MICROS), depending on the fixture generator
        # version. Handle both: branch on the surfaced type. The nanos
        # branch converts losslessly with integer division — int64
        # `div` avoids the double-mantissa precision loss a float
        # division would introduce; the native branch just normalizes
        # NTZ → session-tz timestamp (session tz is pinned UTC above,
        # so the wall-clock values are identical).
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if validate:
        check_schema(name, df)
    if name in BROADCAST_DIMS:
        df = F.broadcast(df)
    state[key] = df
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the whole catalog as {name: DataFrame} (all lazy scans)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
