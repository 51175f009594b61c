"""Normalization primitives: semi-structured → typed columnar.

Re-expresses the reference's record munging as declarative, vectorized
Spark transforms:

- ``flatten_array_column``  ≙ radiant_team[i] → radiant_hero_{i+1}
  (opendotaapi.py:105-112, A5/A6)
- ``unpivot_dict``          ≙ constants {id: name} → 2-col dim
  (opendotaapi.py:136, A11)
- ``normalize_json_records``≙ create_dataframe_from_json's polymorphic
  input handling (extract-data-dota.py:85-110, A15) — but with an
  EXPLICIT schema option instead of bounded sampling (SURVEY.md §1.3)
- ``with_local_date``       ≙ epoch→tz + date partition key derivation
  (opendotaapi.py:114-116, A7/A8)

All functions return lazy DataFrames; nothing collects.
"""

from __future__ import annotations

import json
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


def flatten_array_column(
    df: DataFrame,
    array_col: str,
    prefix: str,
    n: int,
    *,
    cast: str | None = None,
    round_to: int | None = None,
    drop_source: bool = True,
) -> DataFrame:
    """Flatten the first ``n`` elements of ``array_col`` into columns
    ``{prefix}_1 .. {prefix}_n`` (1-based, matching the reference's
    hero_1..5 naming), optionally casting/rounding each element.

    Missing elements (short arrays / null arrays) become NULL — the
    declarative analogue of the reference's presence guard
    (opendotaapi.py:106). Narrow transform: no shuffle at any scale.
    """
    clash = {f"{prefix}_{i}" for i in range(1, n + 1)} & set(df.columns)
    if clash:
        raise ValueError(
            f"flatten output columns {sorted(clash)} already exist on the "
            "input — pick another prefix (duplicate names would poison "
            "every downstream reference)"
        )
    cols = []
    for i in range(1, n + 1):
        # try_element_at: NULL on short/absent arrays (ANSI-safe)
        c = F.try_element_at(F.col(array_col), F.lit(i))
        if cast:
            c = c.cast(cast)
        if round_to is not None:
            c = F.round(c, round_to)
        cols.append(c.alias(f"{prefix}_{i}"))
    out = df.select("*", *cols)
    return out.drop(array_col) if drop_source else out


def unpivot_dict(
    spark: SparkSession,
    d: Mapping[str, str],
    *,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """{key: value} constants map → 2-column dimension DataFrame with
    string keys (the reference keeps keys as strings — FIXTURES.md §2b).

    Built via a MapType literal + explode(map_entries(...)) so the
    whole construction stays in Catalyst (no Python rows), and the
    result is trivially broadcast-able.
    """
    if key_col == value_col:
        raise ValueError(f"key_col and value_col must differ; both {key_col!r}")
    entries = [x for kv in d.items() for x in kv]
    m = F.create_map(*[F.lit(x) for x in entries])
    return (
        spark.range(1)
        .select(F.explode(F.map_entries(m)).alias("e"))
        .select(
            F.col("e.key").cast("string").alias(key_col),
            F.col("e.value").cast("string").alias(value_col),
        )
    )


def normalize_json_records(
    spark: SparkSession,
    payload: list[dict[str, Any]] | dict[str, Any] | str,
    *,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Polymorphic JSON payload → typed DataFrame (A15 parity).

    Accepts, like the reference's create_dataframe_from_json
    (extract-data-dota.py:94-101):
    - a list of dicts,
    - a JSON string (array or single object),
    - a single dict (promoted to a 1-row table).

    With ``schema`` given, every record is parsed against it (the safe
    path). Without it, Spark infers from ALL records — deliberately not
    the reference's bounded 1,000-record sample, which mistypes sparse
    fields (SURVEY.md §1.3).
    """
    if isinstance(payload, str):
        payload = json.loads(payload)
    if isinstance(payload, dict):
        payload = [payload]
    if not isinstance(payload, list):
        raise TypeError(f"unsupported payload type: {type(payload).__name__}")
    if len(payload) == 0:
        # reference warns and returns None on empty bodies
        # (opendotaapi.py:70-72); we return a typed empty table instead
        if schema is None:
            raise ValueError("empty payload requires an explicit schema")
        return spark.createDataFrame([], schema)
    if schema is not None:
        json_lines = [json.dumps(r) for r in payload]
        jdf = spark.createDataFrame([(s,) for s in json_lines], "raw string")
        return jdf.select(F.from_json("raw", schema).alias("rec")).select("rec.*")
    # schema-free path WITHOUT leaving the DataFrame API (an .rdd hop
    # disables scan pushdown on anything built downstream and is
    # removed-API territory for Spark Connect): serialize the whole
    # payload as ONE JSON array literal and let schema_of_json infer
    # the merged element schema — JsonInferSchema folds every element's
    # type, so this is full-payload inference (NOT the reference's
    # 1,000-record sample), then explode back into rows. The single-row
    # stage is fine: the payload is already a driver-local list here.
    arr = json.dumps(payload)
    arr_df = spark.createDataFrame([(arr,)], "raw string")
    return arr_df.select(
        F.explode(F.from_json("raw", F.schema_of_json(F.lit(arr)))).alias("rec")
    ).select("rec.*")


def with_local_date(
    df: DataFrame,
    ts_col: str,
    *,
    tz: str = "America/Sao_Paulo",
    local_col: str = "ts_local",
    date_col: str = "dt",
) -> DataFrame:
    """UTC timestamp column → local wall-clock time + derived date
    partition key (A7/A8 parity: opendotaapi.py:114-116) — but as a
    real partition column for write.partitionBy, not a filename.

    ``ts_col`` is an instant (TIMESTAMP). The local time comes back as
    TIMESTAMP_NTZ and the key as its ``yyyy-MM-dd`` date, both derived
    without the session timezone: the instant's UTC wall clock is the
    epoch NTZ plus its microseconds, ``convert_timezone`` moves that
    wall clock to ``tz``, and the date is a plain NTZ → DATE cast."""
    clash = {local_col, date_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"output columns {sorted(clash)} already exist on the input — "
            "withColumn would silently replace them; pass different "
            "local_col/date_col names"
        )
    utc_wall = F.expr(
        f"timestampadd(MICROSECOND, unix_micros(`{ts_col}`), "
        "TIMESTAMP_NTZ'1970-01-01 00:00:00')"
    )
    local = F.convert_timezone(F.lit("UTC"), F.lit(tz), utc_wall)
    return df.withColumn(local_col, local).withColumn(
        date_col, local.cast("date").cast("string")
    )
