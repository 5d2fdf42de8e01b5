"""The OPC-value data model on Spark (SURVEY.md §1.1-§1.4).

The reference normalizes every telemetry reading into a fixed 8-field record
(reference: OPC2MongoDB/Program.cs:1162-1172):

    tag, dataType, doubleValue, boolValue, stringValue,
    sourceTimestamp, serverTimestamp, quality

routed to a collection per source server (Program.cs:1159). The driver
testdata has no live OPC server, so ``events_as_opc_values`` derives the
canonical opc_values frame from the ``events`` table (FIXTURES.md §1):
a deterministic mapping used by the flagship query, the oracle checks and the
streaming twins alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from opc2mongodb_spark.functions.coercion import (
    coerce_value,
    coerce_value_dynamic,
    is_supported_type,
)

OPC_QUALITY_GOOD = 192  # OPC-DA quality code; reference defaults Bad (Program.cs:966)
OPC_QUALITY_BAD = 0

# The reference's 8-field Mongo document (Program.cs:1162-1172) plus the
# collection-routing `server` column (Program.cs:1159). Timestamps are NTZ:
# the session is pinned UTC and the DuckDB oracle reads parquet TIMESTAMP
# as naive UTC, so a zoned type would re-render values per host. ONE
# documented exception: the live/streaming producer `raw_to_opc_values`
# keeps ZONED timestamps, because streaming watermarks reject NTZ event
# time ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) — see its docstring; the
# contract test pins both renderings.
# `events_as_opc_values` appends one extra column AFTER these — `event_id`,
# the deterministic tiebreaker the batch twin needs for last-value ordering
# (the live stream's queue order is not reproducible in a batch replay) —
# enforced by tests/test_guard_edges.py::test_opc_value_wire_schema_contract.
OPC_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("server", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("dataType", T.StringType()),
        T.StructField("doubleValue", T.DoubleType()),
        T.StructField("boolValue", T.BooleanType()),
        T.StructField("stringValue", T.StringType()),
        T.StructField("sourceTimestamp", T.TimestampNTZType()),
        T.StructField("serverTimestamp", T.TimestampNTZType()),
        T.StructField("quality", T.IntegerType()),
    ]
)


def events_as_opc_values(events: DataFrame) -> DataFrame:
    """Deterministic OPC twin of the events table.

    server := 'server_' || user_id % 3      (collection-per-server routing)
    tag    := event_type || '.' || user_id  (dotted hierarchical key,
              conf example `US.Queens.Latitude`, opc2mongodb.conf:20)
    value  := events.value coerced through the tri-valued rules (§1.2)

    Keeps ``event_id`` as a deterministic tiebreaker column (callers drop it).
    """
    v = coerce_value(F.col("value"), "double")
    return events.select(
        F.concat(F.lit("server_"), (F.col("user_id") % 3).cast("string")).alias(
            "server"
        ),
        F.concat_ws(".", F.col("event_type"), F.col("user_id").cast("string")).alias(
            "tag"
        ),
        F.lit("double").alias("dataType"),
        v["doubleValue"].alias("doubleValue"),
        v["boolValue"].alias("boolValue"),
        v["stringValue"].alias("stringValue"),
        F.col("ts").alias("sourceTimestamp"),
        (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("serverTimestamp"),
        F.when(F.col("value").isNull(), F.lit(OPC_QUALITY_BAD))
        .otherwise(F.lit(OPC_QUALITY_GOOD))
        .cast("int")
        .alias("quality"),
        F.col("event_id"),
    )


def raw_to_opc_values(raw: DataFrame) -> DataFrame:
    """Normalize the opcsim wire format (sources/opc.py RAW_SCHEMA) into the
    canonical opc_values frame — the runtime type-dispatch path (reference
    Program.cs:137-443 switch, here one CASE expression). Rows whose
    dataType name is unsupported (or NULL) are dropped by a filter on the
    name, mirroring the reference's "READ UNSUPPORTED TYPE" drop
    (Program.cs:718-720); filtering on the coerced value instead would run
    the CASE twice per row.

    INTENTIONAL wire-schema divergence: timestamps stay ZONED TimestampType
    (inherited from RAW_SCHEMA) rather than OPC_VALUE_SCHEMA's
    TIMESTAMP_NTZ, because Structured Streaming's watermark REQUIRES zoned
    TIMESTAMP ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE] rejects NTZ) and this
    producer feeds every streaming pipeline. The session pins UTC
    (session.py) so the two renderings agree; a batch consumer unioning
    the two producers must cast one side (pinned by
    tests/test_guard_edges.py::test_opc_value_wire_schema_contract)."""
    v = coerce_value_dynamic(F.col("raw"), F.col("dataType"))
    return (
        raw.select(
            "server",
            "tag",
            "dataType",
            v.alias("_v"),
            "sourceTimestamp",
            "serverTimestamp",
            "quality",
        )
        .filter(is_supported_type(F.col("dataType")))
        .select(
            "server",
            "tag",
            "dataType",
            F.col("_v.doubleValue").alias("doubleValue"),
            F.col("_v.boolValue").alias("boolValue"),
            F.col("_v.stringValue").alias("stringValue"),
            "sourceTimestamp",
            "serverTimestamp",
            "quality",
        )
    )


# DuckDB twin of events_as_opc_values, used as a CTE prefix by oracle queries.
OPC_VALUES_SQL_CTE = """
opc AS (
    SELECT
        'server_' || CAST(user_id % 3 AS VARCHAR)        AS server,
        event_type || '.' || CAST(user_id AS VARCHAR)    AS tag,
        'double'                                         AS dataType,
        value                                            AS doubleValue,
        value <> 0                                       AS boolValue,
        CAST(value AS VARCHAR)                           AS stringValue,
        ts                                               AS sourceTimestamp,
        ts + INTERVAL 1 SECOND                           AS serverTimestamp,
        CAST(CASE WHEN value IS NULL THEN 0 ELSE 192 END AS INTEGER) AS quality,
        event_id
    FROM events
)
"""
