"""Nested-structure flattening (P2) and Kafka envelope projection (P3/P4).

Reference semantics (collector:259-284, README.md:330-347):
  - the ``data`` struct is hoisted to top level **un-prefixed**
  - every other nested struct contributes ``parent_key`` columns
    (separator ``_``), recursively
  - lists serialize to JSON strings; empty list -> null
  - undecodable payloads -> a single ``raw_value`` string column

Spark-first: the whole flatten is ONE generated ``select`` over a typed
StructType — pure Catalyst projection, no UDF, fully codegen'd. The
recursion happens driver-side over the schema, never over data, so it
costs the same at 100 TB as at 100 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

#: struct field hoisted to top level without prefix (collector:273-274)
HOIST_UNPREFIXED = "data"


def _flatten_exprs(
    schema: StructType, prefix: str, path: str, lists_as_json: bool = True
) -> list[Column]:
    exprs: list[Column] = []
    for field in schema.fields:
        qualified = f"{path}.`{field.name}`" if path else f"`{field.name}`"
        # the `data` struct hoists un-prefixed (collector:273-274); other
        # structs prefix with their path, joined by "_"
        if field.name == HOIST_UNPREFIXED and not prefix and isinstance(field.dataType, StructType):
            out_prefix = ""
        else:
            out_prefix = f"{prefix}{field.name}" if not isinstance(field.dataType, StructType) else (
                f"{prefix}{field.name}_"
            )
        if isinstance(field.dataType, StructType):
            sub_prefix = "" if (field.name == HOIST_UNPREFIXED and not prefix) else f"{prefix}{field.name}_"
            exprs.extend(_flatten_exprs(field.dataType, sub_prefix, qualified, lists_as_json))
        elif isinstance(field.dataType, ArrayType) and lists_as_json:
            # lists -> JSON strings; empty list -> null (collector:279-280)
            col = F.expr(qualified)
            exprs.append(
                F.when(F.size(col) == 0, F.lit(None)).otherwise(F.to_json(col)).alias(out_prefix)
            )
        else:
            exprs.append(F.expr(qualified).alias(out_prefix))
    return exprs


def flatten_struct_columns(
    df: DataFrame, keep: list[str] | None = None, lists_as_json: bool = True
) -> DataFrame:
    """Flatten all struct columns per the reference's rules (P2).

    `keep` columns (e.g. the kafka_* envelope) pass through untouched and
    come first, matching the reference's column order (collector:388-404).

    `lists_as_json=False` is the idiomatic-Spark extension (SURVEY §7.0):
    lists stay native `ArrayType` columns — queryable with higher-order
    functions and stored columnar in parquet — instead of the reference's
    JSON-string encoding (README.md:230).
    """
    keep = keep or [c for c in df.columns if c.startswith("kafka_")]
    keep_set = set(keep)
    passthrough = [F.col(c) for c in df.columns if c in keep_set]
    nested_fields = StructType(
        [f for f in df.schema.fields if f.name not in keep_set]
    )
    return df.select(
        *passthrough, *_flatten_exprs(nested_fields, "", "", lists_as_json)
    )


def project_kafka_envelope(df: DataFrame) -> DataFrame:
    """Kafka source columns -> the reference's 5-column envelope (P3).

    The Spark Kafka source yields `topic, partition, offset, timestamp
    (TimestampType), key (binary), value (binary)`; the reference stores
    `kafka_topic, kafka_partition (i64), kafka_offset (i64),
    kafka_timestamp (epoch-ms i64), kafka_key (utf8)` (collector:388-394).
    """
    return df.select(
        F.col("topic").alias("kafka_topic"),
        F.col("partition").cast("long").alias("kafka_partition"),
        F.col("offset").cast("long").alias("kafka_offset"),
        (F.unix_millis(F.col("timestamp"))).alias("kafka_timestamp"),
        F.col("key").cast("string").alias("kafka_key"),
        F.col("value"),
    )
