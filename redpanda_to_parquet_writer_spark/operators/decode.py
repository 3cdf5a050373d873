"""Payload decode (P1): MessagePack / JSON -> columns, with fallback.

Reference chain (collector:223-256): try msgpack -> try JSON -> keep
``raw_value`` string. Format is sampled once per topic (S5,
collector:172-220) so the hot path runs ONE decoder, not a per-row
try/except cascade.

Spark realization:
  - JSON: `from_json` with a schema inferred from a driver-side sample
    (per micro-batch or per topic) — JVM-side, codegen'd, no Python.
  - MessagePack: no builtin, so an Arrow-vectorized pandas_udf
    bytes -> JSON string, then the same `from_json`. The pure-stdlib
    codec (`functions/msgpack_codec.py`) is the one decoder — the path
    is REAL and tested in every environment, not import-gated
    (SURVEY 2.11).
  - Fallback: rows whose decode returned null keep `raw_value`
    (collector:241,256,402).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from redpanda_to_parquet_writer_spark.functions import msgpack_codec


def _merge_types(a, b):
    """Widen two inferred Spark types (Polars-style union inference)."""
    from pyspark.sql.types import (
        ArrayType,
        DataType,
        DoubleType,
        LongType,
        NullType,
        StructField,
    )

    if isinstance(a, NullType):
        return b
    if isinstance(b, NullType):
        return a
    if a == b:
        return a
    if {type(a), type(b)} == {LongType, DoubleType}:
        return DoubleType()
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields: dict[str, DataType] = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = _merge_types(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
                order.append(f.name)
        return StructType([StructField(n, fields[n], True) for n in order])
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(_merge_types(a.elementType, b.elementType), True)
    return StringType()  # conflicting types -> string, like the raw fallback


def _infer_value_type(v):
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        NullType,
        StructField,
    )

    if v is None:
        return NullType()
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, list):
        t = NullType()
        for x in v:
            t = _merge_types(t, _infer_value_type(x))
        return ArrayType(StringType() if isinstance(t, NullType) else t, True)
    if isinstance(v, dict):
        return StructType(
            [StructField(str(k), _infer_value_type(x), True) for k, x in v.items()]
        )
    return StringType()


def infer_json_schema(spark: SparkSession, json_strings: list[str]) -> StructType:
    """Infer a unioned schema from a sample of JSON documents — entirely
    driver-side (json.loads + type widening), ZERO Spark jobs.

    The per-topic analogue of the reference's dynamic Polars inference
    (collector:1225). The earlier spark.read.json(rdd) implementation
    cost ~2.5s of job overhead per micro-batch for a 50-doc sample;
    parsing 50 docs in the driver is sub-millisecond. Int/float widen to
    double, conflicting types fall back to string, undecodable docs are
    skipped (they hit the raw_value path at decode time).
    """
    import json as _json

    from pyspark.sql.types import ArrayType, NullType, StructField

    merged = StructType([])
    for s in json_strings:
        try:
            doc = _json.loads(s)
        except (ValueError, TypeError):
            continue
        if isinstance(doc, dict):
            t = _infer_value_type(doc)
            merged = _merge_types(merged, t)

    def _denull(t):
        # a field null in EVERY sample doc has no evidence -> string
        if isinstance(t, NullType):
            return StringType()
        if isinstance(t, StructType):
            return StructType(
                [StructField(f.name, _denull(f.dataType), True) for f in t.fields]
            )
        if isinstance(t, ArrayType):
            return ArrayType(_denull(t.elementType), True)
        return t

    return _denull(merged)


CORRUPT_COL = "_corrupt_payload"


def decode_json(df: DataFrame, schema: StructType, value_col: str = "value") -> DataFrame:
    """JSON bytes/string -> struct column `decoded` + `raw_value` fallback.

    Rows that fail to parse keep `raw_value` (collector:241). PERMISSIVE
    from_json yields an all-null struct for garbage (not a null struct),
    so failure detection uses the corrupt-record column instead.
    """
    from pyspark.sql.types import StructField

    as_string = F.col(value_col).cast("string")
    with_corrupt = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    decoded = F.from_json(
        as_string, with_corrupt, {"columnNameOfCorruptRecord": CORRUPT_COL}
    )
    return (
        df.withColumn("decoded", decoded)
        .withColumn("raw_value", F.col(f"decoded.{CORRUPT_COL}"))
        .withColumn("decoded", F.col("decoded").dropFields(CORRUPT_COL))
    )


def msgpack_to_json(b) -> str | None:
    """One MessagePack payload -> compact JSON text; None for a null or
    undecodable payload (it then takes the raw_value path)."""
    if b is None:
        return None
    try:
        return json.dumps(msgpack_codec.unpackb(bytes(b)), separators=(",", ":"))
    except Exception:
        return None


def msgpack_to_json_udf():
    """Arrow-vectorized msgpack-bytes -> JSON-string decoder.

    pandas_udf so bytes move via Arrow batches, not per-row pickling
    (the reference's one Python hot loop, made vectorized; SURVEY 4
    "msgpack UDF throughput" risk).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _decode(values):
        return values.map(msgpack_to_json)

    # annotations set as OBJECTS: the module's `from __future__ import
    # annotations` turns inline hints into strings that pyspark's
    # get_type_hints cannot resolve against module globals (pd is local)
    _decode.__annotations__ = {"values": pd.Series, "return": pd.Series}
    return pandas_udf(_decode, StringType())


def detect_format(sample_values: list[bytes], threshold: float = 0.9) -> str:
    """Format sampler (S5, collector:172-220): majority vote over a sample.

    >90% msgpack-decodable -> 'msgpack', else 'json'. Driver-side over a
    bounded sample; the verdict is cached per topic by the caller.
    """
    if not sample_values:
        return "json"
    ok = 0
    for b in sample_values:
        try:
            # maps/arrays only: JSON text never decodes as one, while a
            # 1-byte JSON scalar like "7" IS a valid msgpack fixint —
            # container-vote keeps the sampler from misrouting JSON
            if isinstance(msgpack_codec.unpackb(bytes(b)), (dict, list)):
                ok += 1
        except Exception:
            pass
    return "msgpack" if ok / len(sample_values) > threshold else "json"
