"""Wire-format codecs — the reference's load-bearing quirk, made explicit.

The reference producer emits delimiter-joined strings
(`dataframe_to_kafka.py:44-53`) while both consumers parse JSON
(`from_json` at `spark_streaming_kafka.py:32-34`, `kafka_to_es.py:50-52`)
— a silent all-NULL mismatch. Here both wire formats are first-class,
symmetric encode/decode pairs; the caller always picks one explicitly.

All pure Column expressions → whole-stage-codegen'd JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- JSON format
def json_encode(cols: list[str] | None = None) -> Column:
    """Row → JSON string (reference README producer, README.md:101-123)."""
    struct = F.struct(*cols) if cols else F.struct("*")
    return F.to_json(struct)


def json_decode(col: Column | str, schema: T.StructType | str) -> Column:
    """JSON string → struct with explicit schema (spark_streaming_kafka.py:33).

    Malformed input yields NULL fields (PERMISSIVE), matching Spark's
    documented `from_json` semantics the reference silently relies on.
    """
    return F.from_json(col if isinstance(col, Column) else F.col(col), schema)


# ----------------------------------------------------------- delimited format
def delimited_encode(cols: list[str], sep: str = ",") -> Column:
    """Row → 'v1<sep>v2<sep>...' (dataframe_to_kafka.py:44-53 semantics).

    NULL handling: `concat_ws` skips NULLs (drops the slot), which would
    desync positional decode — so cast+coalesce to empty string first,
    keeping the field count stable.
    """
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    return F.concat_ws(sep, *parts)


def delimited_decode(
    col: Column | str, schema: T.StructType | str, sep: str = ","
) -> Column:
    """Positional decode — the decoder the reference is missing (SURVEY §0 F8).

    split → element_at(i) → try_cast to each field's declared type; empty
    string decodes to NULL (round-trips `delimited_encode`'s NULL mapping)
    and malformed cells decode to NULL rather than failing the task —
    mirroring `from_json`'s PERMISSIVE semantics so the two decoders are
    drop-in interchangeable. (A separator embedded in a field value
    desyncs the positions — inherent to the unescaped wire format the
    reference uses; choose a separator outside the data alphabet.)
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    c = col if isinstance(col, Column) else F.col(col)
    # split() takes a regex — escape the separator (e.g. '|').
    import re

    arr = F.split(c, re.escape(sep))
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        raw = F.element_at(arr, i)
        val = F.when(raw == "", F.lit(None)).otherwise(raw).try_cast(f.dataType)
        fields.append(val.alias(f.name))
    return F.struct(*fields)


# ------------------------------------------------------------ variant format
def variant_decode(col: Column | str, schema: T.StructType | str) -> Column:
    """JSON wire → VARIANT → typed struct, the schema-on-read decoder
    (Spark 4): the payload is parsed ONCE into a VARIANT and the
    declared fields bind at query time via try_variant_get paths —
    so a producer adding keys never desyncs the consumer (the extra
    keys simply aren't extracted, but remain queryable if the caller
    also keeps the raw variant), and malformed input or a missing/
    mistyped field quarantines as NULL instead of failing the task.
    Same PERMISSIVE contract as json_decode/delimited_decode, making
    the three decoders drop-in interchangeable."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    c = col if isinstance(col, Column) else F.col(col)
    v = F.try_parse_json(c)
    fields = [
        F.try_variant_get(v, f"$.{f.name}", f.dataType.simpleString()).alias(
            f.name
        )
        for f in schema.fields
    ]
    return F.struct(*fields)


# ------------------------------------------------------------------ kafka I/O
def encode_for_kafka(
    df: DataFrame,
    key_col: str | None,
    value_cols: list[str] | None = None,
    wire_format: str = "json",
    sep: str = ",",
) -> DataFrame:
    """Project a DataFrame into Kafka's (key BINARY, value BINARY) shape.

    key: chosen column string-encoded (dataframe_to_kafka.py:94-100), or
    a monotonic id when None (the reference's row-index key).

    Layout contract: the default key, ``monotonically_increasing_id``,
    encodes each row's partition index and its position in that
    partition, so the same rows get different keys under another
    partition layout (cores, shuffle partitions, AQE, scan split size),
    and Kafka's key-hash partitioning then sends them to other topic
    partitions. ``key_col`` is the layout-invariant choice: pass it
    whenever a key must be stable across runs.
    """
    cols = value_cols or df.columns
    value = json_encode(cols) if wire_format == "json" else delimited_encode(cols, sep)
    key = (
        F.col(key_col).cast("string")
        if key_col
        else F.monotonically_increasing_id().cast("string")
    )
    return df.select(
        key.cast("binary").alias("key"), value.cast("binary").alias("value")
    )


def decode_kafka_value(
    df: DataFrame,
    schema: T.StructType | str,
    wire_format: str = "json",
    sep: str = ",",
) -> DataFrame:
    """CAST(value AS STRING) → decode → flatten (P3/F5|F8/P4 pipeline).

    Mirrors `spark_streaming_kafka.py:32-34` for JSON and supplies the
    missing delimited twin.
    """
    s = F.col("value").cast("string")
    if wire_format == "json":
        data = json_decode(s, schema)
    elif wire_format == "variant":
        data = variant_decode(s, schema)
    else:
        data = delimited_decode(s, schema, sep)
    return df.withColumn("data", data).select("data.*")
