"""Canonical loaders for the driver test tables.

All SURVEY §2.2 queries read their inputs through :func:`table` so that
session-level determinism knobs are applied exactly once and identically
no matter which session (ours or the driver's) runs the query:

- ``spark.sql.session.timeZone = UTC`` — DuckDB timestamps are UTC-naive;
  pinning the Spark session keeps TIMESTAMP↔NTZ conversions and collected
  values byte-identical to the oracle.
- ``spark.sql.legacy.parquet.nanosAsLong = true`` — older driver drops of
  ``events.parquet`` store TIMESTAMP(NANOS) which Spark cannot read
  natively; with the conf set they surface as int64 nanos and we rebuild
  a TIMESTAMP_NTZ via *integer* division (``ts div 1000`` — going through
  a double would lose precision at 1.7e18 ns). Newer drops store
  TIMESTAMP(MICROS), which Spark reads directly as TIMESTAMP_NTZ; the
  loader sniffs the surfaced dtype and normalizes either way, so the
  canonical in-engine type is always TIMESTAMP_NTZ(µs).

The loader is also where a table's Spark schema comes from.
``spark.read.parquet`` infers it with a one-task Spark job per open,
even for one file; :func:`read_parquet` builds it on the driver from
the parquet footer instead (:func:`footer_schema`) whenever that gives
exactly the schema Spark would infer, and otherwise lets Spark infer
it as before. Each open logs which it took on this module's logger.

At 100 TB these loaders are the single choke-point where layout policy
lives: path-level partition discovery, pushdown-friendly schemas, and
(for `events`) the ns→µs normalization stay scan-side so Catalyst can
still prune columns and push filters into the parquet reader.
"""

from __future__ import annotations

import logging
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

log = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def configure(spark: SparkSession) -> SparkSession:
    """Idempotent, runtime-settable determinism/perf knobs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def events_ts_encoding(df: DataFrame) -> str:
    """Sniff which of the three known on-disk encodings `events.ts`
    surfaced as: "bigint" (TIMESTAMP(NANOS) via nanosAsLong),
    "timestamp" (µs, session-zoned) or "timestamp_ntz" (µs, naive).
    Anything else raises immediately — a silent fall-through here turns
    into null timestamps or oracle hash mismatches three operators
    downstream, which is much harder to debug than this error. Shared by
    :func:`table` (canonical target NTZ µs) and
    streaming.replay._raw_events (canonical target LONG ns) so a fourth
    encoding added by a future driver drop fails loudly in BOTH paths
    until it is handled in one place."""
    dt = dict(df.dtypes)["ts"]
    if dt not in ("bigint", "timestamp", "timestamp_ntz"):
        raise TypeError(
            f"events.ts has unrecognized dtype {dt!r}; expected int64 "
            "nanos (nanosAsLong), timestamp, or timestamp_ntz — teach "
            "gdxpy_spark.tables.events_ts_encoding about the new layout"
        )
    return dt


# The Arrow types (as pyarrow reads the parquet column types) whose
# Spark type is fixed, and that type. Every other type is outside the
# footer schema's supported set: unsigned ints (Spark widens them),
# dictionary and large types, structs and maps.
_SPARK_TYPES = {
    pa.bool_(): BooleanType(),
    pa.int8(): ByteType(),
    pa.int16(): ShortType(),
    pa.int32(): IntegerType(),
    pa.int64(): LongType(),
    pa.float32(): FloatType(),
    pa.float64(): DoubleType(),
    pa.string(): StringType(),
    pa.binary(): BinaryType(),
    pa.date32(): DateType(),
}


def _spark_type(t: pa.DataType, ntz: bool, binary_as_string: bool) -> DataType | None:
    """The type Spark's parquet reader infers for a column that pyarrow
    reads as ``t``, or None outside the supported set. Timestamps are
    supported in µs only: a TIMESTAMP(NANOS) column is a bigint under
    nanosAsLong and an error without it. ``ntz`` and
    ``binary_as_string`` are the session's
    spark.sql.parquet.inferTimestampNTZ.enabled and binaryAsString."""
    if pa.types.is_list(t):
        inner = _spark_type(t.value_type, ntz, binary_as_string)
        return None if inner is None else ArrayType(inner)
    if pa.types.is_timestamp(t):
        if t.unit != "us":
            return None
        return TimestampNTZType() if ntz and t.tz is None else TimestampType()
    if pa.types.is_decimal128(t):
        return DecimalType(t.precision, t.scale)
    if t == pa.binary() and binary_as_string:
        return StringType()
    return _SPARK_TYPES.get(t)


def footer_schema(spark: SparkSession, path: str) -> tuple[StructType | None, str]:
    """``(schema, "")`` with the schema ``spark.read.parquet(path)`` would
    infer, built from the parquet footer on the driver; or ``(None,
    reason)`` when it is not taken: ``path`` is not one local file, its
    footer does not open, or a column type is outside _spark_type's
    supported set. The types are mapped from pyarrow's reading of the
    parquet column types (``ParquetSchema.to_arrow_schema``), never
    decoded from the Arrow schema a writer may store in the footer's
    metadata; pyarrow lets that stored schema refine a column only to a
    dictionary or large type or a named zone, and the first two are
    refused. Spark's file sources make every field and array element
    nullable, so the schema does too."""
    if not os.path.isfile(path):
        return None, "not a single file"
    try:
        arrow = pq.ParquetFile(path).schema.to_arrow_schema()
    except (OSError, pa.ArrowInvalid) as exc:
        return None, f"footer: {exc}"
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    bas = spark.conf.get("spark.sql.parquet.binaryAsString", "false")
    fields = []
    for f in arrow:
        t = _spark_type(f.type, ntz.lower() == "true", bas.lower() == "true")
        if t is None:
            return None, f"column {f.name}: {f.type}"
        fields.append(StructField(f.name, t))
    return StructType(fields), ""


def read_parquet(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Open the parquet ``path`` with its footer schema when
    footer_schema takes it (no Spark job), else with Spark's inference;
    logs which as ``table <name>: footer schema|inferred (<reason>)``."""
    schema, reason = footer_schema(spark, path)
    if schema is None:
        log.debug("table %s: inferred (%s)", name, reason)
        return spark.read.parquet(path)
    log.debug("table %s: footer schema", name)
    return spark.read.schema(schema).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; `events.ts` is normalized to TIMESTAMP_NTZ (µs)."""
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet", name)
    if name == "events":
        dt = events_ts_encoding(df)
        if dt == "bigint":
            # TIMESTAMP(NANOS) file read as int64 nanos (nanosAsLong):
            # nanos → µs (exact integer division) → NTZ timestamp.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        elif dt == "timestamp":
            # session is pinned UTC, so the wall-clock value is unchanged
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        # timestamp_ntz: already canonical
    return df
