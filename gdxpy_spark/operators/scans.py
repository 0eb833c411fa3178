"""SURVEY §2.2 category A — scans / sources / sinks.

GDX-format queries (src_gdx_*) live in gdxpy_spark.sources and register
from there (M2); this module covers the generic source/sink surface.
Round-trip queries write to a per-call _util.scratch_dir (removed when
the process exits) — they are weak-checked (rows-only) by the driver
and exactly-checked in tests/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdxpy_spark.operators._util import (
    artifact_dir, build_once, money4, scratch_dir, sql_money4,
)
from gdxpy_spark.registry import register
from gdxpy_spark.tables import table


@register(
    "src_parquet_scan",
    oracle="""
SELECT COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
FROM lineitem
""",
    category="A",
)
def src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan summary. count/min/max come from row-group
    statistics + a metadata-only count at the scan level — the parquet
    reader never materializes data pages for this plan."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


@register(
    "src_values_inline",
    oracle="""
SELECT v.rk, v.tag, r.r_name
FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'), (4, 'epsilon'))
     AS v(rk, tag)
JOIN region r ON v.rk = r.r_regionkey
""",
    category="A",
)
def src_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal (VALUES) relation joined to a real table."""
    rows = [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta"), (4, "epsilon")]
    inline = spark.createDataFrame(rows, "rk INT, tag STRING")
    region = table(spark, sf_dir, "region")
    return inline.join(region, inline.rk == region.r_regionkey).select(
        "rk", "tag", "r_name"
    )


_CSV_RT_ORACLE = """
SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
       CAST(n_regionkey AS INT) AS n_regionkey
FROM nation
"""


@register("src_csv_roundtrip", oracle=_CSV_RT_ORACLE, category="A")
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV (header, overwrite) → read back with an explicit
    schema (never inferSchema in production paths). Oracle (r6 upgrade
    from weak): the SOURCE query itself — the roundtrip must be
    lossless, so the read-back frame hash-matches a direct scan of the
    origin table."""
    nation = table(spark, sf_dir, "nation")
    out = scratch_dir("csv")
    nation.write.mode("overwrite").option("header", True).csv(out)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return spark.read.schema(schema).option("header", True).csv(out)


_JSON_RT_ORACLE = """
SELECT s_suppkey, s_name, CAST(s_nationkey AS INT) AS s_nationkey, s_acctbal
FROM supplier
"""


@register("src_json_roundtrip", oracle=_JSON_RT_ORACLE, category="A")
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → JSON lines → read back with explicit schema. Oracle =
    the source scan: doubles survive the JSON text roundtrip bit-exactly
    (Spark writes shortest-roundtrip decimal repr), so losslessness is
    hash-checked, not just row-counted."""
    sup = table(spark, sf_dir, "supplier")
    out = scratch_dir("json")
    sup.write.mode("overwrite").json(out)
    schema = "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    return spark.read.schema(schema).json(out).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


_ORC_RT_ORACLE = "SELECT r_regionkey, r_name FROM region"


@register("src_orc_roundtrip", oracle=_ORC_RT_ORACLE, category="A")
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → ORC → read back (Spark's second columnar native format;
    schema travels in the file, so no explicit schema needed — unlike
    csv/json). Oracle = the source scan (r6 upgrade from weak)."""
    region = table(spark, sf_dir, "region")
    out = scratch_dir("orc")
    region.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


_PART_ORACLE = f"""
SELECT o_orderkey, o_custkey, {sql_money4('o_totalprice', 'o_totalprice')}
FROM orders WHERE o_orderstatus = 'F'
"""


@register("src_parquet_partitioned", oracle=_PART_ORACLE, category="A")
def src_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet layout + partition PRUNING: orders
    written partitionBy(o_orderstatus), then a status filter must prune
    to one directory — the scan's PartitionFilters carries the predicate
    and non-matching partitions are never opened (asserted in
    tests/test_plans.py). This is THE 100 TB layout lever: a date- or
    status-partitioned fact table turns a full scan into a directory
    lookup. Oracle: same filter over the original table (the round-trip
    through the partitioned layout must be lossless)."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    out = scratch_dir("part_parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_custkey",
            money4("o_totalprice", "o_totalprice"),
        )
    )


@register(
    "src_stream_events",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
    category="A",
)
def src_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file stream (Trigger.AvailableNow) → per-type counts.

    The same parquet directory is replayed through the streaming engine;
    the memory sink holds the complete-mode aggregate. At scale this is
    the pattern for backfill-through-the-streaming-path. Hash-oracled
    (r6 upgrade from rows-only): a complete-mode aggregate over a fully
    drained AvailableNow replay is exactly the batch GROUP BY — nothing
    is late and nothing is windowed, so the streaming result is
    deterministic and the oracle can assert it byte-for-byte."""
    from gdxpy_spark.streaming.replay import stream_events_counts

    return stream_events_counts(spark, sf_dir)


_MERGE_SCHEMA_ORACLE = """
SELECT doc_id, n_chars,
       CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
FROM documents
"""


@register("src_parquet_merge_schema", oracle=_MERGE_SCHEMA_ORACLE, category="A")
def src_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read — the source situation every long-lived
    100 TB dataset reaches: files written before a column existed sit
    next to files written after. Fixture: even docs land in parquet
    files with (doc_id, n_chars), odd docs in files that ALSO carry
    lang; the read uses mergeSchema=true, which unions footer schemas
    across files and surfaces pre-evolution rows with NULL for the
    late-added column. Oracle = the equivalent projection over the
    source table, so the NULL-backfill semantics are hash-checked, not
    assumed.

    Scale note: mergeSchema costs a distributed footer-read over the
    file listing at planning time (Spark runs it as a Spark job for
    large listings) — the production pattern is to pay it once and pin
    the merged schema in a table catalog; per-query mergeSchema on a
    million-file dataset is an anti-pattern. Column pruning and filter
    pushdown still work on the merged schema: files lacking a selected
    column serve NULLs without reading anything extra."""
    docs = table(spark, sf_dir, "documents")
    out = scratch_dir("mergeschema")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars").write.mode(
        "append"
    ).parquet(out)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "lang"
    ).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "doc_id", "n_chars", "lang"
    )


_MALFORMED_ORACLE = """
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 10 <> 0
"""


@register("src_csv_malformed", oracle=_MALFORMED_ORACLE, category="A")
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MALFORMED-RECORD handling — the ingestion reality every 100 TB
    CSV feed has: some rows don't parse (wrong arity, type garbage),
    and the job must drop/quarantine them rather than die. Fixture:
    every 10th doc's line carries text garbage in the numeric column;
    the read uses mode=DROPMALFORMED with an explicit schema, so rows
    whose n_chars fails the INT parse are dropped AT SCAN TIME —
    hash-checked against the survivors-only projection of the source
    table (the oracle knows exactly which rows were corrupted, so the
    check proves both that bad rows die and that good rows survive
    unmangled).

    Production notes the docstring owes: PERMISSIVE +
    columnNameOfCorruptRecord is the quarantine variant (keep the raw
    line in a side column for a dead-letter sink); DROPMALFORMED is
    the filter variant used here because its result is exactly
    SQL-expressible. Scale: per-line parse, embarrassingly parallel,
    no shuffle."""
    docs = table(spark, sf_dir, "documents")
    line = F.concat_ws(
        ",",
        F.col("doc_id").cast("string"),
        "lang",
        F.when(F.col("doc_id") % 10 == 0, F.lit("NOT_A_NUMBER")).otherwise(
            F.col("n_chars").cast("string")
        ),
    )
    out = scratch_dir("csvmalformed")
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    return (
        spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("mode", "DROPMALFORMED")
        .csv(out)
    )


_NESTED_ORACLE = """
SELECT o_orderkey, o_custkey AS nested_custkey
FROM orders WHERE o_orderpriority = '1-URGENT'
"""


@register("src_parquet_nested_prune", oracle=_NESTED_ORACLE, category="A")
def src_parquet_nested_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED parquet + SCHEMA PRUNING: orders re-shaped into the nested
    layout real event/log tables ship (a struct column + an array
    column), written to parquet, then read back touching ONE struct
    field for the filter and one for the projection. The scan must
    prune INSIDE the nested type: ReadSchema carries only
    cust.custkey/cust.prio and the untouched `amounts` array is never
    decoded (asserted in tests/test_plans.py). At 100 TB nested columns
    dominate raw bytes — props maps, span lists, embedding arrays — and
    nested-field pruning (spark.sql.optimizer.nestedSchemaPruning.
    enabled, default on) is the difference between reading 2 leaf
    columns and decompressing the whole struct forest. Oracle: the same
    rows recomputed flat from the source table — the nested round-trip
    must be lossless."""
    od = table(spark, sf_dir, "orders")
    nested = od.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderpriority").alias("prio"),
        ).alias("cust"),
        F.array("o_totalprice").alias("amounts"),
    )
    out = scratch_dir("nested_parquet")
    nested.write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("cust.prio") == "1-URGENT")
        .select(
            "o_orderkey", F.col("cust.custkey").alias("nested_custkey")
        )
    )


_BINFILES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_hash
FROM documents
WHERE doc_id % 20 = 0
"""


@register("src_binary_files", oracle=_BINFILES_ORACLE, category="A")
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source — the ingestion format for raw multimodal
    objects (images, audio, model shards): one opaque file per object,
    read as (path, modificationTime, length, content BINARY). The
    fixture materializes every 20th document's UTF-8 bytes as a file
    named <doc_id>.bin; the query reads the directory back through the
    binaryFile reader, recovers doc_id from the path, and proves
    content integrity byte-for-byte (sha2 over the BINARY column
    hash-matches sha256 of the source text in the oracle).

    Scale: binaryFile splits BY FILE (one object = one task unit —
    files never split mid-object, which is the correct unit for media
    blobs), so a 100 TB media lake parallelizes by object count;
    pathGlobFilter + partition-dir layout prune at the listing level.
    The 1/20 projection here only bounds the local fixture; the plan
    is identical at any fan-out."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    rows = docs.select("doc_id", "text").collect()  # fixture build only:
    # bounded subset (1/20th), one-time write of the binary lake fixture
    out = scratch_dir("binfiles")
    for r in rows:
        with open(os.path.join(out, f"{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(out)
    return bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_hash"),
    )


_ZSTD_ORACLE = """
SELECT p_partkey, p_name, p_brand, CAST(p_size AS INT) AS p_size
FROM part
"""


@register("src_parquet_zstd", oracle=_ZSTD_ORACLE, category="A")
def src_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec round-trip: part → parquet(ZSTD) → read back. Codec choice
    is a first-order cost lever at 100 TB (zstd ≈ snappy decode speed
    at ~30 % better ratio — less IO, smaller shuffle spills, and the
    default in modern lakehouses); the reader sniffs the codec from the
    page headers, so mixed-codec directories read transparently. Oracle
    is the source scan: the round-trip must be lossless."""
    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", F.col("p_size").cast("int").alias("p_size")
    )
    out = scratch_dir("pq_zstd")
    part.write.mode("overwrite").option("compression", "zstd").parquet(out)
    return spark.read.parquet(out)


_CSV_GZ_ORACLE = """
SELECT CAST(r_regionkey AS INT) AS r_regionkey, r_name
FROM region
"""


@register("src_csv_gzip", oracle=_CSV_GZ_ORACLE, category="A")
def src_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-compressed CSV round-trip — the wire format crawl dumps and
    legacy exports actually arrive in. The scale caveat this op
    documents is structural: gzip is NOT splittable, so one .csv.gz =
    one task regardless of size — a 100 TB ingest must arrive as many
    files (as crawl dumps do) or be re-compressed to a splittable
    codec/format on first touch; the read-side plan here is identical
    either way. Oracle = source scan (lossless round-trip)."""
    region = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("int").alias("r_regionkey"), "r_name"
    )
    out = scratch_dir("csv_gz")
    region.write.mode("overwrite").option("header", True).option(
        "compression", "gzip"
    ).csv(out)
    schema = "r_regionkey INT, r_name STRING"
    return spark.read.schema(schema).option("header", True).csv(out)


_ZORDER_LAYOUT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) + 0.0
         AS sum_value
FROM events
WHERE user_id BETWEEN 100 AND 199
  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
  AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-12 00:00:00'
"""


@register("src_parquet_zorder", oracle=_ZORDER_LAYOUT_ORACLE, category="A")
def src_parquet_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDERED parquet LAYOUT — the multi-dimensional clustering move
    at 100 TB: events are written once range-partitioned AND sorted by
    the Morton code of (user bucket, time bucket) (fn_zorder's bit
    math), so every row group's min/max statistics are TIGHT on both
    user_id and ts simultaneously — a 2-D predicate prunes row groups
    on either dimension, where a single-column sort only prunes one.
    Dimensions are min/max RANGE-NORMALIZED into equal 8-bit bucket
    domains before interleaving (raw values with unequal bit widths
    degenerate the curve to a one-dimension sort — production z-order
    interleaves range-partition ids for the same reason).
    The layout is built once (_util.build_once); the registered query
    reads the PERSISTED layout with a (user range × time range)
    predicate and aggregates — its result is layout-invariant, so the
    oracle runs the identical filter over the raw table. tests/test_r10_ops.py asserts
    both predicates reach the layout scan as PushedFilters and that
    the layout actually clusters (per-file user_id spans are narrow)."""

    def write(build: str) -> None:
        from gdxpy_spark.functions.scalar import morton_z_sql

        ev0 = table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
                " AS BIGINT)"
            ).alias("_hr"),
        )
        # RANGE-NORMALIZE each dimension into the full 8-bit bucket
        # domain before interleaving (how production z-order works:
        # Delta/Iceberg interleave range-partition ids, not raw values
        # — raw low-cardinality values leave the high interleaved bits
        # constant and the curve degenerates to a single-dimension
        # sort). The min/max scan is one metadata-sized row.
        b = ev0.agg(
            F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi"),
            F.min("_hr").alias("tlo"), F.max("_hr").alias("thi"),
        ).collect()[0]
        uspan = max(int(b["uhi"]) - int(b["ulo"]), 1)
        tspan = max(int(b["thi"]) - int(b["tlo"]), 1)
        ev = ev0.select(
            "event_id", "user_id", "ts", "value",
            F.expr(
                f"CAST(((user_id - {int(b['ulo'])}) * 255) div {uspan}"
                " AS BIGINT)"
            ).alias("_ux"),
            F.expr(
                f"CAST(((_hr - {int(b['tlo'])}) * 255) div {tspan} AS BIGINT)"
            ).alias("_tb"),
        )
        z = ev.withColumn(
            "_z", F.expr(f"CAST({morton_z_sql('_ux', '_tb')} AS BIGINT)")
        )
        (
            z.repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            .drop("_ux", "_tb", "_z")
            .write.mode("overwrite")
            .parquet(build)
        )

    out = build_once(
        artifact_dir("zorder_v1", sf_dir, [os.path.join(sf_dir, "events.parquet")]),
        write,
    )
    lay = spark.read.parquet(out)
    return (
        lay.filter(
            F.col("user_id").between(100, 199)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp_ntz"))
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            (
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
                )
                + F.lit(0.0)
            ).alias("sum_value"),
        )
    )
