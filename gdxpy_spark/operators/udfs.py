"""SURVEY §2.2 category I — UDF / UDAF / UDTF surface.

This module demonstrates the *sanctioned* Python escape hatches in
preference order: row-at-a-time Python UDF (kept for API parity only —
the docstring says why it's the slow path), Arrow-vectorized pandas UDF,
grouped-map applyInPandas (gdxpy users' per-symbol pandas transforms,
SURVEY §2.1 R15), pandas UDAF, and a Spark-4 Python UDTF. Each has a
pure-SQL oracle so the semantics stay hash-checkable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from gdxpy_spark.registry import register
from gdxpy_spark.tables import table


@register(
    "udf_python_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount < 0.03 THEN 'low'
            WHEN l_discount < 0.07 THEN 'mid'
            ELSE 'high' END AS disc_band
FROM lineitem
""",
    category="I",
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (discount band label). Deliberately the
    slow path — one Python call per row, no codegen, no pushdown through
    it; exists for parity with arbitrary user lambdas. Anything hot at
    100 TB uses the built-in CASE (the oracle) or a pandas UDF instead."""

    # no type hints: pyspark 4.1 would try to infer an eval type from
    # them and warn "Cannot infer the eval type" on every build
    @F.udf(T.StringType())
    def band(d):
        if d < 0.03:
            return "low"
        if d < 0.07:
            return "mid"
        return "high"

    li = table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", band("l_discount").alias("disc_band"))


@register(
    "udf_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)), 4)
            AS DOUBLE) AS revenue
FROM lineitem
""",
    category="I",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF: whole columns cross the JVM↔Python
    boundary as Arrow batches (one call per ~10k rows, not per row)."""
    from gdxpy_spark.operators._util import money4

    @F.pandas_udf(T.DoubleType())
    def revenue(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        money4(revenue("l_extendedprice", "l_discount"), "revenue"),
    )


@register(
    "udf_grouped_map",
    oracle="""
SELECT o_orderkey, c_nationkey,
       ROUND((o_totalprice - AVG(o_totalprice) OVER (PARTITION BY c_nationkey))
             / stddev_samp(o_totalprice) OVER (PARTITION BY c_nationkey), 4) + 0.0
           AS z_score
FROM orders JOIN customer ON o_custkey = c_custkey
""",
    category="I",
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score normalize order totals within
    each nation. This is the gdxpy user's per-symbol pandas transform
    (R15) done distributed: one shuffle on the group key, then plain
    pandas per group. Groups must fit in a worker's memory — fine for
    nation-sized groups, never for a skewed power-law key."""
    od = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    j = od.join(cust, od.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_nationkey", "o_totalprice"
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["o_totalprice"].mean()
        std = pdf["o_totalprice"].std(ddof=1)  # matches stddev_samp
        z = (pdf["o_totalprice"] - mean) / std
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "c_nationkey": pdf["c_nationkey"],
                "z_score": z.round(4) + 0.0,  # canonicalize -0.0
            }
        )

    return j.groupBy("c_nationkey").applyInPandas(
        zscore, schema="o_orderkey BIGINT, c_nationkey INT, z_score DOUBLE"
    )


@register(
    "udf_grouped_agg",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
           AS weighted_avg_price
FROM lineitem GROUP BY l_returnflag
""",
    category="I",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF: quantity-weighted average price per return flag,
    computed as a grouped-aggregate pandas UDF (one Arrow batch per
    group-partition, partial aggregation handled by Spark)."""

    @F.pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias(
            "weighted_avg_price"
        )
    )


@register(
    "udtf_split_words",
    oracle="""
SELECT doc_id, token
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
WHERE token <> ''
""",
    category="I",
)
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one output row per token of each document —
    a table function with per-row fan-out. The built-in equivalent is
    explode(split(...)), which is what the oracle uses; the UDTF exists
    to cover arbitrary user tokenizers (BPE, sentencepiece) that have no
    SQL form."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id BIGINT, token STRING")
    class SplitWords:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            for tok in text.split(" "):
                if tok:
                    yield (doc_id, tok)

    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("gdxps_udtf_docs")
    spark.udtf.register("gdxps_split_words", SplitWords)
    return spark.sql(
        "SELECT s.doc_id, s.token "
        "FROM gdxps_udtf_docs d, "
        "LATERAL gdxps_split_words(d.doc_id, d.text) s"
    )


@register(
    "udf_arrow_scalar",
    oracle="""
SELECT s_suppkey,
       lower(regexp_replace(s_name, '[^a-zA-Z0-9]+', '-', 'g')) AS slug,
       CAST(length(s_name) AS INT) AS name_len
FROM supplier
""",
    category="I",
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 ARROW-OPTIMIZED Python UDF (useArrow=True) — the modern
    middle path between the row-at-a-time UDF (per-row pickling) and
    the pandas UDF (Series-in/Series-out API): the function still reads
    like per-row Python, but arguments cross the JVM boundary as Arrow
    batches, cutting (de)serialization ~2-3× vs pickle. Slug-casing a
    name is the kind of arbitrary-Python-string logic users reach for
    a UDF to do; the oracle proves the same semantics in pure SQL —
    which remains the FIRST choice when expressible (scan-fused
    codegen, no Python at all), the family's standing preference
    order: builtin > arrow/pandas UDF > row UDF."""
    import re

    @F.udf(T.StringType(), useArrow=True)
    def slugify(name: str) -> str:
        return re.sub(r"[^a-zA-Z0-9]+", "-", name).lower()

    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        slugify("s_name").alias("slug"),
        F.length("s_name").cast("int").alias("name_len"),
    )


@register(
    "udtf_table_arg",
    oracle="""
WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
  FROM events),
ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM ev)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
       MAX(CASE WHEN rn = n THEN event_type END) AS last_type
FROM ordered
GROUP BY user_id
""",
    category="I",
)
def udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE ARGUMENT (Spark 4's polymorphic table
    function surface): `my_udtf(TABLE(...) PARTITION BY user_id ORDER BY
    ts, event_id)` hands the UDTF one WHOLE ordered partition per key —
    the sanctioned escape hatch for per-key sequence logic that neither
    window frames nor aggregates express (custom session models, CRF
    decoding, per-user replay). Here the UDTF emits each user's event
    count and first/last event type, so a plain SQL oracle can verify
    that partitioning AND intra-partition ordering actually reached the
    Python process (first/last are order-sensitive).

    Scale: the TABLE argument's PARTITION BY is a real hash exchange —
    each Python worker sees one key's rows at a time (terminate() fires
    per partition); state per key is O(1) here and bounded by the
    per-key history in general — the same contract as applyInPandas,
    with the UDTF's streaming row iterator instead of a materialized
    pandas frame."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "user_id BIGINT, n_events BIGINT, first_type STRING, last_type STRING"
    ))
    class UserSpan:
        def __init__(self):
            self._uid = None
            self._n = 0
            self._first = None
            self._last = None

        def eval(self, row):
            self._uid = row["user_id"]
            if self._n == 0:
                self._first = row["event_type"]
            self._last = row["event_type"]
            self._n += 1

        def terminate(self):
            if self._n:
                yield (self._uid, self._n, self._first, self._last)

    ev = table(spark, sf_dir, "events")
    ev.select("user_id", "ts", "event_id", "event_type").createOrReplaceTempView(
        "gdxps_udtf_events"
    )
    spark.udtf.register("gdxps_user_span", UserSpan)
    return spark.sql(
        "SELECT * FROM gdxps_user_span("
        "TABLE(gdxps_udtf_events) PARTITION BY user_id ORDER BY (ts, event_id))"
    )
