"""SURVEY §2.2 category C — joins.

Scale notes baked into each operator: dimension tables (region, nation,
customer at small SF) are broadcast explicitly where the real-world
cardinality stays bounded; fact-fact joins shuffle on their equi keys and
rely on AQE for skew splitting. The as-of join is implemented with the
union+window trick (one shuffle, no O(n·m) candidate blow-up) — the plan
that survives 100 TB, unlike a naive range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from gdxpy_spark.operators._util import (
    artifact_dir,
    build_once,
    dsum,
    files_fingerprint,
)
from gdxpy_spark.registry import register
from gdxpy_spark.tables import table

# DuckDB-side CTE normalizing events.ts from TIMESTAMP_NS to µs TIMESTAMP,
# matching the Spark-side ns→µs normalization in tables.table().
EV_CTE = """
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
  FROM events
)
"""


@register(
    "join_inner_equi",
    oracle="""
SELECT o_orderkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
""",
    category="C",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash equi-join orders ⋈ customer on custkey."""
    od = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return od.join(cust, od.o_custkey == cust.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_multi_key",
    oracle="""
SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
       a.l_quantity AS qty_a, b.l_quantity AS qty_b
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber + 1 = b.l_linenumber
""",
    category="C",
)
def join_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key self-join: consecutive line numbers within an order."""
    li = table(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") + 1 == F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("ln_a"),
        F.col("b.l_linenumber").alias("ln_b"),
        F.col("a.l_quantity").alias("qty_a"),
        F.col("b.l_quantity").alias("qty_b"),
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
    category="C",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ orders — customers without orders survive with NULLs."""
    cust = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    return cust.join(od, cust.c_custkey == od.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "join_right_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
""",
    category="C",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⟖ customer (mirror of the left-outer case)."""
    cust = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    return od.join(cust, od.o_custkey == cust.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "join_full_outer",
    oracle="""
SELECT n_nationkey, n_name, n_customers
FROM nation
FULL JOIN (SELECT c_nationkey, COUNT(*) AS n_customers
           FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) g
  ON n_nationkey = c_nationkey
""",
    category="C",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⟗ rich-customer counts — unmatched sides survive both ways."""
    nation = table(spark, sf_dir, "nation")
    counts = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    return nation.join(counts, nation.n_nationkey == counts.c_nationkey, "full").select(
        "n_nationkey", "n_name", "n_customers"
    )


@register(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    category="C",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers with at least one order (no right columns leak)."""
    cust = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    return cust.join(od, cust.c_custkey == od.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    category="C",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no orders."""
    cust = table(spark, sf_dir, "customer")
    od = table(spark, sf_dir, "orders")
    return cust.join(od, cust.c_custkey == od.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
    category="C",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product region × nation (5 × 25 = 125 rows)."""
    return (
        table(spark, sf_dir, "region")
        .crossJoin(table(spark, sf_dir, "nation"))
        .select("r_name", "n_name")
    )


@register(
    "join_theta",
    oracle="""
SELECT r_name, n_name
FROM region JOIN nation ON r_regionkey < n_regionkey
""",
    category="C",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join — broadcast nested-loop physical plan."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    return region.join(nation, region.r_regionkey < nation.n_regionkey).select(
        "r_name", "n_name"
    )


@register(
    "join_broadcast",
    oracle="""
SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
""",
    category="C",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join: nation ships to every task, the
    customer side never shuffles — same result as a plain equi join,
    different physical plan (checked in tests/test_plans.py)."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    return cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )


@register(
    "join_range_interval",
    oracle=EV_CTE
    + """
SELECT e.event_id AS purchase_id, s.event_id AS signup_id, e.user_id
FROM ev e JOIN ev s
  ON e.user_id = s.user_id
 AND e.event_type = 'purchase' AND s.event_type = 'signup'
 AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
""",
    category="C",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: purchases within 1h after a signup of the
    same user. Physically an equi join on user_id with a residual range
    filter — the hash join carries the equality, so this scales with the
    per-user event count, not |events|²."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    s = ev.filter(F.col("event_type") == "signup").alias("s")
    return p.join(
        s,
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts") >= F.col("s.ts"))
        & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("s.event_id").alias("signup_id"),
        F.col("p.user_id").alias("user_id"),
    )


@register(
    "join_asof",
    oracle=EV_CTE
    + """
SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
""",
    category="C",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest signup of the same
    user at-or-before its timestamp.

    Spark has no native ASOF JOIN; the scalable formulation is
    union-both-sides + a single window pass (last signup carried forward):
    one shuffle on user_id, O(n log n) in the partition, no candidate
    explosion. A range-join formulation would be O(purchases × signups)
    per user and die at scale.
    """
    ev = table(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("sid"), F.lit(1).alias("is_signup")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("sid"), F.lit(0).alias("is_signup")
    )
    both = sign.unionByName(pur)
    # At equal ts a signup sorts before the purchase (at-or-before includes
    # same-instant); among same-ts signups the max event_id wins (ASOF has
    # no tiebreak — collisions don't occur in this data, noted in tests).
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_signup").desc(), F.col("sid").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = both.withColumn(
        "signup_id",
        F.last(F.when(F.col("is_signup") == 1, F.col("sid")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_signup") == 0).select(
        F.col("sid").alias("purchase_id"), "user_id", "signup_id"
    )


_SKEW_ORACLE = """
SELECT s_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(CAST(SUM(CAST((l_extendedprice * (1 - l_discount))
                           AS DECIMAL(18, 6))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


@register("join_skew_salted", oracle=_SKEW_ORACLE, category="C")
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED shuffle join — the explicit hot-key treatment for skewed
    fact→dim joins (the other half of the skew toolbox next to AQE's
    runtime skew split, which only reacts AFTER a straggler partition
    materializes). The fact side gets a deterministic salt in [0, 8);
    the dim side is replicated once per salt value; the join keys on
    (suppkey, salt), so a key holding 10% of a 100 TB fact table spreads
    over 8 reducers instead of one. Results are exactly the plain join's
    (every fact row meets its dim row under its own salt — replication
    guarantees presence, the equi-key guarantees uniqueness), which the
    un-salted oracle SQL hash-checks.

    shuffle_hash hint: salting only matters when the join SHUFFLES — a
    broadcast of the dim side would make the salt dead weight, so the
    plan pins the shuffle-hash strategy the technique is for. The final
    per-name rollup re-aggregates the 8 salt shards with a partial-agg
    shuffle of |dim| rows. Salt fan-out (8) trades dim-replication bytes
    for reducer parallelism; production tunes it to the observed key
    histogram."""
    n_salt = 8
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
        F.pmod(F.col("l_orderkey"), F.lit(n_salt)).alias("_salt"),
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        .withColumn("_salt", F.col("_salt").cast(dict(li.dtypes)["_salt"]))
    )
    joined = li.hint("shuffle_hash").join(
        sup,
        (li.l_suppkey == sup.s_suppkey) & (li._salt == sup._salt),
    )
    return joined.groupBy("s_name").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
    )


_BUCKETED_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


# one spec shared by BOTH the build (write_bucketed) and the re-attach
# DDL: if these ever drifted, a fresh session would declare a bucket
# layout the files don't have and the exchange-free join would silently
# mis-pair rows — Spark trusts declared bucketing without verifying it
_BUCKET_KEY, _BUCKET_N = "o_orderkey", 8


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE, category="C")
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED bucketed join — the layout move that deletes the
    shuffle from a repeated fact-fact join: orders and lineitem are
    persisted ONCE as catalog tables bucketed (and sorted) by the join
    key with the same bucket count, after which every join on that key
    is a SortMergeJoin with NO Exchange on either side — each task
    reads bucket i of both tables and joins locally. At 100 TB this is
    the difference between re-shuffling petabytes on every pipeline run
    and never shuffling them again; the write cost is paid once at
    ingest. (tests/test_r7_ops.py asserts the exchange-free plan; the
    one-time build is content-fingerprinted per dataset and reused
    across calls, mirroring how a production catalog owns the layout.)

    The aggregate keeps the money column exact by summing 100-scaled
    BIGINT cents — partial-aggregable and bit-identical cross-engine."""
    import os

    # v-tag: bump when the bucketed PROJECTION changes (the fingerprint
    # only tracks source data), so stale layouts can't be reused
    fp = "v2_" + files_fingerprint(
        [os.path.join(sf_dir, f"{t}.parquet") for t in ("orders", "lineitem")]
    )
    ob, lb = f"orders_bkt_{fp}", f"lineitem_bkt_{fp}"

    def _ensure(name: str, ddl_cols: str, build_df) -> None:
        """Bucketed layouts outlive the session (files in the warehouse
        dir) but bucket METADATA lives in the session catalog — a fresh
        session must re-ATTACH the existing files as an external
        bucketed table (the catalog-owns-layout pattern; bucket file
        layout is deterministic for a fixed spec, so attaching another
        session's output is sound) instead of rewriting. The files are
        one build_once artifact at the warehouse location: a crashed
        partial build is never attached (it would silently serve
        truncated buckets). Spark only writes bucketed files through a
        table, so the build goes through a throwaway external table."""
        if spark.catalog.tableExists(name):
            return
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")

        def write(build: str) -> None:
            tmp_name = os.path.basename(build).replace(".", "_")
            (
                build_df()
                .write.mode("overwrite")
                .bucketBy(_BUCKET_N, _BUCKET_KEY)
                .sortBy(_BUCKET_KEY)
                .format("parquet")
                .option("path", build)
                .saveAsTable(tmp_name)
            )
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")  # external: files stay

        loc = build_once(os.path.join(wh, name), write)
        spark.sql(
            f"CREATE TABLE {name} ({ddl_cols}) USING PARQUET"
            f" CLUSTERED BY ({_BUCKET_KEY}) SORTED BY ({_BUCKET_KEY})"
            f" INTO {_BUCKET_N} BUCKETS LOCATION '{loc}'"
        )

    _ensure(
        ob,
        "o_orderkey BIGINT, o_orderpriority STRING",
        lambda: table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
    )
    _ensure(
        lb,
        "o_orderkey BIGINT, p100 BIGINT",
        lambda: table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("p100"),
        )
        .withColumnRenamed("l_orderkey", "o_orderkey"),
    )
    # hint("merge"): at test SF the orders side fits the broadcast
    # threshold and Catalyst would pick BroadcastHashJoin — fine there,
    # but the query exists to pin the BOTH-SIDES-FACT-SIZED plan (the
    # 100 TB case, where broadcast is off the table); the hint forces
    # the sort-merge path so the bucket co-location (zero Exchange) is
    # what actually executes and what the plan test asserts
    o = spark.table(ob).hint("merge")
    li = spark.table(lb)
    return (
        o.join(li, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_orderkey").cast("bigint").alias("n_orders"),
            (F.sum("p100").cast("double") / 100.0).alias("revenue"),
        )
    )


_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey, 1 AS version,
         DATE '1900-01-01' AS valid_from,
         DATE '1994-01-01' + CAST(c_custkey % 1000 AS INT) AS valid_to,
         c_mktsegment AS segment
  FROM customer
  UNION ALL
  SELECT c_custkey, 2,
         DATE '1994-01-01' + CAST(c_custkey % 1000 AS INT),
         DATE '9999-12-31', c_mktsegment || '*'
  FROM customer)
SELECT o_orderkey, o_custkey,
       CAST(d.version AS INT) AS version, d.segment
FROM orders o
JOIN dim d ON o.o_custkey = d.c_custkey
          AND o.o_orderdate >= d.valid_from
          AND o.o_orderdate <  d.valid_to
"""


@register("join_scd2_asof", oracle=_SCD2_ORACLE, category="C")
def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 dimension join — the warehouse pattern for "what was
    this customer's segment AT ORDER TIME": the dimension keeps one row
    per attribute VERSION with [valid_from, valid_to) ranges
    (half-open, so versions tile time with no gap/overlap), and each
    fact row joins the single version whose range covers its event
    date. Fixture: every customer has two versions split at a
    key-derived date, the later one carrying a changed segment — so
    both versions are exercised and each order matches EXACTLY one row
    (a property the hash oracle enforces: any gap or overlap would
    change the row count).

    Plan shape: equi-join on the customer key carries the work; the
    range predicate is a post-join filter on the (at most a few)
    versions per key — so unlike a pure interval join there is no
    candidate blow-up: cost is O(fact × versions-per-key). The
    dimension side is version-expanded but still dimension-sized →
    broadcast; the fact table never shuffles. At 100 TB this is the
    canonical broadcast-dim pattern with time-travel semantics."""
    c = table(spark, sf_dir, "customer")
    split = F.expr("DATE'1994-01-01' + CAST(c_custkey % 1000 AS INT)")
    v1 = c.select(
        "c_custkey",
        F.lit(1).alias("version"),
        F.lit("1900-01-01").cast("date").alias("valid_from"),
        split.alias("valid_to"),
        F.col("c_mktsegment").alias("segment"),
    )
    v2 = c.select(
        "c_custkey",
        F.lit(2).alias("version"),
        split.alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.concat("c_mktsegment", F.lit("*")).alias("segment"),
    )
    dim = v1.unionByName(v2)
    o = table(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(dim),
            (o.o_custkey == dim.c_custkey)
            & (o.o_orderdate >= dim.valid_from)
            & (o.o_orderdate < dim.valid_to),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("version").cast("int").alias("version"),
            "segment",
        )
    )


_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
FROM {cust} c,
LATERAL (SELECT o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                  AS rk
         FROM {ord} o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_SQL.format(cust="customer", ord="orders"),
    category="C",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — "for each customer, their top-2
    orders by price": the subquery in FROM references the outer row
    (SQL:1999 LATERAL; Spark ≥3.2 supports it natively). The IDENTICAL
    SQL text runs on both engines — this query is deliberately
    expressed through spark.sql() rather than the DataFrame API to
    exercise the engine's SQL-surface parity, the thing a user
    migrating SQL workloads cares about.

    Scale: Catalyst DECORRELATES the lateral — the executed plan is a
    window-rank over orders partitioned by custkey joined back to
    customer, not a per-customer re-execution of the subquery (the
    naive nested-loop reading of LATERAL would be a 100 TB
    catastrophe). Decorrelation is the whole point of declaring this
    in SQL and letting the optimizer pick the join form; the rank
    tiebreak (price DESC, orderkey) makes the top-2 deterministic so
    the hash oracle holds."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("gdxps_lat_cust")
    table(spark, sf_dir, "orders").createOrReplaceTempView("gdxps_lat_ord")
    return spark.sql(
        _LATERAL_SQL.format(cust="gdxps_lat_cust", ord="gdxps_lat_ord")
    )


_NULLSAFE_ORACLE = """
WITH k AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang_key
  FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang_key
FROM k a JOIN k b
  ON a.lang_key IS NOT DISTINCT FROM b.lang_key
 AND a.doc_id < b.doc_id
"""


@register("join_null_safe", oracle=_NULLSAFE_ORACLE, category="C")
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (<=> / IS NOT DISTINCT FROM): plain
    equi-join predicates drop NULL keys silently — two rows whose key
    is unknown never match — while the null-safe form treats NULL as a
    joinable value (NULL <=> NULL is TRUE). That distinction decides
    whether un-keyed records pair up in reconciliation/dedup joins,
    and getting it wrong is invisible in row counts until audited;
    the fixture NULLs every 5th key so the NULL-bucket pairs are a
    required part of the hash-checked result.

    Scale: Spark plans <=> as a HASH join (null-safe equality is still
    an equi key — NULL hashes to a regular bucket), NOT a nested loop;
    the caveat at 100 TB is that the NULL bucket is a guaranteed hot
    key (every unknown row lands on one reducer) — the production
    pattern filters or salts the NULL class first, which is exactly
    why surfacing it as an explicit operator matters."""
    d = table(spark, sf_dir, "documents")
    k = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang_key"),
    )
    a, b = k.alias("a"), k.alias("b")
    return a.join(
        b,
        F.col("a.lang_key").eqNullSafe(F.col("b.lang_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.lang_key").alias("lang_key"),
    )


@register(
    "join_range_bucketed",
    oracle=EV_CTE
    + """
SELECT p.event_id AS purchase_id,
       s.event_id AS signup_id,
       epoch_us(p.ts) // 1000000 - epoch_us(s.ts) // 1000000 AS lag_s
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
  ON p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 5 MINUTE
""",
    category="C",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS range join, BUCKETIZED — every (purchase, signup) pair
    across ALL users within a 5-minute window: attribution/blast-radius
    joins where no equi key exists (join_range_interval has user_id to
    hash on; this one doesn't). Naively that's a cartesian with a
    filter — BroadcastNestedLoopJoin, dead at scale. The scalable
    form quantizes time into window-sized buckets: a purchase lives in
    exactly ONE bucket, each signup's [ts, ts+5min] interval is
    replicated into the ≤2 buckets it can touch (array_distinct —
    so a qualifying pair meets on exactly the purchase's bucket, no
    dedup pass needed), the join becomes a plain hash EQUI join on
    bucket + the exact residual predicate. DuckDB's oracle runs its
    native IEJoin on the raw inequality — two different physical
    strategies, hash-identical pairs.

    Scale: shuffle is |purchases| + 2|signups| rows keyed by time
    bucket; per-bucket work is |p_b|×|s_b| with both factors bounded
    by the 5-min rate. Output pairs grow ~density² per bucket — the
    honest cost of the SEMANTICS, not the plan; hot buckets (bursts)
    are the salting candidate, same lever as join_skew_salted."""
    ev = table(spark, sf_dir, "events")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    win = 300_000_000  # 5 minutes in microseconds
    # integer `div`, never float division: a double quotient that
    # rounds up across the bucket boundary would mis-bucket the row
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {win}").alias(
            "bucket"
        ),
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        us.alias("s_us"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(
                        f"unix_micros(CAST(ts AS TIMESTAMP)) div {win}"
                    ),
                    F.expr(
                        f"(unix_micros(CAST(ts AS TIMESTAMP)) + {win})"
                        f" div {win}"
                    ),
                )
            )
        ).alias("bucket"),
    )
    return (
        p.join(s, "bucket")
        .filter(
            (F.col("p_us") >= F.col("s_us"))
            & (F.col("p_us") <= F.col("s_us") + F.lit(win))
        )
        .select(
            "purchase_id",
            "signup_id",
            (
                F.expr("p_us div 1000000") - F.expr("s_us div 1000000")
            ).alias("lag_s"),
        )
    )


@register(
    "join_asof_tolerance",
    oracle=EV_CTE
    + """
SELECT p.event_id AS purchase_id, p.user_id,
       CASE WHEN s.ts IS NOT NULL AND p.ts <= s.ts + INTERVAL 2 HOUR
            THEN s.event_id END AS signup_id,
       CASE WHEN s.ts IS NOT NULL AND p.ts <= s.ts + INTERVAL 2 HOUR
            THEN epoch_us(p.ts) // 1000000 - epoch_us(s.ts) // 1000000
       END AS staleness_s
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
""",
    category="C",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join WITH TOLERANCE — each purchase matched to the latest
    same-user signup at-or-before it, but only if that signup is at
    most 2 hours stale; older matches become NULL (pandas
    merge_asof(tolerance=...): the don't-join-against-stale-quotes
    rule every market-data/feature-freshness pipeline enforces). Same
    scalable union + carried-window formulation as join_asof — one
    user_id shuffle, no candidate explosion — carrying the matched
    signup's TIMESTAMP alongside its id so the staleness test is one
    map-side expression after the window; the oracle is DuckDB's
    native ASOF LEFT JOIN with the tolerance applied post-match (both
    engines agree a too-stale match is NULL, not a fallback to an
    even-older one — that's the asof contract: tolerance FILTERS the
    unique match, it doesn't search past it)."""
    ev = table(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("sid"),
        F.lit(1).alias("is_signup"),
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("sid"),
        F.lit(0).alias("is_signup"),
    )
    both = sign.unionByName(pur)
    w = (
        W.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("is_signup").desc(), F.col("sid").asc()
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sig_mark = F.when(F.col("is_signup") == 1, F.col("sid"))
    ts_mark = F.when(F.col("is_signup") == 1, F.col("ts"))
    carried = both.withColumn(
        "m_sid", F.last(sig_mark, ignorenulls=True).over(w)
    ).withColumn("m_ts", F.last(ts_mark, ignorenulls=True).over(w))
    fresh = F.col("m_ts").isNotNull() & (
        F.col("ts") <= F.col("m_ts") + F.expr("INTERVAL 2 HOUR")
    )
    return carried.filter(F.col("is_signup") == 0).select(
        F.col("sid").alias("purchase_id"),
        "user_id",
        F.when(fresh, F.col("m_sid")).alias("signup_id"),
        F.when(
            fresh,
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000")
            - F.expr("unix_micros(CAST(m_ts AS TIMESTAMP)) div 1000000"),
        ).alias("staleness_s"),
    )


_DPP_ORACLE = """
SELECT d.status, d.label,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_price
FROM orders
JOIN (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending'))
     d(status, label)
  ON o_orderstatus = d.status
WHERE d.label = 'finished'
GROUP BY d.status, d.label
"""


@register("join_dynamic_partition_prune", oracle=_DPP_ORACLE, category="C")
def join_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the fact table is laid out
    partitioned by status; the filter that selects partitions lives on
    the DIM side (label = 'finished'), so no static predicate ever
    touches the fact scan. Spark's DPP closes the gap AT RUNTIME: the
    broadcast dim's join keys become a dynamicpruning#N subquery in the
    fact scan's PartitionFilters (plan-asserted in tests/test_r7_ops),
    and the non-matching status directories are never even listed. This
    is the OTHER half of the partition-layout lever next to
    src_parquet_partitioned's static pruning — star-schema queries at
    100 TB almost never filter the fact table directly; they filter
    dims, and DPP is what turns that into fact-side I/O savings. Both
    the dim and its filter are parquet-backed (a VALUES dim would
    constant-fold into a static predicate and dodge the machinery the
    query exists to exercise)."""
    import os

    def write(build: str) -> None:
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.partitionBy("o_orderstatus").parquet(f"{build}/fact")
        spark.createDataFrame(
            [("F", "finished"), ("O", "open"), ("P", "pending")],
            "status STRING, label STRING",
        ).write.parquet(f"{build}/dim")

    base = build_once(
        artifact_dir("dpp_v1", sf_dir, [os.path.join(sf_dir, "orders.parquet")]),
        write,
    )
    fact = spark.read.parquet(f"{base}/fact")
    dim = spark.read.parquet(f"{base}/dim").filter(F.col("label") == "finished")
    return (
        fact.join(
            F.broadcast(dim), fact.o_orderstatus == dim.status
        )
        .groupBy("status", "label")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total_price"),
        )
    )


@register(
    "join_asof_nearest",
    oracle=EV_CTE
    + """,
p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
s AS (SELECT * FROM ev WHERE event_type = 'signup'),
prevj AS (
  SELECT p.event_id AS pid, p.user_id AS user_id, p.ts AS pts,
         s.event_id AS sid_prev, s.ts AS ts_prev
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts),
nextj AS (
  SELECT p.event_id AS pid, s.event_id AS sid_next, s.ts AS ts_next
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts <= s.ts)
SELECT pid AS purchase_id, user_id,
       CASE WHEN ts_prev IS NULL THEN sid_next
            WHEN ts_next IS NULL THEN sid_prev
            WHEN pts - ts_prev <= ts_next - pts THEN sid_prev
            ELSE sid_next END AS signup_id
FROM prevj JOIN nextj USING (pid)
""",
    category="C",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-match as-of join: each purchase pairs with the signup
    closest in time in EITHER direction (tie → the earlier one) — the
    sensor-alignment / feature-join variant where "latest before" is
    wrong half the time because the nearest reading may be just after.
    Same scalable shape as join_asof: union both sides, ONE shuffle on
    user_id, then two O(n log n) window passes over the same partition
    order — a forward carry (last signup at-or-before) and a backward
    carry (first signup at-or-after; the reversed-frame trick from
    ts_fill_forward) — and a three-way CASE picks the nearer. No
    candidate explosion, no range join, nothing quadratic per user.
    The oracle states the same semantics as two DuckDB ASOF joins."""
    ev = table(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("sid"), F.lit(1).alias("is_signup")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("sid"), F.lit(0).alias("is_signup")
    )
    both = sign.unionByName(pur)
    # forward: at equal ts the signup sorts first (at-or-before includes
    # same instant); backward: symmetric
    fw = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_signup").desc(), F.col("sid").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # bw's sid tiebreak is ASC so that among EQUAL-ts signups the carry
    # (last() in scan order) picks the LARGEST sid on BOTH passes — the
    # engine is internally consistent under ts collisions. The DuckDB
    # ASOF oracle leaves right-side ts ties unspecified (same caveat as
    # join_asof); collisions don't occur in this data, noted in tests.
    bw = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_signup").desc(), F.col("sid").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sig_ts = F.when(F.col("is_signup") == 1, F.col("ts"))
    sig_id = F.when(F.col("is_signup") == 1, F.col("sid"))
    carried = (
        both.withColumn("sid_prev", F.last(sig_id, ignorenulls=True).over(fw))
        .withColumn("ts_prev", F.last(sig_ts, ignorenulls=True).over(fw))
        .withColumn("sid_next", F.last(sig_id, ignorenulls=True).over(bw))
        .withColumn("ts_next", F.last(sig_ts, ignorenulls=True).over(bw))
    )
    # ts is TIMESTAMP_NTZ (unix_micros wants zoned); the session is
    # pinned UTC so the cast is a wall-clock identity
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    d_prev = us("ts") - us("ts_prev")
    d_next = us("ts_next") - us("ts")
    return carried.filter(F.col("is_signup") == 0).select(
        F.col("sid").alias("purchase_id"),
        "user_id",
        F.when(F.col("ts_prev").isNull(), F.col("sid_next"))
        .when(F.col("ts_next").isNull(), F.col("sid_prev"))
        .when(d_prev <= d_next, F.col("sid_prev"))
        .otherwise(F.col("sid_next"))
        .alias("signup_id"),
    )


_GEO_RADIUS_ORACLE = """
WITH pts AS (
  SELECT c_custkey AS k,
         CAST((c_custkey % 180) * 1000000 - 89500000 AS BIGINT) AS ilat,
         CAST(((c_custkey * 7) % 360) * 1000000 - 179500000 AS BIGINT) AS ilon
  FROM customer),
cells AS (
  SELECT k, ilat, ilon,
         (ilat + 90000000) // 2000000 AS cr,
         (ilon + 180000000) // 2000000 AS cc
  FROM pts),
probe AS (
  SELECT c.k, c.ilat, c.ilon, c.cr + dr.d AS cr, c.cc + dc.d AS cc
  FROM cells c,
       (VALUES (-1), (0), (1)) dr(d),
       (VALUES (-1), (0), (1)) dc(d))
SELECT a.k AS k1, b.k AS k2,
       CAST((a.ilat - b.ilat) * (a.ilat - b.ilat)
          + (a.ilon - b.ilon) * (a.ilon - b.ilon) AS BIGINT) AS dist2
FROM probe a
JOIN cells b ON a.cr = b.cr AND a.cc = b.cc AND a.k < b.k
WHERE (a.ilat - b.ilat) * (a.ilat - b.ilat)
    + (a.ilon - b.ilon) * (a.ilon - b.ilon) <= 4000000000000
"""


@register("join_geo_radius", oracle=_GEO_RADIUS_ORACLE, category="C")
def join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPATIAL RADIUS SELF-JOIN via grid-cell bucketing — "find all
    pairs of points within distance R" without the all-pairs cross
    join. Coordinates are the synthetic customer positions from
    fn_geo_haversine, held as exact MICRODEGREE BIGINTs so the planar
    squared distance and the R² threshold (R = 2°, the local-scale
    regime where the flat-earth approximation holds) are pure integer
    comparisons — bitwise identical across engines, no transcendental
    near-boundary flips (the haversine kernel stays available as the
    in-bucket verifier where true great-circle distances matter).

    The plan IS the operator: points land in R×R grid cells; one side
    replicates to its 3×3 cell neighborhood (a 9× explode of the
    POINTS, not the pairs); the join is a single EQUI-join on the cell
    id; the exact distance predicate prunes in-cell false candidates.
    Every candidate pair within R shares a probe cell by construction
    (|Δrow|, |Δcol| ≤ 1), appears exactly once (probe a × home b with
    a.k < b.k), and pair work is local to a cell neighborhood — the
    O(n²) cross join becomes O(n·density). At 100 TB the same plan
    holds with a finer grid (or S2/geohash cells) and AQE skew-splits
    urban-density hot cells; degenerate hot cells would salt the probe
    side. DuckDB runs the identical grid algebra; a brute-force
    O(n²) differential twin pins both at small SF in pytest."""
    cust = table(spark, sf_dir, "customer")
    cell = 2_000_000  # grid pitch = R, in microdegrees
    r2 = F.lit(4_000_000_000_000)  # R² = (2e6 µdeg)²
    pts = cust.select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") % 180) * 1_000_000 - 89_500_000)
        .cast("bigint")
        .alias("ilat"),
        (((F.col("c_custkey") * 7) % 360) * 1_000_000 - 179_500_000)
        .cast("bigint")
        .alias("ilon"),
    )
    # integer `div` (not double /): exact cell boundaries at any
    # magnitude; the shifted operands are always positive here
    cells = pts.select(
        "k", "ilat", "ilon",
        F.expr(f"(ilat + 90000000) div {cell}").alias("cr"),
        F.expr(f"(ilon + 180000000) div {cell}").alias("cc"),
    )
    # 9-cell probe replication: explode a constant 3x3 offset array --
    # a literal, not data (offsets stay whole-stage-codegen'd)
    probe = cells.select(
        "k", "ilat", "ilon",
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("cr") + dr).alias("cr"), (F.col("cc") + dc).alias("cc")
                )
                for dr in (-1, 0, 1)
                for dc in (-1, 0, 1)
            ])
        ).alias("cell"),
    ).select("k", "ilat", "ilon", "cell.cr", "cell.cc")
    a, b = probe.alias("a"), cells.alias("b")
    dlat = F.col("a.ilat") - F.col("b.ilat")
    dlon = F.col("a.ilon") - F.col("b.ilon")
    dist2 = dlat * dlat + dlon * dlon
    return (
        a.join(
            b,
            (F.col("a.cr") == F.col("b.cr"))
            & (F.col("a.cc") == F.col("b.cc"))
            & (F.col("a.k") < F.col("b.k")),
        )
        .filter(dist2 <= r2)
        .select(
            F.col("a.k").alias("k1"),
            F.col("b.k").alias("k2"),
            dist2.cast("bigint").alias("dist2"),
        )
    )


_INTERVAL_OVERLAP_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS s,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
              + 3600 + (event_id % 36000) AS BIGINT) AS e
  FROM events)
SELECT a.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps,
       CAST(SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS BIGINT)
         AS sum_overlap_s
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
GROUP BY a.user_id
"""


@register("join_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE, category="C")
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP self-join — the temporal-join classic (session
    concurrency, meeting conflicts, resource double-booking): find all
    same-key interval pairs that overlap (a.s < b.e ∧ b.s < a.e).
    Intervals derive deterministically from events (start = ts, length
    1h + event_id-dependent, ≤ 11h).

    Plan shape: a naive inequality self-join is a per-key cross
    product. Instead each interval EXPLODES into the 12-hour time
    buckets its span covers (bucket width ≥ max duration ⇒ ≤ 2 buckets
    per interval), the join is a hash EQUI join on (user_id, bucket)
    with the exact overlap test as residual, and each qualifying pair
    is emitted EXACTLY ONCE — not deduplicated but filtered to the
    canonical bucket containing GREATEST(a.s, b.s) (the later start
    lies inside both spans whenever the pair overlaps, so that bucket
    is in both replica sets and no distinct is needed — the same
    no-dedup trick as join_range_bucketed). Overlap math in exact
    integer seconds. At 100 TB candidate volume is Σ per-(key, bucket)
    concurrency², not per-key n² — bounded by true temporal density,
    and the bucket width tracks the duration bound. tests pin the plan
    (no BroadcastNestedLoop/CartesianProduct) and the no-dup invariant."""
    ev = table(spark, sf_dir, "events")
    W = 43200  # 12 h ≥ max interval length (3600 + 36000 − 1)
    iv = ev.select(
        "user_id",
        "event_id",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000 AS BIGINT)"
        ).alias("s"),
    ).withColumn("e", F.col("s") + 3600 + F.col("event_id") % 36000)
    spans = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {W}"), F.expr(f"(e - 1) div {W}")
            )
        ).alias("bkt"),
    )
    a = spans.alias("a")
    b = spans.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .filter(
            (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e"))
            # canonical-bucket emission: exactly one replica pair fires
            # (integer div — a double division truncate can flip at the
            # boundary when the quotient lands within an ulp of an int)
            & (F.expr(f"greatest(a.s, b.s) div {W}") == F.col("a.bkt"))
        )
    )
    return pairs.groupBy(F.col("a.user_id").alias("user_id")).agg(
        F.count("*").alias("n_overlaps"),
        F.sum(
            F.least(F.col("a.e"), F.col("b.e"))
            - F.greatest(F.col("a.s"), F.col("b.s"))
        ).alias("sum_overlap_s"),
    )
