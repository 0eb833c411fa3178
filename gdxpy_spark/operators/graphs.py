"""Graph analytics over relationally-derived graphs.

The co-purchase graph (two parts connected when some order contains
both) is the canonical retail/graph-ML structure: triangle counts and
clustering coefficients feed recommendation features and community
quality metrics, and at crawl scale the same shapes run over page link
graphs (llm_graph_pagerank's domain). Everything here is derived from
the driver tables so the DuckDB oracle can recompute it exactly.
"""

from __future__ import annotations

import datetime
import logging

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdxpy_spark.operators._util import managed_cache
from gdxpy_spark.registry import register
from gdxpy_spark.tables import table

log = logging.getLogger(__name__)


# lineitem rows up to which the co-purchase edges are derived on the
# driver (_copurchase_pairs) instead of by a Spark self-join. The cut
# bounds driver memory through the footer row count: sf0.1 has 600k
# lines and gives 26,027 edges in about 0.2 s, so every oracle scale
# stays on the driver.
_COPURCHASE_DRIVER_MAX_LINES = 1 << 20
# the analysis window (shipped in 1996) of every co-purchase query
_WINDOW = (datetime.datetime(1996, 1, 1), datetime.datetime(1997, 1, 1))


def _copurchase_pairs(sf_dir: str):
    """The distinct co-purchase edges (pa < pb) derived on the driver as
    Arrow arrays (pa, pb) sorted by (pa, pb), or None when the Spark
    plan must derive them: lineitem's footer row count (no Spark job)
    is over _COPURCHASE_DRIVER_MAX_LINES, or its key columns are not
    signed integers or l_shipdate is not a zone-less µs timestamp
    (Spark's timestamp_ntz; the types the window filter and the numpy
    pairing assume).

    Same steps as the Spark plan: the 1996 window as a dataset filter
    on l_shipdate, null keys dropped, then every pair of distinct parts
    within one order, smaller part first."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds

    src = ds.dataset(f"{sf_dir}/lineitem.parquet", format="parquet")
    n = src.count_rows()
    types = [src.schema.field(c).type for c in ("l_orderkey", "l_partkey", "l_shipdate")]
    if (
        n > _COPURCHASE_DRIVER_MAX_LINES
        or not all(pa.types.is_signed_integer(t) for t in types[:2])
        or types[2] != pa.timestamp("us")
    ):
        log.debug("copurchase_edges: %d lines, spark path", n)
        return None
    log.debug("copurchase_edges: %d lines, driver path", n)
    ship = ds.field("l_shipdate")
    li = src.to_table(
        columns=["l_orderkey", "l_partkey"],
        filter=(ship >= pa.scalar(_WINDOW[0], types[2]))
        & (ship < pa.scalar(_WINDOW[1], types[2])),
    ).drop_null()
    # one row per (order, part), sorted: each order is a run of parts
    # in ascending order
    li = li.group_by(["l_orderkey", "l_partkey"]).aggregate([])
    li = li.sort_by([("l_orderkey", "ascending"), ("l_partkey", "ascending")])
    order = li.column("l_orderkey").to_numpy()
    part = li.column("l_partkey").to_numpy()
    # row i pairs with every later row of its order run
    run_end = np.searchsorted(order, order, side="right")
    later = run_end - np.arange(len(order)) - 1
    left = np.repeat(np.arange(len(order)), later)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
    pairs = pa.table({
        "pa": pa.array(part[left], types[1]), "pb": pa.array(part[right], types[1]),
    })
    pairs = pairs.group_by(["pa", "pb"]).aggregate([])
    pairs = pairs.sort_by([("pa", "ascending"), ("pb", "ascending")])
    return pairs.column("pa").combine_chunks(), pairs.column("pb").combine_chunks()


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (pa < pb) for lines shipped
    in 1996. Within _COPURCHASE_DRIVER_MAX_LINES the driver derives
    them (_copurchase_pairs) and they become one Arrow createDataFrame,
    localCheckpointed: one small map-only job, where the Spark plan
    shuffles twice. Left as a LocalRelation, the 26k edges of sf0.1 sit
    in every plan the graph queries build over them, and planning those
    self-joins and rounds cost more than that job (graph_triangles took
    1.18 s that way, 0.71 s checkpointed and 0.99 s on the Spark plan;
    4 vCPU). Above the cut, _copurchase_edges_spark derives them."""
    import pyarrow as pa

    pairs = _copurchase_pairs(sf_dir)
    if pairs is None:
        return _copurchase_edges_spark(spark, sf_dir)
    edges = spark.createDataFrame(pa.table({"pa": pairs[0], "pb": pairs[1]}))
    return edges.localCheckpoint()


def _copurchase_edges_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_copurchase_edges' Spark plan: one shuffle on orderkey for the
    pair fan-out + one distinct. Pairs per order are bounded by
    lines-per-order (≤ C(13,2) here; TPC-H caps at 7 lines), so the
    fan-out is a small constant factor of the fact table; the year
    filter is the analysis window a real co-purchase job scopes to (and
    pushes to the scan)."""
    lo, hi = (F.lit(str(d)).cast("timestamp_ntz") for d in _WINDOW)
    li = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
    )


_TRI_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
  GROUP BY node),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.pa < e.pb)
              THEN e.pa ELSE e.pb END AS src,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.pa < e.pb)
              THEN e.pb ELSE e.pa END AS dst
  FROM e
  JOIN deg da ON da.node = e.pa
  JOIN deg db ON db.node = e.pb)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*)
             FROM o w1
             JOIN o w2 ON w2.src = w1.src AND w1.dst < w2.dst
             JOIN (SELECT LEAST(src, dst) AS x, GREATEST(src, dst) AS y
                   FROM o) c
               ON c.x = w1.dst AND c.y = w2.dst
            ) AS BIGINT) AS n_triangles
"""


@register("graph_triangles", oracle=_TRI_ORACLE, category="G")
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNT over the co-purchase graph, via degree-ordered
    edge orientation (Suri & Vassilvitskii, "Counting Triangles and the
    Curse of the Last Reducer", WWW'11): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one, build
    wedges by joining oriented edges on their shared SOURCE, then
    probe each wedge's closing edge against the oriented edge set.

    Why orientation is the 100 TB move: a naive wedge join on the
    shared MIDDLE vertex generates sum(deg²) wedge candidates — one
    celebrity node with degree 10⁶ yields 10¹² wedges in a single
    reducer (the "last reducer" curse). Orientation bounds every
    vertex's OUT-degree by O(√m), so wedge volume is O(m^1.5) worst
    case and skew-free in practice: each triangle is generated by
    exactly one wedge (at its lowest-degree corner) and found by
    exactly one closing-edge probe, so the count needs no /3 or /2
    dedup factor. Plan: two self-joins over the oriented edge list
    (shuffle on src, then on the wedge endpoints) + partial-agg count;
    the orientation itself is one metadata-thin degree aggregate
    broadcast-joined back onto edges. The wedge mouth (v, w) is emitted
    id-ordered and the closing edge set is keyed by (least, greatest)
    id, so the probe is a single EQUI-join (hash-joinable at any scale)
    rather than an OR of orientations, which Catalyst could only
    nested-loop."""
    e = managed_cache(_copurchase_edges(spark, sf_dir))
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    o = (
        e.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
    )
    o = managed_cache(o)
    w1 = o.select(F.col("src").alias("s"), F.col("dst").alias("v"))
    w2 = o.select(F.col("src").alias("s"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "s").filter(F.col("v") < F.col("w"))
    closing = o.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    counts = e.agg(F.count("*").cast("bigint").alias("n_edges")).join(
        deg.agg(F.count("*").cast("bigint").alias("n_nodes")), F.lit(True)
    )
    return counts.join(tri, F.lit(True)).select(
        "n_nodes", "n_edges", "n_triangles"
    )


_DEGREE_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
  GROUP BY node)
SELECT node, degree
FROM deg
ORDER BY degree DESC, node ASC
LIMIT 20
"""


@register("graph_degree_topk", oracle=_DEGREE_ORACLE, category="G")
def graph_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUB DETECTION — top-20 highest-degree vertices of the co-purchase
    graph (deterministic id tiebreak): the first question asked of any
    graph (which pages/products/users dominate connectivity — crawl
    frontier prioritization, celebrity-node handling, skew planning
    for graph_triangles' orientation). Degree is one partial-aggregable
    groupBy over the edge endpoints; the top-20 rides
    TakeOrderedAndProject — no global sort, no single-partition window,
    at any graph size."""
    e = _copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    return deg.orderBy(F.col("degree").desc(), F.col("node").asc()).limit(20)


def _components_oracle() -> str:
    from gdxpy_spark.operators.llm import _cc_star_rounds_sql

    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
se0 AS MATERIALIZED (
  SELECT GREATEST(pa, pb) AS u, LEAST(pa, pb) AS v FROM e),
{_cc_star_rounds_sql(_GRAPH_CC_ROUNDS)}
SELECT u AS node, v AS component_id FROM se{_GRAPH_CC_ROUNDS}
UNION
SELECT DISTINCT v AS node, v AS component_id FROM se{_GRAPH_CC_ROUNDS}
"""


# star-contraction rounds unrolled in the oracle: 4-5 measured to the
# fixpoint on this graph at sf0.01/sf0.1; 7 leaves margin, and the
# rounds-vs-rounds+1 equality is pinned in tests/test_r11_ops.py
_GRAPH_CC_ROUNDS = 7


@register("graph_components", oracle=_components_oracle(), category="G")
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph as a first-class
    query: every node (part in a 1996 co-purchase edge) labeled with
    its component id (= the component's minimum part key) — the
    product-universe segmentation a recommender bootstraps from, and
    the same shape as web-crawl host-graph components at 100 TB.

    Physical strategy: when _copurchase_pairs derives the edges on the
    driver (every oracle scale) they go to _components_of_pairs, the
    driver front door of connected components: within its edge cut
    the hook-and-shortcut kernel labels them and the result is one
    LocalTableScan, no Spark job. Otherwise the edges (driver-derived
    above that cut, or _copurchase_edges' Spark plan) go through
    connected_components, whose Spark path is alternating
    large-star/small-star contraction (see its docstring for the
    Kiveris 2014 invariants and the structural fixpoint check).
    The oracle resolves the identical components with star contraction
    unrolled as CTEs (_cc_star_rounds_sql, the sparse-graph-safe
    choice; NOT pointer-doubling label propagation, whose
    label-of-label chase stalls on long thin paths), so this operator
    is value-hash-checked against DuckDB. The Spark contraction loop
    itself is oracle-checked at sf0.1 through llm_dedup_clusters,
    whose graph is above the cut, and pinned on these co-purchase
    edges by the CC parity tests, which run both paths. Singleton
    parts (never co-purchased in-window) are not graph nodes and are
    excluded by both engines."""
    from gdxpy_spark.operators import llm

    pairs = _copurchase_pairs(sf_dir)
    if pairs is None:
        edges = _copurchase_edges_spark(spark, sf_dir).select(
            F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b")
        )
        cc = llm.connected_components(spark, edges)
    else:
        cc = llm._components_of_pairs(spark, *pairs)
    return cc.select(F.col("doc_id").alias("node"), "component_id")


# Fixed synchronous LPA rounds (r14). Unlike star-contraction CC, LPA
# has no monotone fixpoint (synchronous updates can 2-cycle on
# bipartite structures — Raghavan 2007 §3), so the declared semantic
# is exactly "R synchronous rounds", R unrolled in both engines; 4
# is past the point where community counts stabilize on this graph
# (measured sf0.01/sf0.1), and determinism is by construction.
_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    rounds = []
    for r in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""l{r} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT a.u AS node, l.lbl,
           ROW_NUMBER() OVER (
             PARTITION BY a.u
             ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
    FROM adj a JOIN l{r - 1} l ON l.node = a.nbr
    GROUP BY a.u, l.lbl) t
  WHERE rn = 1)""")
    body = ",\n".join(rounds)
    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
adj AS MATERIALIZED (
  SELECT pa AS u, pb AS nbr FROM e
  UNION ALL SELECT pb AS u, pa AS nbr FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM adj),
{body}
SELECT node, lbl AS community_id FROM l{_LPA_ROUNDS}
"""


@register("graph_label_prop", oracle=_lpa_oracle(), category="G")
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the co-purchase graph: every node starts
    as its own label; each round every node adopts the most frequent
    label among its neighbors, ties broken to the SMALLEST label; after
    _LPA_ROUNDS rounds, (node, community_id). The near-linear-time
    community baseline (the shape GraphX/GraphFrames ship as
    labelPropagation), distinct from graph_components: components
    answers "reachable at all", LPA carves dense regions apart inside
    one component. Production systems use semi-synchronous coloring to
    damp the 2-cycle oscillation of the synchronous schedule; the
    declared semantic here is the fixed-round synchronous variant,
    which is deterministic by construction and therefore
    engine-exactly DuckDB-replayable (the unrolled-rounds discipline
    of graph_components' star contraction).

    Physical strategy, per round: one equi-join of the cached
    adjacency (2m narrow rows) against the 2-column label frame on
    nbr, then TWO partial-aggregable shuffles — count per (node, lbl),
    then argmax per node as min(struct(-cnt, lbl)) — a windowless
    argmax (tie-break identical to ROW_NUMBER ORDER BY cnt DESC, lbl
    ASC: max count, then min label). The count pair is pure
    HashAggregate; the struct-min pair is SortAggregate (struct
    buffers can't hash-aggregate) but still PARTIAL + FINAL — the
    map-side partial combines before the exchange and its sort runs
    over the already-count-combined (node, lbl) pairs, strictly less
    than a per-node ROW_NUMBER window sorting the raw vote stream.
    No Window node appears in the plan (pinned). Labels stay (node, lbl) longs; the adjacency
    never re-derives (managed_cache, the graph_triangles discipline).
    At 100 TB: rounds are a fixed constant, each costing one m-row
    hash join + two combine-heavy aggs on skew-resistant keys — the
    celebrity-node label fan-IN is absorbed map-side by the partial
    count."""
    e = managed_cache(_copurchase_edges(spark, sf_dir))
    adj = managed_cache(
        e.select(F.col("pa").alias("u"), F.col("pb").alias("nbr")).unionAll(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("nbr"))
        )
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        best = votes.groupBy("u").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))).alias(
                "b"
            )
        )
        labels = best.select(F.col("u").alias("node"), F.col("b.lbl").alias("lbl"))
    return labels.select("node", F.col("lbl").alias("community_id"))


_KCORE_K = 2       # the 2-core: iteratively prune degree-<2 whiskers
_KCORE_ROUNDS = 9  # oracle unroll bound: measured fixpoint 4 (sf0.001),
                   # 5 (sf0.01), 7 (sf0.1); 9 keeps a >=2-round margin
                   # at every SF an oracle ever runs at. The ENGINE
                   # loops to the true fixpoint (monotone peel), so its
                   # result is R-independent; rounds-vs-rounds+1
                   # equality is pinned in tests.


def _kcore_oracle(n_rounds: int = _KCORE_ROUNDS) -> str:
    K = _KCORE_K
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(f"""k{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, COUNT(*) AS d
    FROM (SELECT pa AS node FROM e{r - 1}
          UNION ALL SELECT pb AS node FROM e{r - 1})
    GROUP BY node) WHERE d >= {K}),
e{r} AS MATERIALIZED (
  SELECT pa, pb FROM e{r - 1}
  WHERE pa IN (SELECT node FROM k{r})
    AND pb IN (SELECT node FROM k{r}))""")
    body = ",\n".join(rounds)
    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
{body}
SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT pa AS node FROM e{n_rounds}
      UNION ALL SELECT pb AS node FROM e{n_rounds})
GROUP BY node
"""


@register("graph_kcore", oracle=_kcore_oracle(), category="G")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE of the co-purchase graph (k=2): iteratively delete every
    node of degree < k until none remains (Seidman 1983; the Batagelj–
    Zaveršnik peel as synchronous rounds), then emit each surviving
    node with its degree INSIDE the core. The 2-core is the standard
    graph-cleaning pass — it strips tree-like whiskers and pendant
    chains so community detection (graph_label_prop) and triangle
    statistics run on the cyclic backbone; on this corpus it removes
    ~26% of nodes. Peeling is MONOTONE (nodes only ever leave), so
    unlike LPA a true fixpoint exists and the engine runs to it: a
    driver loop that localCheckpoints the surviving edge set each
    round and stops when the edge count stops falling (edge-count
    stability ⟺ no deletion ⟺ fixpoint; the connected_components
    termination discipline). The oracle unrolls _KCORE_ROUNDS ≥
    measured-fixpoint rounds, and rounds-vs-rounds+1 equality is
    pinned, so the loop-vs-unroll equivalence is hash-checked every
    round.

    Per round: one partial-aggregable degree count over the edge
    endpoints + two left-semi joins (edges ⋉ surviving nodes on each
    endpoint) — all narrow 2-long rows; round count is a data property
    (whisker chain depth, 4–7 here, O(log n) typical), not a tuning
    knob. At 100 TB each round is one agg + two hash semi-joins on m
    edges; the localCheckpoint bounds lineage exactly like CC."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    n = e.count()
    for _ in range(50):  # safety cap; measured fixpoint is 4-7 rounds
        deg = (
            e.select(F.col("pa").alias("node"))
            .unionAll(e.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        nxt = (
            e.join(keep.withColumnRenamed("node", "pa"), "pa", "leftsemi")
            .join(keep.withColumnRenamed("node", "pb"), "pb", "leftsemi")
            .localCheckpoint(eager=True)
        )
        m = nxt.count()
        if m == n:
            break
        e, n = nxt, m
    return (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )
