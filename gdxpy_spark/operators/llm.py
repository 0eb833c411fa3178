"""SURVEY §2.2 category K — LLM-data-pipeline operators.

Dedup, text analysis, and similarity search over the `documents` and
`embeddings` tables. These are the ops a 100 TB training-data pipeline
runs, so each docstring notes the scale path; MinHash/LSH variants live
here too (signature generation oracle-weak — hash functions are
engine-specific by nature).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from gdxpy_spark.operators._util import (
    davg,
    fan_out,
    global_row_number,
    global_running_sum,
    managed_cache,
    r4,
    sql_davg,
    word_shingles,
)
from gdxpy_spark.registry import register
from gdxpy_spark.tables import table

log = logging.getLogger(__name__)


@register(
    "llm_exact_dedup",
    oracle="""
SELECT sha256(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    category="K",
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content hash → keep the smallest doc_id per hash.
    Scale: the groupBy shuffles 32-byte hashes + ids, never text bodies;
    Spark's partial aggregation collapses duplicates map-side first."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "llm_token_wordcount",
    oracle="""
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
WHERE token <> ''
GROUP BY token
""",
    category="K",
)
def llm_token_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token frequencies (split → explode → count). The explode
    multiplies rows before the shuffle, but partial aggregation collapses
    per-partition counts so the shuffle carries |vocab| rows per task."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "llm_tf",
    oracle="""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents) t
  WHERE token <> ''
  GROUP BY doc_id, token)
SELECT doc_id, token AS top_token, cnt AS top_cnt
FROM (SELECT doc_id, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, token ASC) AS rn
      FROM tf) r
WHERE rn = 1
""",
    category="K",
)
def llm_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequency; emit the top term per document
    (tiebreak: token ascending)."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_token"), F.col("cnt").alias("top_cnt"))
    )


@register(
    "llm_doc_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       {sql_davg('n_chars', 'avg_chars')},
       {sql_davg("len(string_split(text, ' '))", 'avg_tokens')}
FROM documents
GROUP BY lang
""",
    category="K",
)
def llm_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, avg chars, avg token count —
    the quality-scoring primitives of a data pipeline."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        davg("n_chars", "avg_chars"),
        davg(F.size(F.split("text", " ")), "avg_tokens"),
    )


# --- cosine similarity machinery -------------------------------------------

def _with_norm(e: DataFrame) -> DataFrame:
    sq = F.transform(F.col("embedding"), lambda v: v.cast("double") * v.cast("double"))
    return e.withColumn(
        "norm", F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_COS_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
           FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label,
       ROUND(SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                 * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
             / (a.norm * b.norm), 4) + 0.0 AS cos_sim
FROM e a
JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
CROSS JOIN generate_series(1, 64) AS t(i)
WHERE i <= len(a.embedding)
GROUP BY a.vec_id, b.vec_id, a.label, a.norm, b.norm
"""


@register("llm_cosine_pairs", oracle=_COS_ORACLE, category="K")
def llm_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity within each label block (vec_id_a <
    vec_id_b). Blocking by label keeps the work O(n²/blocks); each block
    computes its upper-triangle similarities with ONE BLAS matmul inside
    applyInPandas (the join + per-pair higher-order fold it replaces is
    interpreted per element and measured ~3× slower at sf0.1). Output is
    the pair rows themselves, so O(pairs-within-block) rows are inherent
    to the semantics. At 100 TB the label would be an LSH/IVF bucket id
    from llm_minhash_sig-style hashing, keeping blocks bounded."""
    import numpy as np
    import pandas as pd

    # NULL labels form their own applyInPandas group, but the equi-join
    # semantics this operator models (and the SQL oracle) drop them —
    # filter explicitly so the two stay aligned if nulls ever appear
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(F.col("label").isNotNull())
    )

    def pairs_in_label(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_id_a": [], "vec_id_b": [], "label": [], "cos_sim": []}
            ).astype({"vec_id_a": "int64", "vec_id_b": "int64",
                      "label": "int32", "cos_sim": "float64"})
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["embedding"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        ia, ib = np.triu_indices(len(ids), k=1)
        return pd.DataFrame(
            {
                "vec_id_a": ids[ia],
                "vec_id_b": ids[ib],
                "label": np.full(len(ia), pdf["label"].iloc[0], dtype="int32"),
                "cos_sim": cos[ia, ib],
            }
        )

    return (
        e.groupBy("label")
        .applyInPandas(
            pairs_in_label,
            schema="vec_id_a BIGINT, vec_id_b BIGINT, label INT, cos_sim DOUBLE",
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            "label",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


_KNN_ORACLE = """
WITH e AS (SELECT vec_id, label, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
           FROM embeddings),
pairs AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           / (a.norm * b.norm) AS cos_sim
  FROM e a
  JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
  CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE i <= len(a.embedding)
  GROUP BY a.vec_id, b.vec_id, a.norm, b.norm
)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM pairs) t
WHERE rn = 1
"""


@register("llm_knn_topk", oracle=_KNN_ORACLE, category="K")
def llm_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 nearest neighbor per vector within its label block. The
    baseline ANN path: exact within a block, blocks bounded — the IVF
    pattern where `label` is the coarse centroid assignment.

    Physical strategy: one shuffle on label, then a per-block BLAS
    matmul inside applyInPandas that emits only each vector's best
    neighbor (block-size rows) — the O(block²) candidate pairs never
    materialize as rows (a join+HOF-fold formulation was ~4× slower at
    sf0.1: interpreted higher-order functions per pair vs one vectorized
    matmul per block). Because every vector has exactly one label, the
    per-block best IS the global best — no second shuffle, no window."""
    # NULL-label rows would group together and emit pairs; the modeled
    # equi-join (and the oracle) drop them — keep semantics join-aligned
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(F.col("label").isNotNull())
    )

    return (
        e.groupBy("label")
        .applyInPandas(
            _self_best,  # shared matmul-argmax kernel
            schema="vec_id BIGINT, nn_id BIGINT, cos_sim DOUBLE",
        )
        .select(
            "vec_id",
            "nn_id",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


# Fixed (a, b, p) permutation parameters — deterministic across runs.
# First 4 are llm_minhash_sig's; the banded-LSH dedup uses all 8
# (4 bands × 2 rows, see llm_minhash_dedup).
_MINHASH_PERMS8 = [(1299721, 217645177), (15485863, 982451653),
                   (32452843, 57885161), (49979687, 715225739),
                   (86028121, 512927357), (104395301, 779361797),
                   (122949823, 316234393), (141650939, 27644437)]
_MINHASH_PERMS = _MINHASH_PERMS8[:4]
_MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime; keeps a·u32+b in-range)


def _md5_u32(t):
    """Column: the first 32 bits of md5(t) as a non-negative BIGINT.
    This is the MinHash base hash — md5 instead of the r1–r10 crc32
    PRECISELY so DuckDB can compute the identical value
    (CAST('0x'||substr(md5(t),1,8) AS BIGINT)), which upgrades every
    MinHash-family query from weak/rows-only to a full value-hash
    oracle (r10 verdict directive #4). Cost: md5 is ~2-3× crc32 per
    token but is computed ONCE per token (callers hash the token array
    first, then apply all permutations to the integer)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")


def _md5_u60(t):
    """Column: the first 60 bits of md5(t) as BIGINT — the token-set
    injection for the verify stage (cross-engine twin:
    CAST('0x'||substr(md5(t),1,15) AS BIGINT)). 60 bits keep the
    collision probability for ~10²-token sets below 1e-14 while
    fitting BIGINT without sign games in either engine."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


def _perm_hash(a: int, b: int):
    """One-arg lambda factory over the PRE-HASHED token integer (Spark
    binds higher-order-function lambdas by arity, so the permutation
    constants must be closed over). a·u32+b peaks at ~6e17 < 2^63."""

    def f(u):
        return (u * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P)

    return f


_MINHASH_SIG_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS u
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents)
)
SELECT doc_id,
       MIN((u * 1299721 + 217645177) % 2147483647) AS sig0,
       MIN((u * 15485863 + 982451653) % 2147483647) AS sig1,
       MIN((u * 32452843 + 57885161) % 2147483647) AS sig2,
       MIN((u * 49979687 + 715225739) % 2147483647) AS sig3
FROM tok GROUP BY doc_id
"""


@register("llm_minhash_sig", oracle=_MINHASH_SIG_ORACLE, category="K")
def llm_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 permutations) per document over its distinct
    token set: sig_i = min over tokens of (a_i·md5_u32(token) + b_i
    mod p). Entirely JVM-side array math (one md5 per token, then
    transform + array_min per permutation) — per-doc cost is
    O(tokens + perms·tokens-integer-ops) with no shuffle at all; the
    LSH band join built on top is llm_length_blocking's bucket pattern.
    Full value-hash oracle since r11: the md5-u32 base hash is
    engine-portable, so DuckDB computes the identical signatures."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    hashed = toks.select(
        "doc_id", F.transform("tokens", _md5_u32).alias("u")
    )
    cols = [
        F.array_min(F.transform(F.col("u"), _perm_hash(a, b))).alias(f"sig{i}")
        for i, (a, b) in enumerate(_MINHASH_PERMS)
    ]
    return hashed.filter(F.size("u") > 0).select("doc_id", *cols)


_BLOCK_ORACLE = """
WITH tok AS (
  SELECT DISTINCT doc_id, n_chars // 100 AS bucket,
         unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS (
  -- abs(Δbucket) <= 1: adjacent-bucket probing, same pair set as the
  -- engine's probe-replica scheme (each doc probes buckets b and b+1)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON abs(a.bucket - b.bucket) <= 1 AND a.token = b.token
       AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common), 4)
           AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.2
"""


def bitmask_jaccard_pairs(
    spark: SparkSession, items: DataFrame, threshold: float
) -> DataFrame:
    """Blocked exact set-Jaccard over (doc_id, bucket, token) rows via
    dictionary-encoded bitmasks.

    Token sets become fixed-width bitmasks (⌈|vocab|/64⌉ longs per doc),
    the pair join carries only (doc_id, bucket, n_tok, mask), and
    Jaccard = popcount(a AND b) / (n_a + n_b - popcount). Measured at
    sf0.1 this is ~3× faster than the exploded (bucket, token) join and
    ~8× faster than per-pair string array_intersect — the verify step is
    pure bit ops inside whole-stage codegen, and shuffled rows are a few
    dozen bytes regardless of document length.

    The token→id dictionary is PER BUCKET, built with partitioned
    ranking, never a global sort: ids only need to be consistent between
    docs that can actually meet in the pair join — i.e. within one
    blocking bucket — so each distinct (bucket, token) gets a dense rank
    from a ``row_number`` window PARTITIONED BY bucket (one local sort
    per bucket, parallel across buckets, no single-partition
    WindowExec). Mask width is PER BUCKET too — ⌈|vocab_b|/64⌉ longs,
    carried in-plan as a metadata-sized (bucket, _nw) broadcast join, so
    plan construction runs NO Spark job (r5: the old version collect()ed
    a global max-vocab to bake the width in as a literal, which forced
    blocked_jaccard_auto's callers to materialize the whole cached token
    lineage at BUILD time even when this path's branch was empty —
    ~3 s/query at sf0.1; zip_with pairs only meet within one bucket, so
    equal widths were never needed ACROSS buckets in the first place).
    At 100 TB the per-bucket vocab is bounded by the blocking design
    (length buckets / MinHash bands), while corpus vocab is unbounded —
    the per-bucket dictionary is what makes bitmasks viable at all.
    Fallback for huge buckets: 64-bit token hash into b-bit signatures
    (SimHash-style collision odds).

    The pair join also carries a SIZE PREFILTER: Jaccard ≤ min(n_a,n_b)
    / max(n_a,n_b), so pairs with min < t·max cannot reach the
    threshold and are pruned before the mask fold — exact, and at
    t=0.8 it eliminates most of the per-pair popcount work.

    Cache lifetime: the per-doc mask frame is cached because the
    self-join would recompute the explode+dictionary+groupBy lineage
    twice (~30% of wall time at sf0.1). Both caches go through
    _util.managed_cache, so building the NEXT registered query releases
    them — a sequential runner (driver loop, bench.py) holds at most one
    query's corpus-sized frames in executor storage at a time."""
    # the (doc, bucket, token) explode is the most expensive leaf of this
    # plan (HOF shingling / tokenization) and two consumers need it
    # (dictionary, id join) — cache it once; it is spill-able and
    # released at the next registered-query build
    items = managed_cache(items)
    vocab = items.select("bucket", "token").distinct()
    dic = vocab.withColumn(
        "tid",
        (F.row_number().over(W.partitionBy("bucket").orderBy("token")) - 1).cast(
            "bigint"
        ),
    )
    # per-bucket mask width, in-plan (one row per bucket — metadata)
    widths = vocab.groupBy("bucket").agg(
        F.ceil(F.count("*") / 64).cast("int").alias("_nw")
    )
    # n_tok is the size of the collected *set*, not COUNT(*), so a caller
    # passing a non-distinct (doc_id, bucket, token) stream still gets
    # exact set-Jaccard (the size prefilter below is only exact when
    # n_tok is the true set size)
    has_side = "side" in items.columns  # adjacent-bucket boundary groups
    extra = [F.first("side").alias("side")] if has_side else []
    ids = (
        items.join(dic, ["bucket", "token"])
        .groupBy("doc_id", "bucket")
        .agg(F.collect_set("tid").alias("ids"), *extra)
        .withColumn("n_tok", F.size("ids"))
        .join(F.broadcast(widths), "bucket")
    )
    mask = F.expr(
        "aggregate(ids, array_repeat(0L, _nw),"
        " (acc, id) -> transform(acc, (w, i) ->"
        "   CASE WHEN id div 64 = i THEN w | shiftleft(1L, CAST(id % 64 AS INT))"
        "        ELSE w END))"
    )
    # cache the per-doc masks: one row per doc (dimension-sized), but the
    # self-join would otherwise recompute the explode+dictionary+groupBy
    # lineage twice (measured ~30% of wall time at sf0.1)
    keep_cols = ["doc_id", "bucket", "n_tok"] + (["side"] if has_side else [])
    m = managed_cache(ids.select(*keep_cols, mask.alias("mask")))
    a = m.alias("a")
    b = m.alias("b")
    and_ = F.zip_with(F.col("a.mask"), F.col("b.mask"), lambda x, y: x.bitwiseAND(y))
    inter = F.aggregate(
        F.transform(and_, lambda x: F.bit_count(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    size_ok = F.least(F.col("a.n_tok"), F.col("b.n_tok")) >= F.lit(
        threshold
    ) * F.greatest(F.col("a.n_tok"), F.col("b.n_tok"))
    if has_side:
        # boundary groups: group g holds natives g (side 0) and g+1
        # (side 1). Emit side0×side0 pairs as an id-ordered triangle and
        # side0×side1 cross pairs unconditionally — side1×side1 pairs
        # belong to group g+1 (where they are its side 0). Every
        # |Δbucket| ≤ 1 pair forms exactly once, no dedup pass.
        cond = (
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.side") == 0)
            & ((F.col("b.side") == 1) | (F.col("a.doc_id") < F.col("b.doc_id")))
            & size_ok
        )
    else:
        cond = (
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok
        )
    jac = a.join(
        b,
        cond,
    ).select(
        # least/greatest normalizes cross pairs (side mode joins 0→1
        # regardless of id order); a no-op for the triangle pairs
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        (
            inter.cast("double") / (F.col("a.n_tok") + F.col("b.n_tok") - inter)
        ).alias("jaccard_raw"),
    )
    return jac.filter(F.col("jaccard_raw") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard")
    )


def _pick_row_chunks(spark, pre_rows, min_cells: int = 1 << 22) -> int:
    """Row-chunk count for the matmul path, from the already-collected
    per-group metadata (nd = docs per group): C ≈ cores/G so the G·C
    chunked groups fill the box instead of leaving cores idle behind G
    serialized gemm+emission tasks. Gated on the total pair-work being
    worth the C× token-transfer tax (tiny corpora keep C = 1), capped
    at 16 (past the core count the extra replicas buy nothing). On a
    1000-executor cluster the same arithmetic holds: G grows with the
    corpus (length buckets are population-linear) while P =
    shuffle_partitions grows with the cluster, so C degrades naturally
    to 1 exactly when group-level parallelism already saturates."""
    from gdxpy_spark.operators._util import shuffle_partitions

    work = sum(r["nd"] * r["nd"] for r in pre_rows)
    groups = sum(1 for r in pre_rows if r["nd"] > 1)
    if not groups or work < min_cells:
        return 1
    return max(1, min(16, round(shuffle_partitions(spark) / groups)))


def blocked_jaccard_pandas(
    spark: SparkSession,
    doc_tokens: DataFrame,
    threshold: float,
    n_chunks: int = 1,
) -> DataFrame:
    """Blocked exact set-Jaccard via per-bucket vectorized boolean matmul
    (the llm_cosine_pairs physical strategy applied to sets).

    Input: (doc_id, bucket, tokens ARRAY<STRING>) — one row per doc, the
    token set NOT exploded. One shuffle (groupBy bucket); inside each
    bucket an Arrow-batched applyInPandas factorizes the bucket's tokens
    into a dense id space, builds an n_docs × vocab 0/1 matrix, and gets
    ALL pairwise intersection counts from a single BLAS matmul
    (B @ B.T). Jaccard = inter / (|a|+|b|-inter) on the upper triangle,
    thresholded before anything is emitted.

    Why this beats both relational strategies on near-duplicative
    corpora (this corpus: median pairwise Jaccard ~0.63): the exploded
    (bucket, token) equi-join fans out f² pair rows per hot token
    (measured 16 s at sf0.1); the bitmask variant pays 3 shuffles +
    per-pair mask folds over ⌈vocab/64⌉ longs (3.5 s). The matmul does
    the same popcount arithmetic at BLAS speed with zero pair-row
    traffic (measured ~1 s). The trade: a whole bucket must fit one
    task's memory (n_docs × vocab bytes) — guaranteed here by the
    blocking design, and the distributed bitmask_jaccard_pairs remains
    the fallback shape for buckets that outgrow a task.

    Contract: `tokens` must be duplicate-free per row (callers pass
    array_distinct output); sizes are row-wise array lengths.

    ADJACENT-BUCKET BOUNDARY GROUPS (opt-in): if the input carries a
    `side` column, group g holds the docs of native bucket g (side 0)
    and native bucket g+1 (side 1), and only side0×side0 (id-ordered
    triangle) and side0×side1 (cross) pairs are evaluated — side1×side1
    pairs belong to group g+1, where those docs are its side 0. Every
    |Δbucket| ≤ 1 pair forms exactly once with ONE n0×(n0+n1) gemm per
    group — half the cells of the earlier probe-replica scheme, which
    evaluated the full (n0+n1)² block (r4 bench: 5.89 s / 4.43 s for
    the two blocked-Jaccard queries at sf0.1; the replica tax was
    VERDICT r4 'what's wrong' #1).

    ROW CHUNKS (n_chunks > 1, r8): with G groups and one task per
    group, G < cores leaves the rest of the box idle while the hot
    groups' gemm AND their pair emission (the measured floor on
    near-duplicative corpora: millions of Arrow rows per group)
    serialize through G Python workers. Each doc is assigned one
    deterministic row-chunk (pmod(xxhash64(doc_id), C)); docs are
    replicated to every (bucket, chunk) group as COLUMNS, but act as
    gemm ROWS only in their own chunk — so the per-pair evaluation rule
    is unchanged and each unordered pair still forms exactly once (in
    the row-doc's chunk), while gemm cells and emission spread over G·C
    tasks. Cost: token transfer ×C (tokens are the small side — pair
    output dominates by orders of magnitude on corpora where this
    matters); blocked_jaccard_auto picks C ≈ cores/G from the same
    metadata probe that routes bucket strategy, so the chunking is
    load-adaptive, not a constant. Equality with the unchunked kernel
    is pinned by tests/test_text_analysis.py::
    test_blocked_jaccard_chunked_equals_unchunked."""
    import numpy as np
    import pandas as pd

    has_side = "side" in doc_tokens.columns
    chunked = n_chunks > 1
    if chunked:
        cs = F.broadcast(
            spark.range(n_chunks).select(F.col("id").cast("int").alias("_chunk"))
        )
        row_pred = (F.col("side") == 0) if has_side else F.lit(True)
        doc_tokens = doc_tokens.crossJoin(cs).withColumn(
            "_is_row",
            row_pred
            & (
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_chunks)).cast("int")
                == F.col("_chunk")
            ),
        )
    group_keys = ["bucket", "_chunk"] if chunked else ["bucket"]

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="int64"),
                "doc_b": pd.Series(dtype="int64"),
                "jaccard_raw": pd.Series(dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ids = pdf["doc_id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        toks = pdf["tokens"].to_numpy()[order]
        lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
        if not lens.sum():
            return empty
        if isinstance(toks[0], np.ndarray) and toks[0].dtype.kind in "iu":
            # integer token ids (e.g. packed trigram codes): concatenate
            # without boxing and factorize at integer speed (per-array
            # int64 cast so an empty cell can't upcast the concat to
            # float64, which would lose code bits above 2⁵³)
            codes, uniques = pd.factorize(
                np.concatenate([t.astype(np.int64, copy=False) for t in toks])
            )
        else:
            codes, uniques = pd.factorize(pd.array([t for ts in toks for t in ts]))
        B = np.zeros((n, len(uniques)), dtype=np.float32)
        B[np.repeat(np.arange(n), lens), codes] = 1.0
        sizes = lens.astype(np.float32)  # counts ≤ vocab ≤ 2²⁴ (routed): f32-exact
        # All 2-D threshold math stays float32: inter and union are small
        # integer counts (< 2²⁴), hence EXACT in float32 — only the
        # division is inexact, so the 2-D pass uses a loosened threshold
        # (margin ≫ f32 division error) to pick CANDIDATE cells, and the
        # exact float64 jaccard is computed on the gathered 1-D
        # survivors. Near-duplicative corpora emit millions of pairs per
        # group (sf0.1 words@0.2: ~1.5 M from one group); halving the
        # bytes the dense pass touches was ~0.4 s/group of the kernel.
        loose = np.float32(threshold) - np.float32(1e-4)
        # gemm ROWS: side-0 docs (boundary groups), restricted to this
        # chunk's row-owners when chunked; COLUMNS are always the whole
        # group. The per-pair rule below fires each unordered pair in
        # exactly one (group, row-doc) combination.
        side = (
            pdf["side"].to_numpy(np.int64)[order]
            if has_side
            else np.zeros(n, dtype=np.int64)
        )
        if chunked:
            rowmask = pdf["_is_row"].to_numpy(bool)[order]
        else:
            rowmask = side == 0
        i0 = np.flatnonzero(rowmask)
        if len(i0) == 0:
            return empty  # e.g. bottom boundary group: only side-1 docs
        inter = B[i0] @ B.T
        union = sizes[i0][:, None] + sizes[None, :] - inter
        keep = inter >= loose * union
        # triangle rule on side-0 columns (strict id order also kills
        # self-pairs), unconditional on side-1 ones
        keep &= (side == 1)[None, :] | (ids[i0][:, None] < ids[None, :])
        ka, kb = np.nonzero(keep)
        jac = inter[ka, kb].astype(np.float64) / np.maximum(
            union[ka, kb].astype(np.float64), 1.0
        )
        ex = jac >= threshold
        da, db = ids[i0][ka[ex]], ids[kb[ex]]
        return pd.DataFrame(
            {
                # cross pairs join 0→1 regardless of id order; normalize
                "doc_a": np.minimum(da, db),
                "doc_b": np.maximum(da, db),
                "jaccard_raw": jac[ex],
            }
        )

    out = doc_tokens.groupBy(*group_keys).applyInPandas(
        pairs, "doc_a BIGINT, doc_b BIGINT, jaccard_raw DOUBLE"
    )
    # round in Spark, not numpy: Spark/DuckDB ROUND is HALF_UP, np.round
    # is half-even — rounding JVM-side keeps the oracle hash exact
    return out.select("doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard"))


def blocked_jaccard_auto(
    spark: SparkSession,
    doc_tokens: DataFrame,
    threshold: float,
    max_cells: int = 1 << 28,
) -> DataFrame:
    """Blocked exact set-Jaccard with AUTOMATIC per-bucket strategy
    routing: buckets that fit one task's memory go through the BLAS
    matmul (blocked_jaccard_pandas, fastest measured strategy); buckets
    that would not are routed to the fully-distributed bitmask path
    (bitmask_jaccard_pairs) instead of OOMing a Python worker.

    Input is ONE ROW PER DOC: either (doc_id, bucket, tokens) for plain
    same-bucket pairing, or (doc_id, native, tokens) for adjacent-bucket
    pairing (|Δbucket| ≤ 1) — in native mode this function builds the
    side-tagged boundary groups itself (bucket b as side 0 + group b-1
    as side 1; see blocked_jaccard_pandas for the per-group pair rule),
    so the cached frame is the UNREPLICATED doc-level one (half the
    bytes of caching the replicas, the r4 scheme).

    The routing probe is ONE aggregate over the UNREPLICATED exploded
    token stream (one output row per native bucket — metadata-sized;
    in adjacent mode group g's stats are then assembled metadata-side
    as bucket-g + bucket-(g+1) sums, so the probe never pays the 2×
    boundary-group explode), estimating the TRUE matmul memory model —
    the n_docs × vocab indicator matrix and the n_docs × n_docs
    intersection matrix:

        is_big  ⇔  n_docs·vocab > max_cells  ∨  n_docs² > max_cells

    with n_docs/vocab as approx_count_distinct sketches (routing is a
    perf decision, not a correctness one — both strategies compute EXACT
    Jaccard, so a ±5 % HLL error can only move a borderline bucket onto
    the other exact path). r4 used the data-independent bound
    vocab ≤ Σ|tokens|, which over-routed by orders of magnitude on
    low-vocab corpora (sf0.1 trigrams: true vocab 377 vs Σtok ≈ 350k —
    every big bucket took the 3-shuffle bitmask path for nothing).
    max_cells = 2²⁸ ≈ 1 GiB of float32 — conservative for a worker with
    a few GiB. Since r5 the routing DECISION is driver-side: the probe
    collect()s ONE ROW PER BUCKET (metadata-sized — bucket counts are
    bounded by the blocking design, not the corpus) and only the
    branches with data are built. The r4 in-plan broadcast-flag join
    looked purer but cost real time for nothing: the broadcast already
    forced the probe to complete before the main stages (so driver-side
    routing serializes NOTHING extra, at any scale), while the
    usually-empty bitmask branch still executed its full 7-shuffle
    cascade as ~1.3 s of empty-partition AQE stage latency per query at
    sf0.1, plus a per-row flag join on the data path. When both
    branches are live the split is a literal `isin` on the big-bucket
    list (compact: big buckets are the exception). Length-blocked bucket
    populations grow linearly with the corpus, so at 100 TB the
    big-bucket branch is not an edge case — it is where the volume
    lands, and it degrades to the 3-shuffle bitmask plan rather than a
    task OOM.

    Contract: threshold > 0 (a doc with no tokens can never reach a
    positive Jaccard; whichever branch sees it emits nothing for it)."""
    doc_tokens = managed_cache(doc_tokens)
    adjacent = "native" in doc_tokens.columns
    if adjacent:
        replicated = doc_tokens.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(F.col("native").alias("bucket"), F.lit(0).alias("side")),
                    F.struct(
                        (F.col("native") - 1).alias("bucket"), F.lit(1).alias("side")
                    ),
                )
            ).alias("g"),
            "tokens",
        ).select(
            "doc_id",
            F.col("g.bucket").alias("bucket"),
            F.col("g.side").alias("side"),
            "tokens",
        )
        side = ["side"]
    else:
        replicated = doc_tokens
        side = []
    # TWO-PHASE PROBE (r6). Phase A is a no-explode aggregate over the
    # doc-level frame — nd = docs per bucket, ub = Σ|tokens| (a hard
    # upper bound on the bucket vocab). If EVERY group passes the
    # routing predicate even at the vocab upper bound, no bucket can be
    # big and the exploded-HLL probe never runs: at bench scale that is
    # ~1 s/query of explode+sketch replaced by a metadata aggregate.
    # Only when some group's BOUND trips does phase B (the HLL probe)
    # run to route precisely — so r4's over-routing from the ub
    # estimate cannot recur: ub only ever decides "provably small",
    # never "big".
    key = F.col("native" if adjacent else "bucket").alias("bucket")
    pre = (
        doc_tokens.select(key, F.size("tokens").alias("_len"))
        .groupBy("bucket")
        .agg(F.count("*").alias("nd"), F.sum("_len").alias("ub"))
    )
    if adjacent:
        up0 = pre.select((F.col("bucket") - 1).alias("bucket"),
                         F.col("nd").alias("nd1"), F.col("ub").alias("ub1"))
        pre = (
            pre.join(up0, "bucket", "full_outer")
            .na.fill(0, ["nd", "ub", "nd1", "ub1"])
            .select("bucket", (F.col("nd") + F.col("nd1")).alias("nd"),
                    (F.col("ub") + F.col("ub1")).alias("ub"))
        )
    # one cheap job: pre is one row per GROUP — metadata-sized by the
    # blocking design. The collected rows answer BOTH routing questions:
    # can any group be big (phase-B trigger), and how many groups carry
    # pair work (the row-chunk parallelism pick).
    pre_rows = pre.collect()
    n_chunks = _pick_row_chunks(spark, pre_rows)
    maybe_big = any(
        r["nd"] * r["ub"] > max_cells
        or r["nd"] * r["nd"] > max_cells
        or r["ub"] > (1 << 24)
        for r in pre_rows
    )
    if not maybe_big:
        return blocked_jaccard_pandas(
            spark, replicated, threshold, n_chunks=n_chunks
        )

    # phase B: sketch the TRUE per-bucket vocab over the exploded
    # stream (unreplicated: half the explode volume in native mode);
    # group g's stats are then assembled metadata-side as bucket-g +
    # bucket-(g+1) sums — exact for nd, an upper bound for vocab
    # (|Vg ∪ Vg+1| ≤ |Vg| + |Vg+1|), i.e. conservative routing
    stats = (
        doc_tokens.select(
            "doc_id",
            F.col("native" if adjacent else "bucket").alias("bucket"),
            F.explode("tokens").alias("token"),
        )
        .groupBy("bucket")
        .agg(
            F.approx_count_distinct("doc_id").alias("nd"),
            F.approx_count_distinct("token").alias("nv"),
        )
    )
    if adjacent:
        up = stats.select((F.col("bucket") - 1).alias("bucket"),
                          F.col("nd").alias("nd1"), F.col("nv").alias("nv1"))
        stats = (
            stats.join(up, "bucket", "full_outer")
            .na.fill(0, ["nd", "nv", "nd1", "nv1"])
            .select(
                "bucket",
                (F.col("nd") + F.col("nd1")).alias("nd"),
                (F.col("nv") + F.col("nv1")).alias("nv"),
            )
        )
    big_buckets = [
        r["bucket"]
        for r in stats.filter(
            (F.col("nd") * F.col("nv") > F.lit(max_cells))
            | (F.col("nd") * F.col("nd") > F.lit(max_cells))
            # f32-exactness guard: the matmul path's inter/union counts
            # are exact in float32 only below 2^24, and for any pair in
            # the bucket union(A,B) <= |bucket vocab| = nv. A small-nd
            # bucket can still carry a huge vocab (nd*nv under max_cells
            # with nd<=16), so bound nv explicitly — such buckets take
            # the integer bitmask path, which is exact at any count.
            | (F.col("nv") > F.lit(1 << 24))
        )
        .select("bucket")
        .collect()  # one row per BIG bucket — metadata-sized by design
    ]
    if not big_buckets:
        # the common case: no routing join, no empty fallback branch
        return blocked_jaccard_pandas(
            spark, replicated, threshold, n_chunks=n_chunks
        )
    small = replicated.filter(~F.col("bucket").isin(big_buckets)).select(
        "doc_id", "bucket", *side, "tokens"
    )
    big = replicated.filter(F.col("bucket").isin(big_buckets)).select(
        "doc_id", "bucket", *side, F.explode("tokens").alias("token")
    )
    # re-pick chunking over the SMALL remainder only (r8 advice): the
    # global n_chunks was sized from ALL groups' pair work, so when the
    # big buckets dominate that sum the small path would be over-chunked
    # — up to 16× token replication for groups with little pair work.
    big_set = set(big_buckets)
    small_chunks = _pick_row_chunks(
        spark, [r for r in pre_rows if r["bucket"] not in big_set]
    )
    return blocked_jaccard_pandas(
        spark, small, threshold, n_chunks=small_chunks
    ).unionByName(bitmask_jaccard_pairs(spark, big, threshold))


@register("llm_length_blocking", oracle=_BLOCK_ORACLE, category="K")
def llm_length_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates: block by length bucket (n_chars // 100) WITH
    adjacent-bucket pairing — pairs form for |Δbucket| ≤ 1, so a
    Jaccard ≥ 0.2 pair whose lengths straddle a boundary (99 vs 101
    chars) is found instead of silently missed. Each doc lands in two
    boundary groups: its own bucket b as side 0 and group b-1 as side 1;
    group g evaluates side0 triangle + side0×side1 cross pairs only
    (see blocked_jaccard_pandas), each pair exactly once. Routes
    through blocked_jaccard_auto: per-bucket matmul for task-sized
    buckets, distributed bitmask for oversized ones."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("n_chars") / 100).cast("bigint").alias("native"),
        F.array_remove(F.array_distinct(F.split("text", " ")), "").alias("tokens"),
    )
    return blocked_jaccard_auto(spark, tok, 0.2)


_BRUTE_ORACLE = """
WITH e AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
           FROM embeddings),
pairs AS (
  SELECT a.vec_id, b.vec_id AS nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           / (a.norm * b.norm) AS cos_sim
  FROM e a
  JOIN e b ON a.vec_id <> b.vec_id
  CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE i <= len(a.embedding)
  GROUP BY a.vec_id, b.vec_id, a.norm, b.norm
)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM pairs) t
WHERE rn = 1
"""


def _auto_blocks(sf_dir: str, target_bytes: int = 256 << 20) -> int:
    """Pick the block count for the block-nested-loop ops from the
    embeddings file size — driver-side fs metadata, no Spark job (the
    plan-construction-is-job-free invariant is test-pinned). Each
    block-pair group holds ~2/B of the table, so B ≈ size/target keeps
    per-task slices bounded as the data grows; clamped to [4, 64]
    (B=64 ⇒ 2080 groups, plenty of parallelism at any cluster size)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        size = 0
    return max(4, min(64, -(-size // target_bytes)))


def _block_pair_replicas(e: DataFrame, n_blocks: int) -> DataFrame:
    """Replicate each vector into every block-pair group it belongs to.

    Vectors get a deterministic block ``blk = pmod(xxhash64(vec_id), B)``;
    crossing with the B possible partner blocks and normalizing to
    ``(lo, hi) = (min, max)`` sends each vector to exactly B groups.
    Cross-block pairs meet exactly once (in group (min, max)); same-block
    pairs co-occur in every group containing their block, so group
    functions must evaluate CROSS pairs in mixed (lo≠hi) groups and
    within pairs only in the diagonal (k, k) group — then every
    unordered pair is evaluated exactly once. This is the distributed
    block-nested-loop layout for exact all-pairs work: shuffle volume is
    n·B rows, per-task memory is O(n/B · dim), and no full-table collect
    or broadcast exists anywhere. B is chosen so a group's slice fits
    executor memory (B ≈ n·dim·8 / task_mem); _auto_blocks sizes it."""
    spark = e.sparkSession
    js = F.broadcast(
        spark.range(n_blocks).select(F.col("id").cast("int").alias("j"))
    )
    return (
        e.withColumn(
            "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int")
        )
        .crossJoin(js)
        .withColumn("lo", F.least("blk", "j"))
        .withColumn("hi", F.greatest("blk", "j"))
        .drop("j")
    )


def _group_arrays(pdf):
    """(ids, mat, norms) for one pandas group, sorted by vec_id so a
    first-hit argmax tie-breaks to the smallest id."""
    import numpy as np

    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    return ids, mat, norms


def _cross_cos(pdf):
    """Group splitter for the block-nested-loop kernels. Returns None
    for a diagonal (lo == hi) group — handle within-block pairs via
    _self_best — else (ia, ib, cos) with the cross-block cosine matrix
    (ia/ib ascending; cos is None when one side is empty, i.e. no cross
    pairs exist in this group)."""
    lo, hi = int(pdf["lo"].iloc[0]), int(pdf["hi"].iloc[0])
    if lo == hi:
        return None
    a = pdf[pdf["blk"] == lo]
    b = pdf[pdf["blk"] == hi]
    if len(a) == 0 or len(b) == 0:
        return (), (), None
    ia, ma, na = _group_arrays(a)
    ib, mb, nb = _group_arrays(b)
    return ia, ib, (ma @ mb.T) / (na[:, None] * nb[None, :])


def _nn_empty():
    import pandas as pd

    return pd.DataFrame({"vec_id": [], "nn_id": [], "cos_sim": []}).astype(
        {"vec_id": "int64", "nn_id": "int64", "cos_sim": "float64"}
    )


def _self_best(pdf):
    """Per-vector best neighbor within one group (self excluded)."""
    import numpy as np
    import pandas as pd

    if len(pdf) < 2:
        return _nn_empty()
    ids, mat, norms = _group_arrays(pdf)
    cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
    np.fill_diagonal(cos, -np.inf)
    best = cos.argmax(axis=1)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "nn_id": ids[best],
            "cos_sim": cos[np.arange(len(best)), best],
        }
    )


@register("llm_knn_brute", oracle=_BRUTE_ORACLE, category="K")
def llm_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global brute-force nearest neighbor (no blocking) — the exact
    baseline every ANN variant (llm_knn_topk's IVF-style label blocks,
    llm_ann_lsh's hyperplane buckets) is measured against.

    Physical strategy: distributed block-nested-loop. Vectors are hashed
    into B blocks; each of the B(B+1)/2 block-pair groups computes its
    pairwise cosines with one numpy (BLAS) matmul inside applyInPandas
    and emits only the per-vector best WITHIN the group (≤ group-size
    rows, never group-size² join rows — a join+HOF-fold formulation
    measured 33 s at sf0.1 vs ~2 s for matmul). A final n·B-row window
    picks the global best. O(n²·d) flops are inherent to exact brute
    force, but work is spread across all executors, per-task memory is
    O(n/B·d), and — unlike the round-1 version — NOTHING is collected
    to or broadcast from the driver. At 100 TB exact brute force is a
    recall-measurement tool on a bounded sample; production similarity
    goes through llm_ann_lsh / llm_ann_ivf."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rep = _block_pair_replicas(e, n_blocks=_auto_blocks(sf_dir))

    def best_in_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cross = _cross_cos(pdf)
        if cross is None:  # diagonal group: within-block pairs, here only
            return _self_best(pdf)
        # mixed group: CROSS pairs only (same-block pairs belong to their
        # own diagonal group — evaluating them here would duplicate work)
        ia, ib, cos = cross
        if cos is None:
            return _nn_empty()
        best_b = cos.argmax(axis=1)  # best hi-side partner per lo vector
        best_a = cos.argmax(axis=0)  # best lo-side partner per hi vector
        return pd.DataFrame(
            {
                "vec_id": np.concatenate([ia, ib]),
                "nn_id": np.concatenate([ib[best_b], ia[best_a]]),
                "cos_sim": np.concatenate(
                    [
                        cos[np.arange(len(ia)), best_b],
                        cos[best_a, np.arange(len(ib))],
                    ]
                ),
            }
        )

    per_group = rep.groupBy("lo", "hi").applyInPandas(
        best_in_group, schema="vec_id BIGINT, nn_id BIGINT, cos_sim DOUBLE"
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nn_id").asc())
    return (
        per_group.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


_EMBED_DEDUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding,
                  sqrt(list_aggregate(list_transform(embedding,
                       v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
           / (a.norm * b.norm) AS cos_sim
  FROM e a
  JOIN e b ON a.vec_id < b.vec_id
  CROSS JOIN generate_series(1, 64) AS t(i)
  WHERE i <= len(a.embedding)
  GROUP BY a.vec_id, b.vec_id, a.norm, b.norm
)
SELECT vec_b AS dup_id, MIN(vec_a) AS kept_id,
       ROUND(MAX(cos_sim), 4) + 0.0 AS max_cos
FROM pairs WHERE cos_sim >= 0.4
GROUP BY vec_b
"""


@register("llm_embed_dedup", oracle=_EMBED_DEDUP_ORACLE, category="K")
def llm_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup: a vector is a duplicate if some
    lower-id vector has cosine ≥ τ (τ=0.4 here — this corpus's vectors
    are near-orthogonal, max pairwise cos ≈ 0.51, so only genuine
    near-pairs qualify); emit (dup_id, kept lower id, max_cos). The
    lower-id-survives rule is the same greedy rule as llm_exact_dedup's
    MIN(doc_id).

    Physical strategy: the same distributed block-nested-loop as
    llm_knn_brute (_block_pair_replicas) — every vector pair meets in
    exactly one block-pair group, each group matmuls its slice and emits
    per-vector partial survivors (kept-id min / cos max over the group's
    qualifying lower-id hits), and a final groupBy folds the partials
    with MIN/MAX (both associative, so group-then-global equals the
    all-pairs oracle exactly). No driver collect, no full-table
    broadcast, O(n/B·d) task memory. Exact τ-threshold dedup is
    inherently O(n²·d) flops; at 100 TB the candidate generation is
    LSH-bucketed instead (llm_minhash_dedup / llm_ann_lsh) and this
    exact verify runs only within buckets."""
    import pandas as pd

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rep = _block_pair_replicas(e, n_blocks=_auto_blocks(sf_dir))
    TAU = 0.4

    def dedup_in_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"dup_id": [], "kept_id": [], "max_cos": []}).astype(
            {"dup_id": "int64", "kept_id": "int64", "max_cos": "float64"}
        )
        out = []
        cross = _cross_cos(pdf)
        if cross is None:  # diagonal group: within-block pairs, here only
            if len(pdf) < 2:
                return empty
            ids, mat, norms = _group_arrays(pdf)
            cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
            for row_i, vid in enumerate(ids):
                hits = (ids < vid) & (cos[row_i] >= TAU)
                if hits.any():
                    out.append(
                        (int(vid), int(ids[hits].min()), float(cos[row_i][hits].max()))
                    )
        else:  # mixed group: cross-block pairs only
            ia, ib, cos = cross
            if cos is None:
                return empty
            for row_i, vid in enumerate(ia):
                hits = (ib < vid) & (cos[row_i, :] >= TAU)
                if hits.any():
                    out.append(
                        (int(vid), int(ib[hits].min()), float(cos[row_i, hits].max()))
                    )
            for col_j, vid in enumerate(ib):
                hits = (ia < vid) & (cos[:, col_j] >= TAU)
                if hits.any():
                    out.append(
                        (int(vid), int(ia[hits].min()), float(cos[hits, col_j].max()))
                    )
        if not out:
            return empty
        return pd.DataFrame(out, columns=["dup_id", "kept_id", "max_cos"])

    partials = rep.groupBy("lo", "hi").applyInPandas(
        dedup_in_group, schema="dup_id BIGINT, kept_id BIGINT, max_cos DOUBLE"
    )
    return partials.groupBy("dup_id").agg(
        F.min("kept_id").alias("kept_id"),
        (F.round(F.max("max_cos"), 4) + F.lit(0.0)).alias("max_cos"),
    )


def _lsh_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed-seed PRNG, ±1 entries)."""
    import random

    rng = random.Random(42)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def _lsh_signature(n_bits: int = 6, dim: int = 64):
    """Column: the n_bits hyperplane sign bits of `embedding` packed into
    one BIGINT bucket key (fixed-seed planes — deterministic across runs
    and shared by every LSH operator and test)."""
    sig = None
    for j, p in enumerate(_lsh_planes(n_bits, dim)):
        plane = F.array(*[F.lit(x) for x in p])
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return sig


def _auto_n_bits(n: int, target_bucket: int = 32, lo: int = 6, hi: int = 24) -> int:
    """Size the hyperplane count from the corpus so buckets stay
    target-sized: 2^n_bits buckets ⇒ E[bucket] ≈ n / 2^n_bits. A FIXED
    bit count is quadratic at scale (E[within-bucket pairs] = n²/2^bits
    grows as n²), so bits must grow with log₂(n/target). `lo` keeps
    test-scale corpora on the historical 6-bit signature; `hi` bounds
    plane-evaluation cost (24 bits ≈ 0.5G vectors at target 32)."""
    import math

    if n <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket))))


def lsh_candidate_pairs(
    bucketed: DataFrame,
    n_probe_bits: int = 0,
    max_bucket: int = 64,
    q_probes: DataFrame | None = None,
) -> DataFrame:
    """ANN candidate id pairs (vec_id, nn_id) from (vec_id, bucket) rows
    — ids only; embeddings NEVER ride the bucket join (same design rule
    as minhash_band_pairs: the skew-prone shuffle carries two longs per
    row, the fat arrays join back per-candidate afterwards).

    Skew cap, ported from minhash_band_pairs: buckets larger than
    ``max_bucket`` (boilerplate / duplicated vectors collapsing into one
    signature) switch from all-pairs to REPRESENTATIVE CHAINING — the
    bucket's min vec_id stands in as the index entry, every member pairs
    with it (both directions, so the hub also receives its members as
    candidates). A b-sized bucket costs O(b) candidates instead of b²,
    every vector still gets ≥1 candidate, and the residual recall loss
    is the approximate-by-design contract the weak check declares.

    ``n_probe_bits`` > 0 adds query-side multiprobe: each vector also
    probes the Hamming-1 flips of its own bucket key (index side stays
    single-bucket — the standard multiprobe trade). ``q_probes``
    generalizes that for non-hamming bucket spaces (IVF cells): an
    explicit (vec_id, bucket) probe frame replaces the query side —
    e.g. each vector's 2 nearest centroids — while the index side stays
    the top-1 assignment."""
    bsz = bucketed.groupBy("bucket").agg(
        F.count("*").alias("bsize"), F.min("vec_id").alias("rep")
    )
    bd = bucketed.join(bsz, "bucket")
    idx_small = bd.filter(F.col("bsize") <= max_bucket).select("bucket", "vec_id")
    idx_rep = (
        bd.filter(F.col("bsize") > max_bucket)
        .select("bucket", F.col("rep").alias("vec_id"))
        .distinct()
    )
    index_ids = idx_small.unionByName(idx_rep)
    if q_probes is not None:
        q_ids = q_probes.select("vec_id", "bucket")
    elif n_probe_bits > 0:
        probes_arr = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_probe_bits)],
        )
        q_ids = bucketed.select(
            "vec_id", F.explode(probes_arr).alias("bucket")
        )
    else:
        q_ids = bucketed
    q = q_ids.alias("q")
    x = index_ids.alias("x")
    cand = q.join(x, F.col("q.bucket") == F.col("x.bucket")).filter(
        F.col("q.vec_id") != F.col("x.vec_id")
    ).select(F.col("q.vec_id").alias("vec_id"), F.col("x.vec_id").alias("nn_id"))
    # hub → members back-edges for capped buckets (members already get
    # hub as a candidate via the join; this gives the hub its side)
    star_back = bd.filter(
        (F.col("bsize") > max_bucket) & (F.col("vec_id") != F.col("rep"))
    ).select(F.col("rep").alias("vec_id"), F.col("vec_id").alias("nn_id"))
    return cand.unionByName(star_back).distinct()


def _cosine_top1(e: DataFrame, cand: DataFrame) -> DataFrame:
    """Join candidate id pairs back to their embeddings, exact cosine,
    keep each vector's best neighbor (window partitioned by vec_id —
    never a global window)."""
    ea = e.select("vec_id", F.col("embedding").alias("emb_a"), F.col("norm").alias("norm_a"))
    eb = e.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    scored = (
        cand.join(ea, "vec_id")
        .join(eb, "nn_id")
        .select(
            "vec_id",
            "nn_id",
            (_dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cos_sim"
            ),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


def _lsh_oracle(multiprobe: bool) -> str:
    """DuckDB twin of llm_ann_lsh(_multiprobe), generated. Everything
    engine-specific is in fact deterministic and portable: the ±1
    hyperplanes are fixed-seed literals (inlined below — exactly
    representable doubles, so both engines see identical planes);
    n_bits is recomputed IN SQL from COUNT(*) with _auto_n_bits'
    formula (the oracle string is static but the corpus size isn't);
    bucket keys, the 64-cap representative chaining, multiprobe
    Hamming-1 fan-out, exact cosine and the (cos DESC, nn_id ASC)
    top-1 all mirror lsh_candidate_pairs/_cosine_top1 stage by stage.
    Projection/dot sums use the same SUM-over-generate_series shape as
    _COS_ORACLE (the established cross-engine float pattern).

    ACCEPTED FLOAT RISK (r11 advice): the bucket bit is the UNROUNDED
    sign of the projection sum, and DuckDB's group SUM may associate
    differently than Spark's left-to-right F.aggregate fold — a
    projection within summation-order error (~1e-13 relative) of 0
    could flip a bit and cascade into whole-row mismatches. This is
    deliberate: quantizing (ROUND(proj, 9)) before the sign test only
    MOVES the knife-edge to the ±5e-10 rounding boundary without
    shrinking its measure, so it buys nothing. For ±1-plane dots over
    64 ~unit-scale terms, P(|sum| < 1e-13) ≈ 1e-14 per projection →
    ~5e-11 per full run at sf0.01 — the same order as every
    ROUND-guarded float elsewhere in this file."""
    planes = _lsh_planes(24, 64)
    plane_rows = ",\n".join(
        "    ({}, [{}])".format(
            j, ", ".join(("1.0" if x > 0 else "-1.0") for x in p)
        )
        for j, p in enumerate(planes)
    )
    probe = """
  UNION ALL
  SELECT vec_id, xor(bucket, (1::BIGINT << CAST(j AS INT))) AS bucket
  FROM buck CROSS JOIN generate_series(0, 23) t(j)
  WHERE j < (SELECT nb FROM nbits)"""
    return f"""
WITH nbits AS (
  SELECT CASE WHEN cnt <= 32 THEN 6
         ELSE GREATEST(6, LEAST(24, CAST(CEIL(LOG2(cnt / 32.0)) AS INT)))
         END AS nb
  FROM (SELECT COUNT(*) AS cnt FROM embeddings)
),
planes(j, w) AS (
  VALUES
{plane_rows}
),
proj AS MATERIALIZED (
  SELECT e.vec_id, p.j,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
             * p.w[CAST(i AS INT)]) AS proj
  FROM embeddings e
  CROSS JOIN planes p
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(e.embedding) AND p.j < (SELECT nb FROM nbits)
  GROUP BY e.vec_id, p.j
),
buck AS MATERIALIZED (
  SELECT vec_id,
         SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << CAST(j AS INT))
             ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id
),
bsz AS MATERIALIZED (
  SELECT bucket, COUNT(*) AS bsize, MIN(vec_id) AS rep
  FROM buck GROUP BY bucket
),
bd AS MATERIALIZED (
  SELECT buck.vec_id, buck.bucket, bsize, rep FROM buck JOIN bsz USING (bucket)
),
idx AS MATERIALIZED (
  SELECT bucket, vec_id FROM bd WHERE bsize <= 64
  UNION ALL
  SELECT DISTINCT bucket, rep AS vec_id FROM bd WHERE bsize > 64
),
q AS MATERIALIZED (
  SELECT vec_id, bucket FROM buck{probe if multiprobe else ""}
),
cand AS MATERIALIZED (
  SELECT q.vec_id, x.vec_id AS nn_id
  FROM q JOIN idx x USING (bucket)
  WHERE q.vec_id <> x.vec_id
  UNION
  SELECT rep AS vec_id, vec_id AS nn_id
  FROM bd WHERE bsize > 64 AND vec_id <> rep
),
e AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
  FROM embeddings
),
scored AS MATERIALIZED (
  SELECT c.vec_id, c.nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         / (a.norm * b.norm) AS cos_sim
  FROM cand c
  JOIN e a ON a.vec_id = c.vec_id
  JOIN e b ON b.vec_id = c.nn_id
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(a.embedding)
  GROUP BY c.vec_id, c.nn_id, a.norm, b.norm
)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


@register("llm_ann_lsh", oracle=_lsh_oracle(False), category="K")
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbor: corpus-sized random-
    hyperplane sign bits (_auto_n_bits: n_bits grows with log₂(n), so
    E[bucket] stays ~constant instead of E[pairs] growing as n²) form
    the bucket key; candidate id pairs form only within a bucket with
    the representative-chaining cap (lsh_candidate_pairs), then exact
    cosine + top-1 per vector. The corpus count is one metadata-sized
    parquet count-star. Recall against llm_knn_brute is pinned by a
    planted-near-duplicate test (tests/test_ann.py); the skew cap by a
    planted-boilerplate test. Cache lifetime: the (vec_id, bucket) frame
    (two longs per row) is cached for the self-join via
    _util.managed_cache — released when the next registered query
    builds."""
    e = _with_norm(table(spark, sf_dir, "embeddings"))
    n_bits = _auto_n_bits(e.count())
    bucketed = managed_cache(e.select("vec_id", _lsh_signature(n_bits).alias("bucket")))
    return _cosine_top1(e, lsh_candidate_pairs(bucketed))


@register("llm_ann_lsh_multiprobe", oracle=_lsh_oracle(True), category="K")
def llm_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane LSH: each QUERY vector probes its own
    bucket plus all n_bits Hamming-1 neighbors (one sign bit flipped),
    the INDEX side stays single-bucket — recall rises toward the
    L-table OR-construction's without duplicating the index (the
    standard multiprobe trade: fan-out × (1+bits) on the query side
    only). n_bits is corpus-sized and buckets are skew-capped exactly
    as in llm_ann_lsh, so the multiprobe candidate set is a superset of
    the single-probe one at every scale — recall dominance is pinned in
    tests/test_ann.py."""
    e = _with_norm(table(spark, sf_dir, "embeddings"))
    n_bits = _auto_n_bits(e.count())
    bucketed = managed_cache(e.select("vec_id", _lsh_signature(n_bits).alias("bucket")))
    return _cosine_top1(e, lsh_candidate_pairs(bucketed, n_probe_bits=n_bits))


# The small-corpus floor for the dynamic IVF cell count. Used by BOTH
# _ivf_k's default `lo` and the oracle's kv CTE (_ivf_lloyd_rounds_sql)
# — a dedicated constant so tuning the unrelated llm_kmeans_lloyd's
# _KMEANS_K can never silently shift the oracle's k floor away from
# the engine's (r12 advice; they coincided at 16 by accident).
_IVF_K_FLOOR = 16


def _ivf_target_cell() -> int | None:
    """Probe/deployment override for the IVF cell-count regime: when
    GDXPS_IVF_TARGET_CELL is set, the quantizer is sized k = n/target
    (the SemDeDup-paper sizing — hold the CELL SIZE constant as the
    corpus grows) instead of the default k = √n serving optimum.

    WORKLOAD SPLIT (r12 verdict #1, MEASURED at the r13 100× probe —
    SCALE.md r13): DEDUP wants k ∝ n/target_cell for COST — it
    replaces the √n regime's O(n^1.5) candidate mass with
    O(n·target_cell), measured ×148 → ×33 wall (1276 s → 320 s at
    100×, near-linear) at statistically identical output; POINT-QUERY
    SERVING is insensitive at probe scale (×28 vs ×30) and keeps √n
    as the classic balance default. The r12 hypothesis that k-sizing
    also recovers sharded dedup RECALL was REFUTED by the same probe:
    recall is bounded by embedding clusterability (the synthetic
    near-orthogonal corpus gives shard-mixed cells at any k — 99% of
    cells span ≥5 of 100 disjoint shards), not by cell count; the
    τ=0.4-tail miss is the declared approximation, while ≥0.9
    near-twins (the paper's production dedup regime) co-cell by
    construction (planted floor pytest-pinned). ORACLE CAVEAT: the
    registered DuckDB twins replay the DEFAULT k=√n spec — run
    correctness gates with the knob unset. A value that is not a
    positive integer is logged and ignored (the √n default)."""
    import os

    tc = os.environ.get("GDXPS_IVF_TARGET_CELL")
    if not tc:
        return None
    try:
        cell = int(tc)
    except ValueError:
        cell = 0
    if cell > 0:
        return cell
    log.warning("GDXPS_IVF_TARGET_CELL=%r is not a positive integer; "
                "using the sqrt(n) cell count", tc)
    return None


def _ivf_k(n: int, lo: int = _IVF_K_FLOOR, target_cell: int = None) -> int:
    """Corpus-sized IVF cell count, k ≈ √n: the self-join/batch-query
    workload costs n·k rows in the coarse search (every vector ranks
    every centroid) plus nprobe·n·(n/k) exact cosines in the probed
    cells — k = √n balances the two at O(n^1.5) total, the classic IVF
    optimum. A FIXED k makes the candidate term 2n²/k (measured: the
    k=16 serving path read 39× at the 10× probe); k ∝ n fixes that
    term but re-creates the quadratic in the COARSE search (n·k =
    n²/256 — r10 review catch). Same family of scaling law as
    _auto_n_bits for the LSH bucket space; `lo` keeps tiny corpora on
    the historical 16 cells. The n·√n coarse-rank term this leaves was
    the last measured scale cliff (×37.6 wall at the 100× posture
    probe) — closed in r12 by the second-level quantizer over the
    centroids (_super_quantize/_ivf_probe_cells: coarse cost
    n·n^0.25), the same move FAISS makes with a coarse index over the
    centroid set.

    ``target_cell`` selects the DEDUP-COST regime instead (see
    _ivf_target_cell for the measured workload split): k =
    n/target_cell holds the CELL SIZE constant as the corpus grows, so
    the within-cell candidate mass is O(n·target_cell) — linear —
    instead of √n-cells' O(n^1.5) (measured ×148 → ×33 dedup wall at
    the 100× probe). The coarse-search n·k term this re-inflates is
    absorbed by the two-level probe's n·√k, and the large-k FIT by
    _kmeans_assign's BLAS path."""
    import math

    if target_cell:
        return max(lo, math.ceil(n / target_cell))
    return max(lo, math.ceil(math.sqrt(n)))


def ivf_mllib_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml integration DEMO (not registered since r12): the IVF
    pipeline with an MLlib KMeans coarse quantizer instead of the
    deterministic Lloyd fit. Until r11 this WAS llm_ann_ivf, weak by
    construction — MLlib's kmeans|| init and engine-specific float
    paths make the fit unreproducible in DuckDB, so the driver could
    only rows-check it. r11 verdict #6: the registered llm_ann_ivf now
    rides _lloyd_ivf_fit (same k=_ivf_k(n), same two-level probe, FULL
    value-hash oracle); this demo keeps the MLlib surface exercised
    (tests/test_ann.py smoke) for users who want the battle-tested
    kmeans|| quality on hostile distributions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").withColumn(
        "fvec", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(
        k=_ivf_k(e.count()), seed=42, featuresCol="fvec", predictionCol="cell"
    ).fit(e)
    indexed = managed_cache(_with_norm(
        model.transform(e).select("vec_id", "embedding", "cell")
    ))

    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell INT, center ARRAY<DOUBLE>",
    )
    return _ivf_candidates_top1(indexed, centers)


def _ivf_index_dir(sf_dir: str) -> str:
    """Content-addressed location of the PERSISTED IVF index for one
    dataset (same discipline as the replay/WARC fixture caches: keyed
    to the source bytes so a regenerated embeddings table can never be
    served a stale index; bump the v-tag when the index LAYOUT
    changes)."""
    import os
    import tempfile

    from gdxpy_spark.operators._util import files_fingerprint

    fp = files_fingerprint([os.path.join(sf_dir, "embeddings.parquet")])
    parent = os.path.join(tempfile.gettempdir(), "gdxpy_spark_io")
    os.makedirs(parent, exist_ok=True)
    # v4: deterministic Lloyd quantizer (sampled fit, md5 seeds) —
    # replaces v3's MLlib KMeans so the persisted index is
    # oracle-reproducible (v3: k = √n; v2: k = n/256, whose coarse
    # search re-created the quadratic; v1: fixed k=16). The spec is
    # part of the layout, so the v-tag bumps with it — and the
    # target-cell regime (r13) is part of the spec: a _tc-tagged dir
    # can never be served where the default-√n index is expected.
    tc = _ivf_target_cell()
    tag = f"_tc{tc}" if tc else ""
    return os.path.join(
        parent, f"ivf_v4_{os.path.basename(sf_dir.rstrip('/'))}_{fp}{tag}"
    )


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once half of the IVF serving split: fit the coarse
    quantizer (deterministic Lloyd at k = _ivf_k(n) — _lloyd_ivf_fit,
    same spec as llm_ann_ivf) and PERSIST the index as two parquet
    layouts under one atomically-published dir:

      centers/  — the ~√n coarse centroids (k = _ivf_k(n)),
      cells/    — (vec_id, embedding, norm) PARTITIONED BY cell, so a
                  serving probe that touches nprobe of k cells prunes
                  the untouched partitions at scan level.

    Idempotent and content-fingerprinted: every later call (any
    session) sees the _SUCCESS markers and returns without fitting —
    the production build-once/query-many contract that
    tests/test_r10_ops.py pins by making the fit raise on the second
    call."""
    import os
    import uuid as _uuid

    from gdxpy_spark.operators._util import atomic_publish

    out = _ivf_index_dir(sf_dir)

    def _complete(d: str) -> bool:
        return os.path.exists(os.path.join(d, "centers", "_SUCCESS")) and (
            os.path.exists(os.path.join(d, "cells", "_SUCCESS"))
        )

    if not _complete(out):
        asg, cents = _lloyd_ivf_fit(spark, sf_dir)
        e = _with_norm(
            table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        )
        indexed = e.join(asg.select("vec_id", "cell"), "vec_id")
        centers = spark.createDataFrame(
            [(j, c) for j, c in enumerate(cents)],
            "cell INT, center ARRAY<DOUBLE>",
        )
        build = f"{out}.build_{_uuid.uuid4().hex[:8]}"
        centers.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(build, "centers")
        )
        indexed.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(build, "cells")
        )
        atomic_publish(build, out, is_complete=_complete)
    return out


_SUPER_MEMO: dict = {}  # centers-fingerprint -> (grp_of, scents): the
# driver-side Lloyd over centroid metadata is O(k·g·d·rounds) pure
# Python — at the 10^9-vector posture (k≈31.6k, g≈178) that is >10^9
# float ops PER QUERY if recomputed on every _ivf_probe_cells call
# (r12 advice). Content-addressed like _KMEANS_MEMO; true-LRU capped.
_SUPER_MEMO_CAP = 4


def _centers_fingerprint(cells: list, cents: list) -> str:
    """md5 over the packed (cell, center bytes) stream — a content
    address for a fitted coarse quantizer (metadata-sized input)."""
    import hashlib
    import struct

    h = hashlib.md5()
    for c, vec in zip(cells, cents):
        h.update(struct.pack("<q", int(c)))
        h.update(struct.pack(f"<{len(vec)}d", *vec))
    return h.hexdigest()


def _ivf_probe_cells(
    q: DataFrame, centers: DataFrame, nprobe: int = 2, nprobe_super: int = 2
) -> DataFrame:
    """Replicate each query row (vec_id, embedding, norm) to its
    ``nprobe`` nearest persisted centroids: the IVF probe fan-out shared
    by the serving path and SemDeDup's boundary-safe candidate
    generation.

    TWO-LEVEL since r12 (the measured ×37.6 coarse-search cliff at the
    100× posture probe): the k = √n centroids are themselves grouped
    into g = √k super-groups by a deterministic driver-side Lloyd over
    centroid METADATA (_super_quantize — kilobytes, no job); each query
    ranks the g broadcast super-centroids (n·g ≈ n·n^0.25 rows), keeps
    its ``nprobe_super`` nearest groups, then ranks only THOSE groups'
    member centroids (≈ nprobe_super·n·√k rows) for the final
    ``nprobe`` cells. Total coarse cost O(n·n^0.25) instead of the flat
    rank's O(n·n^0.5); both rank windows shuffle narrow (id, d2) rows
    partitioned by vec_id — r13 made that claim TRUE in the plan: the
    distance frames project the embedding away BEFORE each window (the
    new test_plans.py Exchange audit caught n·g rank rows carrying the
    512-byte embedding through the shuffle), and the vectors are
    equi-joined back exactly twice (once for the level-2 distances,
    once for the final output) — O(n) embedding rows per pass instead
    of O(n·g) through the rank. Approximation surface: a true nearest
    cell whose super-group is outside the query's top-``nprobe_super``
    groups is not probed — recall floors pinned in tests/test_ann.py.
    Centroids below 9 stay on the flat single-level rank (a hierarchy
    over <3 groups prunes nothing)."""
    spark = q.sparkSession

    def d2_against(center_col):
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                center_col,
                lambda v, c: (v.cast("double") - c) * (v.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    wq = W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    crows = sorted(centers.collect(), key=lambda r: r["cell"])
    k = len(crows)
    if k < 9:
        picked = (
            q.select("vec_id", "embedding")
            .crossJoin(F.broadcast(centers))
            .withColumn("d2", d2_against(F.col("center")))
            .select("vec_id", "cell", "d2")
            .withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .select("vec_id", "cell")
        )
        return picked.join(q, "vec_id").select(
            "vec_id", "embedding", "norm", "cell"
        )
    cents = [[float(x) for x in r["center"]] for r in crows]
    cell_ids = [int(r["cell"]) for r in crows]
    sfp = _centers_fingerprint(cell_ids, cents)
    memo_ok, memo_hit = _memo_get(_SUPER_MEMO, sfp)
    if memo_ok:
        grp_of, scents = memo_hit
    else:
        grp_of, scents = _super_quantize(cents, cell_ids=cell_ids)
        _memo_put(_SUPER_MEMO, sfp, (grp_of, scents), _SUPER_MEMO_CAP)
    supers = spark.createDataFrame(
        [(j, sc) for j, sc in enumerate(scents)],
        "grp INT, scenter ARRAY<DOUBLE>",
    )
    memb = spark.createDataFrame(
        [(int(crows[i]["cell"]), grp_of[i], cents[i]) for i in range(k)],
        "cell INT, grp INT, center ARRAY<DOUBLE>",
    )
    ws = W.partitionBy("vec_id").orderBy(F.col("sd2").asc(), F.col("grp").asc())
    l1 = (
        q.select("vec_id", "embedding")
        .crossJoin(F.broadcast(supers))
        .withColumn("sd2", d2_against(F.col("scenter")))
        .select("vec_id", "grp", "sd2")
        .withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= nprobe_super)
        .select("vec_id", "grp")
    )
    picked = (
        l1.join(q.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(memb), "grp")
        .withColumn("d2", d2_against(F.col("center")))
        .select("vec_id", "cell", "d2")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "cell")
    )
    return picked.join(q, "vec_id").select(
        "vec_id", "embedding", "norm", "cell"
    )


def _ivf_candidates_top1(indexed: DataFrame, centers: DataFrame) -> DataFrame:
    """The IVF query tail shared by llm_ann_ivf (freshly fitted index)
    and llm_ann_ivf_served (persisted index): probe each vector's 2
    nearest centroids, equi-join probed cells against the index side,
    exact cosine, deterministic top-1 per query. `indexed` must carry
    (vec_id, embedding, norm, cell).

    The QUERY-side projection is managed_cache'd (r13): the narrowed
    probe reads it three times (level-1 rank source + two embedding
    join-backs), and uncached each read re-listed the ~k-partition
    cells layout — measured +51% serving wall at the k=3136 probe. The
    INDEX side stays an uncached scan on purpose: that is the side the
    partitionBy(cell) layout prunes for selective query batches."""
    probes = _ivf_probe_cells(
        managed_cache(indexed.select("vec_id", "embedding", "norm")),
        centers,
        nprobe=2,
    )
    qa = probes.alias("q")
    xa = indexed.alias("x")
    cand = qa.join(
        xa,
        (F.col("q.cell") == F.col("x.cell"))
        & (F.col("q.vec_id") != F.col("x.vec_id")),
    ).select(
        F.col("q.vec_id").alias("vec_id"),
        F.col("x.vec_id").alias("nn_id"),
        (
            _dot(F.col("q.embedding"), F.col("x.embedding"))
            / (F.col("q.norm") * F.col("x.norm"))
        ).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("nn_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


def connected_components(
    spark: SparkSession, edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Connected components by the alternating large-star / small-star
    algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over an
    undirected edge list (cols: doc_a, doc_b) → (doc_id, component_id =
    min doc_id in the component).

    Why this and not min-label propagation (the r1–r10 implementation):
    label propagation re-joins the FULL edge list every round — per-round
    cost is O(|E|) forever, and the 100× posture probe measured ×21 wall
    for the CC stage (r10 verdict perf-weak #2). Star contraction instead
    REWRITES the edge set each round: large-star hangs every node's
    larger neighbors directly off the neighborhood minimum, small-star
    does the same for the smaller neighbors, so dense neighborhoods
    (exactly what near-dup clusters are) collapse to stars in one or two
    rounds and |E| contracts toward one edge per non-root node. Each
    round is two shuffles (a groupBy-min and an equi-join back on the
    star center) over a SHRINKING relation — O(log² n) rounds worst
    case, ~3–4 on dedup graphs.

    Invariants (proved in the paper, pinned in tests against planted
    clusters and a label-propagation twin): both operations preserve
    connectivity, never orient an edge away from the component minimum,
    and at the fixpoint the edge set is a forest of stars rooted at each
    component's minimum node — so (child, root) edges ARE the labels.
    Convergence is detected STRUCTURALLY within the round: the edge set
    is a star forest iff no parent is itself a child (an (x,y),(y,z)
    chain join is empty) and every child has exactly one parent
    (count == countDistinct(child)) — two metadata-light actions,
    where comparing consecutive edge sets (the r11-initial check) costs
    one extra FULL contraction round just to observe no change. A star
    forest is provably stable under both operations, so stopping there
    is exact. localCheckpoint() cuts lineage each round — without it
    the plan doubles per iteration and the job dies long before 100 TB.
    This is the non-SQL-expressible iterative shape (SURVEY §5: the
    driver records rows-only for it)."""
    import warnings

    # orient every edge (big, small) and materialize ONCE: the upstream
    # edge pipeline (for dedup callers: the full blocked-Jaccard /
    # MinHash candidate pass) must not re-execute per round
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        # large-star: every node u sends its LARGER neighbors to
        # m = min(N(u) ∪ {u}); symmetric view feeds the groupBy
        sym = e.select("u", "v").union(e.select(F.col("v"), F.col("u")))
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # r14 optimization round: ls is NOT checkpointed — the small-star
        # job below consumes it twice (groupBy-min branch + join branch),
        # and both branches share ls's distinct-Exchange subtree via
        # ReusedExchange, so one materialization per round (ss) replaces
        # the former two eager jobs (guide §2.4: operations keyed the
        # same way share one exchange; measured before/after in
        # OPTIMIZATION_r14.md). Lineage is still cut once per round by
        # the ss checkpoint, so plan growth stays bounded exactly as
        # before.
        ls = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges are (big, small) by construction, so the
        # groupBy key u sees only smaller neighbors; hang them all
        # (and u itself) off the minimum
        smin = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint: ss is a star forest ⇔ every child has exactly one
        # parent AND no parent is itself a child — then it is provably
        # stable under both star operations and IS the answer (see
        # docstring; detecting here saves the extra observation round)
        n_edges, n_children = ss.agg(
            F.count("*"), F.count_distinct("u")
        ).first()
        if n_edges == n_children:
            no_chains = (
                ss.alias("a")
                .join(ss.alias("b"), F.col("a.v") == F.col("b.u"), "left_semi")
                .isEmpty()
            )
            if no_chains:
                e = ss
                converged = True
                break
        e = ss
    if not converged:
        warnings.warn(
            f"connected_components: max_iters={max_iters} reached before "
            "the star-contraction fixpoint — components with very long "
            "min-paths may be under-merged; raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edge set is a star forest (child, root): children label
    # with their root, roots label with themselves
    return (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
        .union(
            e.select(F.col("v").alias("doc_id"), F.col("v").alias("component_id"))
            .distinct()
        )
    )


def _cc_prop_rounds_sql(n_rounds: int) -> str:
    """SQL fragment: `n_rounds` of pointer-doubling min-label
    propagation over CTEs `sym` (symmetric edge list u,v) and `lab0`
    (node id → own id). Each round is two O(|E|) hash joins + one
    groupBy — NO transitive-closure row blow-up (the reason the old
    recursive-CTE oracle was unusable at sf0.1: its reachability
    relation materializes Σ_v deg(v)·|reach(v)| rows, measured >500 s;
    this form stays one label per node per round). Propagated
    min-distance is 2^k−1 after k rounds (neighbor-min step doubles
    via the label-of-label chase), so 6 rounds cover any component the
    near-dup corpora can produce; convergence at the configured depth
    is pinned in tests (round n−1 output == round n output)."""
    parts = []
    prev = "lab0"
    for k in range(1, n_rounds + 1):
        parts.append(
            f"nbr{k} AS MATERIALIZED (SELECT s.u AS id, MIN(l.lab) AS nl FROM sym s "
            f"JOIN {prev} l ON s.v = l.id GROUP BY s.u),\n"
            f"hop{k} AS MATERIALIZED (SELECT a.id, LEAST(a.lab, COALESCE(n.nl, a.lab)) AS lab "
            f"FROM {prev} a LEFT JOIN nbr{k} n USING (id)),\n"
            f"lab{k} AS MATERIALIZED (SELECT h.id, LEAST(h.lab, COALESCE(l2.lab, h.lab)) AS lab "
            f"FROM hop{k} h LEFT JOIN {prev} l2 ON h.lab = l2.id)"
        )
        prev = f"lab{k}"
    return ",\n".join(parts)


_CC_ROUNDS = 6


def _cc_star_rounds_sql(n_rounds: int, first: str = "se0", prefix: str = "") -> str:
    """SQL fragment: `n_rounds` of the alternating large-star/small-star
    contraction itself (the same algorithm connected_components runs),
    starting from CTE `{first}(u, v)` holding DISTINCT (big, small)
    oriented edges. Use this — not _cc_prop_rounds_sql — for SPARSE
    graphs: min-label propagation's label-of-label chase does not truly
    double on long thin paths (measured: the sf0.1 co-purchase graph
    was still merging at 12 label rounds), while star contraction
    converges in O(log² n) rounds on any topology (4–5 measured on the
    same graph). Ends at CTE {{prefix}}se{n_rounds}; at convergence that
    edge set is the (child → component-min root) star forest. ``prefix``
    namespaces every generated CTE (r14: a composite oracle that unrolls
    TWO independent CC chains in one WITH — mm_e2e_dedup's perceptual +
    semantic stages — would otherwise collide on sym/lmin/ls/smin/se)."""
    parts = []
    cur = first
    p = prefix
    for k in range(n_rounds):
        parts.append(f"""
{p}sym{k} AS MATERIALIZED (
  SELECT u, v FROM {cur} UNION ALL SELECT v, u FROM {cur}),
{p}lmin{k} AS MATERIALIZED (
  SELECT u, LEAST(MIN(v), u) AS m FROM {p}sym{k} GROUP BY u),
{p}ls{k} AS MATERIALIZED (
  SELECT DISTINCT s.v AS u, l.m AS v
  FROM {p}sym{k} s JOIN {p}lmin{k} l USING (u)
  WHERE s.v > s.u AND s.v <> l.m),
{p}smin{k} AS MATERIALIZED (
  SELECT u, MIN(v) AS m FROM {p}ls{k} GROUP BY u),
{p}se{k + 1} AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT l.v AS u, s.m AS v FROM {p}ls{k} l JOIN {p}smin{k} s USING (u)
    WHERE l.v <> s.m
    UNION ALL
    SELECT u, m AS v FROM {p}smin{k}
  ))""")
        cur = f"{p}se{k + 1}"
    return ",".join(parts)

_CLUSTERS_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, bucket, token FROM (
    SELECT doc_id, n_chars // 100 AS bucket,
           unnest(list_distinct(string_split(text, ' '))) AS token
    FROM documents)
  WHERE token <> ''
),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON abs(a.bucket - b.bucket) <= 1 AND a.token = b.token
       AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.8
),
sym AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges
),
lab0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lab FROM sym),
{_cc_prop_rounds_sql(_CC_ROUNDS)}
SELECT id AS dup_id, lab AS kept_id FROM lab{_CC_ROUNDS} WHERE id <> lab
"""


@register("llm_dedup_clusters", oracle=_CLUSTERS_ORACLE, category="K")
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    length-blocked exact-Jaccard graph at the DEDUP threshold (0.8 —
    A~B and B~C put A,C in one cluster even when A≁C directly; the
    pairwise survivor rule under-merges chains). Output: every clustered
    doc with its component id (= kept doc); singletons omitted.
    Thresholds are deliberately different per stage: 0.2 is the
    candidate-RECALL setting (llm_length_blocking — on this planted
    near-dup corpus it connects almost everything, which is what a
    candidate stage is for), 0.8 is where documents are actually
    duplicates and clustering is meaningful.

    Check level: FULL value-hash oracle since r11. The edge set is
    fully deterministic (exact Jaccard, not LSH) and the components are
    resolved in SQL by UNROLLED pointer-doubling min-label propagation
    (_cc_prop_rounds_sql) — one label per node per round, two O(|E|)
    joins each, so the oracle runs in <1 s at sf0.1 where the previous
    recursive reachability CTE materialized Σ_v deg(v)·|reach(v)| rows
    (>500 s) and had to stay a pytest-only twin."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("n_chars") / 100).cast("bigint").alias("native"),
        F.array_remove(F.array_distinct(F.split("text", " ")), "").alias(
            "tokens"
        ),
    )
    pairs = blocked_jaccard_auto(spark, tok, 0.8).select("doc_a", "doc_b")
    cc = connected_components(spark, pairs)
    return cc.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("dup_id"), F.col("component_id").alias("kept_id")
    )


_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
st AS (
  SELECT doc_id, ts, unnest(range(0, len(ts), 24)) AS i
  FROM toks WHERE len(ts) > 0)
SELECT doc_id,
       CAST(i // 24 AS INT) AS chunk_idx,
       CAST(i AS INT) AS chunk_start,
       array_to_string(ts[CAST(i AS INT) + 1 : CAST(i AS INT) + 32], ' ')
         AS chunk_text,
       CAST(len(ts[CAST(i AS INT) + 1 : CAST(i AS INT) + 32]) AS INT)
         AS n_tok
FROM st
"""


@register("llm_chunk_overlap", oracle=_CHUNK_ORACLE, category="K")
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW document chunking — the step that turns a cleaned
    corpus into model-ready training examples: window W=32 tokens,
    stride S=24, so consecutive chunks share a W−S=8-token overlap (the
    standard trick so no span is ever seen only at a context boundary;
    same shape RAG indexers use for passage windows). Emits chunk index,
    token offset, the chunk text, and its true token count (tail chunks
    run short rather than being padded — packing is llm_pack_sequences'
    job downstream).

    Scale: chunk STARTS are generated with sequence() and exploded —
    ~n_tokens/S rows per doc, each carrying one array slice; the whole
    plan is scan → generate → project with NO shuffle and no Python, so
    it streams at 100 TB (output ~(W/S)× input bytes — that fan-out is
    inherent to overlap, not a plan artifact). Rows parallelize by input
    split; a skewed mega-doc costs only its own chunk count. The guard
    filter (size > 0) keeps Spark's sequence() off the empty-array
    illegal-bounds path; DuckDB's range(0,0) is empty by definition —
    both drop token-less docs."""
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    chunk = F.slice(F.col("ts"), F.col("i") + 1, 32)
    return (
        d.select("doc_id", toks.alias("ts"))
        .filter(F.size("ts") > 0)
        .select(
            "doc_id",
            "ts",
            F.explode(
                F.sequence(F.lit(0), F.size("ts") - 1, F.lit(24))
            ).alias("i"),
        )
        .select(
            "doc_id",
            (F.col("i") / 24).cast("int").alias("chunk_idx"),
            F.col("i").cast("int").alias("chunk_start"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("int").alias("n_tok"),
        )
    )


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id
FROM c
"""


@register("llm_pack_sequences", oracle=_PACK_ORACLE, category="K")
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-pretraining layout):
    documents are laid out as one contiguous token stream per language
    shard and sliced into fixed 2048-token windows; each doc reports the
    window (`bin_id`) its first token lands in. One running-sum window
    PARTITIONED BY the shard key (lang) — a single shuffle, in-partition
    sort, no global ordering anywhere. At 100 TB the shard key is
    (shard_hash, lang) so partitions stay bounded; packing quality is
    identical because windows never cross shards in this layout."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start_offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start_offset / F.lit(2048)).cast("bigint").alias("bin_id"),
    )


def _doc_token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens) with tokens the distinct non-empty word set."""
    return docs.select(
        "doc_id",
        F.array_distinct(F.array_remove(F.split("text", " "), "")).alias("tokens"),
    ).filter(F.size("tokens") > 0)


def minhash_band_pairs(
    docs: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_bucket: int = 64,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs: MinHash signatures → band-key
    blocking → exact Jaccard verify. Returns (doc_a, doc_b, jaccard)
    with doc_a < doc_b and jaccard ≥ threshold.

    The classic subquadratic text-dedup pipeline:

    1. sig_i = min over tokens of (a_i·md5_u32(token)+b_i mod p), all
       JVM-side array math (one md5 per token, then transform +
       array_min per permutation), zero shuffle. md5 (not crc32 /
       xxhash64) so DuckDB computes identical signatures — this is what
       makes the whole dedup SQL-oracle-able (r11).
    2. band key j = the band's ``rows_per_band`` signature values packed
       injectively into one BIGINT (base-p positional: k·p + next, all
       sigs < p = 2³¹−1, so r=2 peaks < 2⁶²) — collision-FREE by
       construction, unlike a hash of the tuple, so the candidate set
       is exactly "agree on ALL rows of SOME band" in both engines:
       P(candidate | Jaccard s) = 1−(1−s^r)^b — the S-curve that makes
       E[pairs] ≈ n²·P(collision) subquadratic for near-orthogonal
       corpora while keeping high-s recall (s=0.8 → 0.995 at b=4, r=2).
    3. candidates (id pairs only — token arrays never ride the band
       join) re-join their token sets and verify EXACT Jaccard via
       array_intersect/array_union; false positives die here, so the
       approximation only ever costs recall, never precision.

    At 100 TB: the band join is an equi-shuffle on (band, bkey) whose
    per-bucket sizes the S-curve bounds. Skewed buckets (boilerplate /
    templated docs hashing to one band key) are handled by a BUCKET CAP:
    buckets with more than ``max_bucket`` docs switch from all-pairs to
    REPRESENTATIVE CHAINING — every doc pairs only with the bucket's min
    doc_id. That turns a b-sized bucket's b²/2 candidate pairs into b−1
    while keeping every doc covered (nothing is silently dropped): for
    true boilerplate the star edges all survive the exact verify and
    connected components reassembles the full cluster through the hub;
    for an accidental hash pile-up the verify kills the false edges at
    linear cost instead of quadratic. The residual recall loss (two
    similar docs in an oversized bucket that are NOT both similar to the
    hub) still has n_bands−1 other bands to collide in. Verify cost is
    |candidates| · avg-token-set, linear-ish by construction."""
    toks = _doc_token_sets(docs)
    n_perms = n_bands * rows_per_band
    assert n_perms <= len(_MINHASH_PERMS8), "not enough fixed permutations"
    hashed = toks.select(
        "doc_id", "tokens", F.transform("tokens", _md5_u32).alias("u")
    )
    sigs = [
        F.array_min(F.transform(F.col("u"), _perm_hash(a, b))).alias(f"sig{i}")
        for i, (a, b) in enumerate(_MINHASH_PERMS8[:n_perms])
    ]
    sig_df = managed_cache(hashed.select("doc_id", *sigs))

    def _bkey(j):
        # injective base-p packing of the band's signature values
        k = F.col(f"sig{j * rows_per_band}")
        for r in range(1, rows_per_band):
            k = k * F.lit(_MINHASH_P) + F.col(f"sig{j * rows_per_band + r}")
        return k

    band_structs = [
        F.struct(F.lit(j).alias("band"), _bkey(j).alias("bkey"))
        for j in range(n_bands)
    ]
    banded = sig_df.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))
    # bucket sizes + hub (min doc_id) — an aggregate on the same
    # (band, bkey) key the pair join shuffles on, so the exchange is
    # shared; rows are (band, bkey, bsize, rep): metadata-sized
    bsz = banded.groupBy("band", "bkey").agg(
        F.count("*").alias("bsize"), F.min("doc_id").alias("rep")
    )
    bd = banded.join(bsz, ["band", "bkey"])
    small = bd.filter(F.col("bsize") <= max_bucket).select("doc_id", "band", "bkey")
    a = small.alias("a")
    b = small.alias("b")
    all_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    star_pairs = bd.filter(
        (F.col("bsize") > max_bucket) & (F.col("doc_id") != F.col("rep"))
    ).select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    cand = all_pairs.unionByName(star_pairs).distinct()
    # Verify stage shuffles 60-bit TOKEN-HASH sets, not raw token-string
    # arrays (r7): Jaccard is invariant under any injection of the token
    # vocabulary, and md5-u60 is injective on it w.h.p. (a collision
    # needs ~2^30 distinct tokens per doc pair; sets here are ~10^2, and
    # even then it only perturbs one candidate's score). At 10× data the
    # verify join's shuffle carried ~100× candidate rows × whole token
    # arrays — 8 bytes/token beats avg-word-length strings and compares
    # long-vs-long instead of string-vs-string in array_intersect. md5
    # (not xxhash64) since r11 so the hash family itself is
    # cross-engine; note the oracle verifies Jaccard on RAW token
    # strings, so an actual u60 collision (needs ~2^30 distinct tokens
    # in one pair's union; sets here are ~10^2, P ≈ 1e-14) would
    # surface as an engine/oracle score mismatch — accepted risk, NOT
    # silent agreement (r11 advice correction).
    tokh = toks.select(
        "doc_id", F.transform("tokens", _md5_u60).alias("tokh")
    )
    ta = tokh.select(F.col("doc_id").alias("doc_a"), F.col("tokh").alias("tok_a"))
    tb = tokh.select(F.col("doc_id").alias("doc_b"), F.col("tokh").alias("tok_b"))
    verified = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "jaccard_raw",
            F.size(F.array_intersect("tok_a", "tok_b")).cast("double")
            / F.size(F.array_union("tok_a", "tok_b")),
        )
        .filter(F.col("jaccard_raw") >= threshold)
    )
    return verified.select(
        "doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard")
    )


_MINHASH_DEDUP_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
),
h AS MATERIALIZED (SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS u
      FROM tok),
sig AS MATERIALIZED (
  SELECT doc_id,
         MIN((u * 1299721 + 217645177) % 2147483647) AS s0,
         MIN((u * 15485863 + 982451653) % 2147483647) AS s1,
         MIN((u * 32452843 + 57885161) % 2147483647) AS s2,
         MIN((u * 49979687 + 715225739) % 2147483647) AS s3,
         MIN((u * 86028121 + 512927357) % 2147483647) AS s4,
         MIN((u * 104395301 + 779361797) % 2147483647) AS s5,
         MIN((u * 122949823 + 316234393) % 2147483647) AS s6,
         MIN((u * 141650939 + 27644437) % 2147483647) AS s7
  FROM h GROUP BY doc_id
),
banded AS MATERIALIZED (
  SELECT doc_id, 0 AS band, s0 * 2147483647 + s1 AS bkey FROM sig
  UNION ALL SELECT doc_id, 1, s2 * 2147483647 + s3 FROM sig
  UNION ALL SELECT doc_id, 2, s4 * 2147483647 + s5 FROM sig
  UNION ALL SELECT doc_id, 3, s6 * 2147483647 + s7 FROM sig
),
bsz AS MATERIALIZED (SELECT band, bkey, COUNT(*) AS bsize, MIN(doc_id) AS rep
        FROM banded GROUP BY band, bkey),
bd AS MATERIALIZED (SELECT banded.doc_id, banded.band, banded.bkey, bsize, rep
       FROM banded JOIN bsz USING (band, bkey)),
cand AS MATERIALIZED (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey
                       AND a.doc_id < b.doc_id
    WHERE a.bsize <= 64
    UNION ALL
    SELECT rep, doc_id FROM bd WHERE bsize > 64 AND doc_id <> rep
  )
),
sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN tok a ON a.doc_id = c.doc_a
  JOIN tok b ON b.doc_id = c.doc_b AND a.token = b.token
  GROUP BY c.doc_a, c.doc_b
),
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.5
),
sym AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
lab0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS lab FROM sym),
{_cc_prop_rounds_sql(_CC_ROUNDS)}
SELECT id AS dup_id, lab AS kept_id FROM lab{_CC_ROUNDS} WHERE id <> lab
"""


@register("llm_minhash_dedup", oracle=_MINHASH_DEDUP_ORACLE, category="K")
def llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash dedup: banded-LSH candidates (minhash_band_pairs)
    → exact-Jaccard verify (≥ 0.5) → transitive clusters via
    connected_components. Output (dup_id, kept_id = min doc_id of the
    cluster), singletons omitted — same contract as llm_dedup_clusters
    but with the subquadratic MinHash candidate generator, i.e. the
    100 TB path.

    Full value-hash oracle since r11 (was weak/rows-only): the md5-u32
    MinHash family and the injective base-p band keys are computed
    identically by DuckDB, so candidates, verify and clustering are ALL
    cross-checked — the oracle replays the banding + skew-cap
    (rep-chaining) + exact-Jaccard stages in SQL and resolves components
    with unrolled pointer-doubling label propagation
    (_cc_prop_rounds_sql; the recursive-CTE closure was the blow-up that
    kept this weak). Recall on planted near-dups and the subquadratic
    candidate-count property remain pinned in
    tests/test_text_analysis.py."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_band_pairs(docs).select("doc_a", "doc_b")
    cc = connected_components(spark, pairs)
    return cc.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("dup_id"), F.col("component_id").alias("kept_id")
    )


_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS ngram
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 3)),
tr AS (SELECT doc_id AS train_id, ngram FROM g WHERE doc_id % 50 <> 0),
ev AS (SELECT doc_id AS eval_id, ngram FROM g WHERE doc_id % 50 = 0)
SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
FROM tr JOIN ev USING (ngram)
GROUP BY train_id, eval_id
HAVING COUNT(*) >= 2
"""


@register("llm_decontaminate", oracle=_DECONTAM_ORACLE, category="K")
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set DECONTAMINATION: flag (train doc, eval doc) pairs sharing
    ≥ 2 distinct word n-grams — the overlap check every serious
    pretraining pipeline runs so benchmark text doesn't leak into
    training data. Eval set = doc_id % 50 == 0 (a deterministic
    synthetic held-out split); n = 3 here because the synthetic corpus
    only yields measurable exact overlap at trigram length — production
    runs use 8-13-gram shingles on the IDENTICAL plan.

    Plan shape (the part that matters at 100 TB): per-doc DISTINCT
    shingles are generated map-side with JVM higher-order functions
    (transform over a sequence — no UDF, no explode-then-dedup shuffle
    of duplicate grams), and the contamination join is a shuffle on the
    ngram key where the EVAL side is benchmark-sized — AQE broadcasts
    it, so the train corpus is never shuffled at all; per-pair counts
    then aggregate partial-before-shuffle. At petabyte train scale you'd
    additionally hash each shingle to 64 bits to cut shuffle/broadcast
    bytes (xxhash64(ngram)); kept as raw strings here so the DuckDB
    oracle can replay the join exactly."""
    docs = table(spark, sf_dir, "documents")
    t = F.array_remove(F.split("text", " "), "")
    grams = F.when(F.size(t) >= 3, word_shingles(t, 3)).otherwise(
        F.array().cast("array<string>")
    )

    def shingled(side_filter, out_id):
        # split filter BEFORE shingling: each branch scans and shingles
        # only its own docs (the filter reaches the parquet scan), so
        # the corpus is shingled once total — not twice, as a shared
        # post-explode frame filtered two ways would be
        return docs.filter(side_filter).select(
            F.col("doc_id").alias(out_id),
            F.explode(F.array_distinct(grams)).alias("ngram"),
        )

    tr = shingled(F.col("doc_id") % 50 != 0, "train_id")
    ev = shingled(F.col("doc_id") % 50 == 0, "eval_id")
    return (
        tr.join(ev, "ngram")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= 2)
    )


_SPLIT_ORACLE = """
SELECT doc_id,
       substr(md5(CAST(doc_id AS STRING) || ':split'), 1, 2) AS bucket,
       CASE WHEN substr(md5(CAST(doc_id AS STRING) || ':split'), 1, 2) < 'cc'
            THEN 'train'
            WHEN substr(md5(CAST(doc_id AS STRING) || ':split'), 1, 2) < 'e6'
            THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("llm_train_split", oracle=_SPLIT_ORACLE, category="K")
def llm_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: split by the first two
    hex chars of md5(doc_id || ':split') — ~80/10/10 via lexicographic
    hex ranges ('00'-'cb' train = 204/256, 'cc'-'e5' val = 26/256, rest
    test). Hash-based (not random()) so the split is REPRODUCIBLE across
    runs, engines, and re-shards, and any new document routes without
    global coordination — the property a 100 TB pipeline needs (a
    random() split changes membership every execution and cannot be
    hash-verified at all). md5 + hex-substring comparison is chosen over
    engine-native hashes precisely because both Spark and DuckDB define
    it identically. Map-only; fuses with the scan."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )


_STRAT_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING) || ':sample')
                            ) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
WHERE rn <= CAST(CEIL(0.1 * n) AS BIGINT)
"""


@register("llm_sample_stratified", oracle=_STRAT_ORACLE, category="K")
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling: exactly ceil(10%) of each
    language stratum, selected by md5 rank within the stratum — the
    eval-set construction primitive (per-language quotas, reproducible
    across runs/engines, no random() so membership never churns).
    Companion to llm_train_split: split gives hash-proportional
    membership, this gives exact per-stratum counts when quotas must be
    met.

    Plan (the few-strata trap): a `Window.partitionBy(lang)` rank pushes
    each stratum through ONE task — fine for thousands of strata,
    a scale-killer for a 4-language petabyte corpus. Instead the
    per-stratum rank is derived from the scalable two-pass GLOBAL rank
    (global_row_number) over the total order (lang, md5, doc_id): ranks
    are contiguous per stratum, so rank-in-stratum = rn − min(rn per
    lang) + 1, with the per-lang min/count a metadata-sized broadcast.
    One range shuffle, no WindowExec at all, any stratum spans many
    tasks."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))).alias(
            "_k"
        ),
    )
    ranked = global_row_number(
        docs,
        ["lang", "_k", "doc_id"],
        out_col="_rn",
    )
    stats = ranked.groupBy("lang").agg(
        F.min("_rn").alias("_lo"), F.count("*").alias("_n")
    )
    return (
        ranked.join(F.broadcast(stats), "lang")
        .filter(
            F.col("_rn") - F.col("_lo") + 1
            <= F.ceil(0.1 * F.col("_n")).cast("bigint")
        )
        .select("doc_id", "lang")
    )


_TAU_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING) || ':tau')
                            ) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
WHERE rn <= LEAST(n, CAST(CEIL(8 * sqrt(n)) AS BIGINT))
"""


@register("llm_temperature_sample", oracle=_TAU_ORACLE, category="K")
def llm_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-based language rebalancing — the multilingual
    pretraining resampler (XLM-R's exponential smoothing, τ = 0.5):
    per-language quota ∝ n^τ instead of n, so head languages are
    down-weighted and tail languages keep coverage (here en's share
    drops from ~44 % of the corpus to ~31 % of the sample). Quota =
    least(n, ceil(8·√n)) with a FIXED multiplier rather than the
    Σ-normalized form: sqrt and ×8 are correctly-rounded/exact IEEE ops,
    so the quota is bit-identical on every engine, whereas normalizing
    by Σₗ √nₗ sums floats in engine-specific order and a last-ulp
    difference could flip a ceil — the classic cross-engine
    reproducibility trap in sampling code. Selection within a language
    is by md5 rank: deterministic, re-runnable, shard-stable.

    Plan: same no-WindowExec shape as llm_sample_stratified — the
    per-language rank derives from ONE two-pass global rank over
    (lang, md5, doc_id) plus a metadata-sized broadcast of per-language
    (min-rank, count), so a 4-language petabyte corpus never funnels a
    stratum through a single task."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":tau"))).alias(
            "_k"
        ),
    )
    ranked = global_row_number(
        docs,
        ["lang", "_k", "doc_id"],
        out_col="_rn",
    )
    stats = ranked.groupBy("lang").agg(
        F.min("_rn").alias("_lo"), F.count("*").alias("_n")
    )
    quota = F.least(
        F.col("_n"), F.ceil(8 * F.sqrt(F.col("_n"))).cast("bigint")
    )
    return (
        ranked.join(F.broadcast(stats), "lang")
        .filter(F.col("_rn") - F.col("_lo") + 1 <= quota)
        .select("doc_id", "lang")
    )


_SUBSTR_K = 6  # span length in words; production pipelines use 50 tokens

_SUBSTR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + {_SUBSTR_K - 1}],
                         ' ') AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - {_SUBSTR_K - 2})) AS i
        FROM toks WHERE len(ts) >= {_SUBSTR_K})),
pg AS (SELECT doc_id, gram, COUNT(*) AS m FROM g GROUP BY doc_id, gram),
tot AS (SELECT gram, SUM(m) AS t FROM pg GROUP BY gram)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_spans,
       CAST(COALESCE(SUM(m) FILTER (t >= 2), 0) AS BIGINT) AS dup_spans,
       ROUND(1.0 * COALESCE(SUM(m) FILTER (t >= 2), 0) / SUM(m), 4)
         AS dup_ratio
FROM pg JOIN tot USING (gram)
GROUP BY doc_id
"""


@register("llm_substring_dedup", oracle=_SUBSTR_ORACLE, category="K")
def llm_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN statistics (the substring-dedup pass of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): for every document, how many of its 6-word spans occur
    ≥ 2 times corpus-wide (within OR across documents) — the per-doc
    coverage number a pipeline thresholds on before cutting duplicated
    spans out of training text. k = 6 words here (the synthetic corpus's
    planted near-dups share spans at that length); production uses
    ~50-token spans on the IDENTICAL plan.

    Plan shape at 100 TB: spans are generated map-side with JVM
    higher-order functions (transform over a sequence — no UDF), then
    collapsed to (doc, span, multiplicity) by one partial-agg shuffle so
    the corpus-wide total per span is summed over pre-aggregated rows,
    not raw positions. The join back to per-doc rows is span-keyed and
    reuses the totals' partitioning. At petabyte scale you'd shuffle
    xxhash64(span) instead of span text to cut bytes (collision-safe for
    counting at 64 bits); raw strings kept here so the DuckDB oracle can
    replay the plan exactly. fan_out (r14): the span explode ran on the
    one-split toy scan's single core (A/B 0.60x, OPTIMIZATION_r14.md)."""
    k = _SUBSTR_K
    docs = fan_out(table(spark, sf_dir, "documents"), spark)
    t = F.array_remove(F.split("text", " "), "")
    g = (
        docs.filter(F.size(t) >= k)
        .select("doc_id", F.explode(word_shingles(t, k)).alias("gram"))
    )
    pg = g.groupBy("doc_id", "gram").agg(F.count("*").alias("m"))
    tot = pg.groupBy("gram").agg(F.sum("m").alias("t"))
    dup_m = F.sum(F.when(F.col("t") >= 2, F.col("m")).otherwise(F.lit(0)))
    return (
        pg.join(tot, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_spans"),
            dup_m.alias("dup_spans"),
            F.round(dup_m / F.sum("m"), 4).alias("dup_ratio"),
        )
    )


_CUT_ORACLE = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
g AS MATERIALIZED (
  SELECT doc_id, i,
         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + {_SUBSTR_K - 1}],
                         ' ') AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - {_SUBSTR_K - 2})) AS i
        FROM toks WHERE len(ts) >= {_SUBSTR_K})),
dupg AS MATERIALIZED (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
cov AS MATERIALIZED (
  SELECT DISTINCT doc_id, j
  FROM (SELECT doc_id, unnest(range(i, i + {_SUBSTR_K})) AS j
        FROM g JOIN dupg USING (gram))),
w AS (
  SELECT doc_id, j, ts[CAST(j AS INT)] AS word
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS j FROM toks)),
agg AS (
  SELECT w.doc_id,
         COUNT(*) AS n_words,
         COUNT(*) FILTER (cov.j IS NOT NULL) AS cut_words,
         COALESCE(string_agg(w.word, ' ' ORDER BY w.j)
                  FILTER (cov.j IS NULL), '') AS clean_text
  FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.j = cov.j
  GROUP BY w.doc_id)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(cut_words AS BIGINT) AS cut_words,
       clean_text,
       ROUND(1.0 * cut_words / n_words, 4) + 0.0 AS cut_ratio
FROM agg
"""


@register("llm_substring_cut", oracle=_CUT_ORACLE, category="K")
def llm_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup CUT itself (Lee et al. 2021 §3.1 "ExactSubstr"
    — the rewrite stage downstream of llm_substring_dedup's statistics):
    emit the CLEANED corpus, each document's text with every word
    covered by a ≥2-multiplicity 6-word span excised. A word is cut iff
    ANY duplicated span covers it, so overlapping spans merge into one
    excision — the coverage-union semantics the paper applies with
    50-token spans on the identical plan.

    Plan shape at 100 TB: spans are generated map-side (word_shingles
    JVM HOFs) and counted by one partial-agg shuffle; the duplicated
    grams (a small fraction of distinct grams) join back to positions
    gram-keyed; per-doc cut-start positions collapse to ONE array row
    per doc (collect_set — state bounded by the doc's own length, the
    same order as the text column itself), and the excision is pure
    JVM HOFs: flatten/transform expands starts to covered word indexes,
    filter-with-index drops them, array_join rebuilds the text. No UDF,
    no per-word row explosion on the rebuild side, and the corpus text
    crosses exactly one shuffle (the doc_id join of starts back to
    text). Integer positions make the rewrite DuckDB-bit-reproducible —
    the oracle replays cover/excise exactly.

    Consistency with llm_substring_dedup is pinned in pytest: cut_words
    is bounded by [dup_spans, 6·dup_spans] and the cut-doc set equals
    the dup_spans>0 set. fan_out (r14): same single-split span-explode
    wall as llm_substring_dedup (A/B 0.49x, OPTIMIZATION_r14.md)."""
    k = _SUBSTR_K
    docs = fan_out(table(spark, sf_dir, "documents"), spark)
    t = F.array_remove(F.split("text", " "), "")
    base = docs.select("doc_id", t.alias("ts"))
    g = base.filter(F.size("ts") >= k).select(
        "doc_id",
        F.posexplode(word_shingles(F.col("ts"), k)).alias("i0", "gram"),
    )
    dupg = (
        g.groupBy("gram")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") >= 2)
        .select("gram")
    )
    starts = (
        g.join(dupg, "gram")
        .select("doc_id", (F.col("i0") + 1).alias("i"))
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
    )
    j = base.join(starts, "doc_id", "left").withColumn(
        "covered",
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.coalesce(F.col("starts"), F.array().cast("array<int>")),
                    lambda s: F.sequence(s, s + F.lit(k - 1)),
                )
            )
        ),
    )
    kept = F.filter(
        F.col("ts"),
        lambda w, i: ~F.array_contains(F.col("covered"), i + F.lit(1)),
    )
    nw = F.size("ts").cast("bigint")
    nc = F.size("covered").cast("bigint")
    return j.select(
        "doc_id",
        nw.alias("n_words"),
        nc.alias("cut_words"),
        F.array_join(kept, " ").alias("clean_text"),
        (F.round(nc / nw, 4) + F.lit(0.0)).alias("cut_ratio"),
    )


_REP_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents),
g AS (
  SELECT doc_id,
         ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
        FROM toks WHERE len(ts) >= 2)),
pg AS (SELECT doc_id, gram, COUNT(*) AS m FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       ROUND(1.0 * COALESCE(SUM(m) FILTER (m >= 2), 0) / SUM(m), 4)
         AS dup_bigram_frac,
       ROUND(1.0 * MAX(m) / SUM(m), 4) AS top_bigram_frac,
       (1.0 * COALESCE(SUM(m) FILTER (m >= 2), 0) / SUM(m)) <= 0.2 AS keep
FROM pg
GROUP BY doc_id
"""


@register("llm_repetition_filter", oracle=_REP_ORACLE, category="K")
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document REPETITION filter (the Gopher/MassiveText rules,
    Rae et al. 2021 table A1): per doc, the fraction of bigram positions
    whose bigram repeats within that same doc, and the share of the
    single most frequent bigram; keep = duplicate-bigram fraction ≤ 0.2
    (Gopher's threshold band). Catches boilerplate/spam docs that
    corpus-level dedup never sees because the repetition is internal.

    Plan: explode to (doc, bigram) → ONE partial-agg shuffle to
    (doc, bigram, count) → per-doc rollup. Both aggregations key on
    doc_id prefixes, and the second input is vocabulary-collapsed, so
    the whole filter is ~one shuffle of per-doc bigram sets — map-mostly
    and embarrassingly scalable (no corpus-wide state at all; at 100 TB
    this is the cheap pre-filter that runs before any dedup join). The
    keep flag compares the RAW fraction (exact bigint division, bitwise
    identical across engines), not the rounded display value.

    fan_out (r15, VERDICT #6): the bigram shingle explode ran on the
    single-split test scan's one core; alternated A/B 0.77x
    (plans/r15/probes/ab_fanout_tail.json), identity at production
    split counts like every fan_out site."""
    docs = fan_out(table(spark, sf_dir, "documents"), spark)
    t = F.array_remove(F.split("text", " "), "")
    pg = (
        docs.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(word_shingles(t, 2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("m"))
    )
    dup_m = F.sum(F.when(F.col("m") >= 2, F.col("m")).otherwise(F.lit(0)))
    frac = dup_m / F.sum("m")
    return pg.groupBy("doc_id").agg(
        F.sum("m").alias("n_bigrams"),
        F.round(frac, 4).alias("dup_bigram_frac"),
        F.round(F.max("m") / F.sum("m"), 4).alias("top_bigram_frac"),
        (frac <= 0.2).alias("keep"),
    )


_PII_ORACLE = """
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS name_redacted,
       CAST(length(c_name)
            - length(regexp_replace(c_name, '[0-9]', '', 'g'))
            AS INT) AS digits_masked,
       CAST(FLOOR(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band
FROM customer
"""


@register("llm_pii_redact", oracle=_PII_ORACLE, category="K")
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION + GENERALIZATION: the scrub pass a training-data
    pipeline runs before text enters a corpus — numeric identifiers
    replaced with a typed placeholder, an audit count of masked
    characters (pipelines log redaction volume per shard to catch scrub
    regressions), and a k-anonymity-style generalization of the
    quasi-identifier (exact account balance → 1000-wide band).
    Demonstrated on the customer table's identifier-shaped fields
    ('Customer#000000001'); production adds email/phone/SSN/IP patterns
    to the same map-only plan.

    Scale: pure per-row regexp_replace/length/floor — fuses into the
    scan inside WholeStageCodegen, no shuffle, no UDF; the 100 TB cost
    is one pass over the bytes. The patterns are deliberately RE2-simple
    (character classes only) so every engine compiles them identically —
    the DuckDB oracle hash-checks the scrub byte-for-byte."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "<ID>").alias("name_redacted"),
        (
            F.length("c_name")
            - F.length(F.regexp_replace("c_name", "[0-9]", ""))
        )
        .cast("int")
        .alias("digits_masked"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("bigint")
        .alias("acctbal_band"),
    )


# The four production PII classes, RE2-simple (char classes + bounded
# repetition + \b only — no lookaround/backrefs) so Java regex (Spark)
# and RE2 (DuckDB) compile them identically. Replacement ORDER matters
# and is part of the contract: EMAIL first (its local part may contain
# digit runs that other patterns could nibble), then SSN before PHONE
# (3-2-4 vs 3-3-4 groupings are disjoint, but fixing the order makes
# the scrub deterministic by construction), IP last.
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]

# Deterministic PII planting: the synthetic documents corpus is word
# soup with no contact strings, so the fixture CONSTRUCTS one of each
# class per doc from doc_id — in BOTH engines, so the regexes are
# exercised on genuine matches and the oracle hash-checks the scrub
# byte-for-byte (a corpus with zero matches would hash-match on a
# no-op). SQL fragment shared verbatim between the Spark side (F.expr)
# and the DuckDB oracle.
_PII_PLANT = (
    "substr(text, 1, 120)"
    " || ' reach u' || CAST(doc_id AS STRING)"
    " || '@ex' || CAST(doc_id % 10 AS STRING) || '.org'"
    " || ' or 415-555-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
    " || ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS STRING)"
    " || '.42.' || CAST((doc_id * 7) % 256 AS STRING)"
)


def _pii_text_oracle() -> str:
    red = "raw_text"
    for _, pat, tag in _PII_PATTERNS:
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '{tag}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(raw_text, '{pat}')) AS INT) AS n_{cls}"
        for cls, pat, _ in _PII_PATTERNS
    )
    return f"""
WITH raw AS (SELECT doc_id, {_PII_PLANT} AS raw_text FROM documents)
SELECT doc_id,
       {red} AS redacted,
       {counts}
FROM raw
"""


@register("llm_pii_text", oracle=_pii_text_oracle(), category="K")
def llm_pii_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-pattern PII scrub over free text — the four classes a
    real pretraining pipeline redacts before corpus admission (email,
    SSN, US phone, IPv4), each with a typed placeholder plus a per-doc
    audit count per class (pipelines log redaction volume per shard to
    catch scrub regressions; a sudden zero means the regex broke, a
    spike means a leaky source). Sibling of llm_pii_redact, which
    covers the structured-field generalization half of the scrub.

    Scale: pure per-row regexp_replace/regexp_count chains — fuse into
    the parquet scan inside WholeStageCodegen, no shuffle, no UDF, no
    Python; the 100 TB cost is one pass over the bytes, embarrassingly
    parallel over input splits. Pattern order is fixed and the classes
    are RE2-simple so every engine compiles them identically (see
    _PII_PATTERNS); counts are taken on the PRE-redaction text so the
    audit is independent of replacement order."""
    d = table(spark, sf_dir, "documents")
    full = F.expr(_PII_PLANT)
    red = full
    for _, pat, tag in _PII_PATTERNS:
        red = F.regexp_replace(red, pat, tag)
    return d.select(
        "doc_id",
        red.alias("redacted"),
        *[
            F.regexp_count(full, F.lit(pat)).cast("int").alias(f"n_{cls}")
            for cls, pat, _ in _PII_PATTERNS
        ],
    )


_BUDGET = 20_000  # tokens — cuts mid-corpus at every test SF ≥ 0.01

_TOKEN_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS ntok
  FROM documents),
c AS (
  SELECT doc_id, ntok,
         SUM(ntok) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_tokens
  FROM t)
SELECT doc_id, ntok, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= {_BUDGET}
"""


@register("llm_token_budget", oracle=_TOKEN_BUDGET_ORACLE, category="K")
def llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET corpus cut: admit documents in deterministic order
    (doc_id — in production: a curriculum/quality ordering) until the
    cumulative token count reaches the training budget, emitting each
    kept doc with its running total — how a finite compute budget is
    turned into a reproducible corpus slice ("the first N-token prefix
    of the ranked corpus"), and the exact-cut sibling of probabilistic
    downsampling (llm_temperature_sample).

    The operator underneath is a GLOBAL PREFIX SUM, and the scale story
    is the whole point: SUM() OVER (ORDER BY …) with no partition key —
    the oracle's form — executes as a single-task window over the
    entire corpus. _util.global_running_sum instead range-partitions on
    the order key once, runs per-partition running sums in parallel
    (window partitioned by the partition id), and adds exclusive
    per-partition offsets from a metadata-sized broadcast — the same
    exchange-reuse-pinned machinery as the two-pass global rank
    (global_row_number), extended from counts to values. Token counts
    are integers, so the prefix sum is exact on both engines at any
    parallelism — no float order-dependence."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("bigint")
        .alias("ntok"),
    )
    c = global_running_sum(t, ["doc_id"], "ntok", out_col="cum_tokens")
    return c.filter(F.col("cum_tokens") <= _BUDGET).select(
        "doc_id", "ntok", "cum_tokens"
    )


# HTML wrapping shared VERBATIM between the Spark query and the DuckDB
# oracle: the synthetic corpus is plain text, so the fixture dresses
# each doc in the markup a crawler actually delivers (nested tags,
# attributes, self-closing tags, HTML entities) and the query must get
# the text back out.
_HTML_WRAP = (
    "'<div class=\"doc\" id=\"d' || CAST(doc_id AS STRING) || '\">"
    "<h1>Doc ' || CAST(doc_id AS STRING) || '</h1><p>' "
    "|| substr(text, 1, 150) || "
    "' &amp; entities &lt;kept&gt; &quot;safe&quot;</p><br/></div>'"
)

_HTMLSTRIP_ORACLE = f"""
WITH h AS (SELECT doc_id, {_HTML_WRAP} AS html FROM documents),
s AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           replace(replace(replace(replace(
             regexp_replace(html, '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
           ' +', ' ', 'g')) AS clean_text
  FROM h)
SELECT doc_id, clean_text,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS INT) AS n_tags,
       CAST(length(clean_text) AS INT) AS n_chars_clean
FROM s
"""


@register("llm_html_strip", oracle=_HTMLSTRIP_ORACLE, category="K")
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → TEXT extraction — the very first transform a web-crawl
    corpus passes through before any quality/dedup stage sees it: strip
    tags (replaced by a space so adjacent words don't fuse), decode the
    core entities (&amp; &lt; &gt; &quot; — with &amp; LAST, the
    standard order so '&amp;lt;' decodes to the literal '&lt;' and not
    a phantom '<'), collapse runs of whitespace, trim. Emits a per-doc
    tag count too — pipelines track markup density as a boilerplate
    signal. A production pipeline swaps in a real DOM parser for edge
    cases (comments, CDATA, script bodies); the regex form is the
    map-only plan both engines can hash-verify.

    Scale: scan-fused chain of regexp_replace/replace — one
    WholeStageCodegen pass over the bytes, no shuffle, no UDF; the same
    embarrassingly-parallel shape as llm_pii_text one stage later."""
    d = table(spark, sf_dir, "documents")
    html = F.expr(_HTML_WRAP)
    untag = F.regexp_replace(html, r"<[^>]*>", " ")
    decoded = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(untag, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&quot;"),
            F.lit('"'),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(decoded, " +", " "))
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count(html, F.lit(r"<[^>]*>")).cast("int").alias("n_tags"),
        F.length(clean).cast("int").alias("n_chars_clean"),
    )


# Messy-URL construction shared VERBATIM between the Spark query and
# the DuckDB oracle: four decoration variants (scheme case, www.,
# trailing slash, utm_* tracking params, fragment) of the same
# underlying location, keyed by doc_id % 150 so each canonical URL is
# hit by ~n/150 docs wearing different disguises.
_MESSY_URL = (
    "CASE CAST(doc_id % 4 AS INT)"
    " WHEN 0 THEN 'http://Ex' || CAST(doc_id % 150 AS STRING)"
    "   || '.Example.COM/p/' || CAST(doc_id % 150 AS STRING)"
    " WHEN 1 THEN 'https://www.ex' || CAST(doc_id % 150 AS STRING)"
    "   || '.example.com/p/' || CAST(doc_id % 150 AS STRING) || '/'"
    " WHEN 2 THEN 'https://ex' || CAST(doc_id % 150 AS STRING)"
    "   || '.example.com/p/' || CAST(doc_id % 150 AS STRING)"
    "   || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 5 AS STRING)"
    " ELSE 'HTTPS://WWW.Ex' || CAST(doc_id % 150 AS STRING)"
    "   || '.Example.COM/p/' || CAST(doc_id % 150 AS STRING)"
    "   || '#sec' || CAST(doc_id % 3 AS STRING) END"
)

_URLNORM_ORACLE = f"""
WITH u AS (SELECT doc_id, {_MESSY_URL} AS url FROM documents),
c AS (
  SELECT doc_id,
         regexp_replace(
           lower(regexp_extract(
             regexp_replace(regexp_replace(url, '#.*$', ''),
                            '[?&]utm_[A-Za-z_]+=[^&#]*', '', 'g'),
             '^[A-Za-z]+://([^/?#]+)', 1)),
           '^www\\.', '')
         || regexp_replace(
              regexp_extract(
                regexp_replace(regexp_replace(url, '#.*$', ''),
                               '[?&]utm_[A-Za-z_]+=[^&#]*', '', 'g'),
                '^[A-Za-z]+://[^/?#]+(.*)$', 1),
              '/$', '') AS canonical
  FROM u)
SELECT canonical AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS kept_id
FROM c GROUP BY canonical
"""


@register("llm_url_normalize", oracle=_URLNORM_ORACLE, category="K")
def llm_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL CANONICALIZATION + dedup — the cheapest dedup pass in a
    web-corpus pipeline runs before any text is even fetched: the same
    page arrives as http://Host/…, https://www.host/…/,
    …?utm_source=…, …#fragment, and a crawl that treats those as
    distinct re-downloads and re-admits the same document four times.
    Canonical key = lowercased host without www. + path with tracking
    params (utm_*), fragment, and trailing slash stripped — scheme
    dropped entirely (scheme-relative key), the standard crawl-dedup
    normalization. Emits (canonical_url, n_docs, kept_id = min doc_id),
    the same keep-the-first contract as llm_exact_dedup one level up
    the funnel.

    Scale: normalization is a scan-fused chain of regexp ops (no UDF,
    no Python); the only shuffle groups by the SHORT canonical string —
    at 100 TB this is the classic reduce-before-shuffle shape: hosts ×
    paths cardinality, not page bytes, crosses the wire. The fixture
    plants four disguise variants per canonical target (doc_id % 150
    groups) so the oracle hash-checks that every variant actually
    collapses."""
    d = table(spark, sf_dir, "documents")
    u = F.expr(_MESSY_URL)
    stripped = F.regexp_replace(
        F.regexp_replace(u, r"#.*$", ""), r"[?&]utm_[A-Za-z_]+=[^&#]*", ""
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(stripped, r"^[A-Za-z]+://([^/?#]+)", 1)),
        r"^www\.",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract(stripped, r"^[A-Za-z]+://[^/?#]+(.*)$", 1),
        r"/$",
        "",
    )
    return (
        d.select("doc_id", F.concat(host, path).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("kept_id"),
        )
        .select(
            F.col("canonical").alias("canonical_url"), "n_docs", "kept_id"
        )
    )


_E2E_ORACLE = """
WITH q AS (
  SELECT doc_id, text FROM documents
  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
    AND 1.0 * len(list_distinct(string_split(text, ' ')))
        / len(string_split(text, ' ')) >= 0.2),
d2 AS (
  SELECT doc_id, text FROM q
  WHERE doc_id IN (SELECT MIN(doc_id) FROM q GROUP BY sha256(text))),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM d2),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 2], ' ') AS ngram
  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        FROM toks WHERE len(ts) >= 3)),
contam AS (
  SELECT tr_id FROM (
    SELECT tr.doc_id AS tr_id, ev.doc_id AS ev_id
    FROM (SELECT doc_id, ngram FROM g WHERE doc_id % 50 <> 0) tr
    JOIN (SELECT doc_id, ngram FROM g WHERE doc_id % 50 = 0) ev
      USING (ngram)
    GROUP BY tr.doc_id, ev.doc_id
    HAVING COUNT(*) >= 2)),
d3 AS (
  SELECT doc_id FROM d2
  WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT tr_id FROM contam)),
sp AS (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS STRING) || ':split'), 1, 2)
                   < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS STRING) || ':split'), 1, 2)
                   < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM d3)
SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 'quality', CAST(COUNT(*) AS BIGINT) FROM q
UNION ALL SELECT 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM d2
UNION ALL SELECT 'decontaminated', CAST(COUNT(*) AS BIGINT) FROM d3
UNION ALL SELECT 'split_' || split, CAST(COUNT(*) AS BIGINT) FROM sp
          GROUP BY split
"""


@register("llm_e2e_pipeline", oracle=_E2E_ORACLE, category="K")
def llm_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-data pipeline: the composite every other
    category-K operator exists to serve, chained on one corpus — quality
    filter → exact dedup (keep min doc_id per content hash) → eval-set
    decontamination (drop train docs sharing ≥ 2 distinct trigrams with
    any surviving eval doc; eval = doc_id % 50 == 0) → deterministic
    md5 train/val/test split — emitting the per-stage survivor funnel
    (stage, n_docs) a pipeline logs for data accounting.

    Plan shape: the quality predicate fuses into the scan, so every
    later stage sees the reduced corpus; dedup shuffles 32-byte hashes;
    decontamination joins map-side-shingled trigrams against the
    benchmark-sized eval side; the split is a scan-fused md5 map. The
    deduped frame is managed_cache'd because three stages fan out from
    it — at 100 TB that cache is a checkpointed parquet handoff between
    pipeline stages, the same DAG with durability."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = docs.select("doc_id", "text").filter(
        F.size(toks).cast("bigint").between(20, 1000)
        & (F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.2)
    )
    keep = q.groupBy(F.sha2("text", 256).alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    d2 = managed_cache(
        q.join(keep.select("doc_id"), "doc_id", "left_semi")
    )
    t = F.array_remove(F.split("text", " "), "")
    grams = F.when(F.size(t) >= 3, word_shingles(t, 3)).otherwise(
        F.array().cast("array<string>")
    )

    def shingled(side_filter, out_id):
        return d2.filter(side_filter).select(
            F.col("doc_id").alias(out_id),
            F.explode(F.array_distinct(grams)).alias("ngram"),
        )

    contam = (
        shingled(F.col("doc_id") % 50 != 0, "tr_id")
        .join(shingled(F.col("doc_id") % 50 == 0, "ev_id"), "ngram")
        .groupBy("tr_id", "ev_id")
        .agg(F.count("*").alias("_shared"))
        .filter(F.col("_shared") >= 2)
        .select(F.col("tr_id").alias("doc_id"))
        .distinct()
    )
    d3 = managed_cache(
        d2.filter(F.col("doc_id") % 50 != 0)
        .join(contam, "doc_id", "left_anti")
        .select("doc_id")
    )
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    splits = (
        d3.select(
            F.when(bucket < "cc", "train")
            .when(bucket < "e6", "val")
            .otherwise("test")
            .alias("_split")
        )
        .groupBy("_split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(
            F.concat(F.lit("split_"), F.col("_split")).alias("stage"), "n_docs"
        )
    )

    def cnt(df, stage):
        return df.agg(F.count("*").cast("bigint").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    return (
        cnt(docs, "raw")
        .unionByName(cnt(q, "quality"))
        .unionByName(cnt(d2, "exact_dedup"))
        .unionByName(cnt(d3, "decontaminated"))
        .unionByName(splits)
    )


@register(
    "llm_incremental_dedup",
    oracle="""
WITH ex AS (
  SELECT DISTINCT sha256(text) AS h
  FROM documents WHERE doc_id % 10 < 8),
batch AS (
  SELECT doc_id, sha256(text) AS h, n_chars
  FROM documents WHERE doc_id % 10 >= 8)
SELECT h AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_batch_copies,
       MIN(n_chars) AS n_chars
FROM batch
WHERE h NOT IN (SELECT h FROM ex)
GROUP BY h
""",
    category="K",
)
def llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the production shape of
    llm_exact_dedup: a NEW BATCH of documents (here: doc_id % 10 ≥ 8,
    the daily crawl drop) deduped against the EXISTING corpus' hash
    ledger (an anti-join on content hash) and then within itself
    (first-occurrence groupBy). Only batch-sized state is ever built on
    the new side; the corpus side contributes nothing but its 32-byte
    hashes — at 100 TB the ledger is a fraction of corpus size, lives
    as its own bucketed table keyed on the hash, and the anti-join
    co-locates with zero fact shuffle. The text bodies of either side
    never cross the wire.

    Scale: anti-join + groupBy share the hash key, so AQE plans ONE
    shuffle of the (small) batch against the bucketed ledger; partial
    agg collapses within-batch duplicates map-side first."""
    docs = table(spark, sf_dir, "documents")
    h = F.sha2("text", 256)
    existing = (
        docs.filter(F.col("doc_id") % 10 < 8).select(h.alias("h")).distinct()
    )
    batch = docs.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", h.alias("h"), "n_chars"
    )
    return (
        batch.join(existing, "h", "left_anti")
        .groupBy(F.col("h").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_batch_copies"),
            F.min("n_chars").alias("n_chars"),
        )
    )


@register(
    "llm_embed_centroid",
    oracle="""
WITH ex AS (
  SELECT label,
         unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM embeddings)
SELECT label, dim,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
                  AS DOUBLE)
             / COUNT(*) / 1000000, 6) + 0.0 AS centroid
FROM ex
GROUP BY label, dim
""",
    category="K",
)
def llm_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS EMBEDDING CENTROIDS — the mean vector of every label's
    embeddings, the kernel under IVF coarse quantizers, k-NN class
    prototypes, and embedding-drift monitors. Vectors explode to
    (label, dim, component) rows — posexplode keeps the dimension index
    so nothing depends on array order surviving a shuffle — and each
    component is QUANTIZED (round(v·10⁶), exactly representable: a
    float32 times 10⁶ can never land on a .5 tie) into bigint partial
    sums; the mean is ONE double division at the end. Float32 inputs,
    bit-identical centroids on both engines.

    Scale: the explode is a 64× row fan-out but each row is 3 numbers —
    the groupBy(label, dim) partial-aggregates map-side down to
    |labels|·|dims| rows before the shuffle, so the wide exchange
    carries centroids-in-progress, not the corpus. (The no-explode
    alternative — per-partition vector folds via mapInPandas — trades
    JVM codegen for Arrow hops; measured slower at this dim count.)"""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("v").cast("double") * 1000000).cast("bigint")
            ).alias("s"),
        )
        .select(
            "label",
            "dim",
            "n",
            (
                F.round(F.col("s").cast("double") / F.col("n") / 1000000, 6)
                + 0.0
            ).alias("centroid"),
        )
    )


_CARD_ORACLE = """
WITH h AS (
  SELECT source, lang, n_chars, sha256(text) AS th,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
  FROM documents),
d AS (
  SELECT th, COUNT(*) AS copies FROM h GROUP BY th)
SELECT h.source,
       COUNT(*) AS n_docs,
       CAST(SUM(h.n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(h.ntok) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT h.lang) AS n_langs,
       COUNT(*) FILTER (WHERE d.copies > 1) AS n_dup_docs,
       MIN(h.n_chars) AS min_chars,
       MAX(h.n_chars) AS max_chars
FROM h JOIN d ON h.th = d.th
GROUP BY h.source
"""


@register("llm_corpus_card", oracle=_CARD_ORACLE, category="K")
def llm_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the per-source corpus composition report every
    training-data release ships (and every mixture-weight decision
    reads): doc/char/token counts, language spread, duplicate
    exposure (docs whose content hash appears more than once ANYWHERE
    in the corpus — cross-source duplication is precisely what a
    per-source groupBy alone cannot see, hence the hash-level dup
    rollup joined back before the source rollup), and the length
    envelope. Token counts use the whitespace rule
    (llm_token_wordcount's contract).

    Scale: two hash aggs and one join, all keyed on the 32-byte
    content hash or the source label; text never shuffles (the hash
    ledger is the join key), and the dup ledger is the same artifact
    llm_incremental_dedup maintains — a production card reads it, it
    doesn't rescan the corpus."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        "lang",
        "n_chars",
        F.sha2("text", 256).alias("th"),
        # token rule = llm_token_wordcount's contract (count of NON-EMPTY
        # whitespace-split tokens): the spaces+1 approximation disagrees
        # on leading/trailing/double spaces and calls empty text 1 token
        F.size(F.filter(F.split("text", " "), lambda x: x != F.lit(""))).cast(
            "bigint"
        ).alias("ntok"),
    )
    d = h.groupBy("th").agg(F.count("*").alias("copies"))
    return (
        h.join(d, "th")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("ntok").alias("n_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.when(F.col("copies") > 1, 1)).alias("n_dup_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_HASH_SAMPLE_ORACLE = """
SELECT doc_id, lang, source, n_chars,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hkey
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
"""


@register("llm_hash_sample", oracle=_HASH_SAMPLE_ORACLE, category="K")
def llm_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform corpus sampling by key hash — the
    reproducible alternative to df.sample(): keep a doc iff the first
    16 bits of md5(doc_id) fall under the rate threshold (here
    0x1999/0x10000 ≈ 9.98 %). Unlike seeded sample(), membership is a
    pure function of the ROW, so the subset is identical across
    engines, partitionings, retries, and cluster sizes — which is what
    makes a "10 % eval slice" citable in a data card, lets two teams
    draw the same slice without shipping row lists, and composes with
    incremental ingestion (yesterday's members stay members). Both
    engines evaluate the identical md5 hex prefix, so this carries a
    full value-hash oracle rather than a rows-only check.

    Scale: map-only, scan-fused, no shuffle; the filter pushes to the
    scan and the sample rate holds per-partition (md5 is uniform), so
    no skew is introduced downstream."""
    docs = table(spark, sf_dir, "documents")
    hkey = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return docs.select(
        "doc_id", "lang", "source", "n_chars", hkey.alias("hkey")
    ).filter(F.col("hkey") < "1999")


_KEEP_BEST_ORACLE = """
WITH h AS (
  SELECT doc_id, lang, source, n_chars, sha256(text) AS text_hash
  FROM documents),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY text_hash
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY text_hash) AS copies
  FROM h)
SELECT doc_id, lang, source, n_chars, text_hash,
       CAST(copies AS BIGINT) AS copies
FROM r WHERE rn = 1
"""


@register("llm_dedup_keep_best", oracle=_KEEP_BEST_ORACLE, category="K")
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST copy, not an arbitrary one —
    production dedup policy: among byte-identical texts keep the
    longest-metadata / lowest-id copy (deterministic total order:
    n_chars DESC, doc_id ASC) and carry the duplicate count for the
    data card. The oracle states the policy as a per-hash window; the
    engine computes the same argmax as ONE partial-aggregable
    max(struct(n_chars, -doc_id)) — no WindowExec, no per-group row
    ordering, map-side combinable, so a hot hash (a boilerplate page
    duplicated millions of times at 100 TB) costs one struct compare
    per row instead of a sorted partition. Only 32-byte hashes and the
    kept row's metadata shuffle; text never does."""
    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "lang", "source", "n_chars",
        F.sha2("text", 256).alias("text_hash"),
    )
    best = h.groupBy("text_hash").agg(
        F.count("*").alias("copies"),
        F.max(
            F.struct(
                F.col("n_chars"),
                (-F.col("doc_id")).alias("neg_id"),
                F.col("lang"),
                F.col("source"),
            )
        ).alias("b"),
    )
    return best.select(
        (-F.col("b.neg_id")).cast("bigint").alias("doc_id"),
        F.col("b.lang").alias("lang"),
        F.col("b.source").alias("source"),
        F.col("b.n_chars").alias("n_chars"),
        "text_hash",
        "copies",
    )


_DOCFREQ_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '),
                                                  x -> x <> ''))) AS token
  FROM documents),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT token, doc_freq,
       doc_freq >= 5 AND doc_freq * 10 <= 6 * n_docs AS kept
FROM df, n
"""


@register("llm_docfreq_prune", oracle=_DOCFREQ_ORACLE, category="K")
def llm_docfreq_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning by document frequency — the min_df/max_df
    gate every TF-IDF / embedding vocabulary build applies: tokens in
    fewer than 5 docs are noise (typos, ids), tokens in more than 60 %
    of docs are corpus-wide stopwords; both are cut before the
    vocabulary is frozen. Emits the full df table with the keep
    verdict so downstream stages join against it.

    Scale: per-doc distinct tokens explode map-side (array_distinct
    before the explode — no per-doc duplicate traffic), one
    partial-aggregable count shuffle on token; the n_docs scalar rides
    a broadcast cross join (metadata-sized, no second scan of the
    token stream). Hot tokens are count-only rows — no skew pressure."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_remove(F.array_distinct(F.split("text", " ")), "")
        ).alias("token"),
    )
    df = tok.groupBy("token").agg(F.count("*").alias("doc_freq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return df.join(F.broadcast(n), F.lit(True)).select(
        "token",
        "doc_freq",
        # integer form of doc_freq <= 0.6*n_docs: a double threshold
        # truncates in Spark's CAST but rounds in DuckDB's, so the two
        # engines would disagree whenever 0.6*n_docs is non-integral
        (
            (F.col("doc_freq") >= 5)
            & (F.col("doc_freq") * 10 <= 6 * F.col("n_docs"))
        ).alias("kept"),
    )


_PPLX_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
freq AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
tot AS (SELECT SUM(c) AS t FROM freq),
lp AS (
  SELECT token, CAST(ROUND(ln(CAST(c AS DOUBLE) / t) * 1000000) AS BIGINT) AS nlp_q
  FROM freq, tot),
per_doc AS (
  SELECT tok.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(lp.nlp_q) AS s
  FROM tok JOIN lp USING (token)
  GROUP BY tok.doc_id)
SELECT doc_id, n_tokens,
       ROUND(-CAST(s AS DOUBLE) / (1000000.0 * n_tokens), 4) + 0.0 AS xent
FROM per_doc
"""


@register("llm_perplexity_proxy", oracle=_PPLX_ORACLE, category="K")
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy quality score — the cheap stand-in for an
    LM-perplexity filter (CCNet's wikipedia-LM score, Gopher's repetition
    gates): train a unigram model ON the corpus itself (token freq /
    total), score each doc by mean −ln p(token), flag outliers upstream
    of expensive training. Cross-engine exactness comes from the zipf
    discipline: each token's log-prob is quantized ONCE to a bigint
    (round(ln(c/T)·10⁶)) so the per-doc sum is integer arithmetic —
    order-independent and identical in both engines; only the final
    mean is a rounded double.

    Scale: the model is one count shuffle; scoring joins the exploded
    stream to the freq table on token (at 100 TB: freq table ≪ corpus,
    sort-merge or broadcast by stats), then one per-doc partial agg.
    No windows, no driver state, nothing quadratic."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("t"))
    lp = freq.join(F.broadcast(tot), F.lit(True)).select(
        "token",
        F.round(F.log(F.col("c").cast("double") / F.col("t")) * 1_000_000)
        .cast("bigint")
        .alias("nlp_q"),
    )
    # lp is vocabulary-sized (Heaps-sublinear in the corpus) — broadcast
    # it EXPLICITLY: without stats Catalyst sort-merge-joins, shuffling
    # the full token stream by a low-cardinality key (worst-case skew:
    # every occurrence of a token lands on one partition)
    per_doc = (
        tok.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("nlp_q").alias("s"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (
            F.round(-F.col("s").cast("double") / (1_000_000.0 * F.col("n_tokens")), 4)
            + F.lit(0.0)
        ).alias("xent"),
    )


def _pagerank_step_sql(prev: str, this: str) -> str:
    """One unrolled PageRank step for the DuckDB oracle — integer
    arithmetic only (see llm_graph_pagerank), so the oracle and the
    engine agree bit-for-bit at every iteration."""
    return f"""
{this} AS (
  SELECT nd.node,
         (15 * (1000000000 // (SELECT cnt FROM n))) // 100
         + (85 * COALESCE(SUM((rk.r * e.w) // o.wout), 0)) // 100 AS r
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN outw o ON o.src = e.src
  LEFT JOIN {prev} rk ON rk.node = e.src
  GROUP BY nd.node)"""


_PAGERANK_ORACLE = (
    """
WITH seq AS (
  SELECT event_type AS dst,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
  FROM events),
edges AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM seq WHERE src IS NOT NULL GROUP BY src, dst),
outw AS (SELECT src, SUM(w) AS wout FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
n AS (SELECT COUNT(*) AS cnt FROM nodes),
r0 AS (SELECT node, CAST(1000000000 // cnt AS BIGINT) AS r FROM nodes, n),"""
    + ",".join(_pagerank_step_sql(f"r{i}", f"r{i+1}") for i in range(5))
    + """
SELECT node, CAST(r AS BIGINT) AS rank_q FROM r5
"""
)


@register("llm_graph_pagerank", oracle=_PAGERANK_ORACLE, category="K")
def llm_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 5 power iterations — the crawl-graph quality
    signal pretraining pipelines weight documents by (RefinedWeb /
    CommonCrawl practice: a page's rank in the link graph gates its
    sampling probability). The graph here is the user-transition graph
    mined from events (edge src→dst with weight = transition count, via
    one LAG window per user — many users, distributed partitions);
    semantics are standard damped PageRank, d = 0.85.

    Cross-engine exactness WITHOUT float tolerance: ranks live as
    bigint billionths; each contribution is (r·w) div wout and the
    damping is (85·x) div 100 — pure integer arithmetic at every step,
    so five chained iterations stay bit-identical in both engines (the
    oracle unrolls the same five steps as CTEs). Truncation dust (a few
    billionths per step) is the price of determinism and is identical
    on both sides.

    Scale: each iteration is one join edges⋈ranks on src (ranks is one
    row per NODE — broadcast-sized relative to edges at any web scale)
    + one partial-aggregable groupBy dst. Five rounds = five shuffles
    of the EDGE-contribution stream; no driver-side state, no window
    over the graph, plan depth bounded by the fixed iteration count
    (the dedup_clusters lineage-cut pattern would apply past ~20
    rounds)."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("src"),
    )
    edges = (
        seq.filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    n = nodes.agg(F.count("*").alias("cnt"))
    # base teleport mass and the initial uniform rank, in billionths;
    # cnt rides a broadcast (metadata-sized) so plan build runs no job
    nb = nodes.join(F.broadcast(n), F.lit(True))
    r = nb.select(
        "node", F.expr("1000000000 div cnt").cast("bigint").alias("r")
    )
    base = F.expr("(15 * (1000000000 div cnt)) div 100")
    em = edges.join(outw, "src")
    for _ in range(5):
        contrib = (
            em.join(r.select(F.col("node").alias("src"), "r"), "src")
            .select("dst", F.expr("(r * w) div wout").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        r = (
            nb.join(contrib, nb.node == contrib.dst, "left")
            .select(
                "node",
                (base + F.expr("(85 * coalesce(sc, 0)) div 100"))
                .cast("bigint")
                .alias("r"),
            )
        )
    return r.select("node", F.col("r").alias("rank_q"))


def _bpe_fold_sql(acc: str, x: str, l: str, r: str) -> str:
    """One greedy merge step as a DuckDB lambda body. list_reduce's
    accumulator must be the ELEMENT type (VARCHAR), so the symbol
    sequence is encoded as a chr(31)-delimited string: the last symbol
    is everything after the final separator (found via
    reverse+strpos — no regex, so symbols with regex metacharacters
    are safe), and a merge replaces it in place. First lambda call
    receives syms[1] as acc (list_reduce's seedless contract), which
    equals the engine's append-from-empty fold after one element."""
    last = (
        f"(CASE WHEN strpos(reverse({acc}), chr(31)) = 0 THEN {acc} "
        f"ELSE substr({acc}, length({acc}) - strpos(reverse({acc}), chr(31)) + 2) END)"
    )
    prefix = (
        f"(CASE WHEN strpos(reverse({acc}), chr(31)) = 0 THEN '' "
        f"ELSE substr({acc}, 1, length({acc}) - strpos(reverse({acc}), chr(31)) + 1) END)"
    )
    return (
        f"CASE WHEN {last} = {l} AND {x} = {r} "
        f"THEN {prefix} || {l} || {r} "
        f"ELSE {acc} || chr(31) || {x} END"
    )


def _bpe_rounds_sql(w0: str, rounds: int, prefix: str) -> str:
    """CTE chain: `rounds` argmax-then-rewrite BPE rounds starting from
    CTE `w0(word, freq?, symstr)`. Emits p{k} (pair counts), am{k}
    (the round's merge, deterministic tie-break cnt DESC → l → r) and
    {prefix}{k+1} (the rewritten table). The per-round merge pair is
    CAPTURED inside the rewrite lambda from the CROSS-JOINed 1-row
    am{k} — the merges are learned by the query itself, not inlined
    literals, exactly like the engine's driver-paced loop."""
    parts = []
    cur = w0
    weight = "freq" if prefix == "w" else "1"
    for k in range(rounds):
        fold = _bpe_fold_sql("acc", "x", f"am{k}.l", f"am{k}.r")
        parts.append(f"""
p{k} AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, SUM({weight}) AS cnt
  FROM (
    SELECT {weight}, unnest(list_zip(s[1:len(s)-1], s[2:len(s)])) AS z
    FROM (SELECT *, string_split(symstr, chr(31)) AS s FROM {cur}) q
    WHERE len(s) >= 2
  ) GROUP BY z[1], z[2]
),
am{k} AS MATERIALIZED (
  SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM p{k}
  ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
{prefix}{k + 1} AS MATERIALIZED (
  SELECT {cur}.* EXCLUDE (symstr),
         list_reduce(string_split(symstr, chr(31)), (acc, x) -> {fold}) AS symstr
  FROM {cur} CROSS JOIN am{k}
)""")
        cur = f"{prefix}{k + 1}"
    return ",".join(parts)


# Sampled word-frequency base table shared by the train oracle: the
# md5-range doc sample replays _bpe_train_merges' capped-sample rule
# (cap 2000, floor'd 16-bit threshold, lowercase hex compare).
_BPE_SAMPLE_SQL = """
n_docs AS (SELECT COUNT(*) AS cnt FROM documents),
thr AS (
  SELECT CASE WHEN cnt <= 2000 THEN NULL
         ELSE printf('%04x', GREATEST(1, CAST(FLOOR(2000.0 * 65536 / cnt) AS INT)))
         END AS t
  FROM n_docs
),
w0 AS MATERIALIZED (
  SELECT word, COUNT(*) AS freq,
         array_to_string(string_split(word, ''), chr(31)) AS symstr
  FROM (SELECT unnest(string_split(text, ' ')) AS word
        FROM documents
        WHERE (SELECT t FROM thr) IS NULL
           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < (SELECT t FROM thr))
  WHERE word <> '' GROUP BY word
)"""

_BPE_TRAIN_ORACLE = (
    "WITH "
    + _BPE_SAMPLE_SQL
    + ","
    + _bpe_rounds_sql("w0", 10, "w")
    + "\n"
    + "\nUNION ALL ".join(
        f'SELECT {k} AS step, l AS "left", r AS "right", cnt AS pair_count FROM am{k}'
        for k in range(10)
    )
)

def _bpe_encode_sql(rounds: int) -> str:
    """CTE chain: encode the CORPUS-WIDE distinct-word vocabulary with
    the merges the train rounds learned — v{k+1} applies am{k}'s pair
    (reusing the train CTEs, never re-learning) via the same fold."""
    parts = []
    for k in range(rounds):
        fold = _bpe_fold_sql("acc", "x", f"am{k}.l", f"am{k}.r")
        parts.append(f"""
v{k + 1} AS MATERIALIZED (
  SELECT word,
         list_reduce(string_split(symstr, chr(31)), (acc, x) -> {fold}) AS symstr
  FROM v{k} CROSS JOIN am{k}
)""")
    return ",".join(parts)


_BPE_APPLY_ORACLE = (
    "WITH "
    + _BPE_SAMPLE_SQL
    + ","
    + _bpe_rounds_sql("w0", 10, "w")
    + """,
v0 AS MATERIALIZED (
  SELECT word, array_to_string(string_split(word, ''), chr(31)) AS symstr
  FROM (SELECT DISTINCT word
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '')
),"""
    + _bpe_encode_sql(10)
    + """
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(word_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(word_tokens) AS DOUBLE) / COUNT(*), 4) + 0.0 AS fertility
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) occ
JOIN (SELECT word, len(string_split(symstr, chr(31))) AS word_tokens FROM v10) vt
  USING (word)
WHERE word <> ''
GROUP BY doc_id
"""
)


@register("llm_bpe_train", oracle=_BPE_TRAIN_ORACLE, category="K")
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich 2016) — 10 merge rounds learned
    from the corpus itself; the inventory's llm_token_bpe applies a
    fixed tokenization, this op LEARNS the merge table every real
    pipeline ships alongside its dataset. Each round: count adjacent
    symbol pairs weighted by word frequency, merge the most frequent
    pair corpus-wide (deterministic tie-break: count DESC, then left,
    then right symbol), rewrite symbol sequences greedily
    left-to-right. Output is the merge table (step, left, right,
    pair_count) — deterministic end-to-end, pinned against a pure-
    Python reference BPE in tests/test_r8_ops.py AND, since r11,
    against a FULL SQL oracle: the ten argmax-then-rewrite rounds ARE
    expressible as one DuckDB query by unrolling them into MATERIALIZED
    CTEs whose rewrite lambda captures the round's learned pair from a
    CROSS-JOINed 1-row argmax CTE (_bpe_rounds_sql; the symbol arrays
    ride as chr(31)-delimited strings because list_reduce's accumulator
    must be scalar).

    Scale: training runs on a deterministic md5-range sample capped at
    ~2000 docs (_bpe_train_merges; the llm_hash_sample membership rule),
    so the ten driver-paced rounds cost the SAME at any corpus size —
    the one structurally linear stage is gone (r10 verdict perf-weak
    #1). Within the sample the working frame is the WORD-FREQUENCY
    table (one groupBy(word); Heaps' law) and every round runs on
    (word, freq, symbols) rows: pair counting is one partial-aggregable
    shuffle, the argmax is orderBy+limit(1) (TopK, no global sort), the
    rewrite a per-row JVM higher-order fold (F.aggregate), no Python.
    localCheckpoint after each rewrite bounds plan depth (10 nested
    lambda layers otherwise) at a vocab-sized materialization."""
    merges = _bpe_train_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step INT, left STRING, right STRING, pair_count BIGINT"
    )


def _bpe_merge_fold(l: str, r: str):
    """One greedy left-to-right merge pass over a symbol array as a JVM
    higher-order fold (shared by training's per-round rewrite and
    llm_bpe_apply's vocabulary encoding)."""
    merged = l + r
    return lambda acc, x: F.when(
        (F.size(acc) > 0)
        & (F.element_at(acc, -1) == F.lit(l))
        & (x == F.lit(r)),
        F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
        ),
    ).otherwise(F.concat(acc, F.array(x)))


# merge tables are tiny (10 rows) but cost a 10-round distributed train;
# memoized per dataset fingerprint so bpe_train + bpe_apply in one
# session train once (content-addressed — never stale, never collides).
# Lifetime is deliberately NOT tied to release_managed_caches(): that
# runs between every registered query, which would force a retrain
# between bpe_train and bpe_apply and defeat the memo. Instead the dict
# is true-LRU capped (_memo_get refreshes recency on hit, _memo_put
# evicts the least-recently-used beyond the cap) so many datasets in one
# driver process can never grow it past a handful of 10-tuple entries.
_BPE_MERGE_MEMO: dict = {}
_BPE_MERGE_MEMO_CAP = 4


def _memo_get(memo: dict, key):
    """Hit path shared by all driver-side metadata memos
    (_BPE_MERGE_MEMO / _KMEANS_MEMO / _PQ_MEMO / _SUPER_MEMO): reinsert
    the key on hit so insertion order tracks RECENCY — true LRU, so a
    hot dataset fingerprint can't be evicted while colder ones survive
    (r12 advice: the bare `memo[key]` read made the caps FIFO).

    Returns ``(hit, value)`` rather than value-or-None (r13 advice): a
    producer that legitimately stores None must read as a hit, not as
    a silent cache bypass — the old single-return conflated the two."""
    if key in memo:
        memo[key] = memo.pop(key)
        return True, memo[key]
    return False, None


def _memo_put(memo: dict, key, value, cap: int) -> None:
    """Insert + evict-oldest down to ``cap`` — the shared producer-side
    idiom (content-addressed keys are never stale, the cap bounds
    process-lifetime retention to a handful of KB-sized entries)."""
    memo[key] = value
    while len(memo) > cap:
        memo.pop(next(iter(memo)))
# training-sample cap (docs): above this, _bpe_train_merges trains on a
# deterministic md5-range sample of ~this many docs (see its body)
_BPE_TRAIN_DOC_CAP = 2000


def _bpe_train_merges(spark: SparkSession, sf_dir: str) -> list:
    """The 10-round merge-learning loop behind llm_bpe_train (see its
    docstring for the scale analysis). Returns [(step, left, right,
    pair_count)] — metadata-sized by construction (one row per round)."""
    import os

    from gdxpy_spark.operators._util import files_fingerprint

    memo_key = files_fingerprint([os.path.join(sf_dir, "documents.parquet")])
    ok, hit = _memo_get(_BPE_MERGE_MEMO, memo_key)
    if ok:
        return hit
    docs = table(spark, sf_dir, "documents")
    # r11 (verdict directive #5): train on an md5-range hash sample
    # capped at _BPE_TRAIN_DOC_CAP docs, so the ten driver-paced merge
    # rounds run on a CONSTANT-size frame as the corpus grows — train
    # wall is flat at 10×/100× instead of linear. Below the cap the
    # filter is skipped entirely (small corpora train exactly as
    # before). Membership is the llm_hash_sample rule — a pure function
    # of doc_id, so the training set (hence the merge table) is
    # bit-stable across partitionings, retries, and engines; the
    # pure-Python twin in tests draws the identical sample. Sampling is
    # statistically safe here because merge selection is an argmax over
    # Zipf-heavy pair counts (top pairs keep their lead in any uniform
    # sample; set-overlap vs full-corpus training pinned ≥8/10 in
    # tests/test_r11_ops.py). llm_bpe_apply stays corpus-wide.
    n_docs = docs.count()
    if n_docs > _BPE_TRAIN_DOC_CAP:
        thr = format(
            max(1, int(_BPE_TRAIN_DOC_CAP / n_docs * 0x10000)), "04x"
        )
        docs = docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < F.lit(thr)
        )
    words = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn("syms", F.split("word", ""))
        .withColumn("syms", F.filter("syms", lambda s: s != F.lit("")))
    )
    words = words.localCheckpoint(eager=False)

    merges = []
    for step in range(10):
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.slice("syms", 1, F.size("syms") - 1),
                            lambda s, i: F.struct(
                                s.alias("l"),
                                F.element_at(
                                    F.col("syms"), (i + 2).cast("int")
                                ).alias("r"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((step, l, r, int(cnt)))
        words = words.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _bpe_merge_fold(l, r),
            ),
        ).localCheckpoint(eager=False)
    _memo_put(_BPE_MERGE_MEMO, memo_key, merges, _BPE_MERGE_MEMO_CAP)
    return merges


@register("llm_bpe_apply", oracle=_BPE_APPLY_ORACLE, category="K")
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY at corpus scale — encode every document with
    the merge table llm_bpe_train learns, emitting per-doc token counts
    and FERTILITY (tokens per word — the number every tokenizer ships
    in its model card). Full SQL oracle since r11: the oracle re-learns
    the merge table with the train rounds' unrolled CTEs
    (_bpe_rounds_sql, sampled exactly like the engine) and then encodes
    the corpus-wide vocabulary with those captured pairs
    (_bpe_encode_sql); also pinned EXACTLY against the pure-Python
    reference tokenizer in tests/test_r10_ops.py.

    Scale shape: the merges are a 10-row broadcast-as-literals table;
    encoding runs on the DISTINCT-WORD dictionary (Heaps-sublinear in
    corpus size, same working set as training), one JVM in-array fold
    per merge — the corpus itself is touched exactly twice, once to
    build the dictionary and once to join token counts back per word
    occurrence. The join side is vocabulary-sized and explicitly
    broadcast (Catalyst would sort-merge-join it and skew on stopword
    keys); per-doc totals are one partial-aggregable shuffle. At
    100 TB nothing fact-sized is ever rewritten — documents carry only
    (doc_id, word) pairs into the rollup."""
    merges = _bpe_train_merges(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != F.lit(""))
            ).alias("word")
        )
        .distinct()
        .withColumn("syms", F.filter(F.split("word", ""), lambda s: s != F.lit("")))
    )
    for _step, l, r, _cnt in merges:
        vocab = vocab.withColumn(
            "syms",
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _bpe_merge_fold(l, r),
            ),
        )
    # one lineage cut for the 10 stacked fold layers (vocab-sized frame)
    vocab = vocab.select(
        "word", F.size("syms").cast("bigint").alias("word_tokens")
    ).localCheckpoint(eager=False)
    occ = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("word"),
    )
    return (
        occ.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_tokens").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            (
                F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 4)
                + F.lit(0.0)
            ).alias("fertility"),
        )
    )


_HEAVY_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents),
n AS (SELECT COUNT(*) AS total FROM tok)
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
FROM tok, n
GROUP BY token, n.total
HAVING COUNT(*) * 200 > n.total
"""


@register("llm_heavy_hitters", oracle=_HEAVY_ORACLE, category="K")
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens above 0.5 % of the stream) via the
    two-phase Misra-Gries pattern — the vocabulary/stopword/anomaly
    screen that does NOT pay a full-vocabulary shuffle. Phase 1 runs
    Misra-Gries summaries (k = 400 counters) per partition inside
    `mapInPandas`: MG guarantees any token with partition frequency
    > n_p/(k+1) survives its partition, and a GLOBALLY heavy token
    (freq > N/200) must have partition frequency > n_p/200 > n_p/(k+1)
    somewhere (pigeonhole: if it fell below n_p/200 in every partition
    its total would be below N/200) — so the union of survivors is a
    provable candidate SUPERSET,
    at ≤ k rows per partition (metadata-sized) instead of one row per
    distinct token. Phase 2 recounts ONLY the candidates exactly (one
    semi-join + partial agg over the re-scanned stream) and applies the
    exact threshold — so the result is EXACT and hash-oracle-checkable,
    while the shuffle never carries the long tail (at 100 TB: billions
    of distinct tokens pruned to k·partitions candidates).

    Contract note: the candidate set is a superset, never a subset —
    correctness does not depend on the MG sketch, only the PRUNING
    does; an adversarial partition order can only make phase 2 recount
    more candidates."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("token")
    )

    K = 400

    def mg(batches):
        # vectorized MG via summary MERGE (Agarwal et al., "Mergeable
        # Summaries"): each Arrow batch is collapsed to exact counts
        # with value_counts (C speed — never per-token Python), added
        # into the running summary, and when the summary exceeds K
        # entries the (K+1)-th largest count is subtracted from all and
        # non-positives dropped. The merged summary keeps the MG bound
        # (undercount ≤ n_p/(K+1)), so a token with partition frequency
        # > n_p/(K+1) always survives — the superset guarantee the
        # recount phase needs, at O(batch vocab) per batch instead of
        # O(batch tokens).
        counters: dict[str, int] = {}
        for pdf in batches:
            for t, w in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(w)
            if len(counters) > K:
                kth = sorted(counters.values(), reverse=True)[K]
                counters = {t: v - kth for t, v in counters.items() if v > kth}
        yield pd.DataFrame({"token": list(counters.keys())})

    cands = tok.mapInPandas(mg, "token STRING").distinct()
    n = tok.agg(F.count("*").alias("total"))
    return (
        tok.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .join(F.broadcast(n), F.lit(True))
        .filter(F.col("freq") * 200 > F.col("total"))
        .select("token", "freq")
    )


_MIXTURE_ORACLE = """
WITH rates AS (
  SELECT * FROM (VALUES
    ('src0', 0.8), ('src1', 0.8), ('src2', 0.8), ('src3', 0.8),
    ('src4', 0.4), ('src5', 0.4), ('src6', 0.4), ('src7', 0.4),
    ('src8', 0.4), ('src9', 0.4)
  ) AS t(source, rate)),
d AS (
  SELECT doc_id, lang, documents.source AS source, n_chars,
         COALESCE(rate, 0.1) AS rate,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000) / 1000000.0 AS u
  FROM documents LEFT JOIN rates ON documents.source = rates.source)
SELECT doc_id, lang, source, n_chars
FROM d WHERE u < rate
"""


@register("llm_dataset_mixture", oracle=_MIXTURE_ORACLE, category="K")
def llm_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset MIXTURE sampling — the Pile/Dolma data-mixing step: each
    source gets a target sampling rate (high-quality sources kept at
    80 %, mid at 40 %, unlisted long-tail at 10 %) and membership is
    decided by the same deterministic per-row hash-uniform as
    llm_hash_sample (md5(doc_id) → u ∈ [0,1), compare to the source's
    rate) — so the mixture is reproducible bit-for-bit across engines,
    retries and cluster sizes, and composes with incremental ingestion.
    The rate table is a literal VALUES relation joined as a broadcast
    (the real pipeline reads it from a mixture config).

    Scale: map-only after a broadcast rate lookup; no shuffle, the
    filter pushes nothing across the wire, and per-source realized
    rates converge to targets by md5 uniformity (tested)."""
    docs = table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [(f"src{i}", 0.8 if i < 4 else 0.4) for i in range(10)],
        "source STRING, rate DOUBLE",
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1_000_000
    ) / 1_000_000.0
    return (
        docs.join(F.broadcast(rates), "source", "left")
        .withColumn("rate", F.coalesce("rate", F.lit(0.1)))
        .filter(u < F.col("rate"))
        .select("doc_id", "lang", "source", "n_chars")
    )


_WARC_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS content_len,
       TRUE AS len_ok,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS n_tokens
FROM documents
"""


@register("llm_warc_parse", oracle=_WARC_ORACLE, category="K")
def llm_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-style record-stream ingestion — the actual first step of a
    crawl pipeline: multi-record container files (record = version
    line, headers, blank line, body) split into documents and
    length-validated against the Content-Length header. The fixture
    writes the corpus as 8 WARC-ish container files (one multi-line
    record per doc, concatenated by the text sink); the reader takes
    whole files (`wholetext` — the per-file unit real WARC readers use,
    which is why crawl dumps cap containers at ~1 GiB), frames records
    BY DECLARED LENGTH (the _WARC_FOLD aggregate below: a version line
    only opens a record when it sits exactly at the previous record's
    declared body end, so a body that legally contains 'WARC/1.0\\n'
    parses correctly instead of mis-framing — r8 advice), and parses
    entirely JVM-side (regexp_extract + dynamic substring — no Python
    in the parse path). len_ok verifies the declared length lands the
    next boundary exactly on EOF or another version line — the framing
    integrity check a real ingest runs per record — and a failing
    record flips the fold into resync-at-next-candidate mode so one
    corrupt header costs one record, not the container tail (see
    _WARC_FOLD's contract below); the oracle recomputes everything
    from the source table, so the container round-trip is
    hash-verified.

    Framing honesty: this demo container declares Content-Chars
    (CHARACTER count) because Spark's string substring slices by
    characters — real WARC declares Content-LENGTH in BYTES, and a
    byte-accurate parser must slice the BINARY column instead. That
    generalization keeps this exact plan shape.

    Scale: one task per container file (bounded by container size, not
    corpus size), record fan-out via explode inside the task, then
    map-only parsing; no shuffle until whatever aggregation follows."""
    docs = table(spark, sf_dir, "documents")
    rec = docs.select(
        F.concat(
            F.lit("WARC/1.0\nWARC-Record-ID: "),
            F.col("doc_id").cast("string"),
            F.lit("\nContent-Chars: "),
            F.length("text").cast("string"),
            F.lit("\n\n"),
            F.col("text"),
        ).alias("value")
    )
    out = _warc_dir(sf_dir)
    import os as _os
    import uuid as _uuid

    def _complete(d: str) -> bool:
        return _os.path.exists(_os.path.join(d, "_SUCCESS"))

    if not _complete(out):
        # same discipline as the replay fixtures: build privately,
        # publish atomically — two concurrent sessions (bench +
        # selfcheck run per round) must never overwrite each other
        # mid-write or serve a half-populated container dir
        from gdxpy_spark.operators._util import atomic_publish

        build = f"{out}.build_{_uuid.uuid4().hex[:8]}"
        rec.repartition(8).write.mode("overwrite").text(build)
        atomic_publish(build, out, is_complete=_complete)
    raw = spark.read.text(out, wholetext=True)
    return parse_warc_containers(raw)


def parse_warc_containers(raw: DataFrame) -> DataFrame:
    """Length-framed WARC-ish container parse over whole-file rows
    (column `value` = one container file's full text). Split out of
    llm_warc_parse so the adversarial-body framing test can drive it
    over a hand-built container (see _WARC_FOLD's framing contract)."""
    frags = raw.select("value", F.split("value", r"WARC/1\.0\n").alias("frags"))
    return frags.select(F.explode(F.expr(_WARC_FOLD)).alias("r")).select(
        "r.doc_id", "r.content_len", "r.len_ok", "r.n_tokens"
    )


# Declared-length record framing (r8 advice): a single JVM-side fold
# over the version-line-split fragments. The version line is only a
# CANDIDATE boundary — a fragment starts a true record iff its file
# position equals the previous record's declared body end (acc.nxt);
# fragments that begin inside a declared body span are consumed as body
# content. The body itself is sliced from the ORIGINAL file string by
# the declared Content-Chars, so a body legally containing
# 'WARC/1.0\n' parses correctly instead of mis-framing. Position
# arithmetic: the candidate delimiter starts at acc.cc+1 and occupies 9
# chars; the fragment's char k sits at file position acc.cc+9+k; the
# body begins 2 chars past the header's blank line (instr(f,'\n\n')),
# i.e. at acc.cc + instr + 11; the text sink terminates every record
# row with '\n' (the container's record separator), so the next record
# opens at declared body end + 1.
#
# len_ok is a REAL framing-integrity check: the declared length must
# land the next boundary exactly on end-of-file or on another version
# line (a tautological slice-length==declared check passes whenever
# enough file remains — it only ever failed at EOF). The check runs in
# two tiers: a delimiter-free correctly-declared record satisfies
# flen = hdr + decl + 2 EXACTLY (header through the blank line + body +
# the sink's '\n' terminator) — pure fragment arithmetic, no file
# access; only fragments failing that (in-body delimiter or corruption)
# pay the substring probe at the declared boundary. The tiering matters
# because Spark strings are UTF-8: substring(value, pos, ..) on a
# multi-MB container SCANS O(pos) chars to find the offset, and two
# probes per record measured 1.1 s → 3.5 s at sf0.1 before the fast
# path brought it back to ~1.1 s. Per-fragment header fields (flen,
# hdr, doc id, declared length) are hoisted into ONE transform pass so
# each regexp runs once per fragment, not once per fold reference
# (lambda bodies are never common-subexpression-eliminated). A record
# whose
# declared length fails that check (or whose Content-Chars header is
# missing → content_len = -1) records len_ok = false AND flips the
# fold into RESYNC mode (nxt = -1): the next candidate fragment is
# accepted as a record start, so one corrupt header costs one record,
# not the container tail. HEAD corruption gets the same treatment
# (r9 advice): a container whose first bytes are NOT a version line
# (leading garbage, corrupted first delimiter) starts the fold in
# resync mode — the first candidate fragment after the garbage is
# accepted — instead of position-rejecting every fragment and silently
# yielding zero records. (A mis-declared record whose own body
# contains the delimiter can resync to a false boundary — that
# ambiguity is inherent to any delimiter-resynchronizing parser.)
#
# Cost note: each record append copies the accumulated recs array —
# O(records²) struct copies per container file. Sub-second up to the
# tens of thousands of records per container this engine's fixtures
# and typical ~100 MB WARC shards carry; for containers near the 1 GiB
# cap with 10⁵+ records the production form is the same sequential
# parse as a streaming mapPartitions over a binary chunk reader, which
# is O(records). The fold stays because it keeps the demo parse
# whole-stage JVM with zero Python and zero extra shuffles.
_WARC_FOLD = r"""
aggregate(
  transform(slice(frags, 2, size(frags) - 1), f -> named_struct(
    'flen', CAST(length(f) AS BIGINT),
    'hdr', CAST(instr(f, '\n\n') AS BIGINT),
    'did', CAST(NULLIF(regexp_extract(f, 'WARC-Record-ID: (\\d+)', 1), '')
                AS BIGINT),
    'decl', COALESCE(CAST(NULLIF(regexp_extract(f, 'Content-Chars: (\\d+)', 1),
                                 '') AS BIGINT), -1))),
  named_struct(
    'cc', CAST(length(frags[0]) AS BIGINT),
    'nxt', IF(length(frags[0]) = 0, CAST(1 AS BIGINT), CAST(-1 AS BIGINT)),
    'recs', CAST(array() AS ARRAY<STRUCT<
      doc_id: BIGINT, content_len: BIGINT, len_ok: BOOLEAN, n_tokens: BIGINT>>)
  ),
  (acc, m) -> IF(
    acc.cc + 1 = acc.nxt OR acc.nxt = -1,
    named_struct(
      'cc', acc.cc + 9 + m.flen,
      'nxt', IF(
        m.decl >= 0
        AND (m.flen = m.hdr + m.decl + 2
             OR acc.cc + m.hdr + 12 + m.decl = length(value) + 1
             OR substring(value, CAST(acc.cc + m.hdr + 12 + m.decl AS INT), 9)
                = 'WARC/1.0\n'),
        acc.cc + m.hdr + 12 + m.decl,
        CAST(-1 AS BIGINT)),
      'recs', array_append(acc.recs, named_struct(
        'doc_id', m.did,
        'content_len', m.decl,
        'len_ok',
          m.decl >= 0
          AND (m.flen = m.hdr + m.decl + 2
               OR acc.cc + m.hdr + 12 + m.decl = length(value) + 1
               OR substring(value, CAST(acc.cc + m.hdr + 12 + m.decl AS INT), 9)
                  = 'WARC/1.0\n'),
        'n_tokens',
          CAST(size(filter(split(
            substring(value, CAST(acc.cc + m.hdr + 11 AS INT),
              CAST(GREATEST(m.decl, 0) AS INT)),
            ' '), x -> x <> '')) AS BIGINT)
      ))
    ),
    named_struct('cc', acc.cc + 9 + m.flen, 'nxt', acc.nxt, 'recs', acc.recs)
  ),
  acc -> acc.recs
)
"""


def _warc_dir(sf_dir: str) -> str:
    """Content-addressed fixture dir for the WARC container files (same
    discipline as the replay fixtures: keyed to the source bytes so a
    regenerated dataset can't serve a stale container set)."""
    import os
    import tempfile

    from gdxpy_spark.operators._util import files_fingerprint

    fp = files_fingerprint([os.path.join(sf_dir, "documents.parquet")])
    parent = os.path.join(tempfile.gettempdir(), "gdxpy_spark_io")
    os.makedirs(parent, exist_ok=True)
    # the dir itself is created by atomic_publish's rename — never here
    return os.path.join(
        parent, f"warc_v2_{os.path.basename(sf_dir.rstrip('/'))}_{fp}"
    )


# ---------------------------------------------------------------------------
# Deterministic distributed Lloyd k-means with a full unrolled-SQL oracle
# ---------------------------------------------------------------------------
_KMEANS_K = 16
_KMEANS_ROUNDS = 6


def _kmeans_rounds_sql(k: int = _KMEANS_K, rounds: int = _KMEANS_ROUNDS) -> str:
    """CTE body (everything inside WITH) of the DuckDB twin of llm_kmeans_lloyd: the Lloyd rounds unrolled into
    MATERIALIZED CTEs (the _bpe_rounds_sql trick applied to clustering).
    Exactness comes from three disciplines: (1) seeds are the k vectors
    with the smallest md5(vec_id) — a pure row function, no RNG; (2)
    every recomputed centroid coordinate is quantized to 9 decimals
    (ROUND(AVG(..), 9)) so the engines' different summation orders can
    never leak a last-ulp difference into the next round's
    assignments; (3) the argmin tie-break is (distance, cell) — two
    EXACTLY tied distances (only possible for bit-identical centroids,
    where both engines compute the identical double) resolve to the
    smaller cell id in both engines."""
    parts = [f"""
e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings),
cent0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
             AS cell,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k})"""]
    for r in range(rounds + 1):
        last = r == rounds
        parts.append(f"""
dist{r} AS MATERIALIZED (
  SELECT e.vec_id, cent{r}.cell,
         SUM((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
              - cent{r}.c[CAST(i AS INT)])
             * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                - cent{r}.c[CAST(i AS INT)])) AS d2
  FROM e CROSS JOIN cent{r}
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(e.embedding)
  GROUP BY e.vec_id, cent{r}.cell),
asg{r} AS MATERIALIZED (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist{r})
  WHERE rn = 1)""")
        if not last:
            parts.append(f"""
upd{r} AS MATERIALIZED (
  SELECT a.cell, t.i AS pos,
         ROUND(AVG(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)), 9) AS x
  FROM asg{r} a JOIN e USING (vec_id)
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE t.i <= len(e.embedding)
  GROUP BY a.cell, t.i),
cent{r + 1} AS MATERIALIZED (
  SELECT p.cell,
         COALESCE(u.c, p.c) AS c
  FROM cent{r} p
  LEFT JOIN (SELECT cell, list(x ORDER BY pos) AS c
             FROM upd{r} GROUP BY cell) u USING (cell))""")
    return ",".join(parts)


def _kmeans_oracle(k: int = _KMEANS_K, rounds: int = _KMEANS_ROUNDS) -> str:
    """Full oracle for llm_kmeans_lloyd (rounds body + final select)."""
    return f"""
WITH {_kmeans_rounds_sql(k, rounds)}
SELECT vec_id, CAST(cell AS INT) AS cell,
       ROUND(d2, 4) + 0.0 AS dist2
FROM asg{rounds}
"""


@register("llm_kmeans_lloyd", oracle=_kmeans_oracle(), category="K")
def llm_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means (Lloyd 1982): {k=16} cells,
    6 assignment/update rounds, output = every vector's final cell and
    squared distance. This is the coarse quantizer every IVF / SemDeDup
    layer needs, built WITHOUT MLlib so the whole iteration is
    cross-engine checkable: seeds are the k vectors with the smallest
    md5(vec_id) (a pure row function — reproducible across engines,
    partitionings and retries, the llm_hash_sample discipline), and
    each recomputed centroid coordinate is quantized to 9 decimals so
    summation order can never leak into the next round's argmin (the
    _kmeans_oracle docstring argues the tie-break case). Full
    value-hash oracle: the DuckDB twin unrolls the same rounds as
    MATERIALIZED CTEs — the llm_bpe_train technique applied to an ML
    training loop.

    Physical strategy per round: the assignment is a k-way broadcast
    (centroids are KILOBYTES — k×64 doubles — at any corpus size)
    against the vector table, argmin as a groupBy min-struct (no
    window, no sort); the update is one partial-aggregable
    (cell, dim)-keyed average over a posexploded frame. localCheckpoint
    per round bounds plan depth exactly as in connected_components /
    BPE. At 100 TB: n·k distance work and one n-sized shuffle per
    round — the textbook distributed Lloyd cost, with k chosen by the
    caller (k≈√n for IVF, see _ivf_k)."""
    asg, _cents = _kmeans_fit(spark, sf_dir)
    return asg.select(
        "vec_id", "cell", (F.round("d2", 4) + F.lit(0.0)).alias("dist2")
    )


# fitted centroids are metadata (k×64 quantized doubles); memoized per
# dataset fingerprint with the _BPE_MERGE_MEMO discipline (LRU-capped,
# content-addressed — never stale) so llm_kmeans_lloyd +
# llm_ann_ivf_checked in one session fit once and serve after
_KMEANS_MEMO: dict = {}
_KMEANS_MEMO_CAP = 4


_KMEANS_JOIN_ASSIGN_MAX_K = 64  # strategy switch for _kmeans_assign


# the one live large-k centroid broadcast (see _kmeans_assign): fits
# are driver-side sequential, so a single slot suffices
_KMEANS_ASSIGN_BC = None


def _kmeans_assign(spark: SparkSession, cents, frame_ve, frame_rows):
    """Nearest-centroid assignment → (vec_id, cell, d2). One semantic,
    two physical strategies by k (the Catalyst-style cost cut made
    explicit, r13):

    - k ≤ {max_k}: distances as one codegen'd equi-join — (vec,pos,v)
      × broadcast (cell,pos,c) on pos, partial-agg sum of squares,
      argmin as a groupBy min-struct. No window, no interpreted HOFs
      (a 16-fold zip_with variant measured 22.7 s at sf0.1 vs ~3 s for
      this shape). Every REGISTERED oracle path runs here (k ≤ ~45 at
      the driver's scales), so oracle-checked plans are byte-identical
      to r12's.
    - k > {max_k}: the join shape explodes n·k·64 rows — the measured
      fit wall at the 100× probe, and the blocker for the
      k ∝ n/target_cell regime (r12 verdict #1). Large k switches to
      the llm_knn_brute pattern: broadcast the k×64 centroid matrix
      (metadata — 1.6 MB at k=3136) and argmin per Arrow batch with
      one BLAS GEMM (n·k·d FLOPs, n rows — no row explosion, no
      shuffle; output is the same narrow (vec_id, cell, d2) frame).
      Tie-break matches the min-struct exactly: np.argmin returns the
      FIRST minimal index = lowest cell. d2 is computed as
      |v|²−2v·c+|c|² (clamped at 0), whose float association differs
      from the join path's Σ(v−c)² in ulps — the accepted knife-edge
      class documented on _kmeans_rounds_sql; assignment equivalence
      at the boundary is pinned in tests/test_r13_ops.py."""
    k = len(cents)
    if k <= _KMEANS_JOIN_ASSIGN_MAX_K:
        cent_rows = [
            (j, p, x) for j, c in enumerate(cents) for p, x in enumerate(c)
        ]
        cdf = spark.createDataFrame(cent_rows, "cell INT, pos INT, c DOUBLE")
        d2 = (
            frame_ve.join(F.broadcast(cdf), "pos")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
                ).alias("d2")
            )
        )
        best = d2.groupBy("vec_id").agg(
            F.min(F.struct("d2", "cell")).alias("b")
        )
        return best.select(
            "vec_id", F.col("b.cell").alias("cell"), F.col("b.d2").alias("d2")
        )
    import numpy as np

    # single-slot broadcast reuse (r13 advice): each fit round used to
    # leave its centroid-matrix broadcast cached on the executors until
    # driver GC — at the 10⁹ posture (k≈31.6k → ~16 MB each, 7 rounds
    # per fit) that is ~100 MB+ of dead broadcast blocks per fit.
    # unpersist() only evicts the executor copies; if a plan holding
    # the old handle re-executes, Spark re-ships the value from the
    # driver, so evicting the PREVIOUS round's matrix once the new
    # round is being assigned is always correct, never just usually.
    global _KMEANS_ASSIGN_BC
    if _KMEANS_ASSIGN_BC is not None:
        _KMEANS_ASSIGN_BC.unpersist()
    bc = spark.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))
    _KMEANS_ASSIGN_BC = bc

    def part(it):
        import numpy as np
        import pandas as pd

        cm = bc.value
        cn = (cm * cm).sum(axis=1)
        for pdf in it:
            if not len(pdf):
                continue
            vm = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
            )
            d2 = (vm * vm).sum(1)[:, None] - 2.0 * (vm @ cm.T) + cn[None, :]
            cell = d2.argmin(1)
            best = d2[np.arange(len(vm)), cell]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cell.astype("int32"),
                    "d2": np.maximum(best, 0.0),
                }
            )

    return frame_rows.mapInPandas(
        part, schema="vec_id BIGINT, cell INT, d2 DOUBLE"
    )


_kmeans_assign.__doc__ = _kmeans_assign.__doc__.format(
    max_k=_KMEANS_JOIN_ASSIGN_MAX_K
)


def _kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KMEANS_K,
    sample_per_cell: int = None,
):
    """The Lloyd loop behind llm_kmeans_lloyd (see its docstring).
    Returns (final assignment DataFrame (vec_id, cell, d2), the final
    quantized centroid list) — shared with llm_ann_ivf_checked and,
    since r12 at k=√n, with the production IVF quantizer
    (_lloyd_ivf_fit).

    ``sample_per_cell``: when set, the UPDATE rounds fit on only the
    k·sample_per_cell vectors with the smallest md5(vec_id) — the
    FAISS train-on-sample discipline (a quantizer needs ~10²
    points/cell to converge; fitting on all n is n·k·d work per round
    for no quality gain). The FINAL assignment always covers the full
    corpus (one n·k·d pass — the irreducible cost of inverted-file
    indexing). The sample is md5-prefix-deterministic (the
    llm_hash_sample discipline), so the DuckDB twin reproduces it with
    ORDER BY md5 LIMIT; at test scales the cap exceeds n and the
    sample IS the corpus — the oracle stays exact at every scale
    because both engines apply the same cap."""
    import os

    from gdxpy_spark.operators._util import files_fingerprint

    fp = files_fingerprint([os.path.join(sf_dir, "embeddings.parquet")])
    memo_key = (fp, k, sample_per_cell)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the posexploded (vec_id, pos, v) frame feeds EVERY round's distance
    # join and the final assignment — cache it once (n×64 skinny rows)
    ve = managed_cache(
        e.select(
            "vec_id", F.posexplode("embedding").alias("pos", "v")
        ).withColumn("v", F.col("v").cast("double"))
    )
    memo_ok, memo_hit = _memo_get(_KMEANS_MEMO, memo_key)
    if memo_ok:
        centroids = memo_hit
        rounds = 0  # fit cached: serve-only (one final assignment job)
        fit_ve, fit_rows = ve, e
    else:
        cap = k * sample_per_cell if sample_per_cell else None
        if cap is None:
            fit_ve, fit_rows = ve, e
        else:
            # repartition AFTER the sort-limit: Spark's GlobalLimit
            # leaves ONE partition, which would run every fit round's
            # join/agg at parallelism 1 (measured: a multi-minute stall
            # at the 100× probe; invisible at test scale). Membership
            # is fixed by the limit, so the reshuffle changes layout
            # only.
            samp = e.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(
                cap
            ).repartition("vec_id")
            fit_rows = managed_cache(samp)
            fit_ve = managed_cache(
                samp.select(
                    "vec_id", F.posexplode("embedding").alias("pos", "v")
                ).withColumn("v", F.col("v").cast("double"))
            )
        seeds = (
            e.orderBy(F.md5(F.col("vec_id").cast("string")))
            .limit(k)
            .select(
                F.transform("embedding", lambda v: v.cast("double")).alias("c")
            )
            .collect()
        )
        centroids = [list(r["c"]) for r in seeds]  # k x 64 doubles: metadata
        rounds = _KMEANS_ROUNDS

    for _r in range(rounds):
        asg = _kmeans_assign(spark, centroids, fit_ve, fit_rows)
        upd = (
            asg.join(fit_ve, "vec_id")
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("v"), 9).alias("x"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "x"))
                ).alias("px")
            )
            .select("cell", F.col("px.x").alias("c"))
            .collect()
        )
        for row in upd:  # empty cells keep their previous centroid
            centroids[row["cell"]] = list(row["c"])
    _memo_put(_KMEANS_MEMO, memo_key, centroids, _KMEANS_MEMO_CAP)
    return _kmeans_assign(spark, centroids, ve, e), centroids


_IVF_SAMPLE_PER_CELL = 64


def _lloyd_ivf_fit(spark: SparkSession, sf_dir: str):
    """The production IVF quantizer (r12): the deterministic Lloyd fit
    at corpus-sized k = _ivf_k(n) ≈ √n, update rounds on a
    64-per-cell md5 sample, full-corpus final assignment. Replaces the
    MLlib KMeans fit behind llm_ann_ivf/_served so the ENTIRE pipeline
    — fit, assignment, two-level probe, serving — carries a value-hash
    DuckDB oracle (_ivf_lloyd_oracle); ivf_mllib_demo keeps the
    pyspark.ml integration surface."""
    e = table(spark, sf_dir, "embeddings")
    k = _ivf_k(e.count(), target_cell=_ivf_target_cell())
    return _kmeans_fit(
        spark, sf_dir, k=k, sample_per_cell=_IVF_SAMPLE_PER_CELL
    )


# ---------------------------------------------------------------------------
# Two-level coarse search: a super-quantizer over the centroids (r11
# verdict #1 — the n·k coarse-rank term was the one measured algorithmic
# scale cliff left, ×37.6 wall at the 100× posture probe)
# ---------------------------------------------------------------------------
_SUPER_ROUNDS = 2


def _super_g(k: int) -> int:
    """Super-group count over k centroids: g ≈ √k, floor 2. With
    k = √n cells (_ivf_k) this makes the coarse search
    n·g + nprobe_super·n·(k/g) ≈ n·n^0.25 instead of n·√n — the level
    count FAISS/ScaNN pick for exactly this reason (a two-level
    inverted file); a third level only pays past ~10¹² vectors."""
    import math

    return max(2, math.ceil(math.sqrt(k)))


def _round9(x: float) -> float:
    """Spark F.round semantics on the driver: HALF_UP on the double's
    shortest repr, 9 decimals (the established cross-engine centroid
    quantization, cf. the Kneser-Ney micro-nat discipline)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1E-9"), ROUND_HALF_UP))


def _super_quantize(
    cents: list, rounds: int = _SUPER_ROUNDS, cell_ids: list = None
) -> tuple[list, list]:
    """Deterministic driver-side Lloyd over the CENTROIDS themselves:
    group the k coarse centroids into g = _super_g(k) super-groups.
    Returns (grp_of_cell, super_centers).

    This runs on METADATA (k×64 doubles — kilobytes at any corpus
    size), so plain Python is the honest engine: no job, no shuffle.
    Every discipline mirrors _kmeans_rounds_sql so the DuckDB twin
    (_super_rounds_sql) reproduces it CTE-for-CTE: seeds are the g
    centroids with the smallest md5(str(cell)); rounds+1 assignments
    with rounds quantized-mean updates between (means accumulate in
    ascending-cell order, ROUND HALF_UP to 9 decimals via _round9);
    argmin tie-break (d2, grp); an emptied group keeps its previous
    center. Residual cross-engine float risk is the accepted
    knife-edge class documented on _kmeans_rounds_sql.

    ``cell_ids`` (default 0..k-1) are the ACTUAL cell ids of the
    centroids: the seed order hashes these, mirroring the SQL twin's
    md5(CAST(cell AS VARCHAR)) — r12 advice fix: hashing list POSITION
    agreed with the oracle only while cell ids happened to be
    contiguous and sorted."""
    import hashlib

    k = len(cents)
    ids = list(range(k)) if cell_ids is None else [int(c) for c in cell_ids]
    assert len(ids) == k
    g = _super_g(k)
    order = sorted(
        range(k), key=lambda c: hashlib.md5(str(ids[c]).encode()).hexdigest()
    )
    sc = [list(cents[c]) for c in order[:g]]
    asg = [0] * k

    def assign() -> None:
        for cell in range(k):
            asg[cell] = min(
                (
                    sum((a - b) * (a - b) for a, b in zip(cents[cell], sc[j])),
                    j,
                )
                for j in range(g)
            )[1]

    for r in range(rounds + 1):
        assign()
        if r == rounds:
            break
        for j in range(g):
            members = [c for c in range(k) if asg[c] == j]
            if not members:
                continue  # empty group keeps its previous center
            dim = len(sc[j])
            sc[j] = [
                _round9(sum(cents[c][p] for c in members) / len(members))
                for p in range(dim)
            ]
    return asg, sc


def _super_rounds_sql(
    g: int, rounds: int = _SUPER_ROUNDS, cent: str = None
) -> str:
    """SQL fragment: the DuckDB twin of _super_quantize, run over the
    centroid CTE ``cent`` (default cent{_KMEANS_ROUNDS}, i.e. the Lloyd
    quantizer's final centroids — (cell, c ARRAY<DOUBLE>)). Unrolls
    rounds+1 assignments like _kmeans_rounds_sql; ends at sasg{rounds}
    (cell → grp) and scent{rounds} (grp → center)."""
    cent = cent or f"cent{_KMEANS_ROUNDS}"
    parts = [f"""
scent0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(cell AS VARCHAR))) - 1 AS grp,
         c
  FROM {cent} ORDER BY md5(CAST(cell AS VARCHAR)) LIMIT {g})"""]
    for r in range(rounds + 1):
        last = r == rounds
        parts.append(f"""
sdist{r} AS MATERIALIZED (
  SELECT p.cell, s.grp,
         SUM((p.c[CAST(i AS INT)] - s.c[CAST(i AS INT)])
             * (p.c[CAST(i AS INT)] - s.c[CAST(i AS INT)])) AS d2
  FROM {cent} p CROSS JOIN scent{r} s
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(p.c)
  GROUP BY p.cell, s.grp),
sasg{r} AS MATERIALIZED (
  SELECT cell, grp FROM (
    SELECT cell, grp,
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d2, grp) AS rn
    FROM sdist{r})
  WHERE rn = 1)""")
        if not last:
            parts.append(f"""
supd{r} AS MATERIALIZED (
  SELECT a.grp, t.i AS pos,
         ROUND(AVG(p.c[CAST(t.i AS INT)]), 9) AS x
  FROM sasg{r} a JOIN {cent} p USING (cell)
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE t.i <= len(p.c)
  GROUP BY a.grp, t.i),
scent{r + 1} AS MATERIALIZED (
  SELECT q.grp, COALESCE(u.c, q.c) AS c
  FROM scent{r} q
  LEFT JOIN (SELECT grp, list(x ORDER BY pos) AS c
             FROM supd{r} GROUP BY grp) u USING (grp))""")
    return ",".join(parts)


def _ivf_checked_oracle() -> str:
    """DuckDB twin of llm_ann_ivf_checked: the Lloyd quantizer's rounds
    (shared CTE body with llm_kmeans_lloyd's oracle), then the
    TWO-LEVEL IVF serving shape (r12) — the super-quantizer's rounds
    over the final centroids (_super_rounds_sql, mirroring
    _super_quantize), each vector's 2 nearest SUPER-groups (vsd/vtop),
    the probe rank restricted to cells of those groups (dist{{R}}
    filtered through sasg/vtop — the hierarchy is a FILTER on the same
    distances the flat rank used, so the checked twin pins exactly the
    pruning the served path applies at k=√n), then index side = top-1
    cell, exact cosine + the (cos DESC, nn_id ASC) top-1 from the
    established scoring tail."""
    R = _KMEANS_ROUNDS
    S = _SUPER_ROUNDS
    g = _super_g(_KMEANS_K)
    return f"""
WITH {_kmeans_rounds_sql()},
{_super_rounds_sql(g)},
vsd AS MATERIALIZED (
  SELECT e.vec_id, s.grp,
         SUM((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
              - s.c[CAST(i AS INT)])
             * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                - s.c[CAST(i AS INT)])) AS d2
  FROM e CROSS JOIN scent{S} s
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(e.embedding)
  GROUP BY e.vec_id, s.grp),
vtop AS MATERIALIZED (
  SELECT vec_id, grp FROM (
    SELECT vec_id, grp,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, grp) AS rn
    FROM vsd)
  WHERE rn <= 2),
probes AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, d.cell,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d2, d.cell)
               AS rn
    FROM dist{R} d
    JOIN sasg{S} m USING (cell)
    JOIN vtop v ON v.vec_id = d.vec_id AND v.grp = m.grp)
  WHERE rn <= 2),
idx AS MATERIALIZED (SELECT vec_id, cell FROM asg{R}),
cand AS MATERIALIZED (
  SELECT DISTINCT p.vec_id, x.vec_id AS nn_id
  FROM probes p JOIN idx x USING (cell)
  WHERE p.vec_id <> x.vec_id),
en AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
  FROM embeddings),
scored AS MATERIALIZED (
  SELECT c.vec_id, c.nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         / (a.norm * b.norm) AS cos_sim
  FROM cand c
  JOIN en a ON a.vec_id = c.vec_id
  JOIN en b ON b.vec_id = c.nn_id
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(a.embedding)
  GROUP BY c.vec_id, c.nn_id, a.norm, b.norm)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


@register("llm_ann_ivf_checked", oracle=_ivf_checked_oracle(), category="K")
def llm_ann_ivf_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor on the DETERMINISTIC Lloyd
    quantizer (_kmeans_fit) — the fully-checkable twin of llm_ann_ivf:
    same inverted-file shape (index side = top-1 cell assignment, query
    side probes its nprobe=2 nearest centroids, exact cosine within the
    probed cells, top-1 per query), but with the md5-seeded quantized
    k-means instead of MLlib, so candidates AND results carry a full
    value-hash oracle. The MLlib variant remains the production
    pyspark.ml integration surface (weak by its engine-specific fit);
    this op pins the ENTIRE IVF serving logic — probe ranking, cell
    equi-join, tie-breaks — against DuckDB every round.

    Scale: identical to llm_ann_ivf's serving cost model — probe
    ranking is n·k distances against a kilobyte broadcast, candidates
    are nprobe·n·(n/k) exact cosines in cell-equi-joined blocks; the
    quantizer itself is llm_kmeans_lloyd's 6 driver-paced rounds."""
    asg, cents = _kmeans_fit(spark, sf_dir)
    e = _with_norm(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    cent_rows = [
        (j, p, x) for j, c in enumerate(cents) for p, x in enumerate(c)
    ]
    cdf = spark.createDataFrame(cent_rows, "cell INT, pos INT, c DOUBLE")
    ve = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    d2 = (
        ve.join(F.broadcast(cdf), "pos")
        .groupBy("vec_id", "cell")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )
    # r12 two-level coarse search (mirrors _ivf_probe_cells at k=√n and
    # the oracle's vsd/vtop/probes CTEs): rank the g=√k super-centroids
    # per vector, then rank only the top-2 groups' member cells. At
    # k=16 the FLOP win is modest — the point of this twin is that the
    # pruning SEMANTICS (group restriction before the (d2, cell) rank)
    # are value-hash-checked against DuckDB every round.
    # cell ids here ARE list positions (enumerate over _kmeans_fit's
    # centroids), so the default contiguous cell_ids hash correctly.
    grp_of, scents = _super_quantize(cents)
    srows = [(j, p, x) for j, c in enumerate(scents) for p, x in enumerate(c)]
    sdf = spark.createDataFrame(srows, "grp INT, pos INT, c DOUBLE")
    vs = (
        ve.join(F.broadcast(sdf), "pos")
        .groupBy("vec_id", "grp")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("sd2"))
    )
    ws = W.partitionBy("vec_id").orderBy(F.col("sd2").asc(), F.col("grp").asc())
    vtop = (
        vs.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= 2)
        .select("vec_id", "grp")
    )
    memb = spark.createDataFrame(
        [(c, gg) for c, gg in enumerate(grp_of)], "cell INT, grp INT"
    )
    w = W.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    probes = (
        d2.join(F.broadcast(memb), "cell")
        .join(vtop, ["vec_id", "grp"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("vec_id", "cell")
    )
    index_ids = asg.select("cell", "vec_id")
    cand = (
        probes.alias("q")
        .join(index_ids.alias("x"), "cell")
        .filter(F.col("q.vec_id") != F.col("x.vec_id"))
        .select(F.col("q.vec_id").alias("vec_id"), F.col("x.vec_id").alias("nn_id"))
        .distinct()
    )
    return _cosine_top1(e, cand)


# ---------------------------------------------------------------------------
# Production IVF on the deterministic Lloyd quantizer (r12, verdict #6):
# llm_ann_ivf / llm_ann_ivf_served graduate from weak to fully
# hash-oracled — dynamic k = √n, sampled fit, two-level coarse search,
# all recomputed in DuckDB.
# ---------------------------------------------------------------------------


def _ivf_lloyd_rounds_sql(
    rounds: int = _KMEANS_ROUNDS, spc: int = _IVF_SAMPLE_PER_CELL
) -> str:
    """CTE body: the Lloyd quantizer at DYNAMIC k (kv CTE: GREATEST(16,
    CEIL(SQRT(n))) — _ivf_k's formula in SQL) with the sampled-fit
    discipline of _kmeans_fit(sample_per_cell=spc): update rounds see
    only the spc·k md5-smallest vectors (samp CTE; at test scales the
    LIMIT exceeds n, so the sample IS the corpus and both engines agree
    exactly at every scale), the final round's dist/asg cover the full
    corpus. Structure otherwise identical to _kmeans_rounds_sql."""
    parts = [f"""
e AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings),
kv AS (SELECT GREATEST({_IVF_K_FLOOR}, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))
           AS k
       FROM e),
samp AS MATERIALIZED (
  SELECT vec_id, embedding FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT (SELECT {spc} * k FROM kv)),
cent0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
             AS cell,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT (SELECT k FROM kv))"""]
    for r in range(rounds + 1):
        last = r == rounds
        src = "e" if last else "samp"
        parts.append(f"""
dist{r} AS MATERIALIZED (
  SELECT s.vec_id, cent{r}.cell,
         SUM((CAST(s.embedding[CAST(i AS INT)] AS DOUBLE)
              - cent{r}.c[CAST(i AS INT)])
             * (CAST(s.embedding[CAST(i AS INT)] AS DOUBLE)
                - cent{r}.c[CAST(i AS INT)])) AS d2
  FROM {src} s CROSS JOIN cent{r}
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(s.embedding)
  GROUP BY s.vec_id, cent{r}.cell),
asg{r} AS MATERIALIZED (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist{r})
  WHERE rn = 1)""")
        if not last:
            parts.append(f"""
upd{r} AS MATERIALIZED (
  SELECT a.cell, t.i AS pos,
         ROUND(AVG(CAST(s.embedding[CAST(t.i AS INT)] AS DOUBLE)), 9) AS x
  FROM asg{r} a JOIN samp s USING (vec_id)
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE t.i <= len(s.embedding)
  GROUP BY a.cell, t.i),
cent{r + 1} AS MATERIALIZED (
  SELECT p.cell,
         COALESCE(u.c, p.c) AS c
  FROM cent{r} p
  LEFT JOIN (SELECT cell, list(x ORDER BY pos) AS c
             FROM upd{r} GROUP BY cell) u USING (cell))""")
    return ",".join(parts)


def _ivf_lloyd_oracle() -> str:
    """DuckDB twin of llm_ann_ivf AND llm_ann_ivf_served (the two are
    pinned equal by test, so one oracle serves both): dynamic-k sampled
    Lloyd rounds (_ivf_lloyd_rounds_sql), the super-quantizer at
    dynamic g = GREATEST(2, CEIL(SQRT(k))) (_super_rounds_sql with a
    LIMIT subquery), the two-level probe restriction, then the
    established cosine/top-1 scoring tail — the whole production IVF
    path, fit to serve, value-hash-checked."""
    R = _KMEANS_ROUNDS
    S = _SUPER_ROUNDS
    g_sql = "(SELECT GREATEST(2, CAST(CEIL(SQRT(k)) AS BIGINT)) FROM kv)"
    return f"""
WITH {_ivf_lloyd_rounds_sql()},
{_super_rounds_sql(g_sql)},
vsd AS MATERIALIZED (
  SELECT e.vec_id, s.grp,
         SUM((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
              - s.c[CAST(i AS INT)])
             * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                - s.c[CAST(i AS INT)])) AS d2
  FROM e CROSS JOIN scent{S} s
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(e.embedding)
  GROUP BY e.vec_id, s.grp),
vtop AS MATERIALIZED (
  SELECT vec_id, grp FROM (
    SELECT vec_id, grp,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, grp) AS rn
    FROM vsd)
  WHERE rn <= 2),
probes AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, d.cell,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d2, d.cell)
               AS rn
    FROM dist{R} d
    JOIN sasg{S} m USING (cell)
    JOIN vtop v ON v.vec_id = d.vec_id AND v.grp = m.grp)
  WHERE rn <= 2),
idx AS MATERIALIZED (SELECT vec_id, cell FROM asg{R}),
cand AS MATERIALIZED (
  SELECT DISTINCT p.vec_id, x.vec_id AS nn_id
  FROM probes p JOIN idx x USING (cell)
  WHERE p.vec_id <> x.vec_id),
en AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
  FROM embeddings),
scored AS MATERIALIZED (
  SELECT c.vec_id, c.nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         / (a.norm * b.norm) AS cos_sim
  FROM cand c
  JOIN en a ON a.vec_id = c.vec_id
  JOIN en b ON b.vec_id = c.nn_id
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(a.embedding)
  GROUP BY c.vec_id, c.nn_id, a.norm, b.norm)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


@register("llm_ann_ivf", oracle=_ivf_lloyd_oracle(), category="K")
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor at corpus-sized k = _ivf_k(n)
    ≈ √n — since r12 on the DETERMINISTIC Lloyd quantizer
    (_lloyd_ivf_fit: md5 seeds, 64-per-cell sampled update rounds,
    full-corpus final assignment), so the ENTIRE pipeline — fit,
    assignment, two-level coarse probe (_ivf_probe_cells), exact
    cosine, top-1 — carries a full value-hash DuckDB oracle
    (_ivf_lloyd_oracle) instead of r11's weak rows-only check. The
    MLlib variant survives as ivf_mllib_demo.

    This is the inverted-file layout at any scale: the index side is
    partitioned by cell (co-located, prunable), query fan-out is
    nprobe/k of the corpus, coarse-search cost is O(n·n^0.25) through
    the super-quantizer, and recall is tuned by nprobe — measured in
    tests/test_ann.py against llm_knn_brute (~0.5 at nprobe=2 on this
    near-uniform corpus, ≈1.0 on planted near-duplicates, the
    distribution real dedup workloads have). The fit memoizes per
    (dataset, k, sample) fingerprint (_KMEANS_MEMO), so
    rebuild-per-query costs one final-assignment job after the first
    call; llm_ann_ivf_served never fits at all. Cache lifetime: the
    indexed frame rides _util.managed_cache."""
    asg, cents = _lloyd_ivf_fit(spark, sf_dir)
    e = _with_norm(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    indexed = managed_cache(e.join(asg.select("vec_id", "cell"), "vec_id"))
    centers = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell INT, center ARRAY<DOUBLE>",
    )
    # single probe/candidate/top-1 code path shared with the served op:
    # test_ivf_served_equals_rebuild_variant pins the two EQUAL, and a
    # divergent copy (tie-break, rounding) would break that silently
    return _ivf_candidates_top1(indexed, centers)


@register("llm_ann_ivf_served", oracle=_ivf_lloyd_oracle(), category="K")
def llm_ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, SERVED from a persisted index (build-once/query-many —
    the production RAG serving shape llm_ann_ivf doesn't exercise:
    that op refits the quantizer per process, this one never fits at
    query time). The index — coarse centroids + cell-partitioned
    vector assignments, norms precomputed at build — is materialized
    once per dataset fingerprint by _ensure_ivf_index (since r12 from
    _lloyd_ivf_fit, so the persisted layout is oracle-reproducible and
    this op carries the same full value-hash oracle as llm_ann_ivf);
    the serving plan is pure DataFrame ops over the persisted layouts:
    two-level coarse probe against the broadcast (super-)centroids
    (n·n^0.25 rows — the r11 n·√n coarse-rank cliff closed by
    _super_quantize), equi-join the probed cells against the
    cell-partitioned index, exact cosine, top-1 per query.

    Scale: the serving cost is nprobe/k of the corpus per query batch,
    the index side scans only probed cell partitions (partition-level
    pruning from the partitionBy(cell) layout), and the build cost
    amortizes over every query until the data changes. Same spec as
    llm_ann_ivf (k=_ivf_k(n), md5 seeds, nprobe=2), so served results
    are pinned EQUAL to the rebuild-per-query op in
    tests/test_r10_ops.py, recall floors ride the existing test_ann.py
    machinery, and the no-refit contract is pinned by poisoning the
    Lloyd fit after the first build."""
    import os

    idx = _ensure_ivf_index(spark, sf_dir)
    centers = spark.read.parquet(os.path.join(idx, "centers"))
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    return _ivf_candidates_top1(cells, centers)


_SEMDEDUP_CC_ROUNDS = 7  # same margin discipline as _GRAPH_CC_ROUNDS:
# dup graphs star-collapse in 3-4 contraction rounds; rounds-vs-rounds+1
# equality pinned in tests/test_r12_ops.py


def _two_level_probe_sql() -> str:
    """Shared CTE fragment (r13 refactor — byte-identical text formerly
    duplicated in _semdedup_oracle and _ivf_pq_body): the two-level
    coarse probe — each vector ranks the super-centroids (vsd), keeps
    its top-2 groups (vtop), then ranks only those groups' member
    cells for its nprobe=2 probe set (probes). Mirrors
    _ivf_probe_cells. Requires e / scent{S} / sasg{S} / dist{R} CTEs
    in scope."""
    R = _KMEANS_ROUNDS
    S = _SUPER_ROUNDS
    return f"""vsd AS MATERIALIZED (
  SELECT e.vec_id, s.grp,
         SUM((CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
              - s.c[CAST(i AS INT)])
             * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                - s.c[CAST(i AS INT)])) AS d2
  FROM e CROSS JOIN scent{S} s
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(e.embedding)
  GROUP BY e.vec_id, s.grp),
vtop AS MATERIALIZED (
  SELECT vec_id, grp FROM (
    SELECT vec_id, grp,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, grp) AS rn
    FROM vsd)
  WHERE rn <= 2),
probes AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, d.cell,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.d2, d.cell)
               AS rn
    FROM dist{R} d
    JOIN sasg{S} m USING (cell)
    JOIN vtop v ON v.vec_id = d.vec_id AND v.grp = m.grp)
  WHERE rn <= 2)"""


def _semdedup_cand_sql() -> str:
    """Shared CTE fragment: SemDeDup's DIRECTED candidate generation —
    top-1 cell buckets (buck), the cap-2048 representative-chaining
    index side (bidx), and the probe-join candidate pairs cand0
    (lsh_candidate_pairs' q_probes semantics; UNION dedups). Requires
    asg{R} + probes CTEs in scope."""
    R = _KMEANS_ROUNDS
    return f"""buck AS MATERIALIZED (SELECT vec_id, cell AS bucket FROM asg{R}),
bsz AS MATERIALIZED (
  SELECT bucket, COUNT(*) AS bsize, MIN(vec_id) AS rep
  FROM buck GROUP BY bucket),
bd AS MATERIALIZED (
  SELECT buck.vec_id, buck.bucket, bsize, rep
  FROM buck JOIN bsz USING (bucket)),
bidx AS MATERIALIZED (
  SELECT bucket, vec_id FROM bd WHERE bsize <= 2048
  UNION ALL
  SELECT DISTINCT bucket, rep AS vec_id FROM bd WHERE bsize > 2048),
cand0 AS MATERIALIZED (
  SELECT q.vec_id, x.vec_id AS nn_id
  FROM (SELECT vec_id, cell AS bucket FROM probes) q
  JOIN bidx x USING (bucket)
  WHERE q.vec_id <> x.vec_id
  UNION
  SELECT rep AS vec_id, vec_id AS nn_id
  FROM bd WHERE bsize > 2048 AND vec_id <> rep)"""


def _semdedup_tau_cc_sql(as_cte: str = None) -> str:
    """Shared tail fragment: exact τ=0.4 cosine verify over the
    normalized candidate pairs CTE ``cand`` (va, vb), then
    star-contraction CC down to (dup_id, kept_id) child rows. The τ
    filter's unrounded-double knife-edge is documented on
    _semdedup_oracle. With ``as_cte`` set the fragment ends at that
    named CTE instead of a final SELECT, so a composite oracle
    (mm_e2e_dedup) can keep chaining the WITH."""
    N = _SEMDEDUP_CC_ROUNDS
    tail = f"SELECT DISTINCT u AS dup_id, v AS kept_id FROM se{N}"
    if as_cte:
        tail = f",\n{as_cte} AS MATERIALIZED ({tail})"
    else:
        tail = "\n" + tail
    return f"""en AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
  FROM embeddings),
sedges AS MATERIALIZED (
  SELECT c.va AS doc_a, c.vb AS doc_b
  FROM cand c
  JOIN en a ON a.vec_id = c.va
  JOIN en b ON b.vec_id = c.vb
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(a.embedding)
  GROUP BY c.va, c.vb, a.norm, b.norm
  HAVING SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         / (a.norm * b.norm) >= 0.4),
se0 AS MATERIALIZED (
  SELECT DISTINCT GREATEST(doc_a, doc_b) AS u, LEAST(doc_a, doc_b) AS v
  FROM sedges),
{_cc_star_rounds_sql(N)}{tail}"""


def _semdedup_oracle() -> str:
    """DuckDB twin of llm_semdedup (r12 — was weak through r11; the
    Lloyd quantizer made the whole pipeline reproducible): dynamic-k
    sampled Lloyd rounds + super-quantizer + two-level probe (shared
    CTE text with _ivf_lloyd_oracle), then lsh_candidate_pairs'
    cap-2048 representative-chaining candidate generation, the exact
    τ=0.4 cosine verify, and star-contraction CC unrolled
    (_cc_star_rounds_sql) down to (dup_id, kept_id) child rows.

    ACCEPTED FLOAT RISK: the τ filter compares an UNROUNDED double
    cosine against 0.4 (both engines may associate the 64-term dot
    differently) — same knife-edge class as the LSH sign bit
    (_lsh_oracle), P ≈ 1e-14 per candidate pair; quantizing before the
    compare would only move the boundary, not shrink it."""
    return f"""
WITH {_semdedup_with_body(as_cte=None)}"""


def _semdedup_with_body(as_cte: str = "sdedup") -> str:
    """The full semdedup WITH body (quantizer → probe → candidates →
    τ verify → CC), either ending at CTE ``as_cte(dup_id, kept_id)``
    for composite oracles (mm_e2e_dedup) or, with ``as_cte=None``, at
    _semdedup_tau_cc_sql's final SELECT (the registered oracle)."""
    g_sql = "(SELECT GREATEST(2, CAST(CEIL(SQRT(k)) AS BIGINT)) FROM kv)"
    return f"""{_ivf_lloyd_rounds_sql()},
{_super_rounds_sql(g_sql)},
{_two_level_probe_sql()},
{_semdedup_cand_sql()},
cand AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, nn_id) AS va,
                  GREATEST(vec_id, nn_id) AS vb
  FROM cand0),
{_semdedup_tau_cc_sql(as_cte=as_cte)}"""


@register("llm_semdedup", oracle=_semdedup_oracle(), category="K")
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    embedding-cluster scoping — exact cosine verification runs only
    WITHIN a coarse cluster, never across the corpus, then transitive
    groups keep their min-id representative. The cluster layer is the
    SAME persisted IVF index the ANN serving path uses
    (_ensure_ivf_index: build-once, content-fingerprinted, cell-
    partitioned), so dedup and retrieval share one quantizer — the
    production arrangement. τ = 0.4, matching llm_embed_dedup's exact
    all-pairs rule on this near-orthogonal corpus. Cluster-BOUNDARY
    pairs — the paper's known recall loss — are recovered by probing
    each vector's 2 nearest centroids on the query side (index side
    stays top-1, the multiprobe trade shared with
    llm_ann_lsh_multiprobe via lsh_candidate_pairs' q_probes); the
    residual misses (both probes elsewhere) are the declared
    approximation, pinned by the planted-recall pytest. Candidate
    volume stays E[pairs] = Σ_c nprobe·n_c², the subquadratic 100 TB
    path. Oversized cells degrade to representative
    chaining via the shared lsh_candidate_pairs skew cap instead of
    going quadratic. Emits (dup_id, kept_id = min id of the semantic
    group), singletons omitted — llm_minhash_dedup's contract with
    embeddings instead of shingles.

    FULLY HASH-ORACLED since r12 (was weak r10–r11): the Lloyd
    quantizer behind _ensure_ivf_index made every stage reproducible,
    so _semdedup_oracle replays quantizer → two-level probe →
    cap-2048 candidates → τ verify → star-CC in DuckDB; the remaining
    approximation (boundary misses) is now part of the CHECKED
    semantics rather than an excuse for a rows-only check."""
    return _semdedup_pairs(spark, sf_dir)


def _semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_semdedup's engine body, callable from composites
    (mm_e2e_dedup) without tripping the registered wrapper's
    release_managed_caches — see the op docstring for the design."""
    import os

    idx = _ensure_ivf_index(spark, sf_dir)
    cells = managed_cache(spark.read.parquet(os.path.join(idx, "cells")))
    centers = spark.read.parquet(os.path.join(idx, "centers"))
    # query side probes each vector's 2 nearest cells so near-dup pairs
    # split by a cluster BOUNDARY still meet (the planted-recall test
    # failed 14/20 with top-1-only scoping); index side stays top-1
    probes = _ivf_probe_cells(
        cells.select("vec_id", "embedding", "norm"), centers, nprobe=2
    ).select("vec_id", F.col("cell").cast("bigint").alias("bucket"))
    # normalize direction THEN dedup: multiprobe candidates are
    # asymmetric (B may probe into A's cell without A probing into
    # B's), so a vec_id < nn_id filter would drop one-way pairs
    # max_bucket is CELL-sized (≥ the ~√n-vector _ivf_k cells), not
    # ANN's 64: representative chaining is the wrong degradation for a
    # τ-verified dedup — hub edges fail the τ filter on non-dup hubs
    # and sever the group (measured: 6/20 planted pairs lost through
    # chained cells at the ANN cap). Within-cell all-pairs at ≤2048
    # stays O(target_cell) per vector; only a pathological mega-cell
    # (boilerplate embeddings) still degrades to chaining.
    cand = (
        lsh_candidate_pairs(
            cells.select("vec_id", F.col("cell").cast("bigint").alias("bucket")),
            q_probes=probes,
            max_bucket=2048,
        )
        .select(
            F.least("vec_id", "nn_id").alias("vec_id"),
            F.greatest("vec_id", "nn_id").alias("nn_id"),
        )
        .distinct()
    )
    ea = cells.select("vec_id", F.col("embedding").alias("emb_a"),
                      F.col("norm").alias("norm_a"))
    eb = cells.select(F.col("vec_id").alias("nn_id"),
                      F.col("embedding").alias("emb_b"),
                      F.col("norm").alias("norm_b"))
    edges = (
        cand.join(ea, "vec_id")
        .join(eb, "nn_id")
        .filter(
            _dot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b"))
            >= 0.4
        )
        .select(F.col("vec_id").alias("doc_a"), F.col("nn_id").alias("doc_b"))
    )
    cc = connected_components(spark, edges)
    return cc.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("dup_id"), F.col("component_id").alias("kept_id")
    )




def _range_search_oracle(tau: float = 0.4) -> str:
    """DuckDB twin of llm_ann_range_search: the _ivf_lloyd_oracle CTE
    body (quantizer + two-level probe + candidates + scoring) with the
    top-1 rank replaced by the τ range predicate. τ compares an
    unrounded double — same accepted knife-edge as _semdedup_oracle."""
    base = _ivf_lloyd_oracle()
    tail_old = """SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""
    tail_new = f"""SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM scored
WHERE cos_sim >= {tau}
"""
    assert tail_old in base
    return base.replace(tail_old, tail_new)


@register("llm_ann_range_search", oracle=_range_search_oracle(), category="K")
def llm_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search over the served IVF index (r12): every candidate
    neighbor with cosine ≥ τ=0.4, not just the top-1 — the retrieval
    shape RAG recall evaluation and τ-thresholded linking actually
    need (FAISS range_search). Same persisted Lloyd index, same
    two-level probe and candidate generation as llm_ann_ivf_served;
    the only difference is the tail: a τ filter instead of the
    per-query rank, so there is NO window at all — the result is a
    pure pipelined filter over the candidate stream (strictly cheaper
    than top-k at any scale; no per-key sort state). Emits directed
    (vec_id, nn_id, cos_sim) — symmetric pairs appear once per
    direction exactly as a per-query retrieval would return them.
    Fully hash-oracled (_range_search_oracle)."""
    import os

    idx = _ensure_ivf_index(spark, sf_dir)
    centers = spark.read.parquet(os.path.join(idx, "centers"))
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    probes = _ivf_probe_cells(
        cells.select("vec_id", "embedding", "norm"), centers, nprobe=2
    )
    qa = probes.alias("q")
    xa = cells.alias("x")
    return (
        qa.join(
            xa,
            (F.col("q.cell") == F.col("x.cell"))
            & (F.col("q.vec_id") != F.col("x.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("x.vec_id").alias("nn_id"),
            (
                _dot(F.col("q.embedding"), F.col("x.embedding"))
                / (F.col("q.norm") * F.col("x.norm"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.4)
        .select(
            "vec_id",
            "nn_id",
            (F.round("cos_sim", 4) + F.lit(0.0)).alias("cos_sim"),
        )
    )


def _cell_stats_oracle() -> str:
    """DuckDB twin of llm_ivf_cell_stats: per-cell population and mean
    quantization error straight off the dynamic-k Lloyd assignment.
    The mean goes through per-row ROUND(d2, 6) → DECIMAL so the SUM is
    order-independent (the registry's float discipline), divided in
    double only at the end."""
    R = _KMEANS_ROUNDS
    return f"""
WITH {_ivf_lloyd_rounds_sql()}
SELECT CAST(cell AS INT) AS cell,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(ROUND(d2, 6) AS DECIMAL(28, 10))) AS DOUBLE)
             / COUNT(*), 4) + 0.0 AS avg_d2
FROM asg{R}
GROUP BY cell
"""


@register("llm_ivf_cell_stats", oracle=_cell_stats_oracle(), category="K")
def llm_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer DIAGNOSTICS as a first-class query (r12): per-cell
    population and mean squared quantization error from the dynamic-k
    Lloyd assignment — the balance/coverage report an index operator
    reads before trusting a new build (skewed cells → probe-cost
    variance; fat avg_d2 → under-trained quantizer). One partial-agg
    groupBy over the (vec_id, cell, d2) assignment — no extra corpus
    pass: the assignment is the index build's own output, memoized per
    dataset fingerprint. Mean d2 rides per-row ROUND→DECIMAL so
    partition-parallel summation can't leak into the rounded result
    (registry float discipline). Fully hash-oracled."""
    asg, _cents = _lloyd_ivf_fit(spark, sf_dir)
    return asg.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        (
            F.round(
                (
                    F.sum(
                        F.round(F.col("d2"), 6).cast("decimal(28,10)")
                    ).cast("double")
                    / F.count("*")
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("avg_d2"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring inside IVF cells (r12)
# ---------------------------------------------------------------------------
_PQ_M = 4           # subspaces (64 dims -> 4 x 16)
_PQ_SUBDIM = 16
_PQ_K = 16          # sub-centroids per codebook (4-bit codes)
_PQ_ROUNDS = 6      # same update-round depth as _KMEANS_ROUNDS
_PQ_SAMPLE = 1024   # codebook training sample (md5-smallest vec_ids)

_PQ_MEMO: dict = {}  # fp -> list[4] of 16x16 codebooks (metadata KBs;
# same LRU/content-addressing discipline as _KMEANS_MEMO)
_PQ_MEMO_CAP = 4  # r13: its own cap (r12 borrowed _BPE_MERGE_MEMO_CAP,
# whose name lied about its scope)


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Train the _PQ_M sub-codebooks: an independent deterministic
    Lloyd fit (md5 seeds, quantized means — _kmeans_fit's exact
    disciplines) per 16-dim subspace, on the _PQ_SAMPLE md5-smallest
    vectors (PQ codebooks are classically sample-trained; at sf0.01
    the cap exceeds n so the sample IS the corpus, and the DuckDB twin
    applies the same LIMIT, so engines agree at every scale). Returns
    [m][cell][dim] nested lists — metadata (4·16·16 doubles)."""
    import os

    from gdxpy_spark.operators._util import files_fingerprint

    fp = files_fingerprint([os.path.join(sf_dir, "embeddings.parquet")])
    ok, hit = _memo_get(_PQ_MEMO, fp)
    if ok:
        return hit
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # repartition after the sort-limit (see _kmeans_fit: GlobalLimit's
    # single partition would single-thread every fit round)
    samp = e.orderBy(F.md5(F.col("vec_id").cast("string"))).limit(
        _PQ_SAMPLE
    ).repartition("vec_id")
    sve = managed_cache(
        samp.select(
            "vec_id", F.posexplode("embedding").alias("pos", "v")
        ).withColumn("v", F.col("v").cast("double"))
    )
    seed_rows = (
        e.orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(_PQ_K)
        .select(F.transform("embedding", lambda v: v.cast("double")).alias("c"))
        .collect()
    )
    books = []
    for m in range(_PQ_M):
        lo = m * _PQ_SUBDIM
        cents = [list(r["c"])[lo:lo + _PQ_SUBDIM] for r in seed_rows]
        frame = sve.filter(
            (F.col("pos") >= lo) & (F.col("pos") < lo + _PQ_SUBDIM)
        ).select("vec_id", (F.col("pos") - lo).alias("pos"), "v")

        def assign(cs):
            rows = [(j, p, x) for j, c in enumerate(cs) for p, x in enumerate(c)]
            cdf = spark.createDataFrame(rows, "cell INT, pos INT, c DOUBLE")
            d2 = (
                frame.join(F.broadcast(cdf), "pos")
                .groupBy("vec_id", "cell")
                .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
            )
            return d2.groupBy("vec_id").agg(
                F.min(F.struct("d2", "cell")).alias("b")
            ).select("vec_id", F.col("b.cell").alias("cell"))

        for _r in range(_PQ_ROUNDS):
            asg = assign(cents)
            upd = (
                asg.join(frame, "vec_id")
                .groupBy("cell", "pos")
                .agg(F.round(F.avg("v"), 9).alias("x"))
                .groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "x"))).alias("px"))
                .select("cell", F.col("px.x").alias("c"))
                .collect()
            )
            for row in upd:  # empty sub-cells keep their previous centroid
                cents[row["cell"]] = list(row["c"])
        books.append(cents)
    _memo_put(_PQ_MEMO, fp, books, _PQ_MEMO_CAP)
    return books


def _pq_rounds_sql(m: int) -> str:
    """CTE fragment: subspace ``m``'s codebook fit (p{m}c0..p{m}c6,
    fit dists/assignments over pqsamp) + the FULL-corpus final coding
    assignment p{m}aF. Requires CTEs e and pqsamp in scope. Slices are
    1-based: dims [m*16+1, m*16+16]."""
    lo = m * _PQ_SUBDIM  # 0-based offset; SQL list index = lo + i, i in 1..16
    parts = [f"""
p{m}c0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
             AS cell,
         list_transform(embedding[{lo + 1}:{lo + _PQ_SUBDIM}],
                        v -> CAST(v AS DOUBLE)) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_K})"""]
    for r in range(_PQ_ROUNDS + 1):
        last = r == _PQ_ROUNDS
        src = "e" if last else "pqsamp"
        tag = "F" if last else str(r)
        parts.append(f"""
p{m}d{tag} AS MATERIALIZED (
  SELECT s.vec_id, p{m}c{r}.cell,
         SUM((CAST(s.embedding[CAST(i + {lo} AS INT)] AS DOUBLE)
              - p{m}c{r}.c[CAST(i AS INT)])
             * (CAST(s.embedding[CAST(i + {lo} AS INT)] AS DOUBLE)
                - p{m}c{r}.c[CAST(i AS INT)])) AS d2
  FROM {src} s CROSS JOIN p{m}c{r}
  CROSS JOIN generate_series(1, {_PQ_SUBDIM}) t(i)
  WHERE i + {lo} <= len(s.embedding)
  GROUP BY s.vec_id, p{m}c{r}.cell),
p{m}a{tag} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM p{m}d{tag})
  WHERE rn = 1)""")
        if not last:
            parts.append(f"""
p{m}u{r} AS MATERIALIZED (
  SELECT a.cell, t.i AS pos,
         ROUND(AVG(CAST(s.embedding[CAST(t.i + {lo} AS INT)] AS DOUBLE)), 9)
             AS x
  FROM p{m}a{r} a JOIN pqsamp s USING (vec_id)
  CROSS JOIN generate_series(1, {_PQ_SUBDIM}) t(i)
  WHERE t.i + {lo} <= len(s.embedding)
  GROUP BY a.cell, t.i),
p{m}c{r + 1} AS MATERIALIZED (
  SELECT q.cell, COALESCE(u.c, q.c) AS c
  FROM p{m}c{r} q
  LEFT JOIN (SELECT cell, list(x ORDER BY pos) AS c
             FROM p{m}u{r} GROUP BY cell) u USING (cell))""")
    return ",".join(parts)


def _ivf_pq_body() -> str:
    """Shared CTE body for the PQ oracles (through the ``scored``
    ADC frame): the dynamic-k IVF CTE body (coarse quantizer +
    two-level probe → candidate id pairs), the four sub-codebook fits
    (_pq_rounds_sql), the full-corpus codes, each query's 64-entry ADC
    distance table, and table-lookup scoring of every candidate."""
    R = _KMEANS_ROUNDS
    g_sql = "(SELECT GREATEST(2, CAST(CEIL(SQRT(k)) AS BIGINT)) FROM kv)"
    pq = ",".join(_pq_rounds_sql(m) for m in range(_PQ_M))
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cell AS code FROM p{m}aF"
        for m in range(_PQ_M)
    )
    qtab_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cell AS code, d2 FROM p{m}dF"
        for m in range(_PQ_M)
    )
    return f"""{_ivf_lloyd_rounds_sql()},
{_super_rounds_sql(g_sql)},
{_two_level_probe_sql()},
idx AS MATERIALIZED (SELECT vec_id, cell FROM asg{R}),
cand AS MATERIALIZED (
  SELECT DISTINCT p.vec_id, x.vec_id AS nn_id
  FROM probes p JOIN idx x USING (cell)
  WHERE p.vec_id <> x.vec_id),
pqsamp AS MATERIALIZED (
  SELECT vec_id, embedding FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_SAMPLE}),
{pq},
codes AS MATERIALIZED ({codes_union}),
qtab AS MATERIALIZED ({qtab_union}),
scored AS MATERIALIZED (
  SELECT c.vec_id, c.nn_id, SUM(q.d2) AS adc_d2
  FROM cand c
  JOIN codes x ON x.vec_id = c.nn_id
  JOIN qtab q ON q.vec_id = c.vec_id AND q.m = x.m AND q.code = x.code
  GROUP BY c.vec_id, c.nn_id)"""


def _ivf_pq_oracle() -> str:
    """DuckDB twin of llm_ann_ivf_pq: _ivf_pq_body's ADC frame + the
    (adc ASC, nn_id ASC) top-1 tail."""
    return f"""
WITH {_ivf_pq_body()}
SELECT vec_id, nn_id, ROUND(adc_d2, 4) + 0.0 AS adc_d2
FROM (SELECT vec_id, nn_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY adc_d2 ASC, nn_id ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


_PQ_RERANK_R = 8


def _ivf_pq_rerank_oracle() -> str:
    """DuckDB twin of llm_ann_ivf_pq_rerank: _ivf_pq_body's ADC frame,
    the top-{_PQ_RERANK_R} ADC shortlist per query, an exact-cosine
    rerank of only those pairs, and the (cos DESC, nn_id ASC) top-1."""
    return f"""
WITH {_ivf_pq_body()},
shortlist AS MATERIALIZED (
  SELECT vec_id, nn_id FROM (
    SELECT vec_id, nn_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY adc_d2 ASC, nn_id ASC) AS rn
    FROM scored)
  WHERE rn <= {_PQ_RERANK_R}),
ren AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS norm
  FROM embeddings),
rr AS MATERIALIZED (
  SELECT s.vec_id, s.nn_id,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
             * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE))
         / (a.norm * b.norm) AS cos_sim
  FROM shortlist s
  JOIN ren a ON a.vec_id = s.vec_id
  JOIN ren b ON b.vec_id = s.nn_id
  CROSS JOIN generate_series(1, 64) t(i)
  WHERE i <= len(a.embedding)
  GROUP BY s.vec_id, s.nn_id, a.norm, b.norm)
SELECT vec_id, nn_id, ROUND(cos_sim, 4) + 0.0 AS cos_sim
FROM (SELECT vec_id, nn_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nn_id ASC) AS rn
      FROM rr)
WHERE rn = 1
"""


def _pq_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(qtab, codes) — the two PQ frames every ADC consumer shares:
    ``qtab`` is the per-(vector, subspace) squared distance to all
    _PQ_K sub-centroids (each vector's 64-entry ADC lookup table,
    managed_cache'd — n·64 skinny rows), ``codes`` is its argmin row
    per (vec_id, m): the vector's 4-smallint PQ encoding. Split out of
    _pq_scored in r13 so llm_semdedup_pq can score ITS candidate set
    with the same tables."""
    books = _pq_codebooks(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ve = managed_cache(
        e.select(
            "vec_id", F.posexplode("embedding").alias("pos", "v")
        ).withColumn("v", F.col("v").cast("double"))
    )
    # one (m, cell, pos, c) frame for all four codebooks — broadcastable
    # metadata (4·16·16 rows)
    crows = [
        (m, j, p, x)
        for m, book in enumerate(books)
        for j, c in enumerate(book)
        for p, x in enumerate(c)
    ]
    cdf = spark.createDataFrame(crows, "m INT, cell INT, pos INT, c DOUBLE")
    # per-(vector, subspace) distance to every sub-centroid: the ADC
    # table for queries AND the argmin source for index-side codes
    sub = ve.withColumn("m", (F.col("pos") / _PQ_SUBDIM).cast("int")).withColumn(
        "pos", F.col("pos") % _PQ_SUBDIM
    )
    qtab = managed_cache(
        sub.join(F.broadcast(cdf), ["m", "pos"])
        .groupBy("vec_id", "m", F.col("cell").alias("code"))
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )
    wcode = W.partitionBy("vec_id", "m").orderBy(F.col("d2").asc(), F.col("code").asc())
    codes = (
        qtab.withColumn("rn", F.row_number().over(wcode))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    return qtab, codes


def _pq_adc(cand: DataFrame, qtab: DataFrame, codes: DataFrame) -> DataFrame:
    """ADC-score directed candidate id pairs: each (vec_id, nn_id)
    becomes four table lookups — nn's code indexes vec's distance
    table — summed to (vec_id, nn_id, adc_d2 — unrounded). The scoring
    shuffle carries ids + smallint codes, never embeddings."""
    xcodes = codes.select(F.col("vec_id").alias("nn_id"), "m", "code")
    return (
        cand.join(xcodes, "nn_id")
        .join(
            qtab.select("vec_id", "m", "code", "d2"),
            ["vec_id", "m", "code"],
        )
        .groupBy("vec_id", "nn_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared IVF-PQ ADC frame (vec_id, nn_id, adc_d2 — unrounded)
    behind llm_ann_ivf_pq and llm_ann_ivf_pq_rerank: persisted-index
    candidates scored by product-quantized table lookups. Mirrors the
    oracle CTE body _ivf_pq_body stage for stage."""
    import os

    idx = _ensure_ivf_index(spark, sf_dir)
    centers = spark.read.parquet(os.path.join(idx, "centers"))
    cells = managed_cache(spark.read.parquet(os.path.join(idx, "cells")))
    qtab, codes = _pq_tables(spark, sf_dir)
    probes = _ivf_probe_cells(
        cells.select("vec_id", "embedding", "norm"), centers, nprobe=2
    ).select("vec_id", "cell")
    cand = (
        probes.alias("q")
        .join(cells.select("vec_id", "cell").alias("x"), "cell")
        .filter(F.col("q.vec_id") != F.col("x.vec_id"))
        .select(F.col("q.vec_id").alias("vec_id"), F.col("x.vec_id").alias("nn_id"))
        .distinct()
    )
    return _pq_adc(cand, qtab, codes)


@register("llm_ann_ivf_pq", oracle=_ivf_pq_oracle(), category="K")
def llm_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou, Douze & Schmid 2011, "Product Quantization for
    Nearest Neighbor Search"): approximate NN where candidate scoring
    uses PRODUCT-QUANTIZED codes instead of raw vectors — the
    memory-bounded serving tier under llm_ann_ivf_served. Four 16-dim
    sub-codebooks (16 centroids each — 4-bit codes) are trained by the
    deterministic sampled Lloyd fit (_pq_codebooks: md5 seeds,
    quantized means, md5-sample cap — every _kmeans_fit discipline),
    every vector is coded as 4 small ints, and each candidate's
    asymmetric distance (ADC) is four TABLE LOOKUPS into the query's
    precomputed 64-entry distance table, summed (_pq_scored).
    Candidates come from the same persisted Lloyd IVF index +
    two-level probe as the exact serving path; top-1 per query by
    (adc ASC, nn_id ASC). Fully hash-oracled (_ivf_pq_oracle replays
    fits, coding, tables and scoring in SQL).

    WHY AT 100 TB: the scoring join carries (pair ids + 4 codes) —
    ~10 bytes/candidate instead of a 512-byte embedding pair, so the
    candidate shuffle (the IVF serving bottleneck measured at the 100×
    probe) shrinks ~50×, and an executor can hold the codes of ~10⁹
    vectors in the memory one million raw vectors would need. Recall
    floor vs the exact path is pinned in tests/test_r12_ops.py on
    planted near-duplicates (a 1%-noise twin shares all four sub-cells
    w.h.p.)."""
    scored = _pq_scored(spark, sf_dir)
    w = W.partitionBy("vec_id").orderBy(F.col("adc_d2").asc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            (F.round("adc_d2", 4) + F.lit(0.0)).alias("adc_d2"),
        )
    )


@register("llm_ann_ivf_pq_rerank", oracle=_ivf_pq_rerank_oracle(), category="K")
def llm_ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with EXACT-COSINE RERANK — the standard two-stage
    retrieval recipe (FAISS IndexIVFPQ + refine): the PQ ADC frame
    shortlists each query's top-8 candidates by approximate
    distance, then ONLY those ≤R pairs are rescored with the exact
    cosine and the best survives ((cos DESC, nn_id ASC) top-1). Fixes
    the PQ tie-break artifact (same-code candidates are EXACTLY tied
    under ADC; exact rerank separates them), so planted-pair recall is
    pinned at the exact path's floor in tests/test_r12_ops.py —
    stronger than plain PQ's.

    WHY AT 100 TB: raw embeddings are touched for only R·n shortlist
    rows (R=8) instead of every candidate — the heavy candidate
    shuffle stays code-sized (PQ's win), and the rerank join is
    shortlist-sized, partitioned by query. Fully hash-oracled
    (_ivf_pq_rerank_oracle)."""
    scored = _pq_scored(spark, sf_dir)
    ws = W.partitionBy("vec_id").orderBy(F.col("adc_d2").asc(), F.col("nn_id").asc())
    shortlist = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _PQ_RERANK_R)
        .select("vec_id", "nn_id")
    )
    en = _with_norm(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    return _cosine_top1(en, shortlist)


# ---------------------------------------------------------------------------
# r13 (r12 verdict #5): the PQ tier extended to the DEDUP path —
# SemDeDup whose candidate shuffle carries 4-smallint codes instead of
# 512-byte embedding pairs.
# ---------------------------------------------------------------------------

_SEMDEDUP_PQ_R = 32  # per-query ADC shortlist width: the exact τ verify
# touches at most R candidates per vector instead of the whole probed
# cell. Planted 1%-noise twins score ≈ the quantization distortion
# under ADC while non-dups in the same cell score ≈ ||a-b||² + that
# distortion, so true near-dups rank far inside the top-32; groups
# larger than R survive through CC transitivity (each member needs ANY
# dup edge, not all of them). Recall floor pinned in tests/test_ann.py.


def _semdedup_pq_oracle() -> str:
    """DuckDB twin of llm_semdedup_pq: the SemDeDup CTE chain with the
    PQ shortlist spliced between candidate generation and the exact τ
    verify — coarse quantizer + two-level probe + cap-2048 directed
    candidates (shared fragments with _semdedup_oracle), then the four
    sub-codebook fits / full-corpus codes / ADC tables (shared text
    with _ivf_pq_body), ADC scoring of the DIRECTED candidates, the
    per-query top-{R} rank, pair normalization, τ=0.4 verify, star-CC.

    Float knife-edges: the τ compare (documented on _semdedup_oracle)
    plus the ADC rank's (adc_d2, nn_id) tie-break — adc_d2 sums 4
    doubles that each sum 16 terms, the same accepted association
    class as _ivf_pq_oracle."""
    g_sql = "(SELECT GREATEST(2, CAST(CEIL(SQRT(k)) AS BIGINT)) FROM kv)"
    pq = ",".join(_pq_rounds_sql(m) for m in range(_PQ_M))
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cell AS code FROM p{m}aF"
        for m in range(_PQ_M)
    )
    qtab_union = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, cell AS code, d2 FROM p{m}dF"
        for m in range(_PQ_M)
    )
    return f"""
WITH {_ivf_lloyd_rounds_sql()},
{_super_rounds_sql(g_sql)},
{_two_level_probe_sql()},
{_semdedup_cand_sql()},
pqsamp AS MATERIALIZED (
  SELECT vec_id, embedding FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_SAMPLE}),
{pq},
codes AS MATERIALIZED ({codes_union}),
qtab AS MATERIALIZED ({qtab_union}),
pscored AS MATERIALIZED (
  SELECT c.vec_id, c.nn_id, SUM(q.d2) AS adc_d2
  FROM cand0 c
  JOIN codes x ON x.vec_id = c.nn_id
  JOIN qtab q ON q.vec_id = c.vec_id AND q.m = x.m AND q.code = x.code
  GROUP BY c.vec_id, c.nn_id),
pshort AS MATERIALIZED (
  SELECT vec_id, nn_id FROM (
    SELECT vec_id, nn_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY adc_d2, nn_id) AS rn
    FROM pscored)
  WHERE rn <= {_SEMDEDUP_PQ_R}),
cand AS MATERIALIZED (
  SELECT DISTINCT LEAST(vec_id, nn_id) AS va,
                  GREATEST(vec_id, nn_id) AS vb
  FROM pshort),
{_semdedup_tau_cc_sql()}"""


@register("llm_semdedup_pq", oracle=_semdedup_pq_oracle(), category="K")
def llm_semdedup_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a PRODUCT-QUANTIZED candidate shortlist (r13) —
    the Abbas et al. 2023 cluster-scoped dedup (llm_semdedup's exact
    pipeline) with the IVF-PQ serving tier's trick applied to the
    dedup candidate stream: candidates are ADC-scored from 4-bit PQ
    codes (_pq_tables/_pq_adc — the llm_ann_ivf_pq machinery on a
    different candidate set), each vector keeps only its
    _SEMDEDUP_PQ_R ADC-nearest candidates, and ONLY that shortlist is
    joined back to raw embeddings for the exact τ=0.4 cosine verify.
    Tail is llm_semdedup's: surviving edges star-contract to
    (dup_id, kept_id = min id of the semantic group).

    WHY AT 100 TB: llm_semdedup's verify join carries TWO 512-byte
    embeddings per candidate — at the measured 100× probe that
    candidate shuffle is the dominant cost (SCALE.md r12). Here the
    per-candidate shuffle rows are (ids + 4 smallint codes) ~50×
    smaller, and raw embeddings ride only R·n shortlist rows — the
    same byte-diet llm_ann_ivf_pq_rerank applies to serving, now on
    the dedup path. DECLARED APPROXIMATION vs llm_semdedup: a true
    τ-pair outside its query's top-R ADC shortlist is lost (planted
    1%-noise twins rank ~1st by ADC; the recall floor is pinned in
    tests/test_ann.py); precision is EXACT because every emitted edge
    still passes the full-precision τ verify.

    Fully hash-oracled: _semdedup_pq_oracle replays quantizer, probe,
    candidates, PQ fits, ADC rank, τ verify and star-CC in DuckDB."""
    import os

    idx = _ensure_ivf_index(spark, sf_dir)
    cells = managed_cache(spark.read.parquet(os.path.join(idx, "cells")))
    centers = spark.read.parquet(os.path.join(idx, "centers"))
    probes = _ivf_probe_cells(
        cells.select("vec_id", "embedding", "norm"), centers, nprobe=2
    ).select("vec_id", F.col("cell").cast("bigint").alias("bucket"))
    # DIRECTED distinct candidates (normalization happens AFTER the
    # per-query ADC rank — the shortlist is a per-QUERY budget)
    cand = lsh_candidate_pairs(
        cells.select("vec_id", F.col("cell").cast("bigint").alias("bucket")),
        q_probes=probes,
        max_bucket=2048,
    )
    qtab, codes = _pq_tables(spark, sf_dir)
    scored = _pq_adc(cand, qtab, codes)
    ws = W.partitionBy("vec_id").orderBy(
        F.col("adc_d2").asc(), F.col("nn_id").asc()
    )
    short = (
        scored.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _SEMDEDUP_PQ_R)
        .select(
            F.least("vec_id", "nn_id").alias("vec_id"),
            F.greatest("vec_id", "nn_id").alias("nn_id"),
        )
        .distinct()
    )
    ea = cells.select("vec_id", F.col("embedding").alias("emb_a"),
                      F.col("norm").alias("norm_a"))
    eb = cells.select(F.col("vec_id").alias("nn_id"),
                      F.col("embedding").alias("emb_b"),
                      F.col("norm").alias("norm_b"))
    edges = (
        short.join(ea, "vec_id")
        .join(eb, "nn_id")
        .filter(
            _dot(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b"))
            >= 0.4
        )
        .select(F.col("vec_id").alias("doc_a"), F.col("nn_id").alias("doc_b"))
    )
    cc = connected_components(spark, edges)
    return cc.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("dup_id"), F.col("component_id").alias("kept_id")
    )
