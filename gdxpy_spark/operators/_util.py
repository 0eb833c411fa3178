"""Determinism helpers shared by the operator inventory.

Why DECIMAL-routed sums: Spark aggregates partition-parallel, DuckDB
sequentially, so a raw SUM(double) differs between the two in the last
few ulps; ROUND(x, 4) can then flip on boundary values and break the
driver's value-hash. Casting each row to DECIMAL first makes the sum
exact and order-independent, after which both engines produce the same
double. The per-row double→decimal conversion itself is deterministic
on both engines for our value ranges (|x| < 1e12 with ulp « 1e-6, so a
tie at the rounding digit cannot occur).

These helpers are also the scale story: DECIMAL(18, s) stays Long-backed
in Tungsten, so the exact sum costs roughly an integer add per row and
keeps whole-stage codegen — no Python, no order-sensitivity, no penalty
at 100 TB.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shutil
import tempfile
import threading
import time
import uuid

from pyspark.sql import Column, DataFrame, Window, functions as F

log = logging.getLogger(__name__)


def files_fingerprint(paths) -> str:
    """Content identity for a cache/layout directory derived from source
    files: sha256 over each file's ABSOLUTE path + size + mtime_ns.
    Embedding this in the directory name ties the cache to the bytes on
    disk — a regenerated dataset, or two datasets sharing a basename,
    can never be served a stale build (the r6-advice hazard). Also the
    key of the driver-side memos (k-means, PQ codebooks, BPE merges)."""
    h = hashlib.sha256()
    for p in sorted(os.path.abspath(x) for x in paths):
        st = os.stat(p)
        h.update(f"|{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def atomic_publish(build_dir, final_dir, is_complete=None) -> None:
    """Publish a COMPLETED build directory with one same-filesystem
    rename: a concurrent reader sees either the whole artifact or a
    cache miss, never a partially-populated directory.

    A failed rename is ambiguous: either a concurrent builder already
    published a complete copy (discard ours), or the destination is a
    STALE BROKEN dir — e.g. a /tmp cleaner aged out one file — which
    the rename can never replace, so without repair every future run
    would rebuild and then serve the broken cache anyway. Callers pass
    `is_complete(dir) -> bool` so the broken case is detected: the
    stale dir is atomically moved aside and the publish retried once.
    A concurrent publisher winning at any step leaves a complete dir,
    which the check accepts."""
    try:
        os.rename(build_dir, final_dir)
        return
    except OSError:
        pass
    if is_complete is not None and not is_complete(final_dir):
        trash = f"{final_dir}.stale_{uuid.uuid4().hex[:8]}"
        try:
            os.rename(final_dir, trash)
        except OSError:
            pass  # another repairer already moved it aside
        else:
            shutil.rmtree(trash, ignore_errors=True)
        try:
            os.rename(build_dir, final_dir)
            return
        except OSError:
            pass  # a concurrent publisher won after the repair
    # Discarding our build is only safe if the destination is actually
    # servable (a concurrent publisher won). If BOTH renames failed AND
    # the destination is still incomplete (e.g. the stale dir could not
    # be moved aside), deleting the build dir would discard the only
    # complete copy and hand the caller a broken cache — raise instead
    # so the caller fails loudly and the next run rebuilds.
    if is_complete is not None and not is_complete(final_dir):
        raise OSError(
            f"atomic_publish: could not publish {build_dir} -> {final_dir} "
            "and the destination is incomplete; refusing to discard the "
            "only complete copy (build dir left in place)"
        )
    shutil.rmtree(build_dir, ignore_errors=True)


def artifact_dir(kind: str, sf_dir: str, sources, root: str = "gdxpy_spark_io") -> str:
    """Content address of a persisted artifact derived from ``sources``:
    ``<tmp>/<root>/<kind>_<basename(sf_dir)>_<files_fingerprint>``. The
    parent is created; the artifact itself only ever appears through
    build_once's rename."""
    parent = os.path.join(tempfile.gettempdir(), root)
    os.makedirs(parent, exist_ok=True)
    base = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(parent, f"{kind}_{base}_{files_fingerprint(sources)}")


def build_once(out: str, write) -> str:
    """Build the artifact at ``out`` once; every later call, in any
    process, serves it. The one discipline for every persisted artifact
    (the IVF index, WARC containers, the z-order/DPP/bucketed layouts,
    stream-replay and GDX fixtures):

    - content address: ``out`` names the source bytes (artifact_dir),
      so a regenerated dataset, or another one sharing its basename,
      is never served a stale build;
    - the kind carries a v-tag: bump it whenever the artifact's layout
      changes, so a dir of the old layout is never read as the new;
    - ``write(build)`` fills a private ``{out}.build_<uuid8>`` and one
      rename publishes it (atomic_publish), so a concurrent reader
      sees the whole artifact or a miss, never a half-written one; a
      ``write`` that raises leaves no build dir behind;
    - completeness is the ``_SUCCESS`` marker written after ``write``
      returns: a dir without it is never served, and is replaced by the
      next build (atomic_publish's repair path)."""
    def complete(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    name = os.path.basename(out)
    if complete(out):
        log.debug("build_once: %s hit", name)
        return out
    t0 = time.perf_counter()
    build = f"{out}.build_{uuid.uuid4().hex[:8]}"
    try:
        write(build)
        open(os.path.join(build, "_SUCCESS"), "a").close()
    except BaseException:
        shutil.rmtree(build, ignore_errors=True)
        raise
    atomic_publish(build, out, is_complete=complete)
    log.debug("build_once: %s built in %.2f s", name, time.perf_counter() - t0)
    return out


_scratch_root: str | None = None
_scratch_lock = threading.Lock()


def scratch_dir(kind: str) -> str:
    """A fresh private directory for one query call's scratch (a
    round-trip scan's written files, a foreachBatch accumulator, a
    stream checkpoint), unlike build_once's artifacts, which are shared
    and kept. Every one lives under a per-process root made on first
    use and removed when the interpreter exits: the frames read from
    these dirs are lazy, so they must outlive the call that returns
    them and cannot be removed at query cadence."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="gdxpy_spark_scratch_")
            atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
        root = _scratch_root
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=root)


# Decimal wide enough for sf0.1 sums with headroom; Long-backed (<=18 digits).
_DEC = "decimal(18,6)"


def dec(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(_DEC)


def dsum(c: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double expression, rounded to 4, as double."""
    return F.round(F.sum(dec(c)).cast("double"), 4).alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Order-independent AVG (exact decimal sum / count), rounded to 4."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(F.sum(dec(c)).cast("double") / F.count(c), 4).alias(alias)


def r4(c: Column | str, alias: str | None = None) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    c = F.round(c, 4)
    return c.alias(alias) if alias else c


def r4z(c: Column | str, alias: str) -> Column:
    """ROUND(x, 4) with the zero sign canonicalized (+0.0): engines
    disagree on whether a tiny negative rounds to -0.0 or 0.0, and a
    hash/sort over the rendered value treats those as different rows.
    IEEE: -0.0 + 0.0 = +0.0; finite values unchanged."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.round(c, 4) + F.lit(0.0)).alias(alias)


def money4(c: Column | str, alias: str) -> Column:
    """Per-row money expression rounded to 4 decimals, canonicalized
    through DECIMAL first. Rounding the raw double is engine-divergent:
    price×(1-disc) products sit *exactly* on 4-decimal half-way points,
    and Spark (exact BigDecimal HALF_UP) vs DuckDB (scaled-double
    nearbyint) disagree there. DECIMAL(18,6) fixes a canonical value
    (the true product has ≤6 decimals, so no tie at the 6th), then the
    decimal ROUND is exact and identical on both engines."""
    return F.round(dec(c), 4).cast("double").alias(alias)


def sql_money4(expr: str, alias: str) -> str:
    return f"CAST(ROUND(CAST(({expr}) AS DECIMAL(18,6)), 4) AS DOUBLE) AS {alias}"


# --- bounded cache lifetimes -------------------------------------------------
# Operators that cache an intermediate frame (blocked-Jaccard token
# masks, LSH bucket signatures, IVF assignments) register it here; the
# NEXT registered query's build releases everything from the previous
# one. Sequential runners (the driver's correctness loop, bench.py, a
# user stepping through queries) therefore hold at most one query's
# caches at a time — at 100 TB an unreleased corpus-sized token frame
# is executor-storage pressure for every later query, even though
# MEMORY_AND_DISK degrades gracefully. Interleaved use stays CORRECT:
# unpersist() only drops the materialized copy, the plan recomputes.
#
# DELIBERATELY OUTSIDE this discipline: the driver-side METADATA memos
# (llm._BPE_MERGE_MEMO — 10 merge tuples/dataset, llm._KMEANS_MEMO —
# k×64 quantized doubles/dataset, llm._PQ_MEMO — 4×16×16 sub-codebooks/
# dataset, llm._SUPER_MEMO — (grp_of, super-centers) per fitted coarse
# quantizer). Those hold kilobytes in the DRIVER process, not executor
# storage, and their whole point is surviving the query cadence
# (bpe_train → bpe_apply, kmeans_lloyd → ann_ivf_checked fit once per
# session, probe calls reusing one quantizer). Each is
# content-addressed (dataset fingerprint or packed-centers md5 — never
# stale) and true-LRU capped at its own *_CAP constant via
# llm._memo_get/_memo_put (process-lifetime retention bounded to a
# handful of KB; caps + LRU pinned in tests/test_r12_ops.py).
_live_caches: list[DataFrame] = []


def managed_cache(df: DataFrame) -> DataFrame:
    """cache() with a lifetime bounded by the operator-call cadence."""
    df = df.cache()
    _live_caches.append(df)
    return df


def release_managed_caches() -> None:
    while _live_caches:
        _live_caches.pop().unpersist()


def word_shingles(tokens, k: int):
    """k-word shingle strings from a token array (space-joined), one per
    position: ['a','b','c'] with k=2 → ['a b', 'b c'].

    Semantically identical to
    ``transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(t, i, k)))``
    but ~2-3× faster: the transform form allocates a fresh k-element
    slice PER POSITION (O(n·k) array copies through the interpreted HOF
    evaluator), this form takes k column-level slices PER DOCUMENT and
    zips them pairwise (measured 1.5 s → 0.7 s for the sf0.1 bigram
    explode; equality of both forms checked over the whole corpus).
    Caller must guard ``size(tokens) >= k`` — the slice length n-k+1
    would be non-positive otherwise."""
    m = F.size(tokens) - (k - 1)
    g = F.slice(tokens, 1, m)
    for j in range(2, k + 1):
        g = F.zip_with(
            g, F.slice(tokens, j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return g


def shuffle_partitions(spark) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to
    defaultParallelism on platforms where the conf is non-numeric
    (e.g. "auto" under Databricks auto-optimized shuffle)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def fan_out(df: DataFrame, spark) -> DataFrame:
    """Scale-ADAPTIVE pre-shuffle parallelism repair (r14 optimization
    round, guide §2.2/§6): the driver test tables are single-file,
    single-row-group parquet, so their scans yield ONE input split and
    every map pipeline above them (shingle explodes, per-gram digests,
    Arrow synthesis) runs on one core until its first Exchange —
    measured 3-4x of several heavy queries' wall at sf0.1/local[32].
    Round-robin repartition to defaultParallelism, but ONLY when the
    input has fewer partitions: at production scale the scan is already
    >= cores-many splits and this is an identity (no shuffle added), so
    the knob cannot regress the 100 TB posture — it exists precisely
    because a constant would be tuned for one of the two regimes
    (the brief's scale-adaptive-partitioning rule).

    Round-robin, not hash-by-key: deterministic under task retry
    (sort-before-repartition, SPARK-23207, is on by default), perfectly
    balanced regardless of key skew, and an explicit-N repartition is
    never coalesced back to one partition by AQE (a keyed repartition
    measured SLOWER than no fan-out here — plan pathology recorded in
    OPTIMIZATION_r14.md). Apply ONLY where the downstream per-row work
    dwarfs one small exchange + a task wave (~0.3-0.5 s at local[32]):
    the A/B table in OPTIMIZATION_r14.md lists the light ops where this
    measured as a net LOSS and is deliberately not applied."""
    target = spark.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n >= target:
        log.debug("fan_out: %d partitions, target %d, skipped", n, target)
        return df
    log.debug("fan_out: %d partitions, target %d, taken", n, target)
    return df.repartition(target)


# --- deterministic global order machinery ------------------------------------
# global_row_number / global_running_sum used to derive partition ids
# from monotonically_increasing_id's bit layout over a shared
# repartitionByRange exchange, relying on exchange reuse to keep the
# offsets branch and the output branch in agreement. Spark's contract
# marks that id NONDETERMINISTIC: the identity argument survives only
# as long as AQE replanning and stage recomputation after a fetch
# failure preserve the exchange byte-for-byte — a guarantee Spark does
# not make, and exactly the regime (executor loss, task retry) a 1000-
# executor cluster lives in. r8 replaces it with a bucket id computed
# FROM THE DATA: ordered boundary keys are collected once to the driver
# (metadata-sized) and embedded as plan literals, so every task — on
# any attempt, under any replan — assigns the same bucket to the same
# row. Correctness no longer depends on which physical partition
# computes a row, only on the row's own key.

#: order spec: str (asc) | Column (asc) | (col, "asc"|"desc"[, "nulls_first"|"nulls_last"])
#: Spark defaults apply: asc -> NULLS FIRST, desc -> NULLS LAST.


def _norm_order_specs(order_cols):
    specs = []
    for item in order_cols:
        desc, nulls_first = False, None
        if isinstance(item, tuple):
            col, *mods = item
            for m in mods:
                if m == "desc":
                    desc = True
                elif m == "asc":
                    desc = False
                elif m == "nulls_first":
                    nulls_first = True
                elif m == "nulls_last":
                    nulls_first = False
                else:
                    raise ValueError(f"unknown order modifier {m!r}")
        else:
            col = item
        if nulls_first is None:
            nulls_first = not desc  # Spark defaults
        col = F.col(col) if isinstance(col, str) else col
        specs.append((col, desc, nulls_first))
    return specs


def _sort_orders(cols, specs):
    out = []
    for c, (_, desc, nf) in zip(cols, specs):
        if desc:
            out.append(c.desc_nulls_first() if nf else c.desc_nulls_last())
        else:
            out.append(c.asc_nulls_first() if nf else c.asc_nulls_last())
    return out


def _py_key_cmp(specs):
    """Python comparator matching the Spark sort order. Used ONLY to
    pick balanced boundaries from a collected sample — a collation
    mismatch (e.g. non-ASCII strings) degrades balance, never
    correctness, because bucket membership is decided Spark-side
    against the same literals in every branch."""

    def cmp(a, b):
        for (va, vb), (_, desc, nf) in zip(zip(a, b), specs):
            if va is None and vb is None:
                continue
            if va is None:
                return -1 if nf else 1
            if vb is None:
                return 1 if nf else -1
            try:
                if va == vb:
                    continue
                r = -1 if va < vb else 1
            except TypeError:  # incomparable in Python: balance-only, skip
                continue
            return -r if desc else r
        return 0

    return cmp


def _collect_boundaries(keyed, key_names, specs, n_buckets):
    """Up to n_buckets-1 ordered boundary key tuples, sampled from the
    data and collected to the driver (metadata-sized: ~40·n_buckets
    rows of the key projection). Returned boundaries are sorted in the
    Spark order and deduplicated; [] is valid (single bucket)."""
    import functools

    n = keyed.count()
    if n <= 1 or n_buckets <= 1:
        return []
    frac = min(1.0, (n_buckets * 40) / n)
    rows = [
        tuple(r) for r in keyed.select(*key_names).sample(False, frac, seed=7).collect()
    ]
    if len(rows) < 2:
        return []
    rows.sort(key=functools.cmp_to_key(_py_key_cmp(specs)))
    step = len(rows) / n_buckets
    bounds, prev = [], None
    for i in range(1, n_buckets):
        b = rows[min(int(i * step), len(rows) - 1)]
        if b != prev:
            bounds.append(b)
            prev = b
    return bounds


def _col_after(col, b, desc, nulls_first):
    """True iff col's value sorts STRICTLY AFTER literal b on this column."""
    if b is None:
        # null is the smallest (nulls_first) or largest (nulls_last) value
        return col.isNotNull() if nulls_first else F.lit(False)
    gt = (col < F.lit(b)) if desc else (col > F.lit(b))
    gt = F.coalesce(gt, F.lit(False))  # null comparison -> not after, unless:
    if not nulls_first:
        gt = col.isNull() | gt
    return gt


def _tuple_after(cols, bvals, specs):
    """Lexicographic 'key sorts strictly after boundary' over all columns."""
    expr = F.lit(False)
    for c, b, (_, desc, nf) in reversed(list(zip(cols, bvals, specs))):
        expr = _col_after(c, b, desc, nf) | (c.eqNullSafe(F.lit(b)) & expr)
    return expr


def _bucket_pid(key_cols, specs, bounds):
    """Deterministic bucket id: the number of boundaries the key sorts
    strictly after — computed by a BINARY-SEARCH expression tree over
    the sorted boundary literals. A linear chain of B comparisons costs
    O(B) per row, and B tracks shuffle_partitions: on a 2000-partition
    cluster every row of the table would evaluate ~2000 multi-column
    comparisons. The WHEN tree short-circuits to O(log B) comparisons
    per row (boundaries are sorted in the spec order, and strictly-
    after is monotone over them, so the usual bisection argument
    applies). Still a pure literal expression — no shuffle, identical
    on every branch and every attempt."""

    def tree(lo: int, hi: int):
        # resolves pid within [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2  # after bounds[mid] ⇒ pid ≥ mid+1
        return F.when(
            _tuple_after(key_cols, bounds[mid], specs), tree(mid + 1, hi)
        ).otherwise(tree(lo, mid))

    return tree(0, len(bounds)).cast("int")


def _keyed_with_pid(df, order_cols):
    """Annotate df with _gk* key columns and the deterministic _gpid
    bucket id; returns (annotated_df, sort_order_columns, key_names)."""
    specs = _norm_order_specs(order_cols)
    key_names = [f"_gk{i}" for i in range(len(specs))]
    keyed = df.select("*", *[c.alias(n) for (c, _, _), n in zip(specs, key_names)])
    key_cols = [F.col(n) for n in key_names]
    bounds = _collect_boundaries(
        keyed, key_names, specs, shuffle_partitions(df.sparkSession)
    )
    part = keyed.withColumn("_gpid", _bucket_pid(key_cols, specs, bounds))
    # NOTE on branch sharing: the counts branch and the window branch
    # each compute the upstream (an explicit shared repartition(_gpid)
    # was tried in r8 and measured SLOWER — AQE did not reuse the
    # exchange across the window and aggregate consumers, so it added a
    # full-row shuffle on top of the recompute). The counts branch
    # partial-aggregates map-side, so its recompute ships only
    # metadata; callers with an expensive upstream cache it themselves.
    return part, _sort_orders(key_cols, specs), key_names


def _pid_offsets(per_pid_totals, total_expr_alias, total_col=None):
    """Exclusive prefix offsets over the metadata-sized per-bucket
    totals (≤ n_buckets rows): broadcast self-join, never a data
    shuffle. Optionally carries the grand total so callers needing n
    (percent_rank, cume_dist, ntile) skip a second full-table scan."""
    prior = per_pid_totals.select(
        F.col("_gpid").alias("_p2"), F.col(total_expr_alias).alias("_v2")
    )
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("_p2") < F.col("_gpid"), F.col("_v2"))), F.lit(0)
        ).alias("_goff")
    ]
    if total_col is not None:
        aggs.append(F.sum("_v2").alias(total_col))
    return (
        per_pid_totals.join(F.broadcast(prior), F.lit(True))
        .groupBy("_gpid")
        .agg(*aggs)
    )


def global_row_number(
    df: DataFrame, order_cols, out_col: str = "rn", total_col: str | None = None
) -> DataFrame:
    """Scalable global ROW_NUMBER() OVER (ORDER BY ...): the two-pass
    bucket-offset rank, with no single-partition exchange anywhere and
    a bucket id that is a DETERMINISTIC FUNCTION OF THE ROW'S KEY.

    A plain `row_number().over(Window.orderBy(...))` funnels the whole
    table through ONE WindowExec task — the classic 100 TB killer. Here:

    1. boundary keys are sampled once and embedded as literals; every
       row's bucket id (_gpid) is computed from its own sort key by
       comparing against those literals — order-monotone, replan-proof,
       retry-proof (no monotonically_increasing_id, no reliance on
       exchange reuse: any task on any attempt assigns the same bucket
       to the same row);
    2. local ranks come from a window PARTITIONED BY the bucket id —
       parallel across buckets, one hash exchange, nothing single-task;
    3. per-bucket row counts (metadata-sized: one row per bucket)
       self-join into cumulative start offsets, broadcast back, added.

    Cost: one count + one sample pass for boundaries (metadata-sized
    collect), then the counts branch and the window branch each compute
    the input once — callers with an expensive upstream can cache it.
    The biggest structure any one task holds is one bucket's rows.
    `order_cols` must be a total order (include a unique tiebreak) for
    the rank to be deterministic; specs are str/Column (asc) or
    (col, "desc"[, "nulls_first"|"nulls_last"]) tuples.
    `df` must be DETERMINISTIC across recomputations: the counts branch
    and the window branch each evaluate the upstream plan independently
    (see _keyed_with_pid's branch-sharing note), so a nondeterministic
    frame — sample() without a seed, first()/limit-derived rows, an
    unstable external source — can disagree between branches and yield
    ranks that are not a permutation of 1..n, with no error raised.
    Cache (or checkpoint) such a frame before calling.
    tests/test_plans.py::test_global_row_number_deterministic_pid pins
    AQE-on/off and fresh-recompute agreement plus the no-single-
    partition-window property."""
    part, sorders, key_names = _keyed_with_pid(df, order_cols)
    w = Window.partitionBy("_gpid").orderBy(*sorders)
    local = part.withColumn("_glocal", F.row_number().over(w))
    counts = part.groupBy("_gpid").agg(F.count("*").alias("_cnt"))
    offsets = _pid_offsets(counts, "_cnt", total_col)
    return (
        local.join(F.broadcast(offsets), "_gpid")
        .withColumn(out_col, (F.col("_glocal") + F.col("_goff")).cast("bigint"))
        .drop("_gpid", "_glocal", "_goff", *key_names)
    )


# DuckDB-side equivalents (string templates for oracle SQL)
def sql_dsum(expr: str, alias: str) -> str:
    return f"ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE), 4) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT({expr}), 4) AS {alias}"
    )


def global_running_sum(
    df: DataFrame, order_cols, value_col: str, out_col: str = "cum"
) -> DataFrame:
    """Scalable global SUM(value) OVER (ORDER BY ...) — the distributed
    PREFIX SUM, on the same deterministic bucket-offset machinery as
    global_row_number (a plain unpartitioned running-sum window would
    funnel the whole table through ONE WindowExec task):

    1. deterministic literal-boundary bucket id from the row's own sort
       key (see global_row_number — no monotonically_increasing_id, no
       exchange-reuse dependence; retry/replan-proof by construction);
    2. per-bucket LOCAL running sums via a window PARTITIONED BY the
       bucket id — parallel across buckets (one hash exchange);
    3. per-bucket value totals (metadata-sized) → exclusive prefix
       offsets via a broadcast self-join → local + offset.

    `order_cols` must be a total order for a deterministic result.
    `value_col` must be integral or decimal if the caller needs
    cross-engine exactness (float prefix sums are order-dependent).
    `df` must be DETERMINISTIC across recomputations — the totals and
    window branches each re-evaluate the upstream independently (same
    contract and remedy as global_row_number: cache nondeterministic
    frames first)."""
    part, sorders, key_names = _keyed_with_pid(df, order_cols)
    w = (
        Window.partitionBy("_gpid")
        .orderBy(*sorders)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_glcum", F.sum(value_col).over(w))
    totals = part.groupBy("_gpid").agg(F.sum(value_col).alias("_vtot"))
    offsets = _pid_offsets(totals, "_vtot")
    return (
        local.join(F.broadcast(offsets), "_gpid")
        # no result cast: the sum keeps the value column's own aggregate
        # type (bigint stays bigint, decimal stays decimal) — a blanket
        # bigint cast would silently truncate decimal prefix sums
        .withColumn(out_col, F.col("_glcum") + F.col("_goff"))
        .drop("_gpid", "_glcum", "_goff", *key_names)
    )
