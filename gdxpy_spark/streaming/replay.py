"""Structured Streaming replay operators (SURVEY §2.2 H).

These genuinely run the streaming engine. Events are written out once
as ordered batch files (_cached_fixture), read back by one file-stream
source (_read_stream: one micro-batch per file by default, so
watermarks advance *between* batches — the only way late-data
semantics are observable), and run under Trigger.AvailableNow by one
drain (_drain) into a memory sink or a foreachBatch function. The
drain serializes replays within the process, scopes the state
partition count, and removes its checkpoint when the replay ends.

Raw events on disk carry ts as either INT64 nanoseconds (older driver
drops, surfaced as LONG via the nanosAsLong conf) or TIMESTAMP(MICROS)
(newer drops, surfaced as TIMESTAMP_NTZ). _raw_events normalizes both to
the replay-canonical LONG nanos, so every batch file this module writes
matches _RAW_SCHEMA and the stream side rebuilds the timestamp exactly
like gdxpy_spark.tables.table does for batch.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from gdxpy_spark.operators._util import artifact_dir, build_once, scratch_dir
from gdxpy_spark.registry import register
from gdxpy_spark.tables import configure, events_ts_encoding, read_parquet, table

_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING,"
    " value DOUBLE, props STRING"
)


def _ts_col() -> F.Column:
    # watermarks require TIMESTAMP (not NTZ); the session is pinned UTC so
    # wall-clock values still line up with the batch-side NTZ timestamps
    return F.timestamp_micros(F.expr("ts div 1000"))


def _write_batch_files(dfs: list[DataFrame], out: str) -> None:
    """Write each df as one parquet file; mtimes ordered so the stream
    source picks them up in list order."""
    for i, df in enumerate(dfs):
        sub = os.path.join(out, f"batch{i}")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                os.rename(os.path.join(sub, f), os.path.join(out, f"{i:03d}.parquet"))
    # leave only the flat files
    import shutil

    for i in range(len(dfs)):
        shutil.rmtree(os.path.join(out, f"batch{i}"), ignore_errors=True)
    for i in range(len(dfs)):
        # strictly increasing mtimes → deterministic file order in the source
        os.utime(os.path.join(out, f"{i:03d}.parquet"), (1e9 + i, 1e9 + i))


def _cached_fixture(name: str, sf_dir: str, n_files: int, build_dfs) -> str:
    """The replay fixture of query ``name`` as a build_once artifact
    under gdxpy_spark_replay/, keyed on every source parquet the
    fixtures are sliced from (all derive from events.parquet; the glob
    keeps the key honest if that ever widens). A best-of-N bench or a
    repeated test run replays without rewriting the batch files (the
    rebuild used to cost more than the stream itself). `build_dfs()` is
    called only on a miss and must return exactly `n_files` frames."""

    def write(build: str) -> None:
        dfs = build_dfs()
        assert len(dfs) == n_files
        _write_batch_files(dfs, build)

    sources = glob.glob(os.path.join(sf_dir, "events*.parquet"))
    return build_once(
        artifact_dir(f"{name}_v1", sf_dir, sources, root="gdxpy_spark_replay"),
        write,
    )


def _read_stream(
    spark: SparkSession, src_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """The replay fixture at ``src_dir`` as a file stream of
    ``files_per_trigger`` files per micro-batch, ts rebuilt as
    TIMESTAMP."""
    configure(spark)
    return (
        spark.readStream.schema(_RAW_SCHEMA)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src_dir)
        .withColumn("ts", _ts_col())
    )


# Stateful operators keep (and checkpoint) one state store per shuffle
# partition per micro-batch: at the batch engine's partition count (32
# here) the replays spent seconds on tiny state-file I/O. Partitions are
# the horizontal-scale knob for streaming STATE; right-sizing them to
# the replay's volume is what a production job does.
_STATE_PARTITIONS = 4

# serializes replays within this process: each drain scopes the
# session-global shuffle-partition conf (see _drain)
_REPLAY_LOCK = threading.Lock()


def _drain(
    spark: SparkSession, out: DataFrame, name: str,
    output_mode: str = "append", foreach_batch=None,
) -> DataFrame | None:
    """Run the streaming frame ``out`` under Trigger.AvailableNow until
    the replay has drained. The sink is a memory table, whose contents
    are returned, or, given ``foreach_batch(batch_df, batch_id)``,
    foreachBatch (returns None: the function's output holds the result).

    The checkpoint is a fresh scratch dir per run, removed once the
    query has terminated: the sink already holds the result, and a
    checkpoint reused against a fresh sink would silently skip
    already-committed batches.

    The shuffle partition count is set to _STATE_PARTITIONS before the
    stream starts (a stream pins its count at start) and restored after.

    CONSTRAINT (r6 advice): spark.sql.shuffle.partitions is
    SESSION-global, so for the duration of the drain any batch query
    issued concurrently on the same SparkSession from another thread
    would silently plan with _STATE_PARTITIONS shuffles. _REPLAY_LOCK
    serializes in-process replays (the exposure a parallelized
    bench/test harness actually has); a harness that interleaves its
    OWN batch queries with a replay must run them on a separate session
    (spark.newSession()) — a stream's lineage is bound to the session
    it was built on, so the override cannot be moved off this one."""
    writer = out.writeStream.outputMode(output_mode)
    if foreach_batch is None:
        sink = f"gdxps_sink_{name}_{uuid.uuid4().hex[:8]}"
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(foreach_batch)
    ckpt = scratch_dir(f"ckpt_{name}")
    with _REPLAY_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
        try:
            writer.trigger(availableNow=True).option(
                "checkpointLocation", ckpt
            ).start().awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            shutil.rmtree(ckpt, ignore_errors=True)
    return None if foreach_batch is not None else spark.table(sink)


def _raw_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts normalized to the replay-canonical LONG nanos.
    Encoding sniffing is delegated to tables.events_ts_encoding so an
    unknown on-disk layout raises loudly here too instead of casting to
    nulls (same three known encodings, different canonical target than
    tables.table: ns LONG, because replay fixtures delta-shift raw
    nanos)."""
    configure(spark)
    df = read_parquet(spark, f"{sf_dir}/events.parquet", "events")
    if events_ts_encoding(df) != "bigint":
        # TIMESTAMP(MICROS) file (zoned or NTZ): µs → ns (exact; session
        # pinned UTC so the NTZ→TIMESTAMP cast is wall-clock identity)
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


_LATE_ORACLE = """
WITH ev0 AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
mn AS (SELECT MIN(ts) AS m0 FROM ev0),
late AS (
  SELECT event_id FROM ev0, mn
  WHERE event_id % 97 = 0 AND ts < m0 + INTERVAL '6 hours'),
on_time AS (
  SELECT * FROM ev0
  WHERE event_id NOT IN (SELECT event_id FROM late)),
mx AS (SELECT MAX(ts) AS mt FROM ev0)
SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events
FROM on_time, mx
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
      <= mt - INTERVAL '2 hours'
GROUP BY 1, 2
"""


@register("stream_watermark_late", oracle=_LATE_ORACLE, category="H")
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate under a 2-hour watermark with replayed
    late data: batch 1 = everything except a sample of early-day events,
    batch 3 = those early events arriving after the watermark has passed
    them → they must be dropped, so window counts differ from the batch
    analog exactly on the late rows. The on-time data ships as two
    batches because Spark filters late rows with the watermark computed
    at the end of batch N-1 — a row exactly one batch late is still
    accepted (observed empirically); two batches of full-time-span data
    guarantee the filter watermark has advanced before the late file.
    Tests assert the drop happened.

    Hash-oracled (r6 upgrade from rows-only): the replay outcome is
    fully determined by the fixed batch boundaries — on-time rows are
    all accepted (the filter's one-batch lag covers batch 2), the late
    sample is entirely below the final watermark (its rows sit in the
    first 6 h, the watermark at batch 3 is max(ts) − 2 h), and append
    mode emits exactly the hourly windows ending ≤ that watermark. The
    oracle reproduces the late-sample definition and the window cutoff
    verbatim. Event timestamps are µs-aligned on disk, so the oracle's
    µs-truncated 6-hour boundary compare equals the engine's raw-ns one."""
    def build_dfs():
        raw = _raw_events(spark, sf_dir)
        late = raw.filter((F.col("event_id") % 97 == 0)).filter(
            F.col("ts") < raw.agg(F.min("ts")).first()[0] + int(3600e9 * 6)
        )
        on_time = raw.join(late.select("event_id"), "event_id", "left_anti")
        return [
            on_time.filter(F.col("event_id") % 2 == 0),
            on_time.filter(F.col("event_id") % 2 == 1),
            late,
        ]

    out = (
        _read_stream(spark, _cached_fixture("late", sf_dir, 3, build_dfs))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _drain(spark, out, "late")


_DEDUP_ORACLE = """
WITH ev AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
mx AS (SELECT MAX(ts) AS mt FROM ev)
SELECT strftime(time_bucket(INTERVAL '24 hours', ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events
FROM ev, mx
WHERE time_bucket(INTERVAL '24 hours', ts) + INTERVAL '24 hours'
      <= mt - INTERVAL '24 hours'
GROUP BY 1, 2
"""


@register("stream_dedup", oracle=_DEDUP_ORACLE, category="H")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark(event_id) under replay-with-duplicates:
    batch 2 re-delivers a sample of batch-1 events (an at-least-once
    source); the stateful dedup must emit each event_id once. Output is
    per-type counts of the deduplicated stream (append via watermarked
    window to make the memory sink deterministic).

    Hash-oracled (r6 upgrade from rows-only) — the replay outcome is
    fully determined: batch 1 carries ALL events, so the post-batch-1
    watermark is final (max ts − 24 h) and every batch-2 re-delivery is
    either caught by live dedup state (ts ≥ watermark ⇒ state retained)
    or discarded as late (ts < watermark) — no duplicate can reach the
    aggregate either way. Append mode emits exactly the epoch-aligned
    24 h windows whose END ≤ that final watermark, which the oracle
    reproduces with a max(ts) subquery; the trailing unemitted windows
    are the point (they are still open when the replay drains). Window
    boundaries are midnights and max(ts) carries random microseconds,
    so the ≤ comparison has no cross-engine boundary ambiguity."""
    def build_dfs():
        raw = _raw_events(spark, sf_dir)
        return [raw, raw.filter(F.col("event_id") % 53 == 0)]

    out = (
        _read_stream(spark, _cached_fixture("dedup", sf_dir, 2, build_dfs))
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "24 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _drain(spark, out, "dedup")


def _running_counts(spark: SparkSession, sf_dir: str, name: str, counter) -> DataFrame:
    """The per-user running count both stateful replays compute:
    ``counter(grouped)`` maps the replay grouped by user_id to an
    update-mode stream of (user_id, running_count) emissions, over one
    shared fixture (even event_ids, then odd). The per-batch emissions
    accumulate in the sink; the final count is their max per user."""
    def build_dfs():
        raw = _raw_events(spark, sf_dir)
        return [raw.filter(F.col("event_id") % 2 == k) for k in (0, 1)]

    src = _cached_fixture("stateful", sf_dir, 2, build_dfs)
    grouped = _read_stream(spark, src).groupBy("user_id")
    sink = _drain(spark, counter(grouped), name, output_mode="update")
    return sink.groupBy("user_id").agg(
        F.max("running_count").alias("running_count")
    )


@register(
    "stream_stateful_running",
    oracle="""
SELECT user_id, COUNT(*) AS running_count
FROM events
GROUP BY user_id
""",
    category="H",
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: running per-user event count across
    micro-batches via applyInPandasWithState (state = one long per user,
    update mode; each batch emits the user's cumulative count so far).

    Hash-oracled (r6 upgrade from rows-only): the replay delivers every
    event exactly once across the two batches and the per-user counter
    is monotone, so max-over-emissions (the registered output) is the
    user's final cumulative count — i.e. exactly the batch GROUP BY the
    oracle runs, regardless of which batch each user last appeared in."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "running_count": [count]})

    return _running_counts(
        spark, sf_dir, "stateful",
        lambda grouped: grouped.applyInPandasWithState(
            update,
            outputStructType="user_id BIGINT, running_count BIGINT",
            stateStructType="count BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
    )


_SSJ_ORACLE = """
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events)
SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
       p.user_id AS user_id
FROM ev p JOIN ev s
  ON p.user_id = s.user_id
 AND p.event_type = 'purchase' AND s.event_type = 'signup'
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
"""


@register("stream_stream_join", oracle=_SSJ_ORACLE, category="H")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM watermarked interval join, genuinely executed by the
    streaming engine (the streaming twin of join_range_interval):
    purchases join signups of the same user within 1 hour, both sides
    file-replayed one micro-batch at a time with 2-hour watermarks.

    This is the one replay query with a full DuckDB hash oracle, because
    the equality is provable: fixture files are TS-ORDERED slices, so
    every event arrives in order; Spark evicts a signup's join state
    only once the watermark passes s.ts + 1h + delay, i.e. only when
    some already-seen event has ts > s.ts + 3h — and in-order arrival
    means every FUTURE purchase is later still, hence > s.ts + 1h and
    outside the join window anyway. No match can be lost, and an inner
    join emits eagerly with no watermark dependence on the output — the
    drained sink is exactly the batch join. At scale the same watermark
    bounds the join state to the disorder horizon (here: the interval +
    delay), the property that makes stream-stream joins runnable forever
    on unbounded inputs.

    Replay-cost engineering (r7, measured in one window at sf0.1): both
    join sides now branch from ONE shared file source instead of two
    independent readStreams over the same directory (the type filters
    split INSIDE the stream; one listing + one scan + one watermark
    node feeds both sides — 4.8→4.0 s), and the 4 ts-ordered fixture
    files replay TWO per trigger (4.0→2.7 s: per-micro-batch state
    checkpointing is the fixed cost, and coarser batches of CONSECUTIVE
    in-order files leave the losslessness argument above untouched —
    the watermark still only advances between batches). Still a genuine
    2-micro-batch stateful replay: join state persists across, and is
    watermark-evicted at, the batch boundary. RocksDB state store was
    probed and is not faster at this state size (SCALE.md r7), nor at
    10× state (SCALE.md r11: the default store widens its lead —
    RocksDB's per-trigger SST flush dominates until state outgrows
    executor memory)."""
    # fixture = 4 ts-ordered slices of the two joining event types only
    # (other types never join — writing them would just tax the replay)
    n_files = 4

    def build_dfs():
        raw = _raw_events(spark, sf_dir).filter(
            F.col("event_type").isin("purchase", "signup")
        )
        lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) // n_files + 1
        return [
            raw.filter(F.floor((F.col("ts") - F.lit(lo)) / F.lit(span)) == i)
            for i in range(n_files)
        ]

    src = _cached_fixture("ssjoin", sf_dir, n_files, build_dfs)
    ev = _read_stream(spark, src, 2).withWatermark("ts", "2 hours")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    s = ev.filter(F.col("event_type") == "signup").alias("s")
    joined = p.join(
        s,
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts") >= F.col("s.ts"))
        & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("s.event_id").alias("signup_id"),
        F.col("p.user_id").alias("user_id"),
    )
    # _drain scopes state partitions to the replay volume (measured on
    # this join: 13 s → 4.6 s, identical result — see _STATE_PARTITIONS)
    return _drain(spark, joined, "ssjoin")


def stream_events_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """src_stream_events: replay the events directory through the stream
    engine (single AvailableNow pass) → complete-mode per-type counts."""
    configure(spark)
    # file-stream sources need a directory; glob down to the events file.
    # The stream schema must match the file's surfaced types exactly
    # (BIGINT-nanos vs TIMESTAMP_NTZ drops differ), so derive it from a
    # batch-side sniff of the same file instead of hardcoding _RAW_SCHEMA
    # (read_parquet: from the footer when it can, so no Spark job).
    on_disk = read_parquet(spark, f"{sf_dir}/events.parquet", "events").schema
    stream = (
        spark.readStream.schema(on_disk)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return _drain(spark, counts, "counts", output_mode="complete")


# transformWithStateInPandas (the Spark 4 typed-state successor to
# applyInPandasWithState) requires the `google.protobuf` Python package in
# the state-server worker, which is absent from this container and cannot
# be installed (environment constraint, SURVEY §0). The implementation
# below is therefore ENV-GATED: it registers as a query only when protobuf
# imports, so an environment that gains the dependency picks it up (and
# its test un-skips) with no code change. stream_stateful_running covers
# the arbitrary-stateful surface via applyInPandasWithState either way.
def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def stream_stateful_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-state running per-user count via transformWithStateInPandas
    (ValueState handle, update mode) — same semantics and replay fixture
    as stream_stateful_running, on the Spark 4 typed-state API."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "count BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            count = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                count += len(pdf)
            self._count.update((count,))
            yield pd.DataFrame({"user_id": [key[0]], "running_count": [count]})

        def close(self) -> None:
            pass

    return _running_counts(
        spark, sf_dir, "typed",
        lambda grouped: grouped.transformWithStateInPandas(
            RunningCount(),
            outputStructType="user_id BIGINT, running_count BIGINT",
            outputMode="Update",
            timeMode="None",
        ),
    )


if _has_protobuf():  # pragma: no cover - env-gated (no protobuf here)
    register("stream_stateful_typed", oracle=None, category="H")(stream_stateful_typed)


_FEB_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 10) AS BIGINT)) AS BIGINT) AS sum_x
FROM events
GROUP BY event_type
"""


def _febatch_merge_fn(acc: str):
    """The foreachBatch merge used by stream_foreach_batch, exposed at
    module level so the idempotence contract is directly testable:
    each micro-batch's partial aggregates land in their own
    batch_id-named partition directory with OVERWRITE — the idempotence
    key. foreachBatch is at-least-once; a retried batch REPLACES its
    partials instead of appending a duplicate, so the serving
    re-aggregate is invariant under redelivery (pinned by
    tests/test_streaming.py::
    test_foreach_batch_merge_is_idempotent_under_batch_retry)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 10).cast("bigint")).alias(
                    "sum_x"
                ),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(acc, f"batch_id={batch_id}"))
        )

    return merge


@register("stream_foreach_batch", oracle=_FEB_ORACLE, category="H")
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch SINK — the escape hatch every production streaming
    job eventually uses (upserts into warehouses, multi-sink fan-out,
    merge into lakehouse tables): each micro-batch is handed to user
    code as a BATCH DataFrame. The pattern exercised here is
    lambda-style incremental aggregation: per micro-batch, compute
    PARTIAL aggregates (count + quantized-bigint sum per event type)
    and append them to an accumulator table; the serving read
    re-aggregates the partials. Because the partials are associative
    integer pieces, the final state is independent of batch
    boundaries, delivery order, and parallelism — which is exactly why
    it can carry a full batch-SQL hash oracle, and why the same shape
    survives at-least-once redelivery: the partials are keyed by
    batch_id — each micro-batch OVERWRITES its own batch_id-named
    partition directory, so a batch retried after a partially
    completed write REPLACES its partials instead of duplicating them
    (foreachBatch is an at-least-once contract; a blind append would
    silently inflate n_events/sum_x on any retry — the r8 hardening,
    pinned by tests/test_streaming.py::
    test_foreach_batch_merge_is_idempotent_under_batch_retry).

    Scale: per-batch work is one partial agg (map-side combined);
    accumulator grows by |event types| rows per batch and compacts on
    read — the classic partial-compaction tradeoff, chosen over
    read-modify-write of the full result (which serializes on every
    micro-batch). The checkpoint dir is per-run: reusing a checkpoint
    against a fresh accumulator would silently skip already-committed
    batches."""
    def build_dfs():
        raw = _raw_events(spark, sf_dir)
        return [raw.filter(F.col("event_id") % 3 == k) for k in range(3)]

    src = _cached_fixture("febatch", sf_dir, 3, build_dfs)
    acc = scratch_dir("febatch_acc")
    _drain(spark, _read_stream(spark, src), "febatch",
           foreach_batch=_febatch_merge_fn(acc))
    return (
        spark.read.parquet(acc)
        .drop("batch_id")
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_x").alias("sum_x"),
        )
    )


_SOJ_ORACLE = """
WITH e AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events WHERE event_type IN ('purchase', 'signup')),
p AS (SELECT * FROM e WHERE event_type = 'purchase'),
s AS (SELECT * FROM e WHERE event_type = 'signup')
SELECT p.event_id AS purchase_id, s.event_id AS signup_id,
       p.user_id AS user_id
FROM p LEFT JOIN s
  ON p.user_id = s.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
"""


@register("stream_outer_join", oracle=_SOJ_ORACLE, category="H")
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the attribution shape
    (every purchase, with its in-window signup or NULL) that inner
    stream joins can't express. Outer rows are the hard part of the
    streaming surface: Spark may emit a NULL-side result only once the
    watermark proves no match can still arrive, so an unmatched
    purchase surfaces not when it is read but when the watermark passes
    the end of its join window. On an unbounded stream that happens
    continuously; in a bounded replay the LAST events' outer results
    would sit in state forever (the watermark never advances past the
    final batch). The fixture therefore appends FLUSH slices —
    sentinel signups (user_id −1, never joinable) timestamped 10/20/30
    days past the data horizon — whose only job is to advance the
    watermark so state drains; production backfills end with exactly
    this kind of high-watermark barrier. THREE staggered flush files
    are needed, not one: the watermark a micro-batch evicts with is
    computed from the batches BEFORE it, and availableNow stops after
    the last data batch without running a no-data eviction batch — so
    the last flush file must arrive in a batch strictly after an
    earlier flush already advanced the watermark past the horizon
    (with 3 files per trigger and 4+3 files: (f0,f1,f2),(f3,fl1,fl2),
    (fl3) — the final batch evicts with fl2's watermark). The
    losslessness argument for the inner join (ts-ordered slices; see
    stream_stream_join) covers matched rows; the flush barrier covers
    every outer row — so the drained sink equals the batch LEFT JOIN,
    hash-exact, sentinels excluded by construction (a left-side-less
    signup never emits from a LEFT join).

    Scale: identical state bounds to the inner join — the watermark
    caps per-key state at the interval + delay horizon regardless of
    stream length; outer-row emission adds no state, only a deferred
    scan of expiring buckets."""
    n_files = 4

    def build_dfs():
        raw = _raw_events(spark, sf_dir).filter(
            F.col("event_type").isin("purchase", "signup")
        )
        lo, hi = raw.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) // n_files + 1
        slices = [
            raw.filter(F.floor((F.col("ts") - F.lit(lo)) / F.lit(span)) == i)
            for i in range(n_files)
        ]
        # each flush point carries BOTH event types: Catalyst pushes the
        # per-branch type filters BELOW the (per-branch) watermark
        # collection, and the global watermark is the MIN across
        # branches — a signup-only sentinel would advance only the
        # signup branch's watermark while the purchase branch (and so
        # the min) stayed at the data horizon, never releasing the tail
        # outer rows (observed: srcrows=0 for the flush batch in the
        # join plan vs 2 in a plain scan of the same fixture)
        flushes = [
            spark.createDataFrame(
                [
                    (-1 - 2 * k, hi + (k + 1) * 10 * 86_400 * 1_000_000_000,
                     -1, "purchase", 0.0, "{}"),
                    (-2 - 2 * k, hi + (k + 1) * 10 * 86_400 * 1_000_000_000,
                     -1, "signup", 0.0, "{}"),
                ],
                _RAW_SCHEMA,
            )
            for k in range(3)
        ]
        return slices + flushes

    src = _cached_fixture("souterjoin_v3", sf_dir, n_files + 3, build_dfs)
    # 3 files/trigger over 4+3 files → (f0,f1,f2),(f3,fl1,fl2),(fl3):
    # still a genuine multi-batch stateful replay (join state crosses two
    # batch boundaries) and the last batch still evicts with a
    # flush-advanced watermark, at 3 micro-batch checkpoints instead of 4
    # (per-batch state checkpointing is the replay's fixed cost)
    ev = _read_stream(spark, src, 3).withWatermark("ts", "2 hours")
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    s = ev.filter(F.col("event_type") == "signup").alias("s")
    joined = p.join(
        s,
        (F.col("p.user_id") == F.col("s.user_id"))
        & (F.col("p.ts") >= F.col("s.ts"))
        & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("s.event_id").alias("signup_id"),
        F.col("p.user_id").alias("user_id"),
    )
    # sentinel exclusion happens BATCH-side, on the drained sink: an
    # in-stream filter on user_id would be pushed below the purchase
    # branch's watermark collection exactly like the type filters,
    # re-silencing the sentinels it exists to tolerate. The sentinels
    # are join-inert for real rows by construction (10 days past the
    # horizon; they only match each other, eagerly, as inner pairs).
    return _drain(spark, joined, "souterjoin").filter(
        F.col("user_id") >= 0
    )
