"""Semantic assertions for the weak-checked streaming replay operators:
the rows-only driver check can't see semantics, so these tests pin them —
late-drop actually drops, stateful dedup actually dedups, running counts
converge to the batch ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdxpy_spark import registry
from gdxpy_spark.tables import table
from tests.conftest import SF_DIR

ALL = registry.all_queries()


def test_src_stream_events_matches_batch(spark):
    got = {
        r["event_type"]: r["n_events"]
        for r in ALL["src_stream_events"].fn(spark, SF_DIR).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def _hourly_counts(df):
    return {
        (r["ws"], r["event_type"]): r["n"]
        for r in df.groupBy(
            F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss").alias(
                "ws"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }


def test_watermark_drops_late_rows(spark):
    """Append mode emits only windows closed by the final watermark; every
    emitted window must hold the ON-TIME count (late rows dropped), and at
    least one emitted window must differ from the full-data count."""
    res = ALL["stream_watermark_late"].fn(spark, SF_DIR)
    emitted = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in res.collect()
    }
    assert emitted, "stream must emit closed windows"

    ev = table(spark, SF_DIR, "events")
    min_ts = ev.agg(F.min("ts")).first()[0]
    late = ev.filter(
        (F.col("event_id") % 97 == 0)
        & (F.col("ts") < F.lit(min_ts) + F.expr("INTERVAL 6 HOURS"))
    )
    assert late.count() > 0, "fixture must actually produce late rows"
    on_time = ev.join(late.select("event_id"), "event_id", "left_anti")
    full_c = _hourly_counts(ev)
    on_time_c = _hourly_counts(on_time)

    for k, n in emitted.items():
        assert n == on_time_c[k], f"late rows leaked into window {k}"
    # windows that lost rows to the late-drop (all in the first 6h, so all
    # closed well before end-of-stream) must show the on-time count — or
    # not exist at all if the late row was their only member
    affected = [k for k in full_c if full_c[k] != on_time_c.get(k, 0)]
    assert affected, "fixture produced no late-affected windows"
    for k in affected:
        assert emitted.get(k, 0) == on_time_c.get(k, 0), (
            f"late-affected window {k} holds the late contribution"
        )


def test_stream_dedup_removes_duplicates(spark):
    """Every emitted 24h window count must equal the distinct-event count
    for that window (the batch-2 re-deliveries were suppressed)."""
    res = ALL["stream_dedup"].fn(spark, SF_DIR)
    emitted = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in res.collect()
    }
    assert emitted
    ev = table(spark, SF_DIR, "events")
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_format(F.window("ts", "24 hours").start, "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
        )
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    n_dupes_in_emitted = ev.filter(F.col("event_id") % 53 == 0).count()
    assert n_dupes_in_emitted > 0
    for k, n in emitted.items():
        assert n == want[k], f"duplicates leaked into window {k}"


def test_stateful_running_counts_converge(spark):
    res = ALL["stream_stateful_running"].fn(spark, SF_DIR)
    got = {r["user_id"]: r["running_count"] for r in res.collect()}
    want = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_sessionize_subsecond_gap_boundary(spark, tmp_path):
    """Pin the microsecond gap comparison: a 1800.5 s gap must split the
    session, a 1799.5 s gap must not (whole-second truncation would get
    the first one wrong — round-2 review finding)."""
    base = 1_700_000_000_000_000_000  # ns epoch
    s = 1_000_000_000
    rows = [
        # user 1: gap of 1800.5 s → two sessions
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + int(1800.5 * s), 1, "view", 1.0, "{}"),
        # user 2: gap of 1799.5 s → one session
        (3, base, 2, "view", 1.0, "{}"),
        (4, base + int(1799.5 * s), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = ALL["win_sessionize"].fn(spark, str(tmp_path)).collect()
    sessions = {}
    for r in out:
        sessions.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(sessions[1]) == [1, 1], "1800.5s gap must split"
    assert sessions[2] == [2], "1799.5s gap must not split"


def test_stateful_typed_counts_converge(spark):
    """Spark 4 typed-state (transformWithStateInPandas) variant — env-
    gated: skips while google.protobuf is absent from the container
    (SURVEY §0); un-skips and must match the batch counts the moment
    the dependency appears."""
    import pytest

    from gdxpy_spark.streaming.replay import _has_protobuf, stream_stateful_typed

    if not _has_protobuf():
        pytest.skip("google.protobuf absent — transformWithState needs it")
    res = stream_stateful_typed(spark, SF_DIR)
    got = {r["user_id"]: r["running_count"] for r in res.collect()}
    want = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stateful_typed_equals_apply_in_pandas_twin(spark):
    """Twin equivalence: the typed-state path (transformWithStateInPandas)
    and the applyInPandasWithState path must produce identical final
    per-user counts over the same replay fixture — the typed API is a
    drop-in successor, not a semantic change. Env-gated like its sibling;
    auto-activates if google.protobuf ever appears in the container."""
    import pytest

    from gdxpy_spark.streaming.replay import _has_protobuf, stream_stateful_typed

    if not _has_protobuf():
        pytest.skip("google.protobuf absent — transformWithState needs it")
    typed = {
        r["user_id"]: r["running_count"]
        for r in stream_stateful_typed(spark, SF_DIR).collect()
    }
    twin = {
        r["user_id"]: r["running_count"]
        for r in ALL["stream_stateful_running"].fn(spark, SF_DIR).collect()
    }
    assert typed == twin


def test_foreach_batch_merge_is_idempotent_under_batch_retry(spark, tmp_path):
    """foreachBatch is an AT-LEAST-ONCE contract: after a sink/driver
    hiccup Spark re-invokes the user function with the SAME batch_id and
    data. The merge must therefore be idempotent per batch_id — the r8
    hardening keys every partial-aggregate write by batch_id and
    OVERWRITES, so a redelivered batch replaces rather than duplicates
    its partials. This test replays exactly that failure: merge(batch 0)
    twice (retry), merge(batch 1) once, and asserts the served
    re-aggregate equals the single-delivery truth — a blind append would
    double batch 0's counts and sums."""
    from gdxpy_spark.streaming.replay import _febatch_merge_fn

    acc = str(tmp_path / "acc")
    merge = _febatch_merge_fn(acc)
    b0 = spark.createDataFrame(
        [("click", 1.0), ("click", 2.2), ("view", 0.4)], "event_type string, value double"
    )
    b1 = spark.createDataFrame(
        [("click", 5.0), ("scroll", 1.6)], "event_type string, value double"
    )
    merge(b0, 0)
    merge(b0, 0)  # the retry: same batch_id, same data, delivered again
    merge(b1, 1)
    served = {
        r["event_type"]: (r["n_events"], r["sum_x"])
        for r in spark.read.parquet(acc)
        .drop("batch_id")
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sum_x").alias("sum_x"))
        .collect()
    }
    assert served == {"click": (3, 82), "view": (1, 4), "scroll": (1, 16)}


def test_one_drain_and_one_source_reader():
    """Every replay starts through one drain and reads its fixture
    through one source reader: under gdxpy_spark/ there is exactly one
    `.writeStream` and one `awaitTermination(` call, both in
    replay._drain, and one maxFilesPerTrigger option, in
    replay._read_stream. Spark-free (AST scan)."""
    import ast
    import pathlib

    import gdxpy_spark

    class Sites(ast.NodeVisitor):
        def __init__(self):
            self.stack, self.found = [], []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        def visit_Attribute(self, node):
            if node.attr in ("writeStream", "awaitTermination"):
                self.found.append((node.attr, self.stack[-1] if self.stack else "<module>"))
            self.generic_visit(node)

        def visit_Constant(self, node):
            if node.value == "maxFilesPerTrigger":
                self.found.append((node.value, self.stack[-1] if self.stack else "<module>"))

    sites = Sites()
    root = pathlib.Path(gdxpy_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        sites.visit(ast.parse(path.read_text()))
    assert sorted(sites.found) == [
        ("awaitTermination", "_drain"),
        ("maxFilesPerTrigger", "_read_stream"),
        ("writeStream", "_drain"),
    ]


def test_drain_leaves_no_checkpoint(spark, duck, tmp_path, monkeypatch):
    """The drain removes its checkpoint once the replay has ended, and
    the returned frames do not need it: with the temp dir (and so the
    per-process scratch root) under tmp_path, a memory-sink replay and
    a foreachBatch replay both still collect to their oracle rows and
    no checkpoint dir is left."""
    import tempfile

    from gdxpy_spark.operators import _util
    from tests.conftest import assert_frames_match

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(_util, "_scratch_root", None)
    for name in ("stream_dedup", "stream_foreach_batch"):
        q = ALL[name]
        assert_frames_match(q.fn(spark, SF_DIR), duck.execute(q.oracle), name=name)
    assert [p for p in tmp_path.rglob("ckpt_*")] == []
    assert list(tmp_path.glob("gdxpy_spark_scratch_*/febatch_acc_*"))
