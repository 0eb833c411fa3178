"""r15 optimization-round pins: adaptive mm_e2e_dedup tier overlap and
the fan-out long-tail sites (see OPTIMIZATION_r15.md)."""

from __future__ import annotations

from gdxpy_spark import registry
from tests.conftest import SF_DIR

registry.load_all()
ALL = registry.all_queries()


def test_mm_e2e_adaptive_overlap_sequential_path_matches(spark, monkeypatch):
    """r15 (VERDICT #3): mm_e2e_dedup degrades to a SEQUENTIAL tier
    schedule when the session offers fewer than ~2 task slots per tier
    (defaultParallelism < _E2E_OVERLAP_MIN_SLOTS). Pin that the
    sequential schedule and the concurrent one produce the identical,
    monotone funnel (schedule-independence in the other direction from
    the r14 pin). Each branch is forced through the threshold, so the
    test does not depend on the session's width."""
    import gdxpy_spark.operators.multimodal as mm

    fn = ALL["mm_e2e_dedup"].fn

    monkeypatch.setattr(mm, "_E2E_OVERLAP_MIN_SLOTS", 10**9)
    seq = {r["stage"]: r["n_docs"] for r in fn(spark, SF_DIR).collect()}

    monkeypatch.setattr(mm, "_E2E_OVERLAP_MIN_SLOTS", 0)
    thr = {r["stage"]: r["n_docs"] for r in fn(spark, SF_DIR).collect()}

    assert seq == thr
    assert set(seq) == {"raw", "exact", "perceptual", "semantic"}
    assert seq["raw"] >= seq["exact"] >= seq["perceptual"] >= seq["semantic"]
