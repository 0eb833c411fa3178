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


def test_mm_e2e_tier_threads_inherit_session_tags(spark, duck, monkeypatch):
    """With the tiers on worker threads (_E2E_OVERLAP_MIN_SLOTS patched
    to 1), mm_e2e_dedup hands the session to inheritable_thread_target:
    no "Tags will not be inherited" warning is raised, a job tag the
    caller added is set in the tier threads, and the funnel still
    matches its oracle."""
    import warnings

    import gdxpy_spark.operators.multimodal as mm
    from tests.conftest import assert_frames_match

    monkeypatch.setattr(mm, "_E2E_OVERLAP_MIN_SLOTS", 1)
    seen = []
    phash = mm._phash_dups

    def tagged_phash(*args):
        seen.append(spark.getTags())
        return phash(*args)

    monkeypatch.setattr(mm, "_phash_dups", tagged_phash)
    q = ALL["mm_e2e_dedup"]
    spark.addTag("mm_e2e_tier_probe")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            sdf = q.fn(spark, SF_DIR)
    finally:
        spark.removeTag("mm_e2e_tier_probe")
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert seen and all("mm_e2e_tier_probe" in tags for tags in seen)
    assert_frames_match(sdf, duck.execute(q.oracle), name="mm_e2e_dedup")


def test_udf_python_scalar_builds_without_warning(spark):
    """udf_python_scalar's row-at-a-time UDF carries no type hints, so
    building the query raises no UserWarning (pyspark 4.1 warns "Cannot
    infer the eval type from type hints." for a hinted @F.udf with an
    explicit return type)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        ALL["udf_python_scalar"].fn(spark, SF_DIR)
