"""SparkSession builder.

Tuned for the bench/test host (local[N], single JVM) but every knob here
is the one you'd also set on a real cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the Python boundary, UTC
session time zone for deterministic timestamp semantics.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from gdxpy_spark.tables import configure

log = logging.getLogger(__name__)


def _default_driver_mem() -> str:
    """min(16 GiB, half of host RAM), floor 2 GiB, as a JVM -Xmx string."""
    try:
        host_gib = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")) / 2**30
    except (ValueError, OSError, AttributeError):  # non-POSIX fallback
        host_gib = 16.0
    return f"{max(2, min(16, int(host_gib // 2)))}g"


def _default_cpus() -> int:
    """SPARK_GRAFT_CPUS when it is a positive integer, else the host's
    core count (so a malformed value such as "auto" cannot crash; it is
    logged)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw:
        try:
            cpus = int(raw)
        except ValueError:
            cpus = 0
        if cpus > 0:
            return cpus
        log.warning("SPARK_GRAFT_CPUS=%r is not a positive integer; "
                    "using the host's core count", raw)
    return os.cpu_count() or 4


def get_spark(
    app: str = "gdxpy_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = _default_cpus()
    if shuffle_partitions is None:
        # local mode: ~cores; a 1000-executor cluster would size this to
        # ~2-3× total cores (or let AQE coalesce from a higher initial).
        shuffle_partitions = max(4, cpus)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 optimization round (guide §3.1): let AQE rewrite a
        # sort-merge join to shuffled-hash AT RUNTIME when every
        # post-shuffle partition of the build side measures under 64 MB
        # — skips both sort passes with no OOM exposure because the
        # decision uses MEASURED partition bytes, not estimates
        # (default 0 = never). This is deliberately NOT
        # spark.sql.join.preferSortMergeJoin=false: the static planner
        # variant trusts size estimates, whose failure mode at the
        # 100 TB posture is a build-side OOM. Scale-safe by
        # construction at any data size; the local A/B was inside box
        # noise except the large-build-side shapes (tpch_q18 class) —
        # see OPTIMIZATION_r14.md.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (gdx chunk pruning) — 4.1
        # defaults this off, and planning a pushFilters-capable reader
        # with it off is a hard error
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # 206-query bench sessions accumulate heap pressure late in the
        # run (r8: machinery queries read 2-3x their isolated cost past
        # query ~180 at 8g while a clean 16g window matched isolated).
        # The default clamps to half of detected host RAM, capped at
        # 16g, so the library still launches on small hosts (r8
        # advice): the 128 GiB bench box gets 16g, an 8 GiB laptop 4g.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
