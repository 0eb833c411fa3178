"""Differential tests: every registered oracle query runs on Spark AND
DuckDB; results must match exactly (the driver's t2 gate, run locally at
a small SF). Weak (oracle-less) queries get run-only smoke checks plus
semantic assertions in their dedicated test modules."""

from __future__ import annotations

import pytest

from gdxpy_spark import registry
from tests.conftest import SF_DIR, assert_frames_match

ALL = registry.all_queries()
ORACLE_NAMES = sorted(n for n, q in ALL.items() if q.oracle)
# every registered stream replay query has an oracle, so it runs in
# test_oracle_parity; test_streaming.py adds its semantic checks
WEAK_NAMES = sorted(n for n, q in ALL.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    q = ALL[name]
    sdf = q.fn(spark, SF_DIR)
    rel = duck.execute(q.oracle)
    assert_frames_match(sdf, rel, name=name)


def test_oracle_no_promoted_types(duck):
    """Registry-wide DuckDB-only guard (fast — DESCRIBE plans, never
    executes): no oracle may emit HUGEINT/UHUGEINT/DECIMAL. DuckDB
    auto-promotes any uncast SUM(<integer>) to HUGEINT (int128), which
    the driver's pandas/Arrow fetch renders as float64/decimal128 —
    value-hash red against Spark's int64 even when every value is
    identical. Exactly six oracles slipped through in r7/r8 and were
    the ONLY driver hash-fails of both rounds (VERDICT r8). The
    full cross-engine family check (Spark schema vs Arrow fetch
    schema) runs inside assert_frames_match on every parity test;
    this sweep is the zero-Spark early tripwire for the same class.
    """
    bad = []
    for name in ORACLE_NAMES:
        for col, typ, *_ in duck.execute(
            "DESCRIBE " + ALL[name].oracle
        ).fetchall():
            u = typ.upper()
            if "HUGEINT" in u or "DECIMAL" in u:
                bad.append((name, col, typ))
    assert not bad, f"promotion-prone oracle column types: {bad}"


@pytest.mark.parametrize("name", WEAK_NAMES)
def test_weak_smoke(spark, name):
    q = ALL[name]
    df = q.fn(spark, SF_DIR)
    assert df.count() >= 0  # runs end-to-end with a stable schema
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # every queries() key with an oracle is a subset of oracle_sql() keys
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
