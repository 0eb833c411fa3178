"""Exact-equality checks behind the weak-checked source/sink queries
(the driver records rows-only; these pin the actual semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdxpy_spark import registry
from gdxpy_spark.tables import table
from tests.conftest import SF_DIR

ALL = registry.all_queries()


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_csv_roundtrip_exact(spark):
    got = ALL["src_csv_roundtrip"].fn(spark, SF_DIR)
    want = table(spark, SF_DIR, "nation")
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got.select(*sorted(got.columns))) == _rows(
        want.select(*sorted(want.columns))
    )


def test_json_roundtrip_exact(spark):
    got = ALL["src_json_roundtrip"].fn(spark, SF_DIR)
    want = table(spark, SF_DIR, "supplier")
    assert _rows(got.select(*sorted(got.columns))) == _rows(
        want.select(*sorted(want.columns))
    )


def test_orc_roundtrip_exact(spark):
    got = ALL["src_orc_roundtrip"].fn(spark, SF_DIR)
    want = table(spark, SF_DIR, "region")
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got.select(*sorted(got.columns))) == _rows(
        want.select(*sorted(want.columns))
    )


def test_approx_distinct_envelope(spark):
    r = ALL["agg_approx_distinct"].fn(spark, SF_DIR).first()
    assert abs(r["approx_parts"] - r["exact_parts"]) <= 0.05 * r["exact_parts"], (
        f"HLL estimate outside ±5%: {r}"
    )


def test_approx_percentile_envelope(spark):
    """Sketch quantiles must sit within 1% (relative) of the exact ones."""
    approx = {
        r["l_linestatus"]: (r["p50_approx"], r["p95_approx"])
        for r in ALL["agg_approx_percentile"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r["l_linestatus"]: (r["p50"], r["p95"])
        for r in table(spark, SF_DIR, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    for k in exact:
        for got, want in zip(approx[k], exact[k]):
            assert abs(got - want) <= 0.01 * abs(want), (k, got, want)


def test_events_ts_unknown_encoding_raises(spark, tmp_path):
    """An events.parquet whose ts column is neither int64-nanos nor a
    timestamp type must fail loudly at load (tables.events_ts_encoding),
    not cast to nulls — in BOTH consumers of the sniffer."""
    import pytest

    from gdxpy_spark.streaming.replay import _raw_events
    from gdxpy_spark.tables import table as load_table

    bad_dir = tmp_path / "sfbad"
    bad_dir.mkdir()
    spark.createDataFrame(
        [("2024-01-01T00:00:00", 1)], "ts string, event_id bigint"
    ).write.parquet(str(bad_dir / "events.parquet"))
    with pytest.raises(TypeError, match="unrecognized dtype 'string'"):
        load_table(spark, str(bad_dir), "events")
    with pytest.raises(TypeError, match="unrecognized dtype 'string'"):
        _raw_events(spark, str(bad_dir))


def test_shuffle_partitions_fallback_on_non_numeric():
    """Platforms where spark.sql.shuffle.partitions is non-numeric (e.g.
    'auto' under Databricks AOS) must fall back to defaultParallelism
    instead of raising ValueError at query-build time."""
    from gdxpy_spark.operators._util import shuffle_partitions

    class FakeCtx:
        defaultParallelism = 7

    class FakeConf:
        def __init__(self, value):
            self._v = value

        def get(self, key):
            return self._v

    class FakeSpark:
        def __init__(self, value):
            self.conf = FakeConf(value)
            self.sparkContext = FakeCtx()

    assert shuffle_partitions(FakeSpark("32")) == 32
    assert shuffle_partitions(FakeSpark("auto")) == 7
    assert shuffle_partitions(FakeSpark(None)) == 7


def test_gdx_pushdown_opt_in(spark):
    """Pushdown is opt-in with no Spark-version gate: with no `pushdown`
    option (or `false`/`0`) the plain reader is chosen on every Spark
    version; `true`/`1` select the pruning reader."""
    from unittest import mock

    from gdxpy_spark.sources import gdx_datasource as D
    from gdxpy_spark.sources.fixtures import build_fixture_gdx

    path = build_fixture_gdx(SF_DIR)

    def reader_for(version, **options):
        src = D.GdxDataSource(dict(options, path=path, symbol="monthly_sales"))
        with mock.patch("pyspark.__version__", version):
            return type(src.reader(src.schema())).__name__

    for version in ("4.1.2", "4.2.0", "5.0.0"):
        assert reader_for(version) == "GdxSymbolReader"
        assert reader_for(version, pushdown="false") == "GdxSymbolReader"
        assert reader_for(version, pushdown="0") == "GdxSymbolReader"
        assert reader_for(version, pushdown="true") == "PushdownGdxSymbolReader"
        assert reader_for(version, pushdown="1") == "PushdownGdxSymbolReader"
