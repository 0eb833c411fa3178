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


# ---- footer schemas (tables.footer_schema) -----------------------------------


def _perfbench_tables(out_dir):
    """perfbench's seeded generators, written as dedup_tpch writes them
    (smoke sizes): the TPC-H tables, documents and embeddings."""
    from perfbench import gen

    gen.write_permuted(out_dir, {
        "documents": gen.documents_table(1, 50),
        "embeddings": gen.embeddings_table(1, 50),
        **gen.tpch_tables(1, 0.001),
    }, 1)


def test_footer_schema_equals_inference_on_every_table(spark, tmp_path):
    """The schema built from the parquet footer is taken for, and equals
    Spark's inference on, every table of the three test scales and of
    perfbench's generators."""
    import glob

    from gdxpy_spark.tables import configure, footer_schema

    configure(spark)
    _perfbench_tables(str(tmp_path))
    paths = sorted(glob.glob("/root/testdata/sf*/*.parquet"))
    paths += sorted(glob.glob(str(tmp_path / "*.parquet")))
    assert len(paths) >= 30
    for p in paths:
        schema, reason = footer_schema(spark, p)
        assert schema is not None, (p, reason)
        assert schema == spark.read.parquet(p).schema, p


def _write_types(d, columns):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, (arr, nullable) in columns.items():
        t = pa.table({name: arr}, schema=pa.schema([pa.field(name, arr.type, nullable)]))
        pq.write_table(t, str(d / f"{name}.parquet"))


def test_footer_schema_supported_types_equal_inference(spark, tmp_path):
    """One small file per supported column type: its footer schema is
    taken and equals Spark's inference, nullability included (a
    required column and a list of required elements come back
    nullable, as Spark's file sources make them), also under the two
    session confs that change the inferred type of a supported column."""
    import datetime
    import decimal

    import pyarrow as pa

    from gdxpy_spark.tables import configure, footer_schema

    configure(spark)
    ts = datetime.datetime(2020, 1, 2, 3, 4, 5, 6)
    cols = {
        "i8": pa.array([1, None], pa.int8()),
        "i16": pa.array([1, None], pa.int16()),
        "i32": pa.array([1, None], pa.int32()),
        "i64": pa.array([1, None], pa.int64()),
        "f32": pa.array([1.5, None], pa.float32()),
        "f64": pa.array([1.5, None], pa.float64()),
        "flag": pa.array([True, None]),
        "s": pa.array(["a", None]),
        "bin": pa.array([b"a", None]),
        "d": pa.array([datetime.date(2020, 1, 2), None]),
        "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(10, 2)),
        "dec38": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(38, 2)),
        "ts_ntz": pa.array([ts, None], pa.timestamp("us")),
        "ts_utc": pa.array([ts, None], pa.timestamp("us", "UTC")),
        "ts_zone": pa.array([ts, None], pa.timestamp("us", "America/New_York")),
        "floats": pa.array([[1.0], None], pa.list_(pa.float32())),
        "nested": pa.array([[[1]], None], pa.list_(pa.list_(pa.int64()))),
        "required": pa.array([1, 2], pa.int64()),
        "required_elems": pa.array(
            [[1], [2]], pa.list_(pa.field("element", pa.int32(), nullable=False))
        ),
    }
    _write_types(tmp_path, {
        k: (v, not k.startswith("required")) for k, v in cols.items()
    })
    confs = {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.parquet.binaryAsString": "true",
    }
    for session_confs in ({}, confs):
        try:
            for key, value in session_confs.items():
                spark.conf.set(key, value)
            for k in cols:
                p = str(tmp_path / f"{k}.parquet")
                schema, reason = footer_schema(spark, p)
                assert schema is not None, (k, reason)
                assert schema == spark.read.parquet(p).schema, (k, session_confs)
        finally:
            for key in session_confs:
                spark.conf.unset(key)


def test_footer_schema_refuses_to_inference(spark, tmp_path, caplog):
    """A TIMESTAMP(NANOS) column (a bigint under nanosAsLong), an
    unsigned int, a dictionary column, a file whose footer does not
    open and a directory table take Spark's inference, and table() logs
    which path each open took."""
    import datetime
    import logging

    import pyarrow as pa

    from gdxpy_spark import tables

    tables.configure(spark)
    caplog.set_level(logging.DEBUG, logger=tables.log.name)
    ts = datetime.datetime(2020, 1, 2)
    refused = {
        "ns": pa.array([ts, None], pa.timestamp("ns")),
        "u32": pa.array([1, None], pa.uint32()),
        "dict": pa.array(["a", "b"]).dictionary_encode(),
    }
    _write_types(tmp_path, {k: (v, True) for k, v in refused.items()})
    want = {"ns": "bigint", "u32": "bigint", "dict": "string"}
    for k, dtype in want.items():
        schema, reason = tables.footer_schema(spark, str(tmp_path / f"{k}.parquet"))
        assert schema is None and reason.startswith(f"column {k}: "), (k, reason)
        assert dict(tables.table(spark, str(tmp_path), k).dtypes) == {k: dtype}
    (tmp_path / "junk.parquet").write_bytes(b"not parquet")
    schema, reason = tables.footer_schema(spark, str(tmp_path / "junk.parquet"))
    assert schema is None and reason.startswith("footer: "), reason
    spark.range(3).write.parquet(str(tmp_path / "dir.parquet"))
    assert tables.footer_schema(spark, str(tmp_path / "dir.parquet")) == (
        None, "not a single file"
    )
    assert tables.table(spark, str(tmp_path), "dir").count() == 3
    tables.table(spark, SF_DIR, "nation")
    assert [r.getMessage() for r in caplog.records if r.name == tables.log.name] == [
        "table ns: inferred (column ns: timestamp[ns])",
        "table u32: inferred (column u32: uint32)",
        "table dict: inferred (column dict: dictionary<values=string, "
        "indices=int32, ordered=0>)",
        "table dir: inferred (not a single file)",
        "table nation: footer schema",
    ]


def test_events_nanos_drop_still_normalizes(spark, tmp_path):
    """An events drop stored as TIMESTAMP(NANOS) is refused by the
    footer schema, so both events loaders still see the bigint nanos
    encoding and normalize it to the same values as the µs drop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdxpy_spark.streaming.replay import _raw_events
    from gdxpy_spark.tables import table as load_table

    ev = pq.read_table(f"{SF_DIR}/events.parquet")
    i = ev.schema.get_field_index("ts")
    ns = ev.set_column(i, "ts", ev.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(ns, str(tmp_path / "events.parquet"))
    for load in (load_table, lambda s, d, *_: _raw_events(s, d)):
        want, got = (load(spark, d, "events") for d in (SF_DIR, str(tmp_path)))
        assert got.dtypes == want.dtypes
        assert _rows(got) == _rows(want)
