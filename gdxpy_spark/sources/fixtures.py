"""Deterministic GDX fixtures built from the driver test tables
(FIXTURES.md §2): since no GAMS exists in this environment to produce
real .gdx files (SURVEY §0), the engine's own writer materializes
fixtures from the parquet tables — the parquet→builder path — and the
reader is then exercised against them (plus codec round-trip property
tests in tests/test_gdx_codec.py)."""

from __future__ import annotations

import math
import os

import duckdb

from gdxpy_spark.operators._util import artifact_dir, build_once
from gdxpy_spark.sources.gdx_codec import (
    DT_PAR,
    DT_SET,
    DT_VAR,
    GdxWriter,
    SymbolData,
    SymbolMeta,
)

_SOURCES = ("region", "nation", "customer", "orders")


def build_fixture_gdx(sf_dir: str) -> str:
    """The GDXPY7 fixture of sf_dir: sets, parameters (incl. a scalar and
    a specials symbol with EPS/NA/±INF), a 5-value variable, an alias."""
    return os.path.join(_fixture_dir(sf_dir), "fixture.gdx")


def build_fixture_gdx_gams(sf_dir: str, compress: bool = False) -> str:
    """GAMS-V7-layout fixture (gdx_gams.GamsGdxWriter): the monthly_sales
    parameter + a specials symbol, for the native-layout read query.
    ``compress=True`` selects the zlib stream-page variant (SURVEY App
    B's second real-world container form)."""
    return os.path.join(
        _fixture_dir(sf_dir), f"fixture_gams{'_z' if compress else ''}.gdx"
    )


def _fixture_dir(sf_dir: str) -> str:
    """All three fixtures of sf_dir as one build_once artifact, keyed on
    the four tables they are derived from."""
    sources = [os.path.join(sf_dir, f"{t}.parquet") for t in _SOURCES]
    return build_once(
        artifact_dir("gdx_fixtures_v1", sf_dir, sources),
        lambda build: _write_fixtures(sf_dir, build),
    )


def _monthly_sales(ms) -> SymbolData:
    return SymbolData(
        meta=SymbolMeta("monthly_sales", 2, DT_PAR, expl_text="sales by status×month"),
        keys=[(r[0], r[1]) for r in ms],
        values=[(float(r[2]),) for r in ms],
        eps_mask=[0] * len(ms),
    )


def _specials() -> SymbolData:
    """Special-value showcase: EPS membership, NA, ±INF (SURVEY §1.1)."""
    return SymbolData(
        meta=SymbolMeta("specials", 1, DT_PAR, expl_text="GDX special values"),
        keys=[("eps_member",), ("na_value",), ("pos_inf",), ("neg_inf",), ("plain",)],
        values=[(0.0,), (math.nan,), (math.inf,), (-math.inf,), (42.5,)],
        eps_mask=[1, 0, 0, 0, 0],
    )


def _write_fixtures(sf_dir: str, out: str) -> None:
    from gdxpy_spark.sources.gdx_gams import GamsGdxWriter

    os.makedirs(out)
    con = duckdb.connect()
    for t in _SOURCES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    ms = con.execute(
        "SELECT o_orderstatus, 'm' || CAST(month(o_orderdate) AS VARCHAR),"
        " CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 4) AS DOUBLE)"
        " FROM orders GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()

    w = GdxWriter(os.path.join(out, "fixture.gdx"),
                  producer=f"gdxpy_spark fixtures {sf_dir}", compress=True)
    regions = [r[0] for r in con.execute("SELECT r_name FROM region ORDER BY r_regionkey").fetchall()]
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("region_set", 1, DT_SET, expl_text="regions"),
            keys=[(r,) for r in regions],
            text=["" for _ in regions],
        )
    )

    nr = con.execute(
        "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey"
        " ORDER BY n_nationkey"
    ).fetchall()
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("nation_region", 2, DT_SET, domains=("*", "region_set"),
                            expl_text="nation→region membership"),
            keys=[tuple(r) for r in nr],
            text=["" for _ in nr],
        )
    )

    bal = con.execute(
        "SELECT c_name, ROUND(c_acctbal, 4) FROM customer ORDER BY c_custkey"
    ).fetchall()
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("acctbal", 1, DT_PAR, expl_text="customer balance"),
            keys=[(r[0],) for r in bal],
            values=[(float(r[1]),) for r in bal],
            eps_mask=[0] * len(bal),
        )
    )

    w.add_symbol(_monthly_sales(ms))

    flow = con.execute(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*),"
        " CAST(ROUND(AVG(o_totalprice), 4) AS DOUBLE)"
        " FROM orders GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("flow", 2, DT_VAR, subtype=1, expl_text="order flow"),
            keys=[(r[0], r[1]) for r in flow],
            values=[(float(r[2]), float(r[3]), 0.0, math.inf, 1.0) for r in flow],
            eps_mask=[0] * len(flow),
        )
    )

    n_orders = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("n_orders", 0, DT_PAR, expl_text="scalar: order count"),
            keys=[()],
            values=[(float(n_orders),)],
            eps_mask=[0],
        )
    )

    w.add_symbol(_specials())
    w.close()

    for compress in (False, True):
        w = GamsGdxWriter(
            os.path.join(out, f"fixture_gams{'_z' if compress else ''}.gdx"),
            producer=f"gdxpy_spark gams fixtures {sf_dir}", compress=compress,
        )
        w.add_symbol(_monthly_sales(ms))
        w.add_symbol(_specials())
        w.close()
