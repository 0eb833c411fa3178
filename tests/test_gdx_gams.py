"""GAMS-layout GDX container tests (gdx_gams.py).

The golden fixture here is BYTE-BUILT BY HAND to the published V7
structure — independent of GamsGdxWriter — so reader and writer are
cross-checked against the spec'd layout, not just against each other.
"""

from __future__ import annotations

import io
import math
import struct

import pytest

from gdxpy_spark.sources.gdx_codec import DT_PAR, DT_SET, DT_VAR, SymbolData, SymbolMeta
from gdxpy_spark.sources import gdx_gams as G


# --- hand-rolled primitives (deliberately NOT reusing gdx_gams helpers) ----

def S(s: str) -> bytes:  # ShortString
    raw = s.encode()
    return bytes([len(raw)]) + raw


def I(v: int) -> bytes:  # int32 LE
    return struct.pack("<i", v)


def Q(v: int) -> bytes:  # int64 LE
    return struct.pack("<q", v)


def D(v: float) -> bytes:
    return struct.pack("<d", v)


def build_golden() -> bytes:
    """A V7 file: set i /seattle, san-diego/, parameter d(i,i) with a
    normal value, a 0.0, an EPS and a +inf, and a scalar total."""
    out = io.BytesIO()
    out.write(bytes([123]))                   # gdxHeaderNr
    out.write(S("GAMSGDX"))                   # gdxHeaderId
    out.write(I(7))                           # version
    out.write(I(0))                           # uncompressed
    out.write(S("golden audit"))
    out.write(S("golden producer"))
    index_pos = out.tell()
    out.write(I(19510624))                    # MARK_BOI
    out.write(Q(0) * 6)                       # placeholders

    # --- data block: set i (dim 1, 2 records; UELs 1..2) ---
    set_pos = out.tell()
    out.write(S("_DATA_"))
    out.write(bytes([1]))                     # dim
    out.write(I(2))                           # nrecs
    out.write(I(1) + I(2))                    # min/max elem dim 1 → width 1
    out.write(bytes([1]) + bytes([0]))        # rec 1: fc=1, key delta 0 (uel 1)
    out.write(bytes([G.VM_ZERO]))             # text index 0 = ""
    out.write(bytes([1]) + bytes([1]))        # rec 2: fc=1, key delta 1 (uel 2)
    out.write(bytes([G.VM_ONE]))              # text index 1 = "a port"
    out.write(bytes([255]))                   # end of data
    out.write(S("_DATA_"))

    # --- data block: parameter d (dim 2, 4 records) ---
    par_pos = out.tell()
    out.write(S("_DATA_"))
    out.write(bytes([2]))
    out.write(I(4))
    out.write(I(1) + I(2))                    # dim1 min/max → width 1
    out.write(I(1) + I(2))                    # dim2 min/max → width 1
    # sorted keys: (1,1) (1,2) (2,1) (2,2); delta coding shares prefixes
    out.write(bytes([1]) + bytes([0, 0]))     # (1,1): fc=1, both keys
    out.write(bytes([G.VM_NORMAL]) + D(2.5))
    out.write(bytes([2]) + bytes([1]))        # (1,2): fc=2, dim2 only
    out.write(bytes([G.VM_ZERO]))
    out.write(bytes([1]) + bytes([1, 0]))     # (2,1): fc=1
    out.write(bytes([G.VM_VALEPS]))
    out.write(bytes([2]) + bytes([1]))        # (2,2): fc=2
    out.write(bytes([G.VM_VALPIN]))
    out.write(bytes([255]))
    out.write(S("_DATA_"))

    # --- data block: scalar total (dim 0, 1 record) ---
    sca_pos = out.tell()
    out.write(S("_DATA_"))
    out.write(bytes([0]))
    out.write(I(1))
    out.write(bytes([1]))                     # fc=1, no keys
    # raw sentinel double: conforming writers may emit specials this way
    out.write(bytes([G.VM_NORMAL]) + D(2.0e300))  # GMS_SV_NA
    out.write(bytes([255]))
    out.write(S("_DATA_"))

    # --- symbol table ---
    symb_pos = out.tell()
    out.write(S("_SYMB_"))
    out.write(I(3))
    for name, dp, dim, typ, nrecs, expl in (
        ("i", set_pos, 1, 0, 2, "canning plants"),
        ("d", par_pos, 2, 1, 4, "distances"),
        ("total", sca_pos, 0, 1, 1, "a scalar"),
    ):
        out.write(S(name) + Q(dp) + I(dim) + bytes([typ]) + I(0) + I(nrecs)
                  + I(0) + S(expl) + I(0))
    out.write(S("_SYMB_"))

    # --- UEL table ---
    uel_pos = out.tell()
    out.write(S("_UEL_"))
    out.write(I(2))
    out.write(S("seattle") + S("san-diego"))
    out.write(S("_UEL_"))

    # --- set text ---
    sett_pos = out.tell()
    out.write(S("_SETT_"))
    out.write(I(2))
    out.write(S("") + S("a port"))
    out.write(S("_SETT_"))

    # --- acronyms (empty) ---
    acro_pos = out.tell()
    out.write(S("_ACRO_"))
    out.write(I(0))
    out.write(S("_ACRO_"))

    # --- domains ---
    doms_pos = out.tell()
    out.write(S("_DOMS_"))
    out.write(S("*"))                          # i
    out.write(S("i") + S("i"))                 # d(i,i)
    out.write(S("_DOMS_"))

    next_pos = out.tell()
    buf = bytearray(out.getvalue())
    struct.pack_into("<qqqqqq", buf, index_pos + 4,
                     symb_pos, uel_pos, sett_pos, acro_pos, next_pos, doms_pos)
    return bytes(buf)


@pytest.fixture()
def golden(tmp_path):
    p = str(tmp_path / "golden.gdx")
    with open(p, "wb") as f:
        f.write(build_golden())
    return p


def test_published_constants():
    assert G.GDX_HEADER_NR == 123
    assert G.GDX_HEADER_ID == b"GAMSGDX"
    assert G.GDX_VERSION == 7
    assert G.MARK_BOI == 19510624
    assert (G.SV_UNDEF, G.SV_NA, G.SV_PINF, G.SV_MINF, G.SV_EPS, G.SV_ACR) == (
        1.0e300, 2.0e300, 3.0e300, 4.0e300, 5.0e300, 10.0e300
    )


def test_golden_fixture_parses(golden):
    f = G.GamsGdxFile(golden)
    assert [s.name for s in f.symbols] == ["i", "d", "total"]
    assert f.uels == ["seattle", "san-diego"]

    i = f.read_records(f.find("i"))
    assert i.keys == [("seattle",), ("san-diego",)]
    assert i.text == ["", "a port"]
    assert f.symbols[0].domains == ("*",)

    d = f.read_records(f.find("d"))
    assert d.keys == [
        ("seattle", "seattle"), ("seattle", "san-diego"),
        ("san-diego", "seattle"), ("san-diego", "san-diego"),
    ]
    assert [v[0] for v in d.values[:2]] == [2.5, 0.0]
    assert d.eps_mask == [0, 0, 1, 0]          # EPS at (2,1)
    assert d.values[2][0] == 0.0               # EPS reads as 0.0 + flag
    assert d.values[3][0] == math.inf
    assert f.symbols[1].domains == ("i", "i")

    total = f.read_records(f.find("total"))
    assert total.keys == [()]
    assert math.isnan(total.values[0][0])      # raw GMS_SV_NA sentinel → NaN


def test_golden_header_bytes(golden):
    raw = open(golden, "rb").read()
    assert raw[0] == 123
    assert raw[1] == 7 and raw[2:9] == b"GAMSGDX"
    assert G.is_gams_layout(golden)


def test_roundtrip_writer_reader(tmp_path):
    p = str(tmp_path / "rt.gdx")
    w = G.GamsGdxWriter(p)
    w.add_symbol(SymbolData(
        meta=SymbolMeta("plants", 1, DT_SET, expl_text="plants"),
        keys=[("seattle",), ("san-diego",), ("topeka",)],
        text=["", "hub", ""],
    ))
    w.add_symbol(SymbolData(
        meta=SymbolMeta("cap", 1, DT_PAR),
        keys=[("seattle",), ("san-diego",), ("topeka",)],
        values=[(350.0,), (math.inf,), (0.0,)],
        eps_mask=[0, 0, 1],
    ))
    w.add_symbol(SymbolData(
        meta=SymbolMeta("x", 2, DT_VAR, subtype=1),
        keys=[("seattle", "topeka"), ("san-diego", "seattle")],
        values=[(50.0, 0.0, 0.0, math.inf, 1.0),
                (math.nan, -1.0, -math.inf, 300.25, 1.0)],
        eps_mask=[0, 0],
    ))
    w.close()

    f = G.GamsGdxFile(p)
    assert [s.name for s in f.symbols] == ["plants", "cap", "x"]

    cap = f.read_records(f.find("cap"))
    assert cap.keys == [("seattle",), ("san-diego",), ("topeka",)]
    assert cap.values == [(350.0,), (math.inf,), (0.0,)]
    assert cap.eps_mask == [0, 0, 1]

    x = f.read_records(f.find("x"))
    # records come back sorted by UEL code order (insertion: seattle=1 …)
    assert x.keys == [("seattle", "topeka"), ("san-diego", "seattle")]
    r2 = x.values[1]
    assert math.isnan(r2[0]) and r2[1] == -1.0 and r2[2] == -math.inf
    assert r2[3] == 300.25 and r2[4] == 1.0


def test_roundtrip_wide_key_space(tmp_path):
    """>256 UELs in one dim forces the 2-byte key width; keys must
    round-trip sorted by UEL code."""
    p = str(tmp_path / "wide.gdx")
    labels = [f"u{i:04d}" for i in range(700)]
    w = G.GamsGdxWriter(p)
    w.add_symbol(SymbolData(
        meta=SymbolMeta("big", 1, DT_PAR),
        keys=[(u,) for u in labels],
        values=[(float(i),) for i in range(700)],
        eps_mask=[0] * 700,
    ))
    w.close()
    got = G.GamsGdxFile(p).read_records(0)
    assert got.keys == [(u,) for u in labels]
    assert got.values == [(float(i),) for i in range(700)]


def test_magic_dispatch_both_layouts(tmp_path):
    from gdxpy_spark.sources.gdx_codec import GdxWriter
    from gdxpy_spark.sources.gdx_datasource import open_gdx

    sym = SymbolData(
        meta=SymbolMeta("p", 1, DT_PAR),
        keys=[("a",), ("b",)], values=[(1.0,), (2.0,)], eps_mask=[0, 0],
    )
    p_gams = str(tmp_path / "gams.gdx")
    wg = G.GamsGdxWriter(p_gams)
    wg.add_symbol(sym)
    wg.close()
    p_py = str(tmp_path / "py.gdx")
    wp = GdxWriter(p_py)
    wp.add_symbol(SymbolData(
        meta=SymbolMeta("p", 1, DT_PAR),
        keys=[("a",), ("b",)], values=[(1.0,), (2.0,)], eps_mask=[0, 0],
    ))
    wp.close()
    for p in (p_gams, p_py):
        f = open_gdx(p)
        got = f.read_records(f.find("p"))
        assert got.keys == [("a",), ("b",)]
        assert [v[0] for v in got.values] == [1.0, 2.0]


def test_gdxpy7_magic_error_hints_gams(tmp_path, golden):
    from gdxpy_spark.sources.gdx_codec import GdxFile

    with pytest.raises(ValueError, match="GamsGdxFile"):
        GdxFile(golden)


def test_domains_arity_rejected():
    with pytest.raises(ValueError, match="domain names for dim"):
        SymbolMeta("d", 2, DT_PAR, domains=("i",))


def test_gams_writer_compress_option_roundtrips(spark, tmp_path):
    """layout=gams + compress=true writes a zlib page-stream file the
    reader (and the format("gdx") scan) round-trips exactly."""
    from gdxpy_spark.sources import gdx_datasource

    gdx_datasource.register(spark)
    df = spark.createDataFrame(
        [("a", 1.0, False), ("b", 0.0, True), ("c", 2.5, False)],
        "k1 STRING, value DOUBLE, is_eps BOOLEAN")
    path = str(tmp_path / "x.gdx")
    (df.write.format("gdx").option("symbol", "p")
       .option("symtype", "parameter").option("layout", "gams")
       .option("compress", "true").mode("overwrite").save(path))
    raw = open(path, "rb").read()
    assert struct.unpack_from("<i", raw, 1 + 8 + 4)[0] == 1  # flag set
    back = (spark.read.format("gdx").option("symbol", "p").load(path)
            .orderBy("k1").collect())
    assert [(r["k1"], r["value"], r["is_eps"]) for r in back] == [
        ("a", 1.0, False), ("b", 0.0, True), ("c", 2.5, False)]


def zlib_wrap_golden(raw: bytes, page: int = 100) -> bytes:
    """Hand-wrap golden bytes into the page framing — deliberately NOT
    via gdx_gams._deflate_pages, and with a page size small enough that
    sections straddle page boundaries."""
    import zlib as _z

    hdr_len = 1 + 8 + 4 + 4  # nr | shortstring id | version | flag
    head = bytearray(raw[:hdr_len])
    struct.pack_into("<i", head, 1 + 8 + 4, 1)  # set compression flag
    body = raw[hdr_len:]
    out = io.BytesIO()
    out.write(bytes(head))
    for i in range(0, len(body), page):
        chunk = body[i : i + page]
        comp = _z.compress(chunk, 6)
        out.write(struct.pack("<II", len(chunk), len(comp)))
        out.write(comp)
    return out.getvalue()


def test_compressed_golden_parses_identically(golden, tmp_path):
    p = str(tmp_path / "compr.gdx")
    with open(p, "wb") as f:
        f.write(zlib_wrap_golden(build_golden()))
    plain, compr = G.GamsGdxFile(golden), G.GamsGdxFile(p)
    assert compr.compressed and not plain.compressed
    assert [s.name for s in compr.symbols] == [s.name for s in plain.symbols]
    assert compr.uels == plain.uels
    for i in range(len(plain.symbols)):
        a, b = plain.read_records(i), compr.read_records(i)
        assert a.keys == b.keys and a.eps_mask == b.eps_mask
        assert a.text == b.text
        assert all(
            (x == y or (x != x and y != y))
            for va, vb in zip(a.values, b.values) for x, y in zip(va, vb)
        )


def test_corrupt_zlib_page_rejected(tmp_path):
    wrapped = bytearray(zlib_wrap_golden(build_golden()))
    wrapped[30] ^= 0xFF  # garble inside the first compressed page
    p = str(tmp_path / "bad.gdx")
    with open(p, "wb") as f:
        f.write(bytes(wrapped))
    with pytest.raises(G.GamsGdxError, match="zlib|page"):
        G.GamsGdxFile(p)


def test_writer_compress_reader_roundtrip(tmp_path):
    p_plain = str(tmp_path / "p.gdx")
    p_comp = str(tmp_path / "c.gdx")
    keys = [(f"u{i:04d}",) for i in range(2000)]
    vals = [(float(i) * 0.5,) for i in range(2000)]
    for path, comp in ((p_plain, False), (p_comp, True)):
        w = G.GamsGdxWriter(path, compress=comp)
        w.add_symbol(SymbolData(
            meta=SymbolMeta("big", 1, DT_PAR, expl_text="2k records"),
            keys=list(keys), values=list(vals),
            eps_mask=[0] * 2000, text=[""] * 2000))
        w.close()
    import os

    assert os.path.getsize(p_comp) < os.path.getsize(p_plain) / 2
    a = G.GamsGdxFile(p_plain).read_records(0)
    b = G.GamsGdxFile(p_comp).read_records(0)
    assert a.keys == b.keys and a.values == b.values


def test_facade_opens_gams_layout(spark, golden):
    """gdxpy R1-R5 parity on a NATIVE-layout file: GdxEngine.open on the
    golden GAMS-layout bytes serves catalog, symbol load, and wildcard
    gload through the same facade as the GDXPY7 container."""
    from gdxpy_spark.api import GdxEngine

    g = GdxEngine(spark).open(golden)
    cat = {r["name"]: (r["dim"], r["type"]) for r in g.symbols().collect()}
    assert cat == {"i": (1, "set"), "d": (2, "parameter"), "total": (0, "parameter")}
    d = g.symbol("d")
    rows = {(r["k1"], r["k2"]): (r["value"], r["is_eps"]) for r in d.collect()}
    assert rows[("seattle", "seattle")] == (2.5, False)
    assert rows[("san-diego", "seattle")] == (0.0, True)  # EPS
    loaded = g.gload("i,tot*")
    assert set(loaded) == {"i", "total"}


def test_facade_uel_dictionary_gams_layout(spark, golden):
    """uel_dictionary (R6) opens a V7-layout file like every other facade
    read and returns its labels in code order."""
    from gdxpy_spark.api import GdxEngine

    uel = GdxEngine(spark).open(golden).uel_dictionary()
    assert [tuple(r) for r in uel.orderBy("uel_id").collect()] == [
        (1, "seattle"), (2, "san-diego"),
    ]


def test_roundtrip_property_gams():
    """Same hypothesis property as the GDXPY7 codec, against the GAMS
    layout: random symbols (dim 0-5, specials, EPS masks, set text)
    write→read exactly — through BOTH the plain and the zlib page-stream
    container (r6)."""
    import math as _math

    from hypothesis import HealthCheck, given, settings

    from tests.test_gdx_codec import _eq_val, _tmp, symbol

    import hypothesis.strategies as st

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(sym=symbol(), compress=st.booleans())
    def run(sym, compress):
        path = _tmp("prop_gams.gdx")
        w = G.GamsGdxWriter(path, compress=compress)
        w.add_symbol(sym)
        w.close()
        f = G.GamsGdxFile(path)
        idx = f.find(sym.meta.name)
        m = f.symbols[idx]
        assert (m.dim, m.type, m.nrecs) == (
            sym.meta.dim, sym.meta.type, len(sym.keys)
        )
        got = f.read_records(idx)
        code = {
            k: i for i, k in enumerate(
                dict.fromkeys(x for key in sym.keys for x in key)
            )
        }
        want = sorted(
            zip(sym.keys, sym.values, sym.eps_mask,
                sym.text or [""] * len(sym.keys)),
            key=lambda r: tuple(code[c] for c in r[0]) if sym.meta.dim else (),
        )
        assert got.keys == [r[0] for r in want]
        for grow, wrow in zip(got.values, [r[1] for r in want]):
            if sym.meta.type == 0:  # DT_SET stores a text index
                continue
            assert all(_eq_val(a, b) for a, b in zip(grow, wrow))
        assert got.eps_mask == [r[2] for r in want]
        if sym.meta.type == 0:
            assert got.text == [r[3] for r in want]

    run()


def test_multi_file_scenario_scan_gams(spark, tmp_path):
    """gdxpy R12 on native-layout files: a directory of GAMS-layout .gdx
    scenario files reads as one DataFrame with a `scenario` column."""
    from gdxpy_spark.sources import gdx_datasource

    gdx_datasource.register(spark)
    for scen, v in (("base", 1.0), ("high", 2.0)):
        w = G.GamsGdxWriter(str(tmp_path / f"{scen}.gdx"))
        w.add_symbol(SymbolData(
            meta=SymbolMeta("p", 1, DT_PAR),
            keys=[("a",), ("b",)], values=[(v,), (v + 0.5,)], eps_mask=[0, 0],
        ))
        w.close()
    df = spark.read.format("gdx").option("symbol", "p").load(str(tmp_path))
    rows = {(r["scenario"], r["k1"]): r["value"] for r in df.collect()}
    assert rows == {
        ("base", "a"): 1.0, ("base", "b"): 1.5,
        ("high", "a"): 2.0, ("high", "b"): 2.5,
    }


def test_datasource_gams_layout_roundtrip(spark, tmp_path):
    """df.write.format('gdx').option('layout','gams') produces a file the
    magic dispatcher reads back identically to the gdxpy layout."""
    from gdxpy_spark.sources import gdx_datasource

    gdx_datasource.register(spark)
    df = spark.createDataFrame(
        [("de", 3.5, False), ("fr", 0.0, True), ("us", 7.25, False)],
        "k1 STRING, value DOUBLE, is_eps BOOLEAN",
    )
    out = str(tmp_path / "ds_gams.gdx")
    (df.write.format("gdx").option("symbol", "tariff")
       .option("symtype", "parameter").option("layout", "gams")
       .mode("overwrite").save(out))
    assert G.is_gams_layout(out)
    back = spark.read.format("gdx").option("symbol", "tariff").load(out)
    rows = {r["k1"]: (r["value"], r["is_eps"]) for r in back.collect()}
    assert rows == {"de": (3.5, False), "fr": (0.0, True), "us": (7.25, False)}


def test_malformed_inputs_fail_loudly(tmp_path):
    """Every malformed-container branch must raise GamsGdxError with a
    message naming the problem — never a silent wrong parse or a raw
    struct.error/IndexError escaping to the caller."""
    raw = build_golden()

    def write(b, name):
        p = str(tmp_path / name)
        with open(p, "wb") as f:
            f.write(bytes(b))
        return p

    # future version
    bad = bytearray(raw)
    struct.pack_into("<i", bad, 1 + 8, 99)
    with pytest.raises(G.GamsGdxError, match="version"):
        G.GamsGdxFile(write(bad, "ver.gdx"))

    # bad compression flag value
    bad = bytearray(raw)
    struct.pack_into("<i", bad, 1 + 8 + 4, 7)
    with pytest.raises(G.GamsGdxError, match="compression flag"):
        G.GamsGdxFile(write(bad, "flag.gdx"))

    # not a GDX at all / truncated header
    with pytest.raises(G.GamsGdxError, match="not a GAMS-layout"):
        G.GamsGdxFile(write(b"\x00\x01\x02", "junk.gdx"))

    # garbled section marker: flip the first byte of "_UEL_"'s
    # ShortString payload (located via the major index)
    bad = bytearray(raw)
    uel_pos = struct.unpack_from("<q", bad, raw.index(struct.pack("<i", 19510624)) + 4 + 8)[0]
    bad[uel_pos + 1] ^= 0xFF
    with pytest.raises(G.GamsGdxError, match="expected marker|corrupt ShortString"):
        G.GamsGdxFile(write(bad, "marker.gdx"))

    # truncated compressed page stream (header cut mid-frame)
    z = zlib_wrap_golden(raw)
    with pytest.raises(G.GamsGdxError, match="truncated"):
        G.GamsGdxFile(write(z[: len(z) - 5], "trunc.gdx"))
