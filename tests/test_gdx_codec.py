"""GDX codec round-trip tests (BASELINE.md #5): property-based write→read
equality over random symbols (dims 0–20 — the format's GMS_MAX_INDEX_DIM
limit, weighted toward small dims; special values incl. EPS/NA/±INF,
both compression modes) plus fixed golden fixtures, incl. the
variable-kind default-bound table (r9 verdict item 5)."""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings, strategies as st

from gdxpy_spark.sources.gdx_codec import (
    DT_ALIAS,
    DT_EQU,
    DT_PAR,
    DT_SET,
    DT_VAR,
    GdxFile,
    GdxWriter,
    SymbolData,
    SymbolMeta,
)

LABELS = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
    min_size=1,
    max_size=12,
)

SPECIALS = [math.inf, -math.inf, math.nan]
VALUES = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.sampled_from(SPECIALS),
    st.integers(-1000, 1000).map(float),
    st.just(0.0),
    st.just(1.0),
)


# every _tmp path lives under one dir, made on first use and removed at
# module teardown (the @given tests cannot take a function-scoped fixture)
_TMP_ROOT = None


def _tmp(name: str) -> str:
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="gdx_codec_")
    return os.path.join(tempfile.mkdtemp(dir=_TMP_ROOT), name)


def teardown_module():
    global _TMP_ROOT
    if _TMP_ROOT is not None:
        shutil.rmtree(_TMP_ROOT, ignore_errors=True)
        _TMP_ROOT = None


def _eq_val(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or a == b


@st.composite
def symbol(draw, typ=None):
    typ = typ if typ is not None else draw(st.sampled_from([DT_SET, DT_PAR, DT_VAR, DT_EQU]))
    # weight toward the common 0-5 range but exercise the format's
    # full dim <= 20 envelope (GMS_MAX_INDEX_DIM)
    dim = draw(st.one_of(st.integers(0, 5), st.integers(6, 20)))
    if typ == DT_SET and dim == 0:
        dim = 1  # 0-dim sets are not meaningful
    nv = 5 if typ in (DT_VAR, DT_EQU) else 1
    n = draw(st.integers(0 if dim else 1, 30))
    keys = draw(
        st.lists(
            st.tuples(*[LABELS] * dim), min_size=n, max_size=n, unique=True
        )
    )
    if dim == 0:
        keys = [()]
    vals, eps, text = [], [], []
    for _ in keys:
        row = tuple(draw(VALUES) for _ in range(nv))
        # sets store a text index, not values — no EPS semantics there
        mask = 0 if typ == DT_SET else draw(st.integers(0, (1 << nv) - 1))
        # an EPS field reads back as 0.0+flag; keep stored value consistent
        row = tuple(0.0 if (mask >> j) & 1 else v for j, v in enumerate(row))
        vals.append(row)
        eps.append(mask)
        text.append(draw(st.sampled_from(["", "some text", "x"])) if typ == DT_SET else "")
    name = draw(st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,20}", fullmatch=True))
    meta = SymbolMeta(name=name, dim=dim, type=typ, expl_text="prop test")
    return SymbolData(meta=meta, keys=keys, values=vals, eps_mask=eps, text=text)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(sym=symbol(), compress=st.booleans())
def test_roundtrip_property(sym, compress):
    path = _tmp("prop.gdx")
    w = GdxWriter(path, compress=compress)
    w.add_symbol(sym)
    w.close()

    f = GdxFile(path)
    assert f.compressed == compress
    idx = f.find(sym.meta.name)
    m = f.symbols[idx]
    assert (m.dim, m.type, m.nrecs) == (sym.meta.dim, sym.meta.type, len(sym.keys))

    got = f.read_records(idx)
    want = sorted(
        zip(sym.keys, sym.values, sym.eps_mask, sym.text or [""] * len(sym.keys)),
        key=lambda r: tuple(  # mapped (insertion-code) order, like the writer
            {k: i for i, k in enumerate(dict.fromkeys(x for key in sym.keys for x in key))}[c]
            for c in r[0]
        )
        if sym.meta.dim
        else (),
    )
    assert got.keys == [r[0] for r in want]
    for grow, wrow in zip(got.values, [r[1] for r in want]):
        if sym.meta.type == DT_SET:
            continue
        assert all(_eq_val(a, b) for a, b in zip(grow, wrow))
    assert got.eps_mask == [r[2] for r in want]
    if sym.meta.type == DT_SET:
        assert got.text == [r[3] for r in want]


def test_golden_fixture_multi_symbol():
    """One file holding every symbol type + special values + chunking."""
    path = _tmp("golden.gdx")
    w = GdxWriter(path, compress=True)
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("i", 1, DT_SET, expl_text="plants"),
            keys=[("seattle",), ("san_diego",)],
            text=["", "south"],
        )
    )
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("d", 2, DT_PAR, domains=("i", "j")),
            keys=[("seattle", "new_york"), ("seattle", "topeka")],
            values=[(2.5,), (1.8,)],
            eps_mask=[0, 0],
        )
    )
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("x", 2, DT_VAR, subtype=1),
            keys=[("seattle", "new_york")],
            values=[(50.0, 0.0, 0.0, math.inf, 1.0)],
            eps_mask=[0b00010],  # marginal is EPS
        )
    )
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("total", 0, DT_PAR),
            keys=[()],
            values=[(153.675,)],
            eps_mask=[0],
        )
    )
    w.add_symbol(SymbolData(meta=SymbolMeta("ii", 1, DT_ALIAS, alias_of="i")))
    w.close()

    f = GdxFile(path)
    assert [s.name for s in f.symbols] == ["i", "d", "x", "total", "ii"]
    assert f.symbols[0].type_name == "set"

    d = f.read_records(f.find("d"))
    assert d.keys == [("seattle", "new_york"), ("seattle", "topeka")]
    assert [v[0] for v in d.values] == [2.5, 1.8]
    assert f.symbols[f.find("d")].domains == ("i", "j")

    x = f.read_records(f.find("x"))
    assert x.values[0][0] == 50.0
    assert x.values[0][3] == math.inf
    assert x.eps_mask[0] == 0b00010  # EPS marginal survives losslessly

    total = f.read_records(f.find("total"))
    assert total.keys == [()] and total.values[0][0] == 153.675

    # alias resolves to target
    ii = f.read_records(f.find("ii"))
    assert ii.keys == f.read_records(f.find("i")).keys


def test_chunked_symbol_split_reads():
    """A symbol larger than one chunk decodes identically whole or
    chunk-by-chunk (the distributed-scan unit). The v2 container stores
    the chunk stride in the header, so a reader process never needs the
    writer's configuration."""
    path = _tmp("chunks.gdx")
    w = GdxWriter(path, chunk_records=100)
    keys = [(f"a{i // 50}", f"b{i}") for i in range(505)]
    vals = [(float(i),) for i in range(505)]
    w.add_symbol(
        SymbolData(
            meta=SymbolMeta("big", 2, DT_PAR),
            keys=keys,
            values=vals,
            eps_mask=[0] * 505,
        )
    )
    w.close()
    f = GdxFile(path)
    assert f.chunk_records == 100
    idx = f.find("big")
    assert f.n_chunks(idx) == 6
    whole = f.read_records(idx)
    pieces: list = []
    for c in range(f.n_chunks(idx)):
        part = f.read_records(idx, chunk=c)
        pieces.extend(zip(part.keys, part.values))
    assert pieces == list(zip(whole.keys, whole.values))
    assert len(whole.keys) == 505
    # v2 stats bound every chunk's labels per dimension
    stats = f.chunk_stats(idx)
    assert len(stats) == 6
    for c in range(6):
        part = f.read_records(idx, chunk=c)
        for d in range(2):
            labs = [k[d] for k in part.keys]
            assert stats[c][d] == (min(labs), max(labs))


def test_streaming_writer_matches_in_memory():
    """add_symbol_streaming(sorted records) reads back the same content as
    add_symbol, in both compression modes, and mixes with in-memory
    symbols in one file."""
    recs = sorted(
        [
            ((f"i{i % 7}", f"j{i}"), (float(i) * 1.5,), 0, "")
            for i in range(300)
        ]
        + [(("i0", "jEPS"), (0.0,), 1, "")],
        key=lambda r: r[0],
    )
    for compress in (False, True):
        p_mem = _tmp(f"mem{compress}.gdx")
        w = GdxWriter(p_mem, compress=compress)
        w.add_symbol(
            SymbolData(
                meta=SymbolMeta("d", 2, DT_PAR),
                keys=[r[0] for r in recs],
                values=[r[1] for r in recs],
                eps_mask=[r[2] for r in recs],
            )
        )
        w.close()

        p_st = _tmp(f"st{compress}.gdx")
        w2 = GdxWriter(p_st, compress=compress)
        w2.add_symbol(
            SymbolData(
                meta=SymbolMeta("front", 1, DT_SET),
                keys=[("a",), ("b",)],
                text=["", "bee"],
                values=[(0.0,), (0.0,)],
                eps_mask=[0, 0],
            )
        )
        m = w2.add_symbol_streaming(SymbolMeta("d", 2, DT_PAR), iter(recs))
        assert m.nrecs == len(recs)
        w2.close()

        a, b = GdxFile(p_mem), GdxFile(p_st)
        got_a = a.read_records(a.find("d"))
        got_b = b.read_records(b.find("d"))
        assert sorted(zip(got_a.keys, got_a.values, got_a.eps_mask)) == sorted(
            zip(got_b.keys, got_b.values, got_b.eps_mask)
        )
        front = b.read_records(b.find("front"))
        assert front.text == ["", "bee"]


def test_add_symbol_is_sort_then_stream():
    """add_symbol on unsorted records writes the same bytes as
    add_symbol_streaming on the records pre-sorted by UEL-code tuple:
    there is one encoder, and add_symbol only sorts into mapped order.
    A leading set fixes the code of every label in both files."""
    import random

    labels = [f"j{i}" for i in range(300)] + [f"i{i}" for i in range(7)]
    code = {lab: n for n, lab in enumerate(labels)}
    recs = [
        ((f"i{i % 7}", f"j{i}"), (float(i) * 1.5,), 0, "")
        for i in range(300)
    ] + [(("i0", "j5"), (0.0,), 1, "")]
    random.Random(3).shuffle(recs)
    in_code_order = sorted(recs, key=lambda r: tuple(code[k] for k in r[0]))
    for compress in (False, True):
        paths = []
        for streamed in (False, True):
            path = _tmp(f"d{compress}{streamed}.gdx")
            w = GdxWriter(path, compress=compress, chunk_records=64)
            w.add_symbol(
                SymbolData(meta=SymbolMeta("u", 1, DT_SET),
                           keys=[(lab,) for lab in labels])
            )
            meta = SymbolMeta("d", 2, DT_PAR)
            if streamed:
                w.add_symbol_streaming(meta, iter(in_code_order))
            else:
                w.add_symbol(
                    SymbolData(
                        meta=meta,
                        keys=[r[0] for r in recs],
                        values=[r[1] for r in recs],
                        eps_mask=[r[2] for r in recs],
                    )
                )
            w.close()
            paths.append(path)
        a, b = (open(p, "rb").read() for p in paths)
        assert a == b
        assert GdxFile(paths[0]).n_chunks(1) == 5


def test_newer_container_version_rejected():
    """A GDXPY7 file of a version newer than the reader's is rejected
    with a ValueError naming the version, never parsed as this one."""
    import struct

    import pytest

    from gdxpy_spark.sources.gdx_codec import MAGIC, VERSION

    path = _tmp("v3.gdx")
    w = GdxWriter(path)
    w.add_symbol(SymbolData(meta=SymbolMeta("x", 1, DT_SET), keys=[("a",)]))
    w.close()
    raw = bytearray(open(path, "rb").read())
    assert struct.unpack_from("<H", raw, len(MAGIC))[0] == VERSION
    struct.pack_into("<H", raw, len(MAGIC), VERSION + 1)
    with open(path, "wb") as f:
        f.write(bytes(raw))
    with pytest.raises(ValueError, match=f"version {VERSION + 1}"):
        GdxFile(path)


def test_streaming_writer_chunked_and_constant_memory():
    """A streamed symbol larger than one chunk splits into chunks exactly
    like the in-memory path and never materializes its records."""
    path = _tmp("stream_chunks.gdx")
    w = GdxWriter(path, compress=True, chunk_records=100)

    def gen():
        for i in range(505):
            yield (f"a{i // 50:02d}", f"b{i:04d}"), (float(i),), 0, ""

    w.add_symbol_streaming(SymbolMeta("big", 2, DT_PAR), gen())
    w.close()
    f = GdxFile(path)
    assert f.chunk_records == 100
    idx = f.find("big")
    assert f.n_chunks(idx) == 6
    whole = f.read_records(idx)
    assert len(whole.keys) == 505
    assert whole.values[504] == (504.0,)
    pieces: list = []
    for c in range(f.n_chunks(idx)):
        part = f.read_records(idx, chunk=c)
        pieces.extend(zip(part.keys, part.values))
    assert pieces == list(zip(whole.keys, whole.values))
    # streamed-path stats match the in-memory contract
    stats = f.chunk_stats(idx)
    assert len(stats) == 6
    assert stats[0][0] == ("a00", "a01") and stats[0][1] == ("b0000", "b0099")


def test_corrupt_bytes_never_leak_raw_exceptions():
    """Byte-fuzz both container readers (flip / truncate / garbage, fixed
    seed): every failure must surface as the reader's typed error
    (ValueError family), never a raw IndexError/struct.error/
    OverflowError/UnicodeDecodeError — the r6 hardening contract."""
    import random

    from gdxpy_spark.sources import gdx_gams as G
    from gdxpy_spark.sources.gdx_codec import GdxFile, GdxWriter

    def fuzz(write_fixture, open_file, n=120):
        path = _tmp("fuzz.gdx")
        write_fixture(path)
        raw = open(path, "rb").read()
        rng = random.Random(7)
        leaked = {}
        bad_path = _tmp("fuzz_bad.gdx")
        for trial in range(n):
            b = bytearray(raw)
            mode = trial % 3
            if mode == 0:
                i = rng.randrange(len(b))
                b[i] ^= rng.randrange(1, 256)
            elif mode == 1:
                b = b[: rng.randrange(1, len(b))]
            else:
                i = rng.randrange(len(b))
                b[i : i + 4] = bytes(rng.randrange(256) for _ in range(4))
            with open(bad_path, "wb") as f:
                f.write(bytes(b))
            try:
                r = open_file(bad_path)
                for i in range(len(r.symbols)):
                    r.read_records(i)
            except ValueError:
                pass  # typed (GamsGdxError subclasses ValueError too)
            except KeyError:
                pass  # alias resolution on a corrupt catalog
            except Exception as exc:  # noqa: BLE001 — the property under test
                leaked.setdefault(type(exc).__name__, 0)
                leaked[type(exc).__name__] += 1
        assert not leaked, f"raw exceptions escaped: {leaked}"

    def small(meta_cls=SymbolMeta):
        return SymbolData(
            meta=SymbolMeta("x", 1, DT_PAR),
            keys=[("a",), ("b",)], values=[(1.0,), (2.0,)],
            eps_mask=[0, 0], text=["", ""],
        )

    def w_codec(path):
        w = GdxWriter(path)
        w.add_symbol(small())
        w.close()

    def w_gams(path):
        w = G.GamsGdxWriter(path, compress=True)
        w.add_symbol(small())
        w.close()

    fuzz(w_codec, GdxFile)
    fuzz(w_gams, G.GamsGdxFile)


# ---- format-limit + variable-kind default-bound fixtures (r10) --------------

# GAMS variable-kind subtype ids and their implicit default
# (lower, upper, scale) bounds — public semantics from gclgms.h /
# the GAMS user guide; a conforming writer emits these implicitly,
# so the codec must round-trip them bit-exactly (±inf rides the
# GMS_SV sentinel encoding inside bound FIELDS, not just levels).
VAR_KIND_DEFAULTS = {
    1: ("binary", 0.0, 1.0, 1.0),
    2: ("integer", 0.0, math.inf, 1.0),
    3: ("positive", 0.0, math.inf, 1.0),
    4: ("negative", -math.inf, 0.0, 1.0),
    5: ("free", -math.inf, math.inf, 1.0),
    6: ("sos1", 0.0, math.inf, 1.0),
    7: ("sos2", 0.0, math.inf, 1.0),
    8: ("semicont", 1.0, math.inf, 1.0),
    9: ("semiint", 1.0, math.inf, 1.0),
}


import pytest as _pytest


def _layouts():
    from gdxpy_spark.sources import gdx_gams as G

    return [("native", GdxWriter, GdxFile), ("gams", G.GamsGdxWriter, G.GamsGdxFile)]


@_pytest.mark.parametrize("layout,wcls,rcls", _layouts())
def test_variable_kind_default_bounds_roundtrip(layout, wcls, rcls):
    """One variable per kind, records carrying exactly the kind's
    implicit (lo, up, scale) defaults: subtype id and every bound —
    including the ±inf sentinels — must survive write→read in both
    compression modes, in BOTH container layouts."""
    syms = []
    for sub, (kind, lo, up, scale) in VAR_KIND_DEFAULTS.items():
        meta = SymbolMeta(
            name=f"v_{kind}", dim=1, type=DT_VAR, subtype=sub,
            expl_text=f"{kind} variable",
        )
        keys = [("i1",), ("i2",)]
        vals = [(0.5, 0.0, lo, up, scale), (1.5, -2.0, lo, up, scale)]
        syms.append(SymbolData(
            meta=meta, keys=keys, values=vals,
            eps_mask=[0, 0], text=["", ""],
        ))
    for compress in (False, True):
        path = _tmp(f"varkinds_{layout}_{compress}.gdx")
        w = wcls(path, compress=compress)
        for sd in syms:
            w.add_symbol(sd)
        w.close()
        f = rcls(path)
        for sd in syms:
            idx = f.find(sd.meta.name)
            m = f.symbols[idx]
            assert (m.type, m.subtype, m.dim) == (DT_VAR, sd.meta.subtype, 1)
            got = f.read_records(idx)
            assert got.keys == sd.keys
            for rg, re_ in zip(got.values, sd.values):
                assert all(_eq_val(a, b) for a, b in zip(rg, re_)), (rg, re_)


@_pytest.mark.parametrize("layout,wcls,rcls", _layouts())
def test_dim20_symbol_roundtrip(layout, wcls, rcls):
    """A symbol at the format's dim=20 limit (GMS_MAX_INDEX_DIM):
    20-part keys must delta-encode and read back exactly, in both
    compression modes and BOTH container layouts, including a
    shared-prefix pair that exercises the leading-dims-repeat control
    byte at depth 19."""
    dim = 20
    k1 = tuple(f"d{j}" for j in range(dim))
    k2 = k1[:-1] + ("zz",)           # shares 19 leading dims with k1
    k3 = tuple(f"e{j}" for j in range(dim))
    keys = sorted([k1, k2, k3])
    meta = SymbolMeta(name="deep", dim=dim, type=DT_PAR, expl_text="dim 20")
    sd = SymbolData(
        meta=meta, keys=keys,
        values=[(1.0,), (math.inf,), (0.0,)],
        eps_mask=[0, 0, 1], text=["", "", ""],
    )
    for compress in (False, True):
        path = _tmp(f"dim20_{layout}_{compress}.gdx")
        w = wcls(path, compress=compress)
        w.add_symbol(sd)
        w.close()
        f = rcls(path)
        idx = f.find("deep")
        m = f.symbols[idx]
        assert (m.dim, m.nrecs) == (20, 3)
        got = f.read_records(idx)
        assert got.keys == keys
        assert got.eps_mask == [0, 0, 1]
        assert all(
            _eq_val(a[0], b[0]) for a, b in zip(got.values, sd.values)
        )
