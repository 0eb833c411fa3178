"""Clean-room reader/writer for the GAMS GDX **version-7 byte layout**.

The round-1 engine shipped only the `GDXPY7` container (gdx_codec.py) —
a clean-room implementation of the GDX *data model* but not the GAMS
byte layout, so a GAMS-produced ``.gdx`` could not be opened. This
module implements the published V7 container structure so the
`format("gdx")` DataSource can open both layouts (sniffed by magic;
see gdx_datasource.open_gdx).

What is EXACT here (published verbatim in public sources — gclgms.h and
the open-sourced GAMS-dev/gdx implementation):

- header: one byte ``123`` then the ShortString ``"GAMSGDX"``; file
  version integer 7; compression flag integer
- section markers: ``MARK_BOI = 19510624`` (int) and the strings
  ``"_UEL_" "_SYMB_" "_SETT_" "_ACRO_" "_DOMS_" "_DATA_"``
- special-value sentinel doubles (gclgms.h GMS_SV_*):
  UNDEF=1.0e300, NA=2.0e300, PINF=3.0e300, MINF=4.0e300, EPS=5.0e300,
  ACR=10.0e300
- type codes GMS_DT_SET..GMS_DT_ALIAS = 0..4; dim ≤ 20; UEL label ≤ 63
  chars; explanatory text ≤ 255 chars; UEL codes 1-based,
  insertion-ordered
- record keys are per-dimension delta-encoded against the previous
  record (a leading control byte gives the first changed dimension —
  exploiting the required sorted order), with per-dimension byte widths
  sized by a min/max element header
- values carry a per-value type marker byte compressing common cases
  (the TgdxIntlValTyp ladder: undef/na/+inf/-inf/eps/zero/one/-one,
  else marker + raw 8-byte double)

What is STRUCTURAL (layout follows the published description; byte-level
conformance against GAMS-produced files is UNVERIFIED in this container
— no GAMS install and an empty reference mount, SURVEY §0; the golden
fixture in tests/test_gdx_gams.py is byte-built by hand to this spec
and cross-checks the reader independently of the writer):

- exact field order inside the symbol-table entries and the domain
  section encoding
- section bracketing: each section is written between two copies of its
  marker string
- the major index: MARK_BOI + six int64 seek positions (symbols, UELs,
  set text, acronyms, next-write, domains) immediately after the
  header, back-patched on close — this is what enables direct seeks
  (and our per-symbol partition pruning)
- compression: GAMS compresses at stream-page level. This module
  reads and writes zlib page streams (r6): when the header's
  compression flag is set, everything after it is a sequence of
  [u32 raw_len | u32 comp_len | zlib page] frames over 16 KiB logical
  pages, and every seek position in the major index is a LOGICAL
  offset into the decompressed image — so the reader reconstructs the
  logical buffer once and all section seeks work unchanged. The page
  framing is structural (real GAMS page headers are UNVERIFIED here,
  like the rest of the layout — no GAMS install in this container);
  the zlib payloads themselves are standard RFC 1950

Scale: GDX symbols are model-sized by format contract (UEL < 2³¹,
typically ≪10⁶ records) — a per-symbol partition is the right scan
unit; the DataSource layer handles that (gdx_datasource).
"""

from __future__ import annotations

import io
import math
import struct
import zlib

from gdxpy_spark.sources.gdx_codec import (
    DT_ALIAS,
    DT_EQU,
    DT_SET,
    DT_VAR,
    MAX_DIM,
    GdxReader,
    SymbolData,
    SymbolMeta,
    corrupt_guard,
)

GDX_HEADER_NR = 123
GDX_HEADER_ID = b"GAMSGDX"
GDX_VERSION = 7

MARK_BOI = 19510624
MARK_UEL = "_UEL_"
MARK_SYMB = "_SYMB_"
MARK_SETT = "_SETT_"
MARK_ACRO = "_ACRO_"
MARK_DOMS = "_DOMS_"
MARK_DATA = "_DATA_"

# gclgms.h GMS_SV_* sentinels (exact published doubles)
SV_UNDEF = 1.0e300
SV_NA = 2.0e300
SV_PINF = 3.0e300
SV_MINF = 4.0e300
SV_EPS = 5.0e300
SV_ACR = 10.0e300

# per-value type-marker ladder (TgdxIntlValTyp order)
(VM_VALUND, VM_VALNA, VM_VALPIN, VM_VALMIN, VM_VALEPS, VM_ZERO, VM_ONE,
 VM_MONE, VM_NORMAL) = range(9)

_VM_CONST = {
    VM_VALUND: SV_UNDEF, VM_VALNA: SV_NA, VM_VALPIN: SV_PINF,
    VM_VALMIN: SV_MINF, VM_VALEPS: SV_EPS, VM_ZERO: 0.0, VM_ONE: 1.0,
    VM_MONE: -1.0,
}

_END_OF_DATA = 255  # control byte terminating a symbol's record stream

# stream-page compression framing (compression flag = 1): 16 KiB logical
# pages, each stored as <u32 raw_len><u32 comp_len><zlib bytes>. The
# header through the compression flag stays plain so sniffing and flag
# dispatch never touch zlib.
_PAGE_RAW = 1 << 14
_HEADER_PLAIN_LEN = 1 + 1 + len(GDX_HEADER_ID) + 4 + 4  # nr|id|version|flag


def _deflate_pages(raw: bytes) -> bytes:
    out = io.BytesIO()
    for i in range(0, len(raw), _PAGE_RAW):
        page = raw[i : i + _PAGE_RAW]
        comp = zlib.compress(page, 6)
        out.write(struct.pack("<II", len(page), len(comp)))
        out.write(comp)
    return out.getvalue()


def _inflate_pages(buf: bytes, pos: int, path: str) -> bytes:
    out = bytearray()
    n = len(buf)
    while pos < n:
        if pos + 8 > n:
            raise GamsGdxError(f"{path}: truncated compression page header")
        raw_len, comp_len = struct.unpack_from("<II", buf, pos)
        pos += 8
        if pos + comp_len > n:
            raise GamsGdxError(f"{path}: truncated compression page body")
        try:
            page = zlib.decompress(buf[pos : pos + comp_len])
        except zlib.error as exc:
            raise GamsGdxError(f"{path}: bad zlib page: {exc}") from exc
        if len(page) != raw_len:
            raise GamsGdxError(
                f"{path}: page inflated to {len(page)} bytes, header said {raw_len}"
            )
        out += page
        pos += comp_len
    return bytes(out)


class GamsGdxError(ValueError):
    pass


# --- Delphi-stream primitives (ShortString + little-endian ints) -----------

def _w_byte(b: io.BytesIO, v: int) -> None:
    b.write(bytes([v & 0xFF]))


def _w_str(b: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    if len(raw) > 255:
        raise GamsGdxError("ShortString > 255 bytes")
    b.write(bytes([len(raw)]))
    b.write(raw)


def _w_int(b: io.BytesIO, v: int) -> None:
    b.write(struct.pack("<i", v))


def _w_int64(b: io.BytesIO, v: int) -> None:
    b.write(struct.pack("<q", v))


def _w_dbl(b: io.BytesIO, v: float) -> None:
    b.write(struct.pack("<d", v))


class _Rd:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def string(self) -> str:
        n = self.byte()
        try:
            s = self.buf[self.pos : self.pos + n].decode("utf-8")
        except UnicodeDecodeError as exc:
            raise GamsGdxError(
                f"corrupt ShortString at offset {self.pos}: {exc}"
            ) from exc
        self.pos += n
        return s

    def int32(self) -> int:
        (v,) = struct.unpack_from("<i", self.buf, self.pos)
        self.pos += 4
        return v

    def int64(self) -> int:
        (v,) = struct.unpack_from("<q", self.buf, self.pos)
        self.pos += 8
        return v

    def dbl(self) -> float:
        (v,) = struct.unpack_from("<d", self.buf, self.pos)
        self.pos += 8
        return v

    def raw(self, n: int) -> bytes:
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v

    def expect_marker(self, mark: str, where: str) -> None:
        got = self.string()
        if got != mark:
            raise GamsGdxError(f"{where}: expected marker {mark!r}, got {got!r}")


def _key_width(span: int) -> int:
    if span < 1 << 8:
        return 1
    if span < 1 << 16:
        return 2
    return 4


def _encode_value(b: io.BytesIO, v: float, is_eps: bool) -> None:
    """Map an in-memory value (inf/nan/finite + eps flag) to the marker
    ladder. NaN maps to NA (the reader cannot distinguish NA vs UNDEF
    from a NaN — gdxpy collapses both to NaN on read, SURVEY §1.1)."""
    if is_eps:
        _w_byte(b, VM_VALEPS)
    elif isinstance(v, float) and math.isnan(v):
        _w_byte(b, VM_VALNA)
    elif v == math.inf:
        _w_byte(b, VM_VALPIN)
    elif v == -math.inf:
        _w_byte(b, VM_VALMIN)
    elif v == 0.0:
        _w_byte(b, VM_ZERO)
    elif v == 1.0:
        _w_byte(b, VM_ONE)
    elif v == -1.0:
        _w_byte(b, VM_MONE)
    else:
        _w_byte(b, VM_NORMAL)
        _w_dbl(b, v)


def _decode_value(r: _Rd) -> tuple[float, bool]:
    """marker → (python value, is_eps); sentinel doubles from VM_NORMAL
    payloads are also normalized (a conforming writer may emit them raw)."""
    m = r.byte()
    if m == VM_NORMAL:
        v = r.dbl()
        if v >= SV_UNDEF:  # raw sentinel double
            if v == SV_UNDEF or v == SV_NA:
                return math.nan, False
            if v == SV_PINF:
                return math.inf, False
            if v == SV_MINF:
                return -math.inf, False
            if v == SV_EPS:
                return 0.0, True
            return v, False  # acronyms et al.: pass through
        return v, False
    if m == VM_VALEPS:
        return 0.0, True
    if m in (VM_VALUND, VM_VALNA):
        return math.nan, False
    if m == VM_VALPIN:
        return math.inf, False
    if m == VM_VALMIN:
        return -math.inf, False
    if m in (VM_ZERO, VM_ONE, VM_MONE):
        return _VM_CONST[m], False
    raise GamsGdxError(f"bad value marker {m}")


class GamsGdxWriter:
    """Write a V7-layout .gdx (plain or zlib page-stream). Same add_symbol/close API
    as gdx_codec.GdxWriter so fixtures and the DataSource writer can
    target either container."""

    def __init__(self, path: str, producer: str = "gdxpy_spark gams-layout",
                 compress: bool = False):
        self.path = path
        self.producer = producer
        self.compress = compress
        self.symbols: list[SymbolData] = []
        self.uels: list[str] = []
        self._uel_code: dict[str, int] = {}
        self.set_texts: list[str] = [""]
        self._text_idx: dict[str, int] = {"": 0}

    def _code(self, label: str) -> int:
        c = self._uel_code.get(label)
        if c is None:
            if len(label) > 63:
                raise GamsGdxError(f"UEL label > 63 chars: {label!r}")
            self.uels.append(label)
            c = len(self.uels)  # 1-based
            self._uel_code[label] = c
        return c

    def _text(self, t: str) -> int:
        i = self._text_idx.get(t)
        if i is None:
            self.set_texts.append(t)
            i = len(self.set_texts) - 1
            self._text_idx[t] = i
        return i

    def add_symbol(self, data: SymbolData) -> None:
        if any(s.meta.name.lower() == data.meta.name.lower() for s in self.symbols):
            raise GamsGdxError(f"duplicate symbol {data.meta.name}")
        data.meta.nrecs = len(data.keys)
        self.symbols.append(data)

    def _encode_data(self, out: io.BytesIO, sym: SymbolData) -> int:
        """One `_DATA_`-bracketed block; returns its start offset."""
        pos = out.tell()
        _w_str(out, MARK_DATA)
        m = sym.meta
        _w_byte(out, m.dim)
        _w_int(out, len(sym.keys))

        # intern keys, sort records by coded key tuple (GDX contract)
        coded = []
        for i, key in enumerate(sym.keys):
            if len(key) != m.dim:
                raise GamsGdxError(f"{m.name}: key arity {len(key)} != dim {m.dim}")
            coded.append((tuple(self._code(k) for k in key), i))
        coded.sort(key=lambda t: t[0])

        mins = [1] * m.dim  # empty symbols: degenerate 1..1 range
        maxs = [1] * m.dim
        for d in range(m.dim):
            col = [c[0][d] for c in coded]
            if col:
                mins[d], maxs[d] = min(col), max(col)
        for d in range(m.dim):
            _w_int(out, mins[d])
            _w_int(out, maxs[d])
        widths = [_key_width(maxs[d] - mins[d]) for d in range(m.dim)]

        prev: tuple[int, ...] | None = None
        for ck, i in coded:
            if prev is None:
                fc = 1
            else:
                fc = m.dim + 1  # pure value change (dim-0 scalars)
                for d in range(m.dim):
                    if ck[d] != prev[d]:
                        fc = d + 1
                        break
            _w_byte(out, fc)
            for d in range(fc - 1, m.dim):
                delta = ck[d] - mins[d]
                out.write(delta.to_bytes(widths[d], "little"))
            if m.type == DT_SET:
                ti = self._text(sym.text[i] if sym.text else "")
                _encode_value(out, float(ti), False)
            else:
                vals = sym.values[i]
                eps = sym.eps_mask[i] if sym.eps_mask else 0
                for j in range(m.n_values):
                    _encode_value(out, vals[j], bool(eps >> j & 1))
            prev = ck
        _w_byte(out, _END_OF_DATA)
        _w_str(out, MARK_DATA)
        return pos

    def close(self) -> None:
        out = io.BytesIO()
        _w_byte(out, GDX_HEADER_NR)
        out.write(bytes([len(GDX_HEADER_ID)]) + GDX_HEADER_ID)
        _w_int(out, GDX_VERSION)
        _w_int(out, int(self.compress))  # stream-page zlib when set
        _w_str(out, "GDX clean-room (gdxpy_spark)")  # FileSystemID/audit
        _w_str(out, self.producer)

        # major index: MARK_BOI + six int64 seek positions, back-patched
        index_pos = out.tell()
        _w_int(out, MARK_BOI)
        for _ in range(6):
            _w_int64(out, 0)

        data_pos = [self._encode_data(out, s) for s in self.symbols]

        symb_pos = out.tell()
        _w_str(out, MARK_SYMB)
        _w_int(out, len(self.symbols))
        by_name = {s.meta.name.lower(): i + 1 for i, s in enumerate(self.symbols)}
        for s, dp in zip(self.symbols, data_pos):
            m = s.meta
            _w_str(out, m.name)
            _w_int64(out, dp)
            _w_int(out, m.dim)
            _w_byte(out, m.type)
            _w_int(out, m.subtype)
            _w_int(out, m.nrecs)
            _w_int(out, 0)  # error count
            _w_str(out, m.expl_text)
            _w_int(out, by_name.get(m.alias_of.lower(), 0) if m.type == DT_ALIAS else 0)
        _w_str(out, MARK_SYMB)

        uel_pos = out.tell()
        _w_str(out, MARK_UEL)
        _w_int(out, len(self.uels))
        for u in self.uels:
            _w_str(out, u)
        _w_str(out, MARK_UEL)

        sett_pos = out.tell()
        _w_str(out, MARK_SETT)
        _w_int(out, len(self.set_texts))
        for t in self.set_texts:
            _w_str(out, t)
        _w_str(out, MARK_SETT)

        acro_pos = out.tell()
        _w_str(out, MARK_ACRO)
        _w_int(out, 0)
        _w_str(out, MARK_ACRO)

        doms_pos = out.tell()
        _w_str(out, MARK_DOMS)
        for s in self.symbols:
            for d in s.meta.domains:
                _w_str(out, d)
        _w_str(out, MARK_DOMS)

        next_pos = out.tell()
        buf = bytearray(out.getvalue())
        struct.pack_into(
            "<qqqqqq", buf, index_pos + 4,
            symb_pos, uel_pos, sett_pos, acro_pos, next_pos, doms_pos,
        )
        blob = bytes(buf)
        if self.compress:
            # positions in the major index are logical offsets; only the
            # on-disk byte stream after the flag is page-deflated
            blob = blob[:_HEADER_PLAIN_LEN] + _deflate_pages(blob[_HEADER_PLAIN_LEN:])
        with open(self.path, "wb") as f:
            f.write(blob)


class GamsGdxFile(GdxReader):
    """Read a V7-layout .gdx. Shares the reader surface of
    gdx_codec.GdxFile (symbols / find / n_chunks / read_records) so the
    DataSource can serve either container behind format("gdx"); `find`
    and the corrupt-bytes guard are the shared gdx_codec.GdxReader ones,
    raising GamsGdxError here."""

    _error = GamsGdxError
    _layout = "GAMS-layout"

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            buf = f.read()
        if not buf or buf[0] != GDX_HEADER_NR or buf[2:9] != GDX_HEADER_ID:
            raise GamsGdxError(f"{path}: not a GAMS-layout GDX file")
        with corrupt_guard(path, "catalog", self._error, self._layout):
            self._parse(buf)

    def _parse(self, buf: bytes) -> None:
        path = self.path
        r = _Rd(buf)
        r.byte()
        if r.string() != GDX_HEADER_ID.decode():
            raise GamsGdxError(f"{path}: bad header id")
        self.version = r.int32()
        if self.version > GDX_VERSION:
            raise GamsGdxError(f"{path}: unsupported GDX version {self.version}")
        compr = r.int32()
        if compr not in (0, 1):
            raise GamsGdxError(f"{path}: bad compression flag {compr}")
        if compr:
            # reconstruct the logical (decompressed) image: plain header
            # prefix + inflated page stream. Major-index seek positions
            # are logical offsets, so parsing continues unchanged.
            r = _Rd(buf[: r.pos] + _inflate_pages(buf, r.pos, path))
            r.pos = _HEADER_PLAIN_LEN
        self.compressed = bool(compr)
        self.audit = r.string()
        self.producer = r.string()
        if r.int32() != MARK_BOI:
            raise GamsGdxError(f"{path}: major index marker missing")
        (symb_pos, uel_pos, sett_pos, acro_pos, _next_pos, doms_pos) = (
            r.int64() for _ in range(6)
        )
        self._r = r

        # UEL table (1-based codes, insertion order)
        r.pos = uel_pos
        r.expect_marker(MARK_UEL, "uel")
        self.uels = [r.string() for _ in range(r.int32())]

        r.pos = sett_pos
        r.expect_marker(MARK_SETT, "settext")
        self.set_texts = [r.string() for _ in range(r.int32())]

        r.pos = symb_pos
        r.expect_marker(MARK_SYMB, "symbols")
        n = r.int32()
        self.symbols: list[SymbolMeta] = []
        self._data_pos: list[int] = []
        names: list[str] = []
        raw_alias: list[int] = []
        for _ in range(n):
            name = r.string()
            dp = r.int64()
            dim = r.int32()
            typ = r.byte()
            subtype = r.int32()
            nrecs = r.int32()
            r.int32()  # error count
            expl = r.string()
            alias_idx = r.int32()
            if not (0 <= dim <= MAX_DIM):
                raise GamsGdxError(f"{name}: dim {dim} out of range")
            names.append(name)
            raw_alias.append(alias_idx)
            self.symbols.append(
                SymbolMeta(name=name, dim=dim, type=typ, subtype=subtype,
                           expl_text=expl, nrecs=nrecs)
            )
            self._data_pos.append(dp)

        r.pos = doms_pos
        r.expect_marker(MARK_DOMS, "domains")
        for m in self.symbols:
            m.domains = tuple(r.string() for _ in range(m.dim))
        for m, ai in zip(self.symbols, raw_alias):
            if m.type == DT_ALIAS and 1 <= ai <= len(names):
                m.alias_of = names[ai - 1]

    # -- GdxFile-compatible surface -----------------------------------

    def n_chunks(self, idx: int) -> int:
        return 1  # GAMS layout has no chunk index; symbols are model-sized

    def chunk_stats(self, idx: int) -> None:
        return None  # no per-chunk key statistics in the GAMS layout

    def _read_records(self, idx: int, chunk: int | None = None) -> SymbolData:
        m = self.symbols[idx]
        if m.type == DT_ALIAS:
            return self._read_records(self.find(m.alias_of))
        r = _Rd(self._r.buf)
        r.pos = self._data_pos[idx]
        r.expect_marker(MARK_DATA, m.name)
        dim = r.byte()
        nrecs = r.int32()
        if dim != m.dim:
            raise GamsGdxError(f"{m.name}: data dim {dim} != catalog dim {m.dim}")
        mins, widths = [], []
        for _ in range(dim):
            lo = r.int32()
            hi = r.int32()
            mins.append(lo)
            widths.append(_key_width(hi - lo))
        out = SymbolData(meta=m)
        cur = [0] * dim
        for _ in range(nrecs):
            fc = r.byte()
            if fc == _END_OF_DATA:
                raise GamsGdxError(f"{m.name}: truncated record stream")
            for d in range(fc - 1, dim):
                cur[d] = mins[d] + int.from_bytes(r.raw(widths[d]), "little")
            out.keys.append(tuple(self.uels[c - 1] for c in cur[:dim]))
            if m.type == DT_SET:
                v, _ = _decode_value(r)
                out.text.append(self.set_texts[int(v)])
                out.values.append((0.0,))
                out.eps_mask.append(0)
            else:
                vals, eps = [], 0
                for j in range(m.n_values):
                    v, is_eps = _decode_value(r)
                    vals.append(v)
                    eps |= int(is_eps) << j
                out.values.append(tuple(vals))
                out.eps_mask.append(eps)
        if r.byte() != _END_OF_DATA:
            raise GamsGdxError(f"{m.name}: missing end-of-data byte")
        r.expect_marker(MARK_DATA, m.name)
        return out


def is_gams_layout(path: str) -> bool:
    with open(path, "rb") as f:
        head = f.read(9)
    return len(head) == 9 and head[0] == GDX_HEADER_NR and head[2:9] == GDX_HEADER_ID
