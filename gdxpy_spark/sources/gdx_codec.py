"""Pure-Python GDX codec (SURVEY §7 M2, Appendix B).

Implements the GAMS GDX *data model* from the publicly documented format
(the open-sourced GAMS-dev/gdx implementation and the gclgms.h constants):

- a global UEL table (file-wide ordered label dictionary, 1-based codes),
- a symbol catalog (name ≤63 chars, dim 0..20, type set/parameter/
  variable/equation/alias, subtype, explanatory text ≤255, per-dimension
  domain names, record count),
- per-symbol sparse record blocks; record ORDER is path-dependent:
  add_symbol re-sorts lexicographically by UEL-code tuple (GDX
  mapped order) before feeding the one encoder, add_symbol_streaming,
  which writes records in CALLER order — the
  DataSource commit streams label-sorted runs, and for dim≥2 symbols
  label order generally differs from first-appearance code order, so
  readers must NOT assume mapped code order across chunks (no current
  reader does; any future code-order binary search/merge would need
  the in-memory path or a re-sort). Keys are delta-encoded (a prefix
  byte counts leading dimensions shared with the previous record) —
  the delta encoder itself is order-agnostic — values stored with
  per-value type markers that compress the common cases (0.0, 1.0,
  small ints) and encode the six GMS_SV_* special sentinels
  (UNDEF/NA/±INF/EPS/acronyms) as markers rather than 1e300 doubles,
- a set-text table and an acronym table,
- a trailer with section offsets (direct seek → per-symbol partition
  pruning) plus intra-symbol chunk offsets every CHUNK records so a
  distributed reader can split one large symbol across tasks; since
  container VERSION 2 each chunk also carries per-dimension min/max key
  labels (the parquet row-group-statistics pattern) so a keyed slice can
  skip whole chunks without decoding them (gdx_datasource.GdxSymbolReader
  consumes these via Spark's pushFilters partition pruning),
- optional zlib compression per data block.

Byte-level compatibility with GAMS-written files is *not* claimed for
THIS container (magic ``GDXPY7``): it is a clean-room encoding of the
documented structures, validated by write→read round-trip property tests
(tests/test_gdx_codec.py), with extras the GAMS layout lacks (intra-
symbol chunk index for splittable scans, per-block zlib). The published
GAMS V7 *byte layout* (header byte 123 + "GAMSGDX", section markers,
delta keys, GMS_SV sentinels) is implemented separately in gdx_gams.py;
format("gdx") sniffs the magic and serves either
(gdx_datasource.open_gdx). No GAMS installation exists in this
environment to validate against real fixtures (SURVEY §0) — the GAMS
layout is pinned by hand-built golden bytes (tests/test_gdx_gams.py).
The semantic model — what a reader of jackjackk/gdxpy observes
(symbols, UELs, 5-value records, special-value mapping, domains) — is
implemented faithfully in both.

Special values (SURVEY §1.1): gdxpy maps +INF→inf, -INF→-inf,
NA/UNDEF→NaN, EPS→0.0 on read. EPS→0.0 is lossy (membership survives,
magnitude doesn't); this codec keeps a per-value EPS bitmask so
write-back round-trips losslessly (SURVEY §1.2).
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import struct
import zlib
from dataclasses import dataclass, field

MAGIC = b"GDXPY7\x00"
# VERSION history: 1 = initial container; 2 = (a) the chunk record
# stride is stored in the header instead of being implied by the CHUNK
# constant — files are self-describing, a reader never needs the writer's
# compile-time constant — and (b) per-chunk per-dimension min/max
# key-label statistics follow each catalog entry. Readers of v1 files
# still work: both additions parse only when version >= 2. A file of a
# newer version is rejected, never parsed as this one.
VERSION = 2

# symbol types (codes follow the public GMS_DT_* numbering)
DT_SET, DT_PAR, DT_VAR, DT_EQU, DT_ALIAS = 0, 1, 2, 3, 4
TYPE_NAMES = {DT_SET: "set", DT_PAR: "parameter", DT_VAR: "variable",
              DT_EQU: "equation", DT_ALIAS: "alias"}
VALUE_FIELDS = ("level", "marginal", "lower", "upper", "scale")

# value-type markers (per-value compression of common cases)
VT_ZERO, VT_ONE, VT_INT8, VT_INT32, VT_DOUBLE, VT_SPECIAL = range(6)
# special sentinel ids (order mirrors GMS_SV_*: UNDEF NA PINF MINF EPS ACR)
SV_UNDEF, SV_NA, SV_PINF, SV_MINF, SV_EPS, SV_ACR = range(6)

MAX_DIM = 20
CHUNK = 65536  # records per splittable chunk within a symbol data block


@dataclass
class SymbolMeta:
    name: str
    dim: int
    type: int  # DT_*
    subtype: int = 0
    expl_text: str = ""
    domains: tuple[str, ...] = ()
    nrecs: int = 0
    alias_of: str = ""  # for DT_ALIAS

    def __post_init__(self):
        if not (0 <= self.dim <= MAX_DIM):
            raise ValueError(f"dim {self.dim} outside [0, {MAX_DIM}]")
        if len(self.name) > 63:
            raise ValueError("symbol name > 63 chars")
        if len(self.expl_text) > 255:
            raise ValueError("explanatory text > 255 chars")
        if not self.domains:
            self.domains = ("*",) * self.dim
        elif len(self.domains) != self.dim:
            # both containers write exactly one domain string per dim and
            # read exactly dim back — a wrong arity would silently corrupt
            # the domain section, so reject it at construction
            raise ValueError(
                f"{self.name}: {len(self.domains)} domain names for dim {self.dim}"
            )

    @property
    def n_values(self) -> int:
        return 5 if self.type in (DT_VAR, DT_EQU) else 1

    @property
    def type_name(self) -> str:
        return TYPE_NAMES[self.type]


class _ChunkStatsTracker:
    """Accumulates per-chunk per-dimension min/max key LABELS while a
    data block is encoded. Labels (not UEL codes) are what predicates
    compare against on read, and min/max per chunk is valid whatever
    order the records were streamed in — the pruning contract is
    "chunk MAY contain a matching key", exactly parquet's row-group
    statistics contract."""

    def __init__(self, dim: int):
        self.dim = dim
        self.chunks: list[list[tuple[str, str]]] = []
        self._cur: list[list[str]] | None = None

    def observe(self, key: tuple[str, ...]) -> None:
        cur = self._cur
        if cur is None:
            self._cur = [[k, k] for k in key]
            return
        for d in range(self.dim):
            k = key[d]
            if k < cur[d][0]:
                cur[d][0] = k
            elif k > cur[d][1]:
                cur[d][1] = k

    def next_chunk(self) -> None:
        if self._cur is not None:
            self.chunks.append([(lo, hi) for lo, hi in self._cur])
            self._cur = None

    def finish(self) -> list[list[tuple[str, str]]]:
        self.next_chunk()
        return self.chunks


@dataclass
class SymbolData:
    """In-memory symbol: keys are label tuples; values are per-record
    float lists (len n_values); eps_mask marks which fields were EPS;
    text holds set-element text (sets only, '' if none)."""

    meta: SymbolMeta
    keys: list[tuple[str, ...]] = field(default_factory=list)
    values: list[tuple[float, ...]] = field(default_factory=list)
    eps_mask: list[int] = field(default_factory=list)
    text: list[str] = field(default_factory=list)


# --- primitive encoders -----------------------------------------------------

def _wv(b: io.BytesIO, n: int) -> None:  # unsigned varint
    while True:
        x = n & 0x7F
        n >>= 7
        b.write(bytes([x | (0x80 if n else 0)]))
        if not n:
            return


def _rv(b) -> int:
    shift = out = 0
    while True:
        x = b.read(1)[0]
        out |= (x & 0x7F) << shift
        if not (x & 0x80):
            return out
        shift += 7


def _ws(b: io.BytesIO, s: str) -> None:
    raw = s.encode("utf-8")
    _wv(b, len(raw))
    b.write(raw)


def _rs(b) -> str:
    n = _rv(b)
    return b.read(n).decode("utf-8")


def _write_value(b: io.BytesIO, v: float, is_eps: bool) -> None:
    if is_eps:
        b.write(bytes([VT_SPECIAL, SV_EPS]))
    elif math.isnan(v):
        b.write(bytes([VT_SPECIAL, SV_NA]))
    elif v == math.inf:
        b.write(bytes([VT_SPECIAL, SV_PINF]))
    elif v == -math.inf:
        b.write(bytes([VT_SPECIAL, SV_MINF]))
    elif v == 0.0:
        b.write(bytes([VT_ZERO]))
    elif v == 1.0:
        b.write(bytes([VT_ONE]))
    elif v == int(v) and -128 <= int(v) < 128:
        b.write(bytes([VT_INT8]))
        b.write(struct.pack("<b", int(v)))
    elif v == int(v) and -(2**31) <= int(v) < 2**31:
        b.write(bytes([VT_INT32]))
        b.write(struct.pack("<i", int(v)))
    else:
        b.write(bytes([VT_DOUBLE]))
        b.write(struct.pack("<d", v))


def _read_value(b) -> tuple[float, bool]:
    """→ (value, is_eps); specials map per gdxpy: NA/UNDEF→NaN, ±INF→±inf,
    EPS→0.0 (+flag), acronyms→NaN."""
    vt = b.read(1)[0]
    if vt == VT_ZERO:
        return 0.0, False
    if vt == VT_ONE:
        return 1.0, False
    if vt == VT_INT8:
        return float(struct.unpack("<b", b.read(1))[0]), False
    if vt == VT_INT32:
        return float(struct.unpack("<i", b.read(4))[0]), False
    if vt == VT_DOUBLE:
        return struct.unpack("<d", b.read(8))[0], False
    sv = b.read(1)[0]
    if sv == SV_EPS:
        return 0.0, True
    if sv == SV_PINF:
        return math.inf, False
    if sv == SV_MINF:
        return -math.inf, False
    if sv == SV_ACR:
        _rv(b)  # acronym index — reads as NaN like gdxpy
        return math.nan, False
    return math.nan, False  # NA, UNDEF


# --- writer -----------------------------------------------------------------

_SPILL_FLUSH = 1 << 20  # raw bytes buffered per spill-file write


class GdxWriter:
    """Streaming writer. Usage:

        w = GdxWriter(path, producer="gdxpy_spark", compress=True)
        w.add_symbol(SymbolData(meta, keys, values, eps_mask, text))
        w.close()

    There is one record encoder, add_symbol_streaming: every symbol's
    block is encoded (and its UELs and set texts interned) when it is
    added, into a spill file that close() splices into the output.
    add_symbol sorts the records by UEL-code tuple (codes in order of
    first appearance per dimension — the GDX convention of mapped
    ordering) and streams them, so callers may pass unsorted records.
    At cluster scale the DataSource writer pre-sorts per partition and
    merges at commit.
    """

    def __init__(self, path: str, producer: str = "gdxpy_spark",
                 compress: bool = False, chunk_records: int = CHUNK):
        self.path = path
        self.producer = producer
        self.compress = compress
        if chunk_records < 1:
            raise ValueError("chunk_records must be >= 1")
        self.chunk_records = chunk_records  # records per splittable chunk
        self.uel: dict[str, int] = {}  # label → 1-based code
        self.set_text: dict[str, int] = {}  # text → index (0 = none)
        self.acronyms: list[str] = []
        # per symbol, in file order: (meta, spill_path, encoded_len,
        # chunk_offsets, chunk_stats); record blocks live on disk, never
        # in driver memory
        self._blocks: list[tuple[SymbolMeta, str, int, list[int], list]] = []

    def _code(self, label: str) -> int:
        c = self.uel.get(label)
        if c is None:
            if len(label) > 63:
                raise ValueError("UEL label > 63 chars")
            c = len(self.uel) + 1
            self.uel[label] = c
        return c

    def _text_idx(self, t: str) -> int:
        if not t:
            return 0
        i = self.set_text.get(t)
        if i is None:
            i = len(self.set_text) + 1
            self.set_text[t] = i
        return i

    def _check_dup(self, name: str) -> None:
        if any(m.name.lower() == name.lower() for m, *_ in self._blocks):
            raise ValueError(f"duplicate symbol {name}")

    def add_symbol(self, data: SymbolData) -> None:
        """Intern every key, sort the records into mapped order (by
        UEL-code tuple) and stream them to add_symbol_streaming."""
        self._check_dup(data.meta.name)
        order = sorted(
            range(len(data.keys)),
            key=lambda i: tuple(map(self._code, data.keys[i])),
        )
        self.add_symbol_streaming(
            data.meta,
            (
                (data.keys[i],
                 data.values[i] if data.values else (),
                 data.eps_mask[i] if data.eps_mask else 0,
                 data.text[i] if data.text else "")
                for i in order
            ),
        )

    def add_symbol_streaming(self, meta: SymbolMeta, records) -> SymbolMeta:
        """Encode a symbol incrementally from an iterator of
        ``(key_tuple, values_tuple, eps_mask, text)`` without ever holding
        the records in memory: records are delta-encoded into a buffer
        flushed every _SPILL_FLUSH bytes to a spill file (zlib-streamed
        when compress=True), which close() then splices into the output
        byte-for-byte. Callers stream records in the order they should
        land in the file — the delta encoder is order-agnostic, but
        sorted input maximizes key-prefix sharing and is what the
        DataSource commit's k-way run merge provides. This is the
        cluster-scale write path: a symbol bigger than driver memory
        costs the driver one buffer."""
        import tempfile

        self._check_dup(meta.name)
        nv = meta.n_values
        tmp = tempfile.NamedTemporaryFile(
            prefix="gdxpy_spark_block_", suffix=".spill", delete=False
        )
        comp = zlib.compressobj(6) if self.compress else None
        raw_base = 0  # raw (pre-compression) bytes already flushed
        chunks = [0]
        stats = _ChunkStatsTracker(meta.dim)
        prev: tuple[int, ...] | None = None
        n = 0
        b = io.BytesIO()

        def flush() -> None:
            nonlocal raw_base
            raw = b.getvalue()
            raw_base += len(raw)
            tmp.write(comp.compress(raw) if comp else raw)
            b.seek(0)
            b.truncate()

        try:
            for key, vals, eps, txt in records:
                if len(key) != meta.dim:
                    raise ValueError(
                        f"{meta.name}: key arity {len(key)} != dim {meta.dim}"
                    )
                codes = tuple(map(self._code, key))
                if n and n % self.chunk_records == 0:
                    chunks.append(raw_base + b.tell())
                    stats.next_chunk()
                    prev = None  # chunks are self-delimiting (restart delta)
                stats.observe(key)
                shared = 0
                if prev is not None:
                    while shared < meta.dim and codes[shared] == prev[shared]:
                        shared += 1
                b.write(bytes([shared]))
                for c in codes[shared:]:
                    _wv(b, c)
                prev = codes
                if meta.type == DT_SET:
                    _wv(b, self._text_idx(txt or ""))
                else:
                    for j in range(nv):
                        v = vals[j] if j < len(vals) else 0.0
                        _write_value(b, v, bool(eps >> j & 1))
                n += 1
                if b.tell() >= _SPILL_FLUSH:
                    flush()
            flush()
            if comp:
                tmp.write(comp.flush())
            enc_len = tmp.tell()
        except BaseException:
            os.unlink(tmp.name)
            raise
        finally:
            tmp.close()
        meta.nrecs = n
        self._blocks.append((meta, tmp.name, enc_len, chunks, stats.finish()))
        return meta

    def abort(self) -> None:
        """Drop every finished symbol's spill file without writing the
        output (a caller's cleanup when a later symbol fails)."""
        for _m, spill, *_ in self._blocks:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(spill)
        self._blocks.clear()

    def close(self) -> None:
        import shutil

        with open(self.path, "wb") as out:
            out.write(MAGIC)
            out.write(struct.pack("<HB", VERSION, 1 if self.compress else 0))
            _ws(out, self.producer)
            _wv(out, self.chunk_records)  # v2: self-describing chunk stride

            # section: UEL table
            uel_off = out.tell()
            _wv(out, len(self.uel))
            for label in self.uel:  # insertion order == code order
                _ws(out, label)

            # section: set-text table
            text_off = out.tell()
            _wv(out, len(self.set_text))
            for t in self.set_text:
                _ws(out, t)

            # section: acronyms
            acr_off = out.tell()
            _wv(out, len(self.acronyms))
            for a in self.acronyms:
                _ws(out, a)

            # section: symbol catalog — per-symbol metadata + block/chunk
            # lengths; absolute data-block offsets live in the trailer
            cat_off = out.tell()
            _wv(out, len(self._blocks))
            for m, _spill, block_len, chunks, stats in self._blocks:
                _ws(out, m.name)
                out.write(bytes([m.dim, m.type]))
                _wv(out, m.subtype)
                _ws(out, m.expl_text)
                _ws(out, m.alias_of)
                for d in m.domains:
                    _ws(out, d)
                _wv(out, m.nrecs)
                _wv(out, block_len)
                _wv(out, len(chunks))
                for c in chunks:
                    _wv(out, c)
                # v2: per-chunk per-dimension (min,max) key labels — one
                # stats entry per populated chunk (0 for empty symbols)
                _wv(out, len(stats))
                for chunk_stat in stats:
                    for lo, hi in chunk_stat:
                        _ws(out, lo)
                        _ws(out, hi)

            # section: data blocks, spliced from their spill files
            # (constant driver memory)
            block_offs = []
            for _m, spill, _len, _chunks, _stats in self._blocks:
                block_offs.append(out.tell())
                with open(spill, "rb") as f:
                    shutil.copyfileobj(f, out, 1 << 20)
                os.unlink(spill)

            # trailer: section offsets + per-symbol block offsets
            trailer_off = out.tell()
            for off in (uel_off, text_off, acr_off, cat_off):
                out.write(struct.pack("<Q", off))
            _wv(out, len(block_offs))
            for off in block_offs:
                out.write(struct.pack("<Q", off))
            out.write(struct.pack("<Q", trailer_off))


# --- reader -----------------------------------------------------------------

@contextlib.contextmanager
def corrupt_guard(path: str, where: str, error: type[ValueError], layout: str):
    """Re-raise low-level decode failures (index/struct/overflow/unicode/
    zlib) as `error` naming the file, the container layout and the
    section — corrupt bytes must fail loudly and typed, never leak a raw
    IndexError to the caller (found by the r6 byte-fuzz sweep in
    tests/test_gdx_codec.py). Shared by both container readers."""
    try:
        yield
    except (IndexError, struct.error, OverflowError, UnicodeDecodeError,
            zlib.error, MemoryError) as exc:
        raise error(
            f"{path}: corrupt {layout} container ({where}): "
            f"{type(exc).__name__}: {exc}"
        ) from exc


class GdxReader:
    """The reader surface both containers share (GdxFile here,
    gdx_gams.GamsGdxFile): the symbol lookup and the guarded record
    decode. Subclasses parse `symbols` and implement _read_records."""

    path: str
    symbols: list[SymbolMeta]
    _error: type[ValueError] = ValueError
    _layout = "GDXPY7"

    def find(self, name: str) -> int:
        """Case-insensitive symbol lookup (gdxFindSymbol semantics);
        aliases resolve to their target."""
        low = name.lower()
        for i, s in enumerate(self.symbols):
            if s.name.lower() == low:
                if s.type == DT_ALIAS:
                    return self.find(s.alias_of)
                return i
        raise KeyError(f"symbol {name!r} not in {self.path}")

    def read_records(self, idx: int, chunk: int | None = None) -> SymbolData:
        """Decode one symbol's records (or one chunk of them)."""
        with corrupt_guard(self.path, f"records[{idx}]", self._error,
                           self._layout):
            return self._read_records(idx, chunk)


class GdxFile(GdxReader):
    """Random-access reader: catalog + UELs parsed eagerly (small), record
    blocks decoded on demand per symbol (and per chunk range — the unit a
    distributed scan parallelizes over)."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self._buf = f.read()
        buf = self._buf
        if buf[: len(MAGIC)] != MAGIC:
            # first byte of a native GAMS file (gdx_gams.GDX_HEADER_NR —
            # duplicated here as a literal: importing gdx_gams would be
            # circular)
            gams_header_nr = 123
            hint = ""
            if buf[:1] == bytes([gams_header_nr]) or b"GAMSGDX" in buf[:64]:
                hint = (
                    " (this looks like a native GAMS-produced .gdx: use "
                    "gdxpy_spark.sources.gdx_gams.GamsGdxFile, which reads "
                    "the published GAMS byte layout)"
                )
            raise ValueError(
                f"{path}: not a gdxpy_spark GDX container — expected magic "
                f"{MAGIC!r}, got {buf[:len(MAGIC)]!r}{hint}"
            )
        with corrupt_guard(path, "catalog", self._error, self._layout):
            self._parse_catalog(buf)

    def _parse_catalog(self, buf: bytes) -> None:
        off = len(MAGIC)
        self.version, flags = struct.unpack_from("<HB", buf, off)
        if self.version > VERSION:
            raise ValueError(
                f"{self.path}: unsupported GDXPY7 container version "
                f"{self.version} (this reader reads up to {VERSION})"
            )
        self.compressed = bool(flags & 1)
        b = io.BytesIO(buf)
        b.seek(off + 3)
        self.producer = _rs(b)
        # v2 stores the chunk record stride; v1 files used the then-
        # compile-time CHUNK constant
        self.chunk_records = _rv(b) if self.version >= 2 else CHUNK

        # trailer
        t_off = struct.unpack_from("<Q", buf, len(buf) - 8)[0]
        b.seek(t_off)
        uel_off, text_off, acr_off, cat_off = struct.unpack(
            "<4Q", b.read(32)
        )
        n_blocks = _rv(b)
        self.block_offsets = list(struct.unpack(f"<{n_blocks}Q", b.read(8 * n_blocks)))

        b.seek(uel_off)
        self.uels = [_rs(b) for _ in range(_rv(b))]  # code i+1 → label
        b.seek(text_off)
        self.set_texts = [_rs(b) for _ in range(_rv(b))]
        b.seek(acr_off)
        self.acronyms = [_rs(b) for _ in range(_rv(b))]

        b.seek(cat_off)
        n_sym = _rv(b)
        self.symbols: list[SymbolMeta] = []
        self._block_len: list[int] = []
        self._chunks: list[list[int]] = []
        self._chunk_stats: list[list[list[tuple[str, str]]] | None] = []
        for _ in range(n_sym):
            name = _rs(b)
            dim, typ = b.read(2)
            subtype = _rv(b)
            expl = _rs(b)
            alias_of = _rs(b)
            domains = tuple(_rs(b) for _ in range(dim))
            nrecs = _rv(b)
            blen = _rv(b)
            n_chunks = _rv(b)
            chunks = [_rv(b) for _ in range(n_chunks)]
            if self.version >= 2:
                n_stats = _rv(b)
                stats: list[list[tuple[str, str]]] | None = [
                    [(_rs(b), _rs(b)) for _ in range(dim)]
                    for _ in range(n_stats)
                ]
            else:
                stats = None
            self._chunk_stats.append(stats)
            self.symbols.append(
                SymbolMeta(name=name, dim=dim, type=typ, subtype=subtype,
                           expl_text=expl, domains=domains, nrecs=nrecs,
                           alias_of=alias_of)
            )
            self._block_len.append(blen)
            self._chunks.append(chunks)

    def _block(self, idx: int) -> bytes:
        off = self.block_offsets[idx]
        raw = self._buf[off : off + self._block_len[idx]]
        return zlib.decompress(raw) if self.compressed else raw

    def n_chunks(self, idx: int) -> int:
        return len(self._chunks[idx])

    def chunk_stats(self, idx: int) -> list[list[tuple[str, str]]] | None:
        """Per-chunk per-dimension (min_label, max_label) key statistics,
        or None when the file predates VERSION 2 (or the symbol is empty).
        ``chunk_stats(idx)[c][d]`` bounds every k{d+1} label in chunk c —
        the contract a distributed scan prunes partitions against."""
        stats = self._chunk_stats[idx]
        return stats or None

    def _read_records(self, idx: int, chunk: int | None = None) -> SymbolData:
        m = self.symbols[idx]
        data = SymbolData(meta=m)
        if m.type == DT_ALIAS:
            return self._read_records(self.find(m.alias_of), chunk)
        block = self._block(idx)
        chunks = self._chunks[idx]
        if chunk is None:
            start, end, n_from, n_to = 0, len(block), 0, m.nrecs
        else:
            start = chunks[chunk]
            end = chunks[chunk + 1] if chunk + 1 < len(chunks) else len(block)
            n_from = chunk * self.chunk_records
            n_to = min(n_from + self.chunk_records, m.nrecs)
        b = io.BytesIO(block[start:end])
        prev: tuple[int, ...] = ()
        nv = m.n_values
        for _ in range(n_to - n_from):
            shared = b.read(1)[0]
            codes = tuple(prev[:shared]) + tuple(
                _rv(b) for _ in range(m.dim - shared)
            )
            prev = codes
            data.keys.append(tuple(self.uels[c - 1] for c in codes))
            if m.type == DT_SET:
                ti = _rv(b)
                data.text.append(self.set_texts[ti - 1] if ti else "")
                data.values.append((0.0,))
                data.eps_mask.append(0)
            else:
                vals, eps = [], 0
                for j in range(nv):
                    v, is_eps = _read_value(b)
                    vals.append(v)
                    eps |= int(is_eps) << j
                data.values.append(tuple(vals))
                data.eps_mask.append(eps)
        return data
