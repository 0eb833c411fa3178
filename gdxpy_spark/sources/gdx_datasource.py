"""Spark Python DataSource for the GDX format (SURVEY §1.2, §7 M2).

    spark.dataSource.register(GdxDataSource)
    spark.read.format("gdx").option("symbol", "d").load("trnsport.gdx")
    spark.read.format("gdx").option("symbol", "*").load(path)   # catalog
    df.write.format("gdx").option("symbol", "d").option("symtype",
        "parameter").mode("overwrite").save("out.gdx")

Schemas by symbol type (long format, SURVEY §1.2 mapping):
    set        → k1..kdim STRING, text STRING
    parameter  → k1..kdim STRING, value DOUBLE, is_eps BOOLEAN
    var / equ  → k1..kdim STRING, level/marginal/lower/upper/scale DOUBLE,
                 eps_mask INT (bit i ⇒ field i was GDX EPS)
    catalog    → name, dim, type, subtype, nrecs, expl_text, domains, alias_of

Scale design: one InputPartition per (symbol, chunk) — the codec stores
chunk offsets every CHUNK records, so a single large symbol splits across
tasks; partitions decode their byte range only and emit Arrow
RecordBatches (vectorized, never per-record Python↔JVM — the reference's
per-record C-call bottleneck, SURVEY §3.1, is avoided structurally).
Keyed slices additionally prune at plan time — opt-in via
``.option("pushdown", "true")``: PushdownGdxSymbolReader implements
Spark's pushFilters (4.1 Python-DataSource pushdown) and tests each
predicate on k1..kdim / scenario against the v2 container's per-chunk
min/max key-label statistics (gdx_codec.GdxFile.chunk_stats) — chunks
that cannot match are never scheduled, the parquet row-group-stats
pattern. Pruning is partition-level only: every filter is returned to
Spark for row-level re-evaluation, so row semantics never depend on
stats. It is OPT-IN on every Spark version (there is no version gate:
the plain reader is chosen unless ``pushdown`` is ``true``/``1``)
because Spark 4.1.2 caches the pushed-down partition set on the JVM
relation (PythonDataSourceV2 .readInfo is replaced by each filtered
plan and NOT invalidated by a later filter-less plan): reusing one pushdown-enabled DataFrame for a
filtered action and then an unfiltered one replays the stale pruned
partitions — an upstream bug affecting every pushFilters-capable Python
DataSource (minimal doc-example repro pinned in
tests/test_gdx_datasource.py::test_upstream_pushdown_cache_staleness).
With pushdown on, use one load() per query shape. Flip the default only
once that pinned repro fails.
The writer sorts per partition and merges sorted runs at commit (the
distributed-sort-then-merge pattern; the commit node only streams runs).

Reference parity: gdxpy reads a symbol fully into pandas via per-record
gdxDataReadStr calls [upstream: gdxpy/gdxpy.py (GdxSymb.get_values) —
UNVERIFIED, mount empty; see SURVEY §0]. This source exposes the same
records as a lazily-scanned DataFrame instead.
"""

from __future__ import annotations

import heapq
import math
import os
import pickle
import shutil
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from gdxpy_spark.sources.gdx_codec import (
    DT_EQU,
    DT_PAR,
    DT_SET,
    DT_VAR,
    TYPE_NAMES,
    VALUE_FIELDS,
    GdxFile,
    GdxWriter,
    SymbolData,
    SymbolMeta,
)

_TYPE_BY_NAME = {v: k for k, v in TYPE_NAMES.items()}


def open_gdx(path: str):
    """Open either GDX container, sniffed by magic: the native GAMS V7
    layout (header byte 123 + "GAMSGDX" — gdx_gams.GamsGdxFile) or the
    GDXPY7 clean-room container (gdx_codec.GdxFile). Both expose the
    same reader surface (symbols / find / n_chunks / read_records), so
    every code path below is layout-agnostic."""
    from gdxpy_spark.sources import gdx_gams

    if gdx_gams.is_gams_layout(path):
        return gdx_gams.GamsGdxFile(path)
    return GdxFile(path)

CATALOG_SCHEMA = (
    "name STRING, dim INT, type STRING, subtype INT, nrecs BIGINT,"
    " expl_text STRING, domains ARRAY<STRING>, alias_of STRING"
)


def _symbol_schema(meta: SymbolMeta, multi: bool) -> str:
    """DDL of one symbol's long frame; `multi` appends the `scenario`
    column of a multi-file read."""
    keys = ", ".join(f"k{i + 1} STRING" for i in range(meta.dim))
    sep = ", " if keys else ""
    if meta.type == DT_SET:
        ddl = f"{keys}{sep}text STRING"
    elif meta.type == DT_PAR:
        ddl = f"{keys}{sep}value DOUBLE, is_eps BOOLEAN"
    else:
        vals = ", ".join(f"{f} DOUBLE" for f in VALUE_FIELDS)
        ddl = f"{keys}{sep}{vals}, eps_mask INT"
    return ddl + (", scenario STRING" if multi else "")


def _expand_paths(path: str) -> list[str]:
    """A path may be one .gdx file, a directory of them, or a glob — the
    multi-file form is gdxpy's scenario list (R12): the same symbol read
    from every file, stacked with a `scenario` column (= file stem).
    Partition pruning by scenario falls out of per-file partitions."""
    import glob as _glob

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*.gdx")))
    elif any(c in path for c in "*?["):
        files = sorted(_glob.glob(path))
    else:
        files = [path]
    if not files:
        raise ValueError(f"gdx: no .gdx files at {path!r}")
    return files


def scenario_files(path: str) -> list[tuple[str, str | None]]:
    """(file, scenario) for every file at `path`. The scenario is the
    file stem when `path` names several files, else None (no column)."""
    files = _expand_paths(path)
    multi = len(files) > 1
    return [
        (p, os.path.splitext(os.path.basename(p))[0] if multi else None)
        for p in files
    ]


def catalog_rows(path: str) -> list[tuple]:
    """One CATALOG_SCHEMA row per symbol of every file at `path`."""
    return [
        (s.name, s.dim, s.type_name, s.subtype, s.nrecs, s.expl_text,
         list(s.domains), s.alias_of)
        for p in _expand_paths(path)
        for s in open_gdx(p).symbols
    ]


def record_batch(meta: SymbolMeta, data: SymbolData, scenario: str | None):
    """Decoded records → one Arrow RecordBatch in the _symbol_schema
    column order (plus `scenario` when given)."""
    import pyarrow as pa

    cols: dict[str, pa.Array] = {}
    for d in range(meta.dim):
        cols[f"k{d + 1}"] = pa.array([k[d] for k in data.keys], type=pa.string())
    if meta.type == DT_SET:
        cols["text"] = pa.array(data.text, type=pa.string())
    elif meta.type == DT_PAR:
        cols["value"] = pa.array([v[0] for v in data.values], type=pa.float64())
        cols["is_eps"] = pa.array(
            [bool(e & 1) for e in data.eps_mask], type=pa.bool_()
        )
    else:
        for j, fname in enumerate(VALUE_FIELDS):
            cols[fname] = pa.array([v[j] for v in data.values], type=pa.float64())
        cols["eps_mask"] = pa.array(data.eps_mask, type=pa.int32())
    if scenario is not None:
        cols["scenario"] = pa.array([scenario] * len(data.keys), type=pa.string())
    return pa.RecordBatch.from_pydict(cols)


def codec_records(rows, symtype: int, field_names: list[str], dim: int):
    """Row tuples whose first `dim` fields are k1..kdim → codec
    (key, values, eps_mask, text) records. A null value is written as NaN
    (GDX NA), a missing or null is_eps / eps_mask as 0, a null set text
    as ""."""
    idx = {n: i for i, n in enumerate(field_names)}
    if symtype == DT_SET:
        ti = idx.get("text")
        for r in rows:
            yield r[:dim], (0.0,), 0, (r[ti] if ti is not None else "") or ""
    elif symtype == DT_PAR:
        vi, ei = idx["value"], idx.get("is_eps")
        for r in rows:
            is_eps = bool(r[ei]) if ei is not None else False
            v = r[vi]
            yield (
                r[:dim],
                (0.0 if is_eps else float(v if v is not None else math.nan),),
                1 if is_eps else 0,
                "",
            )
    else:
        vis = [idx[f] for f in VALUE_FIELDS]
        mi = idx.get("eps_mask")
        for r in rows:
            yield (
                r[:dim],
                tuple(float(r[i]) if r[i] is not None else math.nan for i in vis),
                int(r[mi]) if mi is not None and r[mi] is not None else 0,
                "",
            )


def _range_may_match(lo: str, hi: str, flt: Filter) -> bool:
    """May any label in [lo, hi] satisfy flt? Conservative: unknown
    filter shapes or non-string operands answer True (no pruning).
    For StringStartsWith: a prefix-p match needs s >= p, impossible if
    hi < p; and s[:len(p)] == p, impossible if lo[:len(p)] > p (s >= lo
    implies s[:k] >= lo[:k] lexicographically)."""
    if isinstance(flt, EqualTo):
        v = flt.value
        return not isinstance(v, str) or lo <= v <= hi
    if isinstance(flt, In):
        vs = [v for v in flt.value if isinstance(v, str)]
        if len(vs) != len(flt.value):
            return True
        return any(lo <= v <= hi for v in vs)
    if isinstance(flt, GreaterThan):
        return not isinstance(flt.value, str) or hi > flt.value
    if isinstance(flt, GreaterThanOrEqual):
        return not isinstance(flt.value, str) or hi >= flt.value
    if isinstance(flt, LessThan):
        return not isinstance(flt.value, str) or lo < flt.value
    if isinstance(flt, LessThanOrEqual):
        return not isinstance(flt.value, str) or lo <= flt.value
    if isinstance(flt, StringStartsWith):
        p = flt.value
        return not (hi < p or lo[: len(p)] > p)
    return True


class GdxPartition(InputPartition):
    def __init__(self, path: str, sym_idx: int, chunk: int | None, scenario: str | None):
        self.path = path
        self.sym_idx = sym_idx
        self.chunk = chunk
        self.scenario = scenario


class GdxCatalogReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def read(self, partition):
        yield from catalog_rows(self.path)


class GdxSymbolReader(DataSourceReader):
    """One InputPartition per (file, chunk). The base class never prunes
    (``self.pruning`` stays empty) and deliberately does NOT define
    pushFilters: a reader that defines it is rejected by Spark whenever
    spark.sql.python.filterPushdown.enabled is off, and — worse — is
    exposed to the upstream stale-readInfo bug described in the module
    docstring. PushdownGdxSymbolReader below opts in per-read."""

    def __init__(self, path: str, symbol: str):
        self.files = scenario_files(path)
        self.symbol = symbol
        # column name → pruning predicates on it ("k1".."kN", "scenario")
        self.pruning: dict[str, list[Filter]] = {}

    def partitions(self):
        parts = []
        for p, scen in self.files:
            if scen is not None and any(
                not _range_may_match(scen, scen, flt)
                for flt in self.pruning.get("scenario", ())
            ):
                continue
            f = open_gdx(p)
            idx = f.find(self.symbol)
            stats = f.chunk_stats(idx)
            n = max(1, f.n_chunks(idx))
            for c in range(n):
                if stats is not None and c < len(stats):
                    dim_ranges = stats[c]
                    if any(
                        not _range_may_match(*dim_ranges[d], flt)
                        for d in range(len(dim_ranges))
                        for flt in self.pruning.get(f"k{d + 1}", ())
                    ):
                        continue
                parts.append(GdxPartition(p, idx, c, scen))
        return parts

    def read(self, partition: GdxPartition):
        if partition is None:
            # every chunk was pruned: partitions() returned [], and Spark
            # then schedules one task with a None partition — emit nothing
            return
        f = open_gdx(partition.path)
        m = f.symbols[partition.sym_idx]
        chunk = partition.chunk if f.n_chunks(partition.sym_idx) > 1 else None
        data = f.read_records(partition.sym_idx, chunk=chunk)
        if data.keys:
            yield record_batch(m, data, partition.scenario)


class PushdownGdxSymbolReader(GdxSymbolReader):
    """Chunk/scenario-pruning reader, selected by .option("pushdown",
    "true"). pushFilters prunes both partition levels — files by the
    scenario column (= file stem, gdxpy's R12 multi-scenario axis) and
    chunks by the v2 per-chunk min/max key-label stats. All filters are
    handed back to Spark for row-level re-evaluation, so a stale or
    absent stats section can only cost performance, never rows — within
    one plan. Across plans, see the module-docstring caveat: Spark 4.1
    replays a filtered plan's partition set for a later filter-less plan
    on the SAME DataFrame, so with pushdown enabled use one load() per
    query shape (the registered queries do; the facade never sets
    pushdown, and decodes symbols of ≤ CHUNK records on the driver)."""

    def pushFilters(self, filters):
        # a reused reader re-plans per action: rebuild pruning state from
        # scratch so each plan prunes on its own filters, not an
        # accumulation of every prior action's
        self.pruning = {}
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            if (
                isinstance(attr, tuple)
                and len(attr) == 1
                and isinstance(flt, (EqualTo, In, GreaterThan,
                                     GreaterThanOrEqual, LessThan,
                                     LessThanOrEqual, StringStartsWith))
                and (attr[0] == "scenario"
                     or (attr[0].startswith("k") and attr[0][1:].isdigit()))
            ):
                self.pruning.setdefault(attr[0], []).append(flt)
        # partition pruning only — Spark re-evaluates every filter on the
        # rows the surviving chunks emit (the parquet row-group contract)
        return filters


class GdxCommitMessage(WriterCommitMessage):
    def __init__(self, payload: bytes):
        self.payload = payload


class GdxSymbolWriter(DataSourceWriter):
    """Distributed sort-then-merge write path. Each task spills its rows
    as sorted runs of ≤SPILL_BATCH records to a run file in a temp dir
    next to the output (on a cluster that path is shared storage, the
    same place the .gdx itself lands — the FileOutputCommitter pattern);
    the commit message carries only the run-file path and frame offsets,
    never records. commit() k-way heap-merges the runs (each open run
    streams one SLICE of records at a time) into the codec's streaming
    encoder, so driver memory at commit is O(runs × slice), independent
    of symbol size. The facade's write_file streams via toLocalIterator
    for the multi-symbol case."""

    SPILL_BATCH = 100_000  # records sorted per run frame on the executor
    SLICE = 8_192  # records per pickle slice inside a frame (merge memory)

    def __init__(self, path: str, options, schema: StructType):
        self.path = path
        self.run_dir = f"{path}.__gdx_runs__{uuid.uuid4().hex}"
        self.symbol = options.get("symbol") or "symbol"
        self.symtype = _TYPE_BY_NAME[options.get("symtype", "parameter")]
        self.expl = options.get("expl_text", "")
        self.compress = (options.get("compress", "false") or "").lower() == "true"
        self.layout = (options.get("layout", "gdxpy") or "gdxpy").lower()
        if self.layout not in ("gdxpy", "gams"):
            raise ValueError(f"gdx: unknown layout {self.layout!r}")
        self.schema = schema

    def write(self, rows):
        """Executor side: spill sorted runs, ship only their locations."""
        dim = self._dim()
        os.makedirs(self.run_dir, exist_ok=True)
        run_path = os.path.join(self.run_dir, f"run-{uuid.uuid4().hex}.pkl")
        offsets: list[int] = []
        total = 0
        with open(run_path, "wb") as f:
            batch: list[tuple] = []

            def flush() -> None:
                if not batch:
                    return
                batch.sort(key=lambda r: r[:dim])
                offsets.append(f.tell())
                for i in range(0, len(batch), self.SLICE):
                    pickle.dump(
                        batch[i : i + self.SLICE], f, pickle.HIGHEST_PROTOCOL
                    )
                pickle.dump(None, f, pickle.HIGHEST_PROTOCOL)  # frame end
                batch.clear()

            for r in rows:
                batch.append(tuple(r))
                total += 1
                if len(batch) >= self.SPILL_BATCH:
                    flush()
            flush()
        if not total:
            os.unlink(run_path)
            run_path = None
        return GdxCommitMessage(
            pickle.dumps({"run": run_path, "offsets": offsets, "count": total})
        )

    def _dim(self) -> int:
        return sum(1 for f in self.schema.fields if f.name.startswith("k"))

    @staticmethod
    def _frame_iter(path: str, offset: int):
        """Stream one sorted frame from a run file, SLICE records at a
        time (each heapq.merge input holds ≤ one slice in memory)."""
        with open(path, "rb") as f:
            f.seek(offset)
            while True:
                sl = pickle.load(f)
                if sl is None:
                    return
                yield from sl

    def commit(self, messages):
        dim = self._dim()
        field_names = [f.name for f in self.schema.fields]
        kcols = [f.name for f in self.schema.fields[:dim]]
        if kcols != [f"k{i + 1}" for i in range(dim)]:
            raise ValueError(
                f"gdx: key columns k1..k{dim} must lead the schema, got "
                f"{field_names}"
            )
        frames = []
        for msg in messages:
            info = pickle.loads(msg.payload)
            if info["run"]:
                frames.extend((info["run"], off) for off in info["offsets"])
        merged = heapq.merge(
            *(self._frame_iter(p, off) for p, off in frames),
            key=lambda r: r[:dim],
        )
        meta = SymbolMeta(
            name=self.symbol, dim=dim, type=self.symtype, expl_text=self.expl
        )
        records = codec_records(merged, self.symtype, field_names, dim)
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        try:
            if self.layout == "gams":
                # the native layout targets interop with model-sized files,
                # not fact-table scale — materialize (its writer needs the
                # full record set to build the GAMS section layout)
                from gdxpy_spark.sources.gdx_gams import GamsGdxWriter

                data = SymbolData(meta=meta)
                for key, vals, eps, txt in records:
                    data.keys.append(key)
                    data.values.append(vals)
                    data.eps_mask.append(eps)
                    data.text.append(txt)
                w = GamsGdxWriter(self.path, compress=self.compress)
                w.add_symbol(data)
                w.close()
            else:
                w = GdxWriter(self.path, compress=self.compress)
                w.add_symbol_streaming(meta, records)
                w.close()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(self.run_dir, ignore_errors=True)


class GdxDataSource(DataSource):
    """format("gdx") — reader/writer over the pure-Python codec."""

    @classmethod
    def name(cls) -> str:
        return "gdx"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("gdx: a path is required (load(path)/save(path))")
        return p

    def schema(self):
        sym = self.options.get("symbol", "*")
        if sym == "*":
            return CATALOG_SCHEMA
        paths = _expand_paths(self._path())
        f = open_gdx(paths[0])
        return _symbol_schema(f.symbols[f.find(sym)], len(paths) > 1)

    def reader(self, schema):
        sym = self.options.get("symbol", "*")
        if sym == "*":
            return GdxCatalogReader(self._path())
        # pruning is opt-in on every Spark version, with no version gate:
        # see the module docstring for the upstream stale-partition bug
        opt = (self.options.get("pushdown", "") or "").lower()
        if opt in ("true", "1"):
            return PushdownGdxSymbolReader(self._path(), sym)
        return GdxSymbolReader(self._path(), sym)

    def writer(self, schema, overwrite: bool):
        path = self._path()
        if os.path.exists(path) and not overwrite:
            raise ValueError(f"gdx: {path} exists (use mode('overwrite'))")
        return GdxSymbolWriter(path, self.options, schema)


def register(spark) -> None:
    """Idempotently register the gdx format on a session.

    Also enables spark.sql.python.filterPushdown.enabled (default false
    in Spark 4.1, runtime-settable): PushdownGdxSymbolReader implements
    pushFilters, and Spark refuses to plan a pushdown-capable Python
    reader while the flag is off — so any session that can read gdx at
    all gets chunk/scenario pruning with it."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # immutable on some deployments; reads then need the flag on
    spark.dataSource.register(GdxDataSource)
