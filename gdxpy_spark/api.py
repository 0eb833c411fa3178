"""GdxEngine — the gdxpy user-facing surface, Spark-native (SURVEY §2.1).

Reference parity map (loci are UNVERIFIED upstream file-level pointers;
the mount was empty, SURVEY §0):

    gdxpy                          gdxpy_spark
    -----------------------------  -------------------------------------
    GdxFile(path)            (R1)  GdxEngine(spark).open(path)
    get_symbols_list()       (R2)  .symbols() → DataFrame (driver catalog)
    query/get_symbol(name)   (R3)  .symbol(name) → DataFrame (case-insens.;
                                   eager ≤ CHUNK records, else lazy scan)
    gload('x*')              (R4)  .gload('x*') → {name: DataFrame}
    per-record read loop     (R5)  one Arrow table decoded on the driver
                                   for ≤ gdx_codec.CHUNK records in all
                                   files; above that a chunk-partitioned
                                   Arrow-batch scan (datasource)
    UEL decode               (R6)  .uel_dictionary() → DataFrame
    special-value mapping    (R7)  scan-time: NA/UNDEF→NaN, ±INF→±inf,
                                   EPS→0.0 + is_eps/eps_mask (lossless)
    value-field selection    (R8)  .symbol(name, field="level")
    to-pandas shaping        (R9)  long DataFrame; .wide() pivot helper
    squeeze singleton dims  (R10)  .squeeze(df)
    namespace injection     (R11)  temp views: gload registers
                                   `gdx_<symbol>` (documented delta: no
                                   caller-frame injection — views are the
                                   Spark-native namespace)
    multi-file scenarios    (R12)  .scenario_concat(symbol, {scen: path})
    scenario diff           (R13)  .scenario_diff(symbol, a, b)
    label filter/slice      (R14)  plain DataFrame .filter/.isin
    reductions              (R15)  plain DataFrame .groupBy().agg()
    GDX write               (R16)  .write_symbol(df, path, name, symtype),
                                   .write_file({name: (df, symtype)}, path):
                                   ≤ CHUNK rows sorted and encoded on the
                                   driver after one Arrow probe; above
                                   that the format("gdx") writer (resp. a
                                   distributed sort + toLocalIterator)
"""

from __future__ import annotations

import fnmatch
import logging
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from gdxpy_spark.sources import gdx_datasource
from gdxpy_spark.sources.gdx_codec import CHUNK, GdxWriter, SymbolMeta
from gdxpy_spark.sources.gdx_datasource import _TYPE_BY_NAME, codec_records, key_columns

log = logging.getLogger(__name__)


class GdxEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        gdx_datasource.register(spark)
        self._paths: list[str] = []

    # -- R1/R12: file registry ------------------------------------------------
    def open(self, *paths: str) -> "GdxEngine":
        """Register GDX file(s) (gdxpy's setgdx global file list)."""
        self._paths = list(paths)
        return self

    def _path(self, path: str | None) -> str:
        if path:
            return path
        if not self._paths:
            raise ValueError("no GDX file opened — call .open(path) first")
        return self._paths[0]

    # -- R2: catalog ----------------------------------------------------------
    def symbols(self, path: str | None = None) -> DataFrame:
        """The catalog (one row per symbol per file), read on the driver."""
        ddl = gdx_datasource.CATALOG_SCHEMA
        schema = to_arrow_schema(StructType.fromDDL(ddl))
        rows = gdx_datasource.catalog_rows(self._path(path))
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )
        return self.spark.createDataFrame(table, ddl)

    # -- R3/R5: read path -----------------------------------------------------
    def _read(self, name: str, path: str) -> DataFrame:
        """One symbol from the file(s) at `path`. At most one codec chunk
        of records in total is decoded here and handed to Spark as one
        Arrow table, as gdxpy reads a symbol in one call; a larger symbol
        is a lazy chunk-partitioned DataSource scan."""
        found = []
        for p, scen in gdx_datasource.scenario_files(path):
            f = gdx_datasource.open_gdx(p)
            found.append((f, f.find(name), scen))
        nrecs = sum(f.symbols[i].nrecs for f, i, _ in found)
        route = "driver" if nrecs <= CHUNK else "datasource"
        log.debug("read %s: %d records, %s path", name, nrecs, route)
        if route == "datasource":
            return self.spark.read.format("gdx").option("symbol", name).load(path)
        f, i, scen = found[0]
        ddl = gdx_datasource._symbol_schema(f.symbols[i], scen is not None)
        table = pa.Table.from_batches(
            [
                gdx_datasource.record_batch(f.symbols[i], f.read_records(i), scen)
                for f, i, scen in found
            ]
        )
        return self.spark.createDataFrame(table, ddl)

    # -- R3/R8: one symbol ----------------------------------------------------
    def symbol(
        self,
        name: str,
        path: str | None = None,
        field: str | None = None,
        squeeze: bool = False,
    ) -> DataFrame:
        """Load one symbol as a DataFrame. A symbol of at most
        gdx_codec.CHUNK records (summed over a scenario directory's files)
        is decoded at this call, as in gdxpy; a larger one stays a lazy
        DataSource scan. `field` picks a single value column of a
        variable/equation (gdxpy's default is level); sets and parameters
        ignore it."""
        df = self._read(name, self._path(path))
        if field:
            if field not in df.columns:
                raise ValueError(f"{name} has no value field {field!r}")
            keys = [c for c in df.columns if c.startswith("k")]
            df = df.select(*keys, field)
        if squeeze:
            df = self.squeeze(df)
        return df

    # -- R4/R11: wildcard load + view registration ----------------------------
    def gload(self, pattern: str, path: str | None = None) -> dict[str, DataFrame]:
        """Expand a comma-separated, fnmatch-style symbol spec against the
        catalog; load each match and register it as temp view
        `gdx_<name>`. Returns {name: DataFrame}."""
        cat = [r[0] for r in gdx_datasource.catalog_rows(self._path(path))]
        wanted: list[str] = []
        for part in pattern.split(","):
            part = part.strip()
            matches = [n for n in cat if fnmatch.fnmatchcase(n.lower(), part.lower())]
            if not matches:
                raise KeyError(f"no symbol matches {part!r}")
            wanted.extend(m for m in matches if m not in wanted)
        out = {}
        for n in wanted:
            df = self.symbol(n, path)
            df.createOrReplaceTempView(f"gdx_{n}")
            out[n] = df
        return out

    # -- R6: UEL dictionary ---------------------------------------------------
    def uel_dictionary(self, path: str | None = None) -> DataFrame:
        """The file-global label dictionary as (uel_id, label) — codes are
        the file's insertion order, exactly what the codec stored. Either
        container layout (gdx_datasource.open_gdx)."""
        f = gdx_datasource.open_gdx(self._path(path))
        return self.spark.createDataFrame(
            [(i + 1, u) for i, u in enumerate(f.uels)], "uel_id BIGINT, label STRING"
        )

    # -- R9: wide shaping -----------------------------------------------------
    def wide(self, df: DataFrame, measure_col: str, value_col: str) -> DataFrame:
        """Long (key, measure, value) → one wide row per key tuple (the
        pandas-unstack equivalent, pivot with explicit labels)."""
        keys = [c for c in df.columns if c not in (measure_col, value_col)]
        labels = [r[0] for r in df.select(measure_col).distinct().collect()]
        return (
            df.groupBy(*keys)
            .pivot(measure_col, sorted(labels))
            .agg(F.first(value_col))
        )

    # -- R9: pandas presentation ----------------------------------------------
    def to_pandas(self, df: DataFrame):
        """gdxpy's pandas shaping (R9): collect a symbol frame with the
        key columns as a (Multi)Index — the exact presentation a gdxpy
        user gets from `gload`. Arrow-batched collect; only for
        model-sized symbols (the whole point of this engine is that the
        100 TB path never materializes on the driver)."""
        pdf = df.toPandas()
        keys = [c for c in df.columns if c.startswith("k")]
        return pdf.set_index(keys) if keys else pdf

    # -- R10: squeeze ---------------------------------------------------------
    def squeeze(self, df: DataFrame) -> DataFrame:
        """Drop key columns that are constant across the frame (gdxpy drops
        singleton MultiIndex levels). One tiny aggregate probe, then a
        projection — the data itself is never collected."""
        keys = [c for c in df.columns if c.startswith("k")]
        if not keys:
            return df
        # min == max (or min null) ⇔ at most one distinct non-null label;
        # one aggregate pass, no per-key distinct shuffle
        probe = df.agg(*[F.min(c) for c in keys], *[F.max(c) for c in keys]).first()
        lo, hi = probe[: len(keys)], probe[len(keys) :]
        varying = {c for c, a, b in zip(keys, lo, hi) if a is not None and a != b}
        keep = [c for c in df.columns if not c.startswith("k") or c in varying]
        return df.select(*keep)

    # -- R12: scenario concat -------------------------------------------------
    def scenario_concat(self, name: str, scenarios: dict[str, str]) -> DataFrame:
        """Same symbol from N files, stacked with a `scenario` column."""
        out = None
        for scen, path in scenarios.items():
            df = self.symbol(name, path).withColumn("scenario", F.lit(scen))
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise ValueError("no scenarios given")
        return out.select("scenario", *[c for c in out.columns if c != "scenario"])

    # -- R13: scenario diff ---------------------------------------------------
    def scenario_diff(
        self, name: str, path_a: str, path_b: str, field: str = "value"
    ) -> DataFrame:
        """gdxdiff-style compare of one symbol across two files: full-outer
        join on the key tuple; added/removed/changed rows + delta."""
        a = self.symbol(name, path_a)
        b = self.symbol(name, path_b)
        if field not in a.columns:
            field = "level" if "level" in a.columns else a.columns[-1]
        keys = [c for c in a.columns if c.startswith("k")]
        af = a.select(*keys, F.col(field).alias("val_a"))
        bf = b.select(*keys, F.col(field).alias("val_b"))
        j = af.join(bf, on=keys, how="full")
        return j.select(
            *keys,
            "val_a",
            "val_b",
            (F.coalesce("val_a", F.lit(0.0)) - F.coalesce("val_b", F.lit(0.0))).alias(
                "delta"
            ),
            F.when(F.col("val_b").isNull(), "added_in_a")
            .when(F.col("val_a").isNull(), "added_in_b")
            .when(F.col("val_a") == F.col("val_b"), "same")
            .otherwise("changed")
            .alias("status"),
        )

    # -- domain check (GDX regular domains, SURVEY §1.1) ----------------------
    def domain_check(self, df: DataFrame, key: str, domain: DataFrame) -> DataFrame:
        """Rows of `df` whose `key` label is outside the 1-dim domain set
        (left-anti against the set's k1)."""
        dom = domain.select(F.col("k1").alias("__dom"))
        return df.join(
            F.broadcast(dom), df[key] == F.col("__dom"), "left_anti"
        )

    # -- R16: write -----------------------------------------------------------
    def write_file(
        self,
        symbols: dict[str, tuple[DataFrame, str]],
        path: str,
        compress: bool = False,
    ) -> None:
        """Write several symbols into ONE .gdx file (a GDX file is a
        mini-catalog; write_symbol covers the single-symbol case). `symbols`
        maps name → (DataFrame, symtype). A frame of at most
        gdx_codec.CHUNK rows is read in one Arrow probe and sorted on the
        driver; a larger one is globally sorted by its key columns (a
        distributed range-partition sort) and *streamed* to the codec's
        incremental encoder via toLocalIterator — the driver holds one
        Arrow partition at a time, never a whole symbol, so a symbol
        larger than driver memory still writes. UELs intern across all
        symbols, like a real writer. A symbol that fails to encode leaves
        no spill files and no output file behind."""

        def encoded():
            for name, (df, symtype) in symbols.items():
                t = _TYPE_BY_NAME[symtype]
                keys = key_columns(df.columns)
                src = df.select(*keys, *[c for c in df.columns if c not in keys])
                rows = _driver_rows(src, keys, name)
                if rows is None:
                    log.debug("write %s: over %d records, spark path", name, CHUNK)
                    if keys:
                        src = src.sort(*keys)
                    rows = src.toLocalIterator(prefetchPartitions=True)
                meta = SymbolMeta(name=name, dim=len(keys), type=t)
                yield meta, codec_records(rows, t, src.columns, len(keys))

        _encode(path, compress, encoded())

    def write_symbol(
        self,
        df: DataFrame,
        path: str,
        name: str,
        symtype: str = "parameter",
        expl_text: str = "",
        compress: bool = False,
    ) -> None:
        """Write one symbol as a .gdx file. A frame of at most
        gdx_codec.CHUNK rows is encoded on the driver after one Arrow
        probe; a larger one goes through the format("gdx") DataSource
        writer (per-task sorted runs merged at commit)."""
        t = _TYPE_BY_NAME[symtype]
        keys = key_columns(df.columns, lead=True)
        rows = _driver_rows(df, keys, name)
        if rows is None:
            log.debug("write %s: over %d records, datasource path", name, CHUNK)
            (
                df.write.format("gdx")
                .option("symbol", name)
                .option("symtype", symtype)
                .option("expl_text", expl_text)
                .option("compress", str(compress).lower())
                .mode("overwrite")
                .save(path)
            )
            return
        meta = SymbolMeta(name=name, dim=len(keys), type=t, expl_text=expl_text)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        _encode(path, compress, [(meta, codec_records(rows, t, df.columns, len(keys)))])


# GDX records have bounded width: at most 20 labels of at most 63 chars
# plus at most 5 doubles and an eps mask: under 1.5 kB per record in Arrow,
# offsets included, so the probe moves at most CHUNK + 1 records: under
# 100 MB in the worst case, 2.4-3.9 MB at perfbench's widths (36-59 B a
# record). A set's text column is the one field the codec does not bound.
def _driver_rows(df: DataFrame, keys: list[str], name: str):
    """One bounded read of `df` (`limit(CHUNK + 1).toArrow()`, one Spark
    job). None above gdx_codec.CHUNK rows; else the rows as tuples,
    sorted on `keys` in binary UTF-8 label order (Spark's string sort and
    the DataSource writer's Python tuple sort), the stream codec_records
    consumes. GDX keys cannot be null: a null label raises ValueError."""
    t = df.limit(CHUNK + 1).toArrow()
    if t.num_rows > CHUNK:
        return None
    for k in keys:
        if t.column(k).null_count:
            raise ValueError(f"gdx: {name}: null label in key column {k}")
    if keys:
        t = t.sort_by([(k, "ascending") for k in keys])
    log.debug("write %s: %d records, driver path", name, t.num_rows)

    def rows():
        for b in t.to_batches(max_chunksize=8192):
            yield from zip(*(c.to_pylist() for c in b.columns))

    return rows()


def _encode(path: str, compress: bool, symbols) -> None:
    """Encode (SymbolMeta, codec records) pairs into one file at `path`.
    If a symbol fails to encode, every spill already written is removed
    before the output file is opened."""
    w = GdxWriter(path, compress=compress)
    try:
        for meta, records in symbols:
            w.add_symbol_streaming(meta, records)
        w.close()
    except BaseException:
        w.abort()
        raise
