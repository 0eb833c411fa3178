"""The benchmark workloads: inputs, one pass's operations, and the checks
that decide whether each operation's output is correct.

An operation has a build phase (the eager driver work of constructing
the result: `Query.fn`, a GdxEngine call) and an execute phase (the
action that materializes it). The execute phase returns a small value —
collected result rows, an aggregate fingerprint or the path of a written
file — that is checked after the timed region against an expectation
computed independently: DuckDB running the registry's oracle SQL on the
same generated inputs, or the generator's own records.
"""

from __future__ import annotations

import math
import os
import shutil
import zlib
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import gen


@dataclass
class Op:
    name: str
    layer: str  # the repo module the operation exercises
    build: Callable[[], Any]
    execute: Callable[[Any], Any]


# --- result canonicalization (order-insensitive, column-name keyed) ---------

def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    if isinstance(v, bool):
        return int(v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        tuple(sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)),
    )


def collect(df) -> tuple:
    return canonical(list(df.columns), [tuple(r) for r in df.collect()])


def duckdb_oracles(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Canonical expected result of each named query: its registered
    oracle SQL run by DuckDB over the same parquet files."""
    import duckdb

    from gdxpy_spark import registry

    qs = registry.all_queries()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        out = {}
        for n in names:
            t = con.execute(qs[n].oracle).arrow()
            cols = list(t.column_names)
            rows = list(zip(*(c.to_pylist() for c in t.columns))) if t.num_rows else []
            out[n] = canonical(cols, rows)
        return out
    finally:
        con.close()


def warm_name(query: str) -> str:
    return f"{query}_warm"


def query_op(spark, name: str, layer: str, data_dir: str, warm: bool = False) -> Op:
    from gdxpy_spark import registry

    q = registry.all_queries()[name]
    return Op(warm_name(name) if warm else name, layer, lambda: q.fn(spark, data_dir), collect)


class Workload:
    name = ""

    def generate(self, root: str, seed: int, smoke: bool) -> None:
        raise NotImplementedError

    def ops(self, spark, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def expected(self) -> dict[str, Any]:
        """Expected result per operation name (computed once, untimed)."""
        raise NotImplementedError

    def check(self, op: str, result, expected) -> bool:
        return result == expected[op]


# --- dedup_tpch ---------------------------------------------------------------

DEDUP_QUERIES = [
    ("llm_minhash_dedup", "operators.llm"),
    ("llm_semdedup", "operators.llm"),
    ("graph_components", "operators.graphs"),
]
# queries re-run on the pass's inputs right after their cold run: the
# driver-memo / persisted-index hit path
WARM_QUERIES = ["llm_semdedup"]
# a scan-and-aggregate, a six-way join and EXISTS/NOT EXISTS: the
# execute-bound relational shapes
TPCH_QUERIES = ["tpch_q1_shape", "tpch_q5_shape", "tpch_q21_shape"]
CORPUS_SEED = 2026


def planted_edges(seed: int, n_nodes: int, n_clusters: int):
    """An undirected edge list over `n_nodes` shuffled node ids forming
    `n_clusters` planted connected clusters (a random spanning tree plus
    chords each) → (edges, expected {node: min node of its cluster})."""
    import numpy as np

    rng = np.random.default_rng([seed, 6])
    ids = rng.permutation(n_nodes * 7)[:n_nodes].tolist()
    cuts = sorted(rng.choice(range(1, n_nodes), n_clusters - 1, replace=False).tolist())
    edges, comp = [], {}
    for members in (ids[a:b] for a, b in zip([0] + cuts, cuts + [n_nodes])):
        for k in range(1, len(members)):
            edges.append((members[k], members[int(rng.integers(0, k))]))
        for _ in range(len(members) // 3):
            a, b = rng.choice(len(members), 2)
            edges.append((members[int(a)], members[int(b)]))
        root = min(members)
        if len(members) > 1:
            comp.update({m: root for m in members})
    order = rng.permutation(len(edges)).tolist()
    return [edges[k] for k in order], comp


class DedupTpch(Workload):
    """Near-dup dedup and TPC-H shapes. Every pass reads a fresh
    byte-identical copy of the inputs, so fingerprint-keyed memos and
    persisted indexes miss as they would on new data while the work and
    the expected output stay fixed."""

    name = "dedup_tpch"
    # documents, embeddings, CC nodes, CC clusters, TPC-H scale factor
    SIZES = (400, 400, 600, 60, 0.002)
    SMOKE_SIZES = (100, 100, 300, 20, 0.001)

    def generate(self, root, seed, smoke):
        """One fixed corpus, written in a row order drawn from `seed`:
        the job counts of the dedup engines depend on the data (CC and
        k-means rounds), so only the layout varies with the seed."""
        import pyarrow as pa

        n_docs, n_emb, n_nodes, n_clusters, sf = self.SMOKE_SIZES if smoke else self.SIZES
        self.root = root
        self.src = os.path.join(root, "src")
        edges, self.cc_expected = planted_edges(CORPUS_SEED, n_nodes, n_clusters)
        gen.write_permuted(self.src, {
            "documents": gen.documents_table(CORPUS_SEED, n_docs),
            "embeddings": gen.embeddings_table(CORPUS_SEED, n_emb),
            **gen.tpch_tables(CORPUS_SEED, sf),
            "cc_edges": pa.table({"doc_a": [a for a, _ in edges], "doc_b": [b for _, b in edges]}),
        }, seed)

    def ops(self, spark, pass_no):
        from gdxpy_spark.operators.llm import connected_components

        # a byte-identical copy under a new path with new mtimes: every
        # content fingerprint (path + size + mtime) is new
        d = os.path.join(self.root, f"pass{pass_no}")
        os.makedirs(d)
        for f in os.listdir(self.src):
            shutil.copyfile(os.path.join(self.src, f), os.path.join(d, f))

        def cc():
            return connected_components(spark, spark.read.parquet(os.path.join(d, "cc_edges.parquet")))

        ops = []
        for n, layer in DEDUP_QUERIES:
            ops.append(query_op(spark, n, layer, d))
            if n in WARM_QUERIES:
                ops.append(query_op(spark, n, layer, d, warm=True))
        return ops + [
            Op("connected_components", "operators.llm", cc,
               lambda df: {r["doc_id"]: r["component_id"] for r in df.collect()}),
        ] + [query_op(spark, n, "operators.tpch_shapes", d) for n in TPCH_QUERIES]

    def expected(self):
        exp = duckdb_oracles(self.src, [n for n, _ in DEDUP_QUERIES] + TPCH_QUERIES)
        exp.update({warm_name(n): exp[n] for n in WARM_QUERIES})
        exp["connected_components"] = self.cc_expected
        return exp


# --- gdx_io ----------------------------------------------------------------------

def _fp_cols(df) -> list:
    """Aggregate fingerprint of a GDX symbol frame: record count, a key
    checksum and, per value column, special-value counts plus an exact
    integer checksum of the finite values (all generated values have at
    most 3 decimals)."""
    from pyspark.sql import functions as F

    keys = [c for c in df.columns if c.startswith("k")]
    out = [F.count(F.lit(1)).alias("n")]
    if keys:
        out.append(F.sum(F.crc32(F.concat_ws("|", *keys))).alias("keys"))
    for c in df.columns:
        if c in ("value", "level", "marginal", "lower", "upper", "scale"):
            v = F.col(c)
            out += [
                F.sum(F.when(F.isnan(v), 1).otherwise(0)).alias(f"{c}_nan"),
                F.sum(F.when(v == float("inf"), 1).otherwise(0)).alias(f"{c}_pinf"),
                F.sum(F.when(v == float("-inf"), 1).otherwise(0)).alias(f"{c}_minf"),
                F.sum(F.when(F.isnan(v) | (F.abs(v) == float("inf")), 0)
                      .otherwise(F.round(v * 1000).cast("long"))).alias(f"{c}_sum"),
            ]
        elif c == "is_eps":
            out.append(F.sum(F.col(c).cast("int")).alias("eps"))
        elif c == "eps_mask":
            out.append(F.sum(c).alias("eps"))
        elif c == "text":
            out.append(F.sum(F.crc32(F.col(c))).alias("text"))
    return out


def fingerprint(df) -> dict:
    row = df.agg(*_fp_cols(df)).first().asDict()
    return {k: (v if v is not None else 0) for k, v in row.items()}


def expected_fingerprint(sym: gen.Symbol, keys: list | None = None, drop_keys=()) -> dict:
    """The same fingerprint as :func:`fingerprint`, computed from the
    generator's records (optionally a subset of keys, and with squeezed
    key dimensions dropped)."""
    idx = range(len(sym.keys)) if keys is None else keys
    fields = {"set": ("text",), "parameter": ("value",)}.get(
        sym.type, ("level", "marginal", "lower", "upper", "scale"))
    fp: dict = {"n": 0}
    if sym.dim - len(drop_keys):
        fp["keys"] = 0
    for f in fields:
        if f == "text":
            fp["text"] = 0
        else:
            fp.update({f"{f}_nan": 0, f"{f}_pinf": 0, f"{f}_minf": 0, f"{f}_sum": 0})
    if sym.type != "set":
        fp["eps"] = 0
    for n in idx:
        fp["n"] += 1
        key = [k for d, k in enumerate(sym.keys[n]) if d not in drop_keys]
        if key:
            fp["keys"] += zlib.crc32("|".join(key).encode())
        if sym.type == "set":
            fp["text"] += zlib.crc32(sym.text[n].encode())
            continue
        for j, f in enumerate(fields):
            v = sym.values[n][j]
            if v == gen.EPS:
                fp["eps"] += 1 << j
            elif math.isnan(v):
                fp[f"{f}_nan"] += 1
            elif v == math.inf:
                fp[f"{f}_pinf"] += 1
            elif v == -math.inf:
                fp[f"{f}_minf"] += 1
            else:
                fp[f"{f}_sum"] += int(math.floor(v * 1000 + 0.5)) if v >= 0 \
                    else -int(math.floor(-v * 1000 + 0.5))
    return fp


def _same_value(a: float, b) -> bool:
    if b == gen.EPS:
        return False
    return (math.isnan(a) and math.isnan(b)) or a == b


def file_matches(path: str, symbols: dict[str, gen.Symbol]) -> bool:
    """Decode a written GDX file record by record and compare every key,
    value, EPS flag and set text with the generator's records."""
    from gdxpy_spark.sources.gdx_codec import GdxFile

    f = GdxFile(path)
    if sorted(s.name for s in f.symbols) != sorted(symbols):
        return False
    for name, sym in symbols.items():
        data = f.read_records(f.find(name))
        if len(data.keys) != len(sym.keys):
            return False
        got = sorted(range(len(data.keys)), key=lambda n: data.keys[n])
        want = sorted(range(len(sym.keys)), key=lambda n: sym.keys[n])
        for g, w in zip(got, want):
            if data.keys[g] != sym.keys[w]:
                return False
            if sym.type == "set":
                if data.text[g] != sym.text[w]:
                    return False
                continue
            for j, v in enumerate(sym.values[w]):
                eps = bool(data.eps_mask[g] >> j & 1)
                if eps != (v == gen.EPS) or (not eps and not _same_value(data.values[g][j], v)):
                    return False
    return True


def diff_status_counts(base: gen.Symbol, alt: dict) -> dict[str, int]:
    """GdxEngine.scenario_diff's status per key, from the generator:
    Spark compares NaN = NaN as equal, and EPS reads as 0.0."""
    def val(v):
        return 0.0 if v == gen.EPS else v

    a = {k: val(v) for k, (v,) in zip(base.keys, base.values)}
    out: dict[str, int] = {}
    for k in set(a) | set(alt):
        if k not in alt:
            s = "added_in_a"
        elif k not in a:
            s = "added_in_b"
        else:
            x, y = a[k], val(alt[k])
            s = "same" if (x == y or (math.isnan(x) and math.isnan(y))) else "changed"
        out[s] = out.get(s, 0) + 1
    return out


class GdxIo(Workload):
    """The gdxpy surface on a seeded GAMS-style model: catalog, reads,
    gload, scenario diff, squeeze, writes and a re-read."""

    name = "gdx_io"
    N_P, CHUNK = 32_000, 4_096
    SMOKE_N_P = 4_000
    FILTER_I = "i017"  # k1 label of the key-filtered read
    EXPORT = ("i", "x", "e", "sv")  # symbols of the write_file export

    def generate(self, root, seed, smoke):
        self.root = root
        self.model = gen.write_gdx_model(os.path.join(root, "gdx"), seed,
                                         self.SMOKE_N_P if smoke else self.N_P, self.CHUNK)

    def out_path(self, pass_no: int, what: str) -> str:
        d = os.path.join(self.root, "out")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{what}_{pass_no}.gdx")

    def ops(self, spark, pass_no):
        from pyspark.sql import functions as F

        from gdxpy_spark.api import GdxEngine

        eng = GdxEngine(spark)
        m = self.model
        sym_path = self.out_path(pass_no, "symbol")
        file_path = self.out_path(pass_no, "file")

        def filtered():
            return (spark.read.format("gdx").option("symbol", "p").option("pushdown", "true")
                    .load(m.base).filter(F.col("k1") == self.FILTER_I))

        def write_symbol(df):
            eng.write_symbol(df, sym_path, "x", "variable")
            return sym_path

        def write_file(syms):
            eng.write_file(syms, file_path)
            return file_path

        return [
            Op("catalog", "api", lambda: eng.symbols(m.base),
               lambda df: sorted((r["name"], r["dim"], r["type"], r["nrecs"])
                                 for r in df.collect())),
            Op("full_read", "sources.gdx_datasource", lambda: eng.symbol("p", m.base), fingerprint),
            Op("filtered_read", "sources.gdx_datasource", filtered, fingerprint),
            Op("gload", "api", lambda: eng.gload("x,e,s*", m.base),
               lambda dfs: {n: fingerprint(df) for n, df in dfs.items()}),
            Op("scenario_diff", "api", lambda: eng.scenario_diff("p", m.base, m.alt),
               lambda df: {r["status"]: r["count"] for r in df.groupBy("status").count().collect()}),
            Op("squeeze", "api",
               lambda: eng.squeeze(eng.symbol("p", m.base).filter(F.col("k3") == "t2003")),
               lambda df: (list(df.columns), fingerprint(df))),
            Op("write_symbol", "sources.gdx_datasource", lambda: eng.symbol("x", m.base),
               write_symbol),
            Op("write_file", "api",
               lambda: {n: (eng.symbol(n, m.base), m.symbols[n].type) for n in self.EXPORT},
               write_file),
            Op("reread", "sources.gdx_datasource", lambda: eng.symbol("x", sym_path), fingerprint),
            Op("v7_read", "sources.gdx_gams", lambda: eng.symbol("p5", m.v7), fingerprint),
        ]

    def expected(self):
        m = self.model
        p = m.symbols["p"]
        squeezed = [n for n, k in enumerate(p.keys) if k[2] == "t2003"]
        return {
            "catalog": sorted((s.name, s.dim, s.type, len(s.keys)) for s in m.symbols.values()),
            "full_read": expected_fingerprint(p),
            "reread": expected_fingerprint(m.symbols["x"]),
            "gload": {n: expected_fingerprint(m.symbols[n]) for n in ("x", "e", "sv")},
            "scenario_diff": diff_status_counts(p, m.alt_p),
            "squeeze": (["k1", "k2", "value", "is_eps"],
                        expected_fingerprint(p, squeezed, drop_keys=(2,))),
            "v7_read": expected_fingerprint(m.v7_symbols["p5"]),
            "filtered_read": expected_fingerprint(
                p, [n for n, k in enumerate(p.keys) if k[0] == self.FILTER_I]),
        }

    def check(self, op, result, expected):
        if op == "write_symbol":
            return file_matches(result, {"x": self.model.symbols["x"]})
        if op == "write_file":
            return file_matches(result, {n: self.model.symbols[n] for n in self.EXPORT})
        return result == expected[op]


WORKLOADS = {w.name: w for w in (GdxIo, DedupTpch)}
