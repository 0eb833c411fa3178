"""Seeded input generators for the benchmark workloads.

Everything the engine reads is made here from the workload seed, so a
run never depends on data outside the checkout: the same seed gives
byte-identical parquet tables and GDX files.

- TPC-H-style tables with the value domains of the project's test
  tables (FIXTURES.md §1), at a chosen scale factor.
- A near-duplicate document corpus and an embedding corpus with planted
  near-duplicate groups (FIXTURES.md §1 schemas).
- A GAMS-style model as GDX files: sets i/j/t, a sparse 3-dim parameter
  spanning tens of codec chunks, a 5-field variable, an equation, a
  specials parameter (EPS/NA/±INF), a base/alt scenario pair
  (FIXTURES.md §2) and one file in the GAMS V7 zlib layout.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

def _write(out_dir: str, name: str, table: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_permuted(out_dir: str, tables: dict[str, pa.Table], seed: int) -> None:
    """Write each table with its rows in a seeded order. Every query
    result is order-independent, so the seed changes only the bytes on
    disk, never the work or the expected output."""
    rng = np.random.default_rng([seed, 0])
    for name, t in tables.items():
        _write(out_dir, name, t.take(rng.permutation(t.num_rows)))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-style tables at scale factor `sf` (lineitem ≈ 6M·sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(100, int(200_000 * sf)), max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }
    return tables


def documents_table(seed: int, n: int, dup_share: float = 0.25) -> pa.Table:
    """`n` documents of space-separated vocabulary tokens; a `dup_share`
    of them are planted near-duplicates of an earlier document (one
    token substituted, sometimes a `dup` token appended)."""
    rng = np.random.default_rng([seed, 2])
    docs: list[list[str]] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            toks = list(docs[int(rng.integers(0, i))])
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if rng.random() < 0.5:
                toks.append("dup")
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings_table(seed: int, n: int, dim: int = 64, dup_share: float = 0.25) -> pa.Table:
    """`n` unit vectors; a `dup_share` of them are small perturbations of
    an earlier vector (cosine ≈ 0.99), the planted near-dup groups."""
    rng = np.random.default_rng([seed, 3])
    v = rng.standard_normal((n, dim))
    for i in range(11, n):
        if rng.random() < dup_share:
            v[i] = v[int(rng.integers(0, i))] + 0.1 * rng.standard_normal(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


# --- GDX model ---------------------------------------------------------------

EPS = "EPS"  # marker in generated records; encoded as the GDX EPS special


@dataclass
class Symbol:
    """Generated records of one symbol: keys are label tuples, values are
    per-record tuples (1 field for sets/parameters, 5 for variables and
    equations) in which EPS marks a GDX EPS."""

    name: str
    type: str  # set | parameter | variable | equation
    keys: list[tuple[str, ...]]
    values: list[tuple] = field(default_factory=list)
    text: list[str] = field(default_factory=list)
    domains: tuple[str, ...] = ()

    @property
    def dim(self) -> int:
        return len(self.keys[0]) if self.keys else len(self.domains)


@dataclass
class GdxModel:
    """Paths of the generated files plus the records in them."""

    base: str
    alt: str
    v7: str
    symbols: dict[str, Symbol]  # base file contents
    alt_p: dict[tuple, object]  # alt file's `p` records
    v7_symbols: dict[str, Symbol]


def _special(rng) -> object:
    return (EPS, math.nan, math.inf, -math.inf)[int(rng.integers(0, 4))]


def gdx_model_symbols(seed: int, n_i: int, n_j: int, n_t: int, n_p: int) -> dict[str, Symbol]:
    rng = np.random.default_rng([seed, 4])
    I = [f"i{k:03d}" for k in range(1, n_i + 1)]
    J = [f"j{k:02d}" for k in range(1, n_j + 1)]
    T = [f"t{2000 + k}" for k in range(1, n_t + 1)]
    cells = np.sort(rng.choice(n_i * n_j * n_t, n_p, replace=False))
    pv = np.round(rng.uniform(0.0, 1000.0, n_p), 3)
    p_vals: list[tuple] = [(float(x),) for x in pv]
    for k in rng.choice(n_p, max(4, n_p // 5000), replace=False):
        p_vals[int(k)] = (_special(rng),)
    p = Symbol("p", "parameter", [
        (I[c // (n_j * n_t)], J[c // n_t % n_j], T[c % n_t]) for c in cells.tolist()
    ], p_vals, domains=("i", "j", "t"))

    xij = np.sort(rng.choice(n_i * n_j, n_i * n_j // 2, replace=False))
    x_vals = []
    for lvl in np.round(rng.uniform(0.0, 50.0, len(xij)), 2).tolist():
        r = rng.random()
        marginal = EPS if r < 0.1 else (0.0 if r < 0.6 else round(float(rng.uniform(-5, 5)), 2))
        upper = math.inf if rng.random() < 0.8 else 100.0
        x_vals.append((lvl, marginal, 0.0, upper, 1.0))
    x = Symbol("x", "variable", [(I[c // n_j], J[c % n_j]) for c in xij.tolist()],
               x_vals, domains=("i", "j"))

    e_vals = []
    for k in range(n_i):
        rhs = round(float(rng.uniform(10, 500)), 1)
        e_vals.append((rhs, round(float(rng.uniform(-1, 1)), 3) if k % 7 else EPS,
                       rhs, rhs, 1.0))
    e = Symbol("e", "equation", [(a,) for a in I], e_vals, domains=("i",))

    sv_vals = [(EPS,), (math.nan,), (math.inf,), (-math.inf,), (1e-12,)] + [
        (float(v),) for v in np.round(rng.uniform(-10, 10, 15), 4)
    ]
    sv = Symbol("sv", "parameter", [(a,) for a in I[:len(sv_vals)]], sv_vals,
                domains=("i",))

    return {
        "i": Symbol("i", "set", [(a,) for a in I], text=[
            f"plant {a}" if k < 3 else "" for k, a in enumerate(I)
        ]),
        "j": Symbol("j", "set", [(a,) for a in J], text=[""] * n_j),
        "t": Symbol("t", "set", [(a,) for a in T], text=[""] * n_t),
        "p": p, "x": x, "e": e, "sv": sv,
    }


def alt_records(seed: int, p: Symbol, n_t: int) -> dict[tuple, object]:
    """The alt scenario of `p` (FIXTURES.md §2): ~20% of values
    perturbed, ~5% of keys removed, ~5% keys added."""
    rng = np.random.default_rng([seed, 5])
    out = {}
    for k, (v,) in zip(p.keys, p.values):
        r = rng.random()
        if r < 0.05:
            continue
        if r < 0.25 and isinstance(v, float) and math.isfinite(v):
            v = round(v * 1.1 + 1.0, 3)
        out[k] = v
    added = 0
    for k in p.keys:
        if added >= len(p.keys) // 20:
            break
        nk = (k[0], k[1], f"t{2000 + n_t + 1}")  # a year outside the base horizon
        if nk not in out and rng.random() < 0.5:
            out[nk] = round(float(rng.uniform(0, 1000)), 3)
            added += 1
    return out


def _codec_records(sym: Symbol):
    """Symbol → the codec's (key, values, eps_mask, text) stream."""
    from gdxpy_spark.sources.gdx_codec import VALUE_FIELDS

    nv = len(VALUE_FIELDS) if sym.type in ("variable", "equation") else 1
    for n, key in enumerate(sym.keys):
        if sym.type == "set":
            yield key, (0.0,), 0, sym.text[n]
            continue
        vals = sym.values[n]
        mask = 0
        out = []
        for f in range(nv):
            v = vals[f]
            if v == EPS:
                mask |= 1 << f
                v = 0.0
            out.append(v)
        yield key, tuple(out), mask, ""


def symbol_data(sym: Symbol):
    """The codec's in-memory form of a generated symbol."""
    from gdxpy_spark.sources.gdx_codec import TYPE_NAMES, SymbolData, SymbolMeta

    code = next(c for c, n in TYPE_NAMES.items() if n == sym.type)
    data = SymbolData(meta=SymbolMeta(sym.name, sym.dim, code, domains=sym.domains))
    for key, vals, mask, txt in _codec_records(sym):
        data.keys.append(key)
        data.values.append(vals)
        data.eps_mask.append(mask)
        data.text.append(txt)
    return data


def write_gdx_file(path: str, symbols, chunk_records: int) -> None:
    """Encode symbols (in order) into one GDXPY7 container."""
    from gdxpy_spark.sources.gdx_codec import GdxWriter

    w = GdxWriter(path, producer="perfbench", chunk_records=chunk_records)
    for sym in symbols:
        w.add_symbol(symbol_data(sym))
    w.close()


def write_gams_file(path: str, symbols) -> None:
    """Encode symbols into one GAMS V7-layout file, zlib page stream."""
    from gdxpy_spark.sources.gdx_gams import GamsGdxWriter

    w = GamsGdxWriter(path, compress=True)
    for sym in symbols:
        w.add_symbol(symbol_data(sym))
    w.close()


def write_gdx_model(out_dir: str, seed: int, n_p: int, chunk_records: int,
                    dims=(160, 40, 25)) -> GdxModel:
    os.makedirs(out_dir, exist_ok=True)
    n_i, n_j, n_t = dims
    syms = gdx_model_symbols(seed, n_i, n_j, n_t, n_p)
    base = os.path.join(out_dir, "base.gdx")
    write_gdx_file(base, syms.values(), chunk_records)

    alt_p = alt_records(seed, syms["p"], n_t)
    alt_keys = sorted(alt_p)
    alt_syms = dict(syms)
    alt_syms["p"] = Symbol("p", "parameter", alt_keys, [(alt_p[k],) for k in alt_keys],
                           domains=("i", "j", "t"))
    alt = os.path.join(out_dir, "alt.gdx")
    write_gdx_file(alt, alt_syms.values(), chunk_records)

    # the V7 file: the model-sized symbols plus the first five years of p
    p = syms["p"]
    years = {f"t{2000 + k}" for k in range(1, 6)}
    keep = [n for n, k in enumerate(p.keys) if k[2] in years]
    p5 = Symbol("p5", "parameter", [p.keys[n] for n in keep],
                [p.values[n] for n in keep], domains=("i", "j", "t"))
    v7_syms = {s.name: s for s in (syms["i"], syms["x"], syms["e"], syms["sv"], p5)}
    v7 = os.path.join(out_dir, "model_v7.gdx")
    write_gams_file(v7, v7_syms.values())
    return GdxModel(base, alt, v7, syms, alt_p, v7_syms)
