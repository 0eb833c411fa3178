"""Round-9 hardening tests: the oracle result-type guard (the r7/r8
HUGEINT driver-fail class), declared-length WARC framing, and the
session defaults (host-clamped driver memory, SPARK_GRAFT_CPUS)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from gdxpy_spark.oracle_types import arrow_family, spark_family, type_mismatches
from tests.conftest import SF_DIR


# ---- oracle_types guard: does it actually catch the r7/r8 classes? --------


def test_type_guard_flags_hugeint(duck, spark):
    """An uncast SUM(<integer>) in DuckDB yields HUGEINT → decimal128 on
    the Arrow fetch path; the guard must flag it against Spark's int64
    (this exact pattern kept six oracles driver-red in r07+r08)."""
    tbl = duck.execute(
        "SELECT CAST(1 AS BIGINT) AS ok, SUM(x) AS bad "
        "FROM (SELECT CAST(5 AS BIGINT) AS x)"
    ).arrow()
    sdf = spark.sql("SELECT CAST(1 AS BIGINT) AS ok, CAST(5 AS BIGINT) AS bad")
    mm = type_mismatches(sdf.schema, tbl.schema)
    assert len(mm) == 1 and mm[0].startswith("bad:"), mm


def test_type_guard_flags_decimal_and_family_mismatch(spark):
    """DECIMAL on either side is non-portable (the r7 agg_histogram
    class); int-vs-float family crossings render differently ('5' vs
    '5.0') and must be flagged; int-WIDTH differences render the same
    and must pass."""
    sdf = spark.sql(
        "SELECT CAST(1 AS INT) AS a, CAST(1 AS BIGINT) AS b, "
        "CAST(1.5 AS DOUBLE) AS c"
    )
    arrow = pa.schema(
        [("a", pa.int64()), ("b", pa.float64()), ("c", pa.decimal128(18, 6))]
    )
    mm = type_mismatches(sdf.schema, arrow)
    flagged = {m.split(":")[0] for m in mm}
    assert flagged == {"b", "c"}, mm


def test_type_guard_passes_clean_families(spark):
    sdf = spark.sql(
        "SELECT 1L AS i, 1.5D AS f, 'x' AS s, true AS b, "
        "DATE '2020-01-01' AS d, TIMESTAMP_NTZ '2020-01-01 00:00:00' AS t, "
        "array(1L, 2L) AS arr, array(CAST(1.5 AS FLOAT)) AS e"
    )
    arrow = pa.schema(
        [
            ("i", pa.int64()),
            ("f", pa.float64()),
            ("s", pa.string()),
            ("b", pa.bool_()),
            ("d", pa.date32()),
            ("t", pa.timestamp("us")),
            ("arr", pa.list_(pa.int32())),
            ("e", pa.list_(pa.float32())),  # embeddings: float32 BOTH sides
        ]
    )
    assert type_mismatches(sdf.schema, arrow) == []


def test_type_guard_splits_tz_and_float32(spark):
    """r9 advice: tz-aware vs naive timestamps and float32 vs float64
    render differently under the driver's canonical value text (UTC
    offset suffix; float32 precision loss) — the guard must flag both
    pairs instead of collapsing them into one family."""
    sdf = spark.sql(
        "SELECT TIMESTAMP '2020-01-01 00:00:00' AS t, "
        "CAST(1.5 AS FLOAT) AS f"
    )
    arrow = pa.schema([("t", pa.timestamp("us")), ("f", pa.float64())])
    mm = type_mismatches(sdf.schema, arrow)
    flagged = {m.split(":")[0] for m in mm}
    assert flagged == {"t", "f"}, mm
    # and the matched-on-both-sides variants stay clean
    arrow_tz = pa.schema(
        [("t", pa.timestamp("us", tz="UTC")), ("f", pa.float32())]
    )
    assert type_mismatches(sdf.schema, arrow_tz) == []


def test_family_mappers_cover_unknowns():
    assert arrow_family(pa.decimal128(38, 0)) == "DECIMAL"
    from pyspark.sql import types as T

    assert spark_family(T.DecimalType(38, 0)) == "DECIMAL"
    assert spark_family(T.MapType(T.StringType(), T.LongType())).startswith(
        "UNKNOWN"
    )


# ---- llm_warc_parse: declared-length framing -------------------------------


def test_warc_framing_survives_version_line_in_body(spark):
    """A record body that CONTAINS the version-line byte sequence must
    not open a phantom record: framing is by declared Content-Chars,
    and a candidate delimiter inside a declared body span is body
    content (r8 advice — the old delimiter-split parser mis-framed
    this). Container layout mirrors the fixture writer exactly: each
    record row is terminated by the text sink's '\\n'."""
    from gdxpy_spark.operators.llm import parse_warc_containers

    body1 = "alpha beta WARC/1.0\ngamma delta"  # contains the delimiter
    body2 = "plain body"
    recs = []
    for did, body in ((7, body1), (8, body2)):
        recs.append(
            f"WARC/1.0\nWARC-Record-ID: {did}\n"
            f"Content-Chars: {len(body)}\n\n{body}"
        )
    container = "\n".join(recs) + "\n"  # text-sink row terminators
    raw = spark.createDataFrame([(container,)], "value string")
    got = {
        r.doc_id: (r.content_len, r.len_ok, r.n_tokens)
        for r in parse_warc_containers(raw).collect()
    }
    # split-on-' ': alpha | beta | WARC/1.0\ngamma | delta → 4 tokens;
    # exactly two records — the in-body delimiter opened no phantom row
    assert got == {
        7: (len(body1), True, 4),
        8: (len(body2), True, 2),
    }


def test_warc_tokens_exact(spark):
    from gdxpy_spark.operators.llm import parse_warc_containers

    body = "one two  three"
    container = (
        f"WARC/1.0\nWARC-Record-ID: 1\nContent-Chars: {len(body)}\n\n{body}\n"
    )
    raw = spark.createDataFrame([(container,)], "value string")
    rows = parse_warc_containers(raw).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.content_len, r.len_ok, r.n_tokens) == (
        1, len(body), True, 3,
    )


# ---- session: host-clamped driver memory default ---------------------------


def test_default_driver_mem_clamps(monkeypatch):
    import gdxpy_spark.session as sess

    got = sess._default_driver_mem()
    assert got.endswith("g")
    gib = int(got[:-1])
    assert 2 <= gib <= 16


def test_malformed_cpus_env_falls_back(spark, monkeypatch):
    """A non-integer SPARK_GRAFT_CPUS (e.g. "auto") must fall back to the
    host's core count instead of crashing get_spark."""
    import os

    import gdxpy_spark.session as sess

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "auto")
    assert sess._default_cpus() == (os.cpu_count() or 4)
    # same app name and partitions as the test session, so the shared
    # session's runtime conf is left as it was
    got = sess.get_spark(app="gdxpy_spark_tests", shuffle_partitions=4)
    assert got.sparkContext is spark.sparkContext


def test_malformed_env_values_log_one_warning(monkeypatch, caplog):
    """A malformed SPARK_GRAFT_CPUS or GDXPS_IVF_TARGET_CELL falls back to
    its default and logs one WARNING naming the variable; an unset or
    valid value logs nothing."""
    import logging
    import os

    import gdxpy_spark.session as sess
    from gdxpy_spark.operators import llm

    caplog.set_level(logging.WARNING)
    for bad in ("auto", "-2", "0"):
        caplog.clear()
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert sess._default_cpus() == (os.cpu_count() or 4)
        monkeypatch.setenv("GDXPS_IVF_TARGET_CELL", bad)
        assert llm._ivf_target_cell() is None
        got = [(r.name, r.levelname) for r in caplog.records]
        assert got == [
            ("gdxpy_spark.session", "WARNING"),
            ("gdxpy_spark.operators.llm", "WARNING"),
        ]
        assert "SPARK_GRAFT_CPUS" in caplog.records[0].getMessage()
        assert "GDXPS_IVF_TARGET_CELL" in caplog.records[1].getMessage()
    # a malformed target cell must not change the cell count: √n default
    assert llm._ivf_k(10_000, target_cell=llm._ivf_target_cell()) == llm._ivf_k(10_000)

    caplog.clear()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("GDXPS_IVF_TARGET_CELL", "64")
    assert sess._default_cpus() == 3 and llm._ivf_target_cell() == 64
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.delenv("GDXPS_IVF_TARGET_CELL")
    assert sess._default_cpus() == (os.cpu_count() or 4)
    assert llm._ivf_target_cell() is None
    assert not caplog.records


def test_engine_env_var_set_is_pinned():
    """The engine reads exactly these env vars. A new knob must change
    this test (and say why it cannot be an option or a constant)."""
    import pathlib
    import re

    import gdxpy_spark

    read = re.compile(
        r"""os\.(?:environ\.get\(|environ\[|getenv\()\s*["']([^"']+)["']"""
    )
    root = pathlib.Path(gdxpy_spark.__file__).parent
    found = {
        m.group(1)
        for path in root.rglob("*.py")
        for m in read.finditer(path.read_text())
    }
    assert found == {
        "GDXPS_IVF_TARGET_CELL", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
    }


def test_every_driver_cut_has_a_forced_path_test():
    """Every module-level driver cut (``_*_DRIVER_MAX_*``) under
    gdxpy_spark/ names the test that forces its Spark path and checks
    it against the driver path. A new cut must add its entry here, and
    renaming or deleting the named test fails this one."""
    import ast
    import pathlib
    import re

    import gdxpy_spark

    forced_path_tests = {
        "_CC_DRIVER_MAX_EDGES":
            ("test_r11_ops.py", "test_connected_components_star_vs_union_find"),
        "_COPURCHASE_DRIVER_MAX_LINES":
            ("test_r14_ops.py", "test_graph_queries_match_oracle_on_both_paths"),
        "_LLOYD_DRIVER_MAX_VECTORS":
            ("test_r12_ops.py", "test_lloyd_callers_match_oracle_on_both_paths"),
        "_MINHASH_DRIVER_MAX_DOCS":
            ("test_text_analysis.py", "test_minhash_dedup_matches_oracle_on_both_paths"),
    }
    cut = re.compile(r"_\w+_DRIVER_MAX_\w+")
    root = pathlib.Path(gdxpy_spark.__file__).parent
    found = {
        t.id
        for path in root.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        if isinstance(t, ast.Name) and cut.fullmatch(t.id)
    }
    assert found == set(forced_path_tests)
    tests_dir = pathlib.Path(__file__).parent
    for const, (fname, test) in forced_path_tests.items():
        defined = {
            node.name
            for node in ast.parse((tests_dir / fname).read_text()).body
            if isinstance(node, ast.FunctionDef)
        }
        assert test in defined, (const, fname, test)


# ---- r9 operator semantics --------------------------------------------------


def test_geo_radius_matches_brute_force(spark):
    """The grid-cell join must equal the O(n²) all-pairs reference —
    a pair straddling a cell boundary that the 3×3 probe missed, or a
    duplicate from double-counted probe cells, fails here."""
    from gdxpy_spark import registry

    got = sorted(
        tuple(r)
        for r in registry.all_queries()["join_geo_radius"]
        .fn(spark, SF_DIR)
        .collect()
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/customer.parquet')"
    )
    brute = sorted(
        con.execute(
            """
WITH pts AS (
  SELECT c_custkey AS k,
         CAST((c_custkey % 180) * 1000000 - 89500000 AS BIGINT) AS ilat,
         CAST(((c_custkey * 7) % 360) * 1000000 - 179500000 AS BIGINT) AS ilon
  FROM customer)
SELECT a.k, b.k,
       (a.ilat-b.ilat)*(a.ilat-b.ilat) + (a.ilon-b.ilon)*(a.ilon-b.ilon)
FROM pts a JOIN pts b ON a.k < b.k
WHERE (a.ilat-b.ilat)*(a.ilat-b.ilat) + (a.ilon-b.ilon)*(a.ilon-b.ilon)
      <= 4000000000000
"""
        ).fetchall()
    )
    assert got == brute and len(got) > 0


def test_triangles_match_unoriented_count(spark):
    """Degree-oriented counting must equal the naive a<b<c closure /1 —
    i.e. each triangle generated and found exactly once."""
    from gdxpy_spark import registry

    row = (
        registry.all_queries()["graph_triangles"]
        .fn(spark, SF_DIR)
        .collect()[0]
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    naive = con.execute(
        """
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
e AS (SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT COUNT(*) FROM e e1
JOIN e e2 ON e2.pa = e1.pb
JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""
    ).fetchone()[0]
    assert row.n_triangles == naive and naive > 0


def test_ewma_matches_python_fold(spark):
    """The JVM fold must equal a per-user Python fold over the same
    (ts, event_id)-ordered values — bit-exact before the final round."""
    from gdxpy_spark.tables import table as t

    ev = t(spark, SF_DIR, "events").select("user_id", "ts", "event_id", "value")
    rows = ev.collect()
    seqs = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(float(r.value))
    expect = {}
    for u, xs in seqs.items():
        acc = xs[0]
        for x in xs[1:]:
            acc = 0.25 * x + 0.75 * acc
        expect[u] = (len(xs), round(acc, 6) + 0.0)
    from gdxpy_spark import registry

    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in registry.all_queries()["ts_ewma"].fn(spark, SF_DIR).collect()
    }
    assert got == expect


def test_documents_ascii_invariant(spark):
    """mm_exact_dedup's oracle slices CHARS while the engine slices
    payload BYTES; they coincide only while the corpus stays pure
    ASCII — pin the assumption the docstring states."""
    from gdxpy_spark.tables import table as t

    docs = t(spark, SF_DIR, "documents")
    import pyspark.sql.functions as F

    n_bad = docs.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert n_bad == 0


def test_mlm_mask_rate_and_reassembly(spark):
    from gdxpy_spark import registry

    df = registry.all_queries()["llm_mlm_mask"].fn(spark, SF_DIR)
    rows = df.collect()
    tot = sum(r.n_tokens for r in rows)
    masked = sum(r.n_masked for r in rows)
    # 0x26/0x100 = 14.84 % expected; allow a generous band
    assert 0.12 < masked / tot < 0.18
    for r in rows[:20]:
        toks = r.masked_text.split(" ")
        assert len(toks) == r.n_tokens
        assert sum(1 for x in toks if x == "<mask>") == r.n_masked


def test_bm25_stats_join_is_tiny_glue(spark):
    """BM25's only joins are the 1-row stats glue: no sort-merge join,
    no data-sized shuffle beyond the single metadata aggregate."""
    from gdxpy_spark import registry
    from gdxpy_spark.plans.inspect import formatted_plan

    plan = formatted_plan(
        registry.all_queries()["llm_bm25_score"].fn(spark, SF_DIR)
    )
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_autocorr_reuses_one_partition_order(spark):
    """The lag pass and the rolling-moment pass must share ONE user_id
    exchange — a second shuffle between them means the frames lost the
    partition order."""
    from gdxpy_spark import registry
    from gdxpy_spark.plans.inspect import formatted_plan

    plan = formatted_plan(
        registry.all_queries()["ts_autocorr"].fn(spark, SF_DIR)
    )
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # tree+detail


def test_ip_cidr_every_branch_reachable(spark):
    """The /12 branch shipped with a dead comparison constant
    (172·256+16 instead of (172<<4)|1) that parity could not catch —
    both engines carried the same bug. Pin reachability: at sf0.01 the
    synthetic octets hit 10/8, 172.16/12 and public (192.168/16 needs
    o2=168 exactly, which first occurs at larger keys — checked
    arithmetically, not asserted here)."""
    from gdxpy_spark import registry

    rows = registry.all_queries()["fn_ip_cidr"].fn(spark, SF_DIR).collect()
    subnets = {r.subnet for r in rows}
    assert {"10.0.0.0/8", "172.16.0.0/12", "public"} <= subnets, subnets
    # spot-check the CIDR algebra for one known member of each block
    for r in rows:
        o1 = int(r.ip_str.split(".")[0])
        o2 = int(r.ip_str.split(".")[1])
        if o1 == 172 and 16 <= o2 <= 31:
            assert r.subnet == "172.16.0.0/12", r
        elif o1 == 10:
            assert r.subnet == "10.0.0.0/8", r
        elif o1 == 192 and o2 == 168:
            assert r.subnet == "192.168.0.0/16", r


def test_warc_misdeclared_length_resyncs(spark):
    """A record with an over-declared Content-Chars must record
    len_ok=false (its declared boundary lands mid-text, not on a
    version line or EOF) and the parser must RESYNC so the following
    record still parses — one corrupt header costs one record, not
    the container tail."""
    from gdxpy_spark.operators.llm import parse_warc_containers

    good1 = "first body"
    bad_body = "corrupted record body"
    good2 = "tail body survives"
    container = (
        f"WARC/1.0\nWARC-Record-ID: 1\nContent-Chars: {len(good1)}\n\n{good1}\n"
        # declared length +7: boundary check fails, parser resyncs
        f"WARC/1.0\nWARC-Record-ID: 2\nContent-Chars: {len(bad_body) + 7}\n\n{bad_body}\n"
        f"WARC/1.0\nWARC-Record-ID: 3\nContent-Chars: {len(good2)}\n\n{good2}\n"
    )
    raw = spark.createDataFrame([(container,)], "value string")
    got = {r.doc_id: (r.len_ok, r.n_tokens) for r in
           parse_warc_containers(raw).collect()}
    assert got[1] == (True, 2)
    assert got[2][0] is False          # integrity check caught it
    assert got[3] == (True, 3)         # tail recovered via resync
    assert set(got) == {1, 2, 3}
