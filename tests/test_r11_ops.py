"""Round-11 operator tests: the partsupp-derived TPC-H shapes
(Q9/Q11/Q20 — the three queries previously schema-blocked by the
missing partsupp table, unblocked via the deterministic derived
relation), plan-shape pins for each, and the derived-partsupp
invariants themselves."""

import re

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name, sf=SF_DIR):
    from gdxpy_spark.plans.inspect import formatted_plan
    from gdxpy_spark.registry import all_queries

    return formatted_plan(all_queries()[name].fn(spark, sf))


# ---- derived partsupp invariants --------------------------------------------


def test_partsupp_is_deterministic_and_bounded(spark):
    """The derived partsupp must be a pure function of the lineitem
    pair set: one row per DISTINCT (partkey, suppkey), measures inside
    their documented integer ranges, and bit-identical across two
    independent builds (no RNG stream anywhere)."""
    from gdxpy_spark.operators.tpch_shapes import _partsupp

    ps = _partsupp(spark, SF_DIR)
    rows = ps.collect()
    n_pairs = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .count()
    )
    assert len(rows) == n_pairs
    assert all(10000 <= r.cost_c <= 99999 for r in rows)
    assert all(1 <= r.ps_availqty <= 9999 for r in rows)
    again = {(r.ps_partkey, r.ps_suppkey): (r.cost_c, r.ps_availqty)
             for r in _partsupp(spark, SF_DIR).collect()}
    assert {(r.ps_partkey, r.ps_suppkey): (r.cost_c, r.ps_availqty)
            for r in rows} == again


# ---- Q9: six-table profit rollup --------------------------------------------


def test_q9_no_bnlj_and_selective_filter_pushed(spark):
    """The 6-table profit join must be all equi-joins (no BNLJ, no
    cartesian), with the one selective predicate — the part-name
    family — pushed into the part SCAN, and the lineitem scan pruned
    to the five columns the query touches."""
    plan = _plan(spark, "tpch_q9_shape")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan
    # LIKE '%gear%' pushes to the part scan as a StringContains filter
    assert "StringContains(p_name,gear)" in plan, plan
    # lineitem ReadSchema is pruned: untouched columns appear nowhere
    assert "l_tax" not in plan and "l_returnflag" not in plan, plan


def test_q9_profit_milli_to_cents_half_up_ties(spark):
    """The milli→cents conversion (the final presentation step) must
    round HALF-UP away from zero in exact integer arithmetic — the
    sf0.01 differential caught a +5-milli tie (…255 milli) where a raw
    double /1000 flipped the last cent between engines."""
    df = spark.createDataFrame(
        [(1266986255,), (-1266986255,), (15,), (-15,), (14,), (-14,)],
        "s_m long",
    ).select(
        F.expr(
            "CASE WHEN s_m >= 0 THEN (s_m + 5) div 10 "
            "ELSE -((-s_m + 5) div 10) END"
        ).alias("cents")
    )
    assert [r.cents for r in df.collect()] == [
        126698626, -126698626, 2, -2, 1, -1]


# ---- Q11: group threshold via reused aggregate -------------------------------


def test_q11_threshold_is_single_row_cross(spark):
    """The HAVING-with-global-scalar must surface as exactly ONE
    BroadcastNestedLoopJoin whose build side is the 1-row total — not
    a per-row correlated probe and not a second join of partsupp."""
    plan = _plan(spark, "tpch_q11_shape")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_q11_total_reuses_group_stage_not_a_rescan(spark):
    """The nation total must come from the per-part groups, physically
    REUSING their shuffle stage: the AQE final plan reads lineitem at
    most once (the tot branch consumes a reused ShuffleQueryStage).
    Run at sf0.01 — at sf0.001 the result is empty and AQE collapses
    the plan to EmptyRelation, which would vacuously pass."""
    from gdxpy_spark.registry import all_queries

    df = all_queries()["tpch_q11_shape"].fn(spark, "/root/testdata/sf0.01")
    assert len(df.collect()) > 0
    final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    final_section = final.split("== Initial Plan ==")[0]
    assert final_section.count("lineitem.parquet") <= 1, final_section


# ---- Q20: excess-stock suppliers ---------------------------------------------


def test_q20_equi_joins_only_and_date_pushed(spark):
    """Decorrelated Q20 must be equi-joins + aggregates only, with the
    ship-year window pushed into the lineitem SCAN (the aggregate runs
    over one year, not all years filtered later)."""
    plan = _plan(spark, "tpch_q20_shape")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThanOrEqual(l_shipdate" in ln for ln in pushed), plan


def test_q20_inner_join_drops_unshipped_pairs(spark):
    """TPC-H's `availqty > 0.5*(SELECT SUM ...)` is NULL-false when no
    lineitem matched the year window — pairs with zero shipped rows
    must NOT appear. Every returned supplier must hold at least one
    in-window shipment of a matching part (checked independently of
    the query path)."""
    from gdxpy_spark.registry import all_queries

    got = {r.s_suppkey
           for r in all_queries()["tpch_q20_shape"].fn(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").filter(
        F.col("p_name").like("small%")
    )
    shippers = {
        r.l_suppkey
        for r in li.join(part, li.l_partkey == part.p_partkey)
        .select("l_suppkey").distinct().collect()
    }
    assert got <= shippers


# ---- star-contraction connected components (r10 verdict directive #7) -------


def _uf_components(edges):
    """Driver-side union-find oracle: doc_id -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("id_type", ["INT", "BIGINT", "STRING"])
def test_min_id_components_kernel_matches_union_find(id_type):
    """The driver kernel called directly, no Spark: its hook-and-shortcut
    labels equal the union-find oracle on 200 pseudo-random graphs and
    on a shuffled 10^5-node chain (hook-and-shortcut's worst case), and
    keep the id type. Empty input, and input of only self-loops or null
    ids, gives no node."""
    import random

    import pyarrow as pa

    from gdxpy_spark.operators import llm

    t = {"INT": pa.int32(), "BIGINT": pa.int64(), "STRING": pa.string()}[id_type]
    cast = str if id_type == "STRING" else int

    def labels(a, b):
        node, root = llm._min_id_components(pa.array(a, t), pa.array(b, t))
        assert node.type == t and root.type == t
        return dict(zip(node.to_pylist(), root.to_pylist()))

    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(1, 60)
        edges = [
            (cast(rng.randrange(n)), cast(rng.randrange(n)))
            for _ in range(rng.randint(1, 80))
        ]
        want = _uf_components([(a, b) for a, b in edges if a != b])
        assert labels(*zip(*edges)) == want
    chain = [cast(i) for i in range(100_000)]
    rng.shuffle(chain)
    assert labels(chain[:-1], chain[1:]) == _uf_components(zip(chain, chain[1:]))
    assert labels([], []) == {}
    assert labels([cast(5), cast(6)], [cast(5), cast(6)]) == {}
    assert labels([None, cast(1), None], [cast(2), None, None]) == {}


def cc_on_both_paths(spark, monkeypatch, edges, **kw):
    """{path: {doc_id: component_id}} from connected_components as
    dispatched (every test graph is below the cut: driver union-find) and
    with the cut patched below zero, which forces _star_contraction.
    Also pins the path each took and one label row per node."""
    from gdxpy_spark.operators import llm

    out = {}
    for path, cut in (("spark", -1), ("driver", llm._CC_DRIVER_MAX_EDGES)):
        monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", cut)
        cc = llm.connected_components(spark, edges, **kw)
        assert _is_local_scan(cc) == (path == "driver")
        rows = cc.collect()
        assert len(rows) == len({r.doc_id for r in rows})
        out[path] = {r.doc_id: r.component_id for r in rows}
    return out


def _is_local_scan(df):
    from gdxpy_spark.plans.inspect import formatted_plan

    return formatted_plan(df).startswith("== Physical Plan ==\nLocalTableScan")


@pytest.mark.parametrize(
    "name,edges",
    [
        # a long path is star contraction's worst case (O(log^2 n) rounds)
        ("path", [(i, i + 1) for i in range(200)]),
        # two dense cliques bridged by one edge — the dedup-graph shape
        ("cliques", [(a, b) for a in range(30) for b in range(a + 1, 30)]
                    + [(a, b) for a in range(100, 125) for b in range(a + 1, 125)]
                    + [(29, 100)]),
        # binary tree + isolated pair + reversed-orientation duplicates
        ("tree", [(i, 2 * i + 1) for i in range(63)]
                 + [(2 * i + 2, i) for i in range(63)]
                 + [(900, 901), (901, 900)]),
    ],
)
def test_connected_components_star_vs_union_find(spark, monkeypatch, name, edges):
    """Both CC paths (driver union-find and large-star/small-star) must
    agree exactly with the tests' own union-find on adversarial
    topologies (Kiveris 2014 invariant: the fixpoint is a star forest
    rooted at each component minimum)."""
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _uf_components(edges)
    assert cc_on_both_paths(spark, monkeypatch, df) == {"driver": want, "spark": want}


def test_connected_components_star_deterministic_pseudorandom(spark, monkeypatch):
    """A 500-node pseudo-random graph (LCG, fixed seed — no RNG stream)
    must match union-find on both paths, with exactly ONE label row per
    node (the star-forest output can't duplicate a doc_id)."""
    x, edges = 12345, []
    for _ in range(400):
        x = (x * 1103515245 + 12345) % (2**31)
        a = x % 500
        x = (x * 1103515245 + 12345) % (2**31)
        b = x % 500
        if a != b:
            edges.append((a, b))
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _uf_components(edges)
    assert cc_on_both_paths(spark, monkeypatch, df) == {"driver": want, "spark": want}


def test_connected_components_copurchase_graph_both_paths(spark, monkeypatch):
    """Real data: graph_components' co-purchase edges get identical
    labels on both paths, equal to the union-find oracle."""
    from gdxpy_spark.operators.graphs import _copurchase_edges

    df = _copurchase_edges(spark, SF_DIR).select(
        F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b")
    )
    want = _uf_components([(r.doc_a, r.doc_b) for r in df.collect()])
    assert len(want) > 100
    assert cc_on_both_paths(spark, monkeypatch, df) == {"driver": want, "spark": want}


def test_connected_components_dispatch_boundary(spark, monkeypatch):
    """The cut counts distinct oriented edges: exactly `cut` of them
    (padded with reversed duplicates and self-loops) take the driver
    path, one more takes star contraction, with the same labels."""
    from gdxpy_spark.operators import llm

    cut = 8
    monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", cut)
    chain = [(i, i + 1) for i in range(cut)]
    noise = [(b, a) for a, b in chain] + [(3, 3), (40, 40)]
    at_cut = spark.createDataFrame(chain + noise, "doc_a INT, doc_b INT")
    over = spark.createDataFrame(chain + noise + [(20, 21)], "doc_a INT, doc_b INT")
    got = llm.connected_components(spark, at_cut)
    assert _is_local_scan(got)
    assert dict(got.collect()) == _uf_components(chain)
    got = llm.connected_components(spark, over)
    assert not _is_local_scan(got)
    assert dict(got.collect()) == _uf_components(chain + [(20, 21)])


def test_connected_components_probes_raw_edges_before_distinct(
    spark, monkeypatch, caplog
):
    """The raw oriented edges are probed first: a graph whose raw edges
    fit the cut is deduplicated on the driver and runs no Spark
    distinct. Duplicate and reversed edges whose raw count exceeds the
    cut while the distinct count does not run one distinct and still
    take the driver path, logging the distinct count."""
    import logging

    from gdxpy_spark.operators import llm

    caplog.set_level(logging.DEBUG, logger=llm.log.name)
    distincts = []
    frame = type(spark.range(1))
    distinct = frame.distinct

    def spy(self):
        distincts.append(1)
        return distinct(self)

    monkeypatch.setattr(frame, "distinct", spy)
    cut = 6
    monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", cut)
    chain = [(i, i + 1) for i in range(cut)]
    for edges, n_distinct, n_edges in (
        (chain[:3] + [(1, 0)], 0, 3),
        (chain + [(b, a) for a, b in chain] + chain + [(2, 2)], 1, cut),
    ):
        distincts.clear()
        caplog.clear()
        df = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        cc = llm.connected_components(spark, df)
        assert _is_local_scan(cc)
        assert dict(cc.collect()) == _uf_components(edges)
        assert len(distincts) == n_distinct
        assert [r.getMessage() for r in caplog.records if r.name == llm.log.name] == [
            f"connected_components: {n_edges} edges, driver path"
        ]


@pytest.mark.parametrize("id_type", ["INT", "BIGINT", "STRING"])
def test_connected_components_schema_follows_id_type(spark, monkeypatch, id_type):
    """Both paths return (doc_id, component_id) of the input id type;
    an empty edge list and one of only self-loops give an empty frame
    of that schema."""
    from gdxpy_spark.operators import llm

    ddl = f"doc_a {id_type}, doc_b {id_type}"
    t = spark.createDataFrame([], ddl).schema["doc_a"].dataType
    cast = str if id_type == "STRING" else int
    cases = {
        "graph": [(cast(a), cast(b)) for a, b in [(1, 2), (3, 2), (7, 8)]],
        "empty": [],
        "self_loops": [(cast(5), cast(5)), (cast(6), cast(6))],
    }
    for cut in (llm._CC_DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", cut)
        for case, edges in cases.items():
            cc = llm.connected_components(spark, spark.createDataFrame(edges, ddl))
            assert cc.columns == ["doc_id", "component_id"], (cut, case)
            assert [f.dataType for f in cc.schema] == [t, t], (cut, case)
            loops_dropped = [(a, b) for a, b in edges if a != b]
            assert dict(cc.collect()) == _uf_components(loops_dropped), (cut, case)


def test_connected_components_logs_path(spark, monkeypatch, caplog):
    """One DEBUG record per call on the engine's logger: the edge count
    on the driver path, the rounds to the fixpoint on the Spark path."""
    import logging

    from gdxpy_spark.operators import llm

    caplog.set_level(logging.DEBUG, logger="gdxpy_spark.operators.llm")
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (4, 4), (10, 11)], "doc_a BIGINT, doc_b BIGINT"
    )

    def messages():
        return [r.getMessage() for r in caplog.records if r.name == llm.log.name]

    llm.connected_components(spark, df)
    assert messages() == ["connected_components: 3 edges, driver path"]
    caplog.clear()
    monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", 2)
    llm.connected_components(spark, df)
    (msg,) = messages()
    assert re.fullmatch(
        r"connected_components: spark path, \d+ rounds, fixpoint reached", msg
    ), msg


# ---- sampled BPE training (r10 verdict directive #5) -------------------------


def _bpe_train_sample_ids(rows, cap=2000):
    """The engine's training-sample membership rule, driver-side:
    md5(str(doc_id)) 4-hex prefix under cap/n scaled to 16 bits."""
    import hashlib

    n = len(rows)
    if n <= cap:
        return rows
    thr = format(max(1, int(cap / n * 0x10000)), "04x")
    return [
        r for r in rows
        if hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4] < thr
    ]


def test_bpe_train_sampled_matches_reference_on_the_same_sample(spark):
    """Above the doc cap the trainer runs on an md5-range sample; the
    merge table must still be DETERMINISTIC — bit-identical to the
    pure-Python reference BPE trained on the identical (pure-function-
    of-doc_id) sample. sf0.1 is the smallest corpus that trips the cap
    (5000 docs -> ~2000 sampled)."""
    from gdxpy_spark.operators.llm import _BPE_TRAIN_DOC_CAP
    from gdxpy_spark.registry import all_queries
    from tests.test_r8_ops import _ref_bpe

    sf = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(docs) > _BPE_TRAIN_DOC_CAP  # the cap must actually engage
    sample = _bpe_train_sample_ids(docs, _BPE_TRAIN_DOC_CAP)
    assert len(sample) < len(docs)
    wf: dict[str, int] = {}
    for r in sample:
        for w in r["text"].split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    expect = _ref_bpe(wf, 10)
    got = [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in all_queries()["llm_bpe_train"].fn(spark, sf).collect()
    ]
    assert got == expect and len(got) == 10


def test_bpe_train_sample_preserves_top_merges(spark):
    """Quality bound for the sampling design: the sampled merge table
    must share >= 8/10 merge PAIRS with full-corpus training (argmax
    over Zipf-heavy pair counts is robust to uniform sampling; exact
    ORDER may differ, which is why the pin is set overlap)."""
    from gdxpy_spark.operators.llm import _BPE_TRAIN_DOC_CAP
    from tests.test_r8_ops import _ref_bpe

    sf = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()

    def wfreq(rows):
        wf: dict[str, int] = {}
        for r in rows:
            for w in r["text"].split(" "):
                if w:
                    wf[w] = wf.get(w, 0) + 1
        return wf

    full = {(l, r) for _s, l, r, _c in _ref_bpe(wfreq(docs), 10)}
    samp = {
        (l, r)
        for _s, l, r, _c in _ref_bpe(
            wfreq(_bpe_train_sample_ids(docs, _BPE_TRAIN_DOC_CAP)), 10
        )
    }
    assert len(full & samp) >= 8


# ---- unrolled pointer-doubling CC oracle (r10 verdict directive #4) ----------


def test_cc_oracle_rounds_converged_at_configured_depth(duck):
    """_cc_prop_rounds_sql promises the label-propagation rounds have
    CONVERGED at _CC_ROUNDS on the corpora the oracle checks — pin it:
    the minhash-dedup oracle must produce identical rows at depth
    _CC_ROUNDS and _CC_ROUNDS+1 (an unconverged depth would under-merge
    and silently pass only until the graph got deeper)."""
    from gdxpy_spark.operators.llm import (
        _CC_ROUNDS,
        _MINHASH_DEDUP_ORACLE,
        _cc_prop_rounds_sql,
    )

    deeper = _MINHASH_DEDUP_ORACLE.replace(
        _cc_prop_rounds_sql(_CC_ROUNDS), _cc_prop_rounds_sql(_CC_ROUNDS + 1)
    ).replace(
        f"FROM lab{_CC_ROUNDS} WHERE id <> lab",
        f"FROM lab{_CC_ROUNDS + 1} WHERE id <> lab",
    )
    assert f"lab{_CC_ROUNDS + 1}" in deeper  # both replacements engaged
    base = sorted(duck.execute(_MINHASH_DEDUP_ORACLE).fetchall())
    deep = sorted(duck.execute(deeper).fetchall())
    assert base == deep and base


def test_clusters_oracle_rounds_converged_at_configured_depth(duck):
    """r11 advice: _CLUSTERS_ORACLE builds a DIFFERENT graph than the
    minhash oracle (0.8-threshold, bucket-blocked — sparser, so
    potentially LONGER chains), and convergence at _CC_ROUNDS was only
    pinned for the 0.5-threshold graph. Pin this one too: identical
    rows at depth _CC_ROUNDS and _CC_ROUNDS+1."""
    from gdxpy_spark.operators.llm import (
        _CC_ROUNDS,
        _CLUSTERS_ORACLE,
        _cc_prop_rounds_sql,
    )

    deeper = _CLUSTERS_ORACLE.replace(
        _cc_prop_rounds_sql(_CC_ROUNDS), _cc_prop_rounds_sql(_CC_ROUNDS + 1)
    ).replace(
        f"FROM lab{_CC_ROUNDS} WHERE id <> lab",
        f"FROM lab{_CC_ROUNDS + 1} WHERE id <> lab",
    )
    assert f"lab{_CC_ROUNDS + 1}" in deeper  # both replacements engaged
    base = sorted(duck.execute(_CLUSTERS_ORACLE).fetchall())
    deep = sorted(duck.execute(deeper).fetchall())
    assert base == deep and base


# ---- Kneser-Ney bigram LM scoring (r11 addition) -----------------------------


def test_kneser_ney_matches_python_reference(spark):
    """The distributed KN estimator must reproduce a driver-side
    pure-Python Kneser-Ney (d=0.75, continuation counts, micro-nat
    quantization) EXACTLY — counts, discount mass and the rounding
    discipline all pinned, not just the shape."""
    import math
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from gdxpy_spark.registry import all_queries

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    bi_by_doc, cb = defaultdict(list), Counter()
    for r in docs:
        ws = [w for w in r["text"].split(" ") if w]
        pairs = list(zip(ws, ws[1:]))
        if pairs:
            bi_by_doc[r["doc_id"]] = pairs
            cb.update(pairs)
    c1, n1f, n1r = Counter(), Counter(), Counter()
    for (w1, w2), c in cb.items():
        c1[w1] += c
        n1f[w1] += 1
        n1r[w2] += 1
    B = len(cb)
    q = {}
    for (w1, w2), c in cb.items():
        p = (float(c) - 0.75) / c1[w1] + 0.75 * n1f[w1] / c1[w1] * (
            float(n1r[w2]) / B
        )
        # Spark F.round(x, 0) is HALF_UP on the double's shortest repr
        q[(w1, w2)] = int(
            Decimal(repr(math.log(p) * 1000000.0)).quantize(
                Decimal("1"), ROUND_HALF_UP
            )
        )
    expect = {}
    for doc_id, pairs in bi_by_doc.items():
        s = sum(q[p] for p in pairs)
        expect[doc_id] = (
            len(pairs),
            float(
                Decimal(repr(s / len(pairs) / 1000000.0)).quantize(
                    Decimal("0.0001"), ROUND_HALF_UP
                )
            ),
        )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_logp"])
        for r in all_queries()["llm_kneser_ney"].fn(spark, SF_DIR).collect()
    }
    assert got == expect


# ---- DSIR importance weights (r11 addition) ----------------------------------


def test_dsir_separates_target_language(spark):
    """The whole point of DSIR: documents FROM the target distribution
    (lang='en') must score higher on average than documents outside it.
    The synthetic corpus draws all languages from one shared vocabulary
    (lang is a column, not a vocabulary shift), so the gap is small but
    its SIGN is a deterministic property of the fixed corpus — pinned
    strictly. Also pins determinism across 2 runs."""
    from gdxpy_spark.registry import all_queries

    docs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    run1 = {
        r["doc_id"]: (r["n_feats"], r["dsir_logratio"])
        for r in all_queries()["llm_dsir_weights"].fn(spark, SF_DIR).collect()
    }
    run2 = {
        r["doc_id"]: (r["n_feats"], r["dsir_logratio"])
        for r in all_queries()["llm_dsir_weights"].fn(spark, SF_DIR).collect()
    }
    assert run1 == run2
    en = [v[1] for k, v in run1.items() if docs[k] == "en"]
    other = [v[1] for k, v in run1.items() if docs[k] != "en"]
    assert en and other
    mean_en = sum(en) / len(en)
    mean_other = sum(other) / len(other)
    assert mean_en > mean_other, (mean_en, mean_other)


# ---- graph_components star-round oracle convergence ---------------------------


def test_graph_components_star_oracle_converged(duck):
    """The unrolled star-contraction oracle must be at its fixpoint at
    the configured depth: one more round changes nothing (an
    unconverged depth would under-merge silently on a deeper graph)."""
    from gdxpy_spark.operators.graphs import (
        _GRAPH_CC_ROUNDS,
        _components_oracle,
    )
    from gdxpy_spark.operators.llm import _cc_star_rounds_sql

    n = _GRAPH_CC_ROUNDS
    base_sql = _components_oracle()
    deeper = base_sql.replace(
        _cc_star_rounds_sql(n), _cc_star_rounds_sql(n + 1)
    ).replace(f"FROM se{n}\n", f"FROM se{n + 1}\n")
    assert f"se{n + 1}" in deeper
    base = sorted(duck.execute(base_sql).fetchall())
    deep = sorted(duck.execute(deeper).fetchall())
    assert base == deep and base


# ---- deterministic Lloyd k-means (r11 addition) -------------------------------


def test_kmeans_lloyd_matches_python_reference(spark):
    """The distributed Lloyd loop must reproduce a driver-side
    pure-Python k-means EXACTLY — md5-ranked seeding, 9-decimal centroid
    quantization, (distance, cell) argmin tie-break and the final
    4-decimal distances all pinned. Also the classic invariant: total
    SSE is non-increasing round over round in the reference."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from gdxpy_spark.operators.llm import _KMEANS_K, _KMEANS_ROUNDS
    from gdxpy_spark.registry import all_queries

    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    seeds = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    cents = [list(vecs[i]) for i in seeds[:_KMEANS_K]]

    def r9(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        )

    def assign(cents):
        out = {}
        for vid, v in vecs.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), j)
                for j, c in enumerate(cents)
            )
            out[vid] = best  # (d2, cell)
        return out

    sses = []
    for _ in range(_KMEANS_ROUNDS):
        asg = assign(cents)
        sses.append(sum(d for d, _ in asg.values()))
        by_cell = {}
        for vid, (_d, c) in asg.items():
            by_cell.setdefault(c, []).append(vecs[vid])
        for c, members in by_cell.items():
            n = len(members)
            cents[c] = [
                r9(sum(m[d] for m in members) / n) for d in range(64)
            ]
    assert all(a >= b - 1e-9 for a, b in zip(sses, sses[1:]))  # SSE monotone
    final = assign(cents)
    expect = {
        vid: (
            c,
            float(
                Decimal(repr(d)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
            ),
        )
        for vid, (d, c) in final.items()
    }
    got = {
        r["vec_id"]: (r["cell"], r["dist2"])
        for r in all_queries()["llm_kmeans_lloyd"].fn(spark, SF_DIR).collect()
    }
    assert got == expect


def test_ivf_checked_recall_floor_vs_brute(spark):
    """llm_ann_ivf_checked must find the TRUE nearest neighbor (per
    llm_knn_brute) for a healthy fraction of vectors — nprobe=2 over 16
    cells on this near-uniform corpus sits around 0.4-0.6; the floor
    pins against silent recall collapse (e.g. a broken probe ranking
    would still produce plausible-looking rows)."""
    from gdxpy_spark.registry import all_queries

    sf = "/root/testdata/sf0.01"
    brute = {
        r["vec_id"]: r["nn_id"]
        for r in all_queries()["llm_knn_brute"].fn(spark, sf).collect()
    }
    got = {
        r["vec_id"]: r["nn_id"]
        for r in all_queries()["llm_ann_ivf_checked"].fn(spark, sf).collect()
    }
    assert set(got) == set(brute)
    recall = sum(got[v] == brute[v] for v in brute) / len(brute)
    assert recall >= 0.3, recall
