"""r14 operator tests: llm_substring_cut (the Lee-et-al rewrite stage),
mm_e2e_dedup (the three-tier media dedup funnel), and the phash
signature-cache reuse the r13 verdict asked for."""

from __future__ import annotations

import pytest

from gdxpy_spark import registry
from tests.conftest import SF_DIR

ALL = registry.all_queries()


def test_substring_cut_consistent_with_dedup_stats(spark):
    """Cross-op pin (r13 verdict #4): llm_substring_cut's coverage must
    agree with llm_substring_dedup's measured statistics on the same
    corpus — dup_spans counts the duplicated START positions, and each
    start covers exactly k words, so per doc:

        dup_spans <= cut_words <= k * dup_spans   (union of k-windows)

    and the set of docs with anything cut IS the set with dup_spans>0."""
    from gdxpy_spark.operators.llm import _SUBSTR_K

    cut = {
        r["doc_id"]: r
        for r in ALL["llm_substring_cut"].fn(spark, SF_DIR).collect()
    }
    stats = {
        r["doc_id"]: r
        for r in ALL["llm_substring_dedup"].fn(spark, SF_DIR).collect()
    }
    # substring_dedup only emits docs with >= k words; cut emits all —
    # every doc in stats must be in cut, and shorter docs must be uncut
    assert set(stats) <= set(cut)
    n_dup_docs = 0
    for doc_id, c in cut.items():
        s = stats.get(doc_id)
        dup_spans = s["dup_spans"] if s else 0
        if dup_spans:
            n_dup_docs += 1
            assert dup_spans <= c["cut_words"] <= _SUBSTR_K * dup_spans, (
                doc_id,
                dup_spans,
                c["cut_words"],
            )
        else:
            assert c["cut_words"] == 0, doc_id
            assert c["n_words"] == len(c["clean_text"].split(" ")), doc_id
    assert n_dup_docs > 0, "corpus plants near-dups; expected some cuts"


def test_substring_cut_rebuilds_uncut_text_exactly(spark):
    """For an uncut doc, clean_text must be the space-normalized
    original (the excision machinery must not disturb kept words)."""
    from pyspark.sql import functions as F

    from gdxpy_spark.tables import table

    cut = ALL["llm_substring_cut"].fn(spark, SF_DIR)
    docs = table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.array_join(
            F.array_remove(F.split("text", " "), ""), " "
        ).alias("norm_text"),
    )
    mism = (
        cut.filter(F.col("cut_words") == 0)
        .join(docs, "doc_id")
        .filter(F.col("clean_text") != F.col("norm_text"))
        .count()
    )
    assert mism == 0


@pytest.mark.slow
def test_mm_e2e_dedup_funnel_monotone(spark):
    """The survivor funnel must be monotone non-increasing through
    raw → exact → perceptual → semantic, anchored at the corpus size,
    and every tier must actually remove something on this corpus (it
    plants exact, perceptual, and semantic duplicates)."""
    from gdxpy_spark.tables import table

    rows = {
        r["stage"]: r["n_docs"]
        for r in ALL["mm_e2e_dedup"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"raw", "exact", "perceptual", "semantic"}
    n_docs = table(spark, SF_DIR, "documents").count()
    assert rows["raw"] == n_docs
    assert rows["raw"] >= rows["exact"] >= rows["perceptual"] >= rows["semantic"]
    assert rows["semantic"] < rows["raw"], "no tier removed anything"


@pytest.mark.slow
def test_phash_signature_subtree_is_shared(spark):
    """r13 verdict #2: the banded self-join must read the (doc_id,
    phash) signature frame from ONE materialization — both sides of
    the join (and mm_phash_clusters' pairs stage) scan the cached
    InMemoryRelation instead of rebuilding the scan→shingle→64-vote
    pipeline per subtree. Structural assertions: the cached scan
    appears on both join sides, and the raw documents scan appears at
    most once in the whole formatted plan (inside the cached plan),
    not once per side."""
    from tests.test_plans import formatted_plan

    plan = formatted_plan(ALL["mm_phash_neardup"].fn(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    assert plan.count("documents.parquet") <= 1, plan[:2000]
    spark.catalog.clearCache()

    # mm_phash_clusters' final plan is the CC star forest over a
    # localCheckpointed edge RDD (the signature work happens during the
    # contraction's materialization), so the shared subtree can't show
    # in its explain — instead pin the mechanism: building it registers
    # exactly ONE managed cache, the (doc_id, phash) signature frame.
    from gdxpy_spark.operators import _util

    _util.release_managed_caches()
    df = ALL["mm_phash_clusters"].fn(spark, SF_DIR)
    sigs = [c for c in _util._live_caches if set(c.columns) == {"doc_id", "phash"}]
    assert len(sigs) == 1, [c.columns for c in _util._live_caches]
    assert df.count() >= 0
    _util.release_managed_caches()


def test_cdc_python_reference_equivalence(spark):
    """mm_cdc_dedup against a from-scratch pure-Python reference: chunk
    every doc with the same LBFS cut rule (md5 low-32 of the byte
    4-gram & mask == 0), aggregate duplicated digests, and require the
    engine's report to match EXACTLY — the strongest possible pin,
    independent of both Spark and DuckDB expression semantics."""
    import hashlib
    from collections import defaultdict

    import pyarrow.parquet as pq

    from gdxpy_spark.operators.multimodal import _CDC_GRAM, _CDC_MASK

    tab = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    occ = defaultdict(list)  # digest -> [(doc_id, len)]
    for doc_id, text in zip(*(c.to_pylist() for c in tab.columns)):
        n = len(text)
        starts = [1] + [
            i
            for i in range(2, n - _CDC_GRAM + 2)
            if int(hashlib.md5(text[i - 1 : i - 1 + _CDC_GRAM].encode()).hexdigest()[8:16], 16)
            & _CDC_MASK
            == 0
        ]
        for s, e in zip(starts, starts[1:] + [n + 1]):
            ch = text[s - 1 : e - 1]
            occ[hashlib.md5(ch.encode()).hexdigest()].append((doc_id, len(ch)))
    expect = {
        d: (
            len(v),
            len({doc for doc, _ in v}),
            v[0][1],
            (len(v) - 1) * v[0][1],
        )
        for d, v in occ.items()
        if len(v) > 1
    }
    got = {
        r["chunk_md5"]: (r["n_copies"], r["n_docs"], r["chunk_bytes"], r["dup_bytes"])
        for r in ALL["mm_cdc_dedup"].fn(spark, SF_DIR).collect()
    }
    assert got == expect
    assert len(got) > 0, "corpus plants shared templates; expected dup chunks"


def test_cdc_chunks_cover_payload_exactly(spark):
    """Reconstruction invariant: per doc, the chunk lengths sum to the
    payload length and spans are gapless by construction — if any doc's
    chunks don't tile its body, the span arithmetic is off by one."""
    from pyspark.sql import functions as F

    from gdxpy_spark.operators.multimodal import _cdc_chunks
    from gdxpy_spark.tables import table

    got = (
        _cdc_chunks(spark, SF_DIR)
        .groupBy("doc_id")
        .agg(F.sum(F.length("chunk")).alias("covered"))
    )
    docs = table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    bad = (
        got.join(docs, "doc_id", "full")
        .filter(
            F.coalesce(F.col("covered"), F.lit(-1))
            != F.coalesce(F.col("n_chars"), F.lit(-2))
        )
        .count()
    )
    assert bad == 0


def test_cdc_exchange_carries_only_digests(spark):
    """mm_cdc_dedup's 100 TB contract: chunking and digesting are fused
    into the scan; no Exchange may carry the payload, body, or chunk
    text — only (chunk_md5, chunk_len) partials cross the one shuffle."""
    from tests.test_plans import _exchange_inputs, formatted_plan

    plan = formatted_plan(ALL["mm_cdc_dedup"].fn(spark, SF_DIR))
    exchanges = _exchange_inputs(plan)
    assert exchanges, "expected the digest-keyed aggregation shuffle"
    for sec in exchanges:
        assert "media#" not in sec and "body#" not in sec and "chunk#" not in sec, (
            sec[:800]
        )


def test_cdc_finds_shared_ranges_of_near_equal_blobs(spark):
    """Semantic pin: the corpus's head-dup groups (same payload modulo a
    short trailer) are UNequal as whole blobs but share almost all
    content. CDC's guarantee is conditional, and the pin states it
    EXACTLY: boundaries are content-defined from local 4-grams, so if
    any cut lands inside the 128-byte head the group provably shares
    (grams at i ≤ 125 are identical across members), then the first
    chunk [1, cut) is byte-identical group-wide and MUST surface as a
    shared duplicated digest. Groups with no early cut carry no
    guarantee (a ~186-byte doc with zero cut points is one chunk, and
    the trailer edit disturbs it — observed: 1 of 22 groups at
    sf0.01), which is correct CDC behavior, not a miss."""
    from pyspark.sql import functions as F

    from gdxpy_spark.operators.multimodal import (
        _CDC_GRAM,
        _CDC_MASK,
        _cdc_chunks,
        media_table,
    )

    media = media_table(spark, SF_DIR)
    early_cut = F.expr(
        f"length(media) - 16 >= 128 AND exists(sequence(2, 125), i ->"
        f" (CAST(conv(substring(md5(substring("
        f"CAST(substring(media, 17, length(media) - 16) AS STRING),"
        f" i, {_CDC_GRAM})), 9, 8), 16, 10) AS BIGINT)"
        f" & {_CDC_MASK}) = 0)"
    )
    groups = (
        media.select(
            "doc_id",
            F.sha2(F.expr("substring(media, 17, 128)"), 256).alias("head_sha"),
            early_cut.alias("early"),
        )
    )
    sizes = groups.groupBy("head_sha").agg(
        F.count("*").alias("n"),
        F.min(F.col("early").cast("int")).alias("all_early"),
    ).filter(F.col("n") > 1)
    chunks = _cdc_chunks(spark, SF_DIR).select(
        "doc_id", F.md5("chunk").alias("d")
    )
    # for each group: a digest held by every member
    member = groups.join(
        sizes.select("head_sha", F.col("n").alias("gn")), "head_sha"
    )
    full_cover = {
        r["head_sha"]
        for r in (
            chunks.join(member, "doc_id")
            .groupBy("head_sha", "d")
            .agg(F.countDistinct("doc_id").alias("k"), F.first("gn").alias("gn"))
            .filter(F.col("k") == F.col("gn"))
            .select("head_sha")
            .distinct()
            .collect()
        )
    }
    guaranteed = {
        r["head_sha"] for r in sizes.filter(F.col("all_early") == 1).collect()
    }
    n_groups = sizes.count()
    assert n_groups > 1, "corpus plants head-dup groups"
    assert len(guaranteed) > 0, "expected head-cut groups on this corpus"
    missed = guaranteed - full_cover
    assert not missed, missed


def test_lpa_python_reference_equivalence(spark):
    """graph_label_prop against a from-scratch pure-Python synchronous
    LPA (neighbor-majority, ties to smallest label, _LPA_ROUNDS
    rounds) on the same co-purchase edges — pins the round semantics
    and tie-break independently of both engines' SQL."""
    from collections import Counter, defaultdict

    from gdxpy_spark.operators.graphs import (
        _LPA_ROUNDS,
        _copurchase_edges,
    )

    edges = [
        (r["pa"], r["pb"])
        for r in _copurchase_edges(spark, SF_DIR).collect()
    ]
    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
        nbrs[b].append(a)
    lbl = {v: v for v in nbrs}
    for _ in range(_LPA_ROUNDS):
        nxt = {}
        for v, ns in nbrs.items():
            c = Counter(lbl[n] for n in ns)
            top = max(c.values())
            nxt[v] = min(l for l, k in c.items() if k == top)
        lbl = nxt
    got = {
        r["node"]: r["community_id"]
        for r in ALL["graph_label_prop"].fn(spark, SF_DIR).collect()
    }
    assert got == lbl
    # sanity: LPA must merge something but not collapse everything
    n_comm = len(set(lbl.values()))
    assert 1 < n_comm < len(lbl)


def test_lpa_argmax_is_windowless(spark):
    """The per-node argmax must be the partial-aggregable min(struct)
    form, not a ROW_NUMBER window: a per-node window sorts every
    adjacency group per round and resists map-side combine — if a
    Window node shows up in the plan, the scale shape regressed."""
    from tests.test_plans import formatted_plan

    plan = formatted_plan(ALL["graph_label_prop"].fn(spark, SF_DIR))
    assert "Window" not in plan, plan[:1500]
    # adjacency is cached once and reused across all rounds
    assert plan.count("InMemoryTableScan") >= 2


def test_kcore_python_reference_equivalence(spark):
    """graph_kcore against a from-scratch Python peel to the true
    fixpoint — pins both the engine's driver-loop termination (edge
    count stability) and the oracle's unroll bound at once."""
    from collections import defaultdict

    from gdxpy_spark.operators.graphs import _KCORE_K, _copurchase_edges

    es = {
        (r["pa"], r["pb"])
        for r in _copurchase_edges(spark, SF_DIR).collect()
    }
    n_nodes0 = len({v for ab in es for v in ab})
    while True:
        deg = defaultdict(int)
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        keep = {v for v, d in deg.items() if d >= _KCORE_K}
        nxt = {(a, b) for a, b in es if a in keep and b in keep}
        if nxt == es:
            break
        es = nxt
    expect = defaultdict(int)
    for a, b in es:
        expect[a] += 1
        expect[b] += 1
    got = {
        r["node"]: r["core_degree"]
        for r in ALL["graph_kcore"].fn(spark, SF_DIR).collect()
    }
    assert got == dict(expect)
    assert 0 < len(got) < n_nodes0, "2-core must prune whiskers, not all"
    assert min(got.values()) >= _KCORE_K


def test_kcore_oracle_rounds_past_fixpoint(spark, duck):
    """The oracle's unroll bound: _KCORE_ROUNDS and _KCORE_ROUNDS+1
    rounds must give identical results at the oracle SF — peeling is
    monotone, so equality at depth R proves R is past the fixpoint
    (the graph_components rounds-margin discipline)."""
    from gdxpy_spark.operators.graphs import _KCORE_ROUNDS, _kcore_oracle

    a = duck.execute(_kcore_oracle(_KCORE_ROUNDS)).fetchall()
    b = duck.execute(_kcore_oracle(_KCORE_ROUNDS + 1)).fetchall()
    assert sorted(a) == sorted(b)


@pytest.mark.slow
def test_mm_e2e_threaded_tiers_match_sequential(spark, monkeypatch):
    """r14 optimization round: mm_e2e_dedup runs its three independent
    dup-set tiers on concurrent driver threads (guide §2.6). Results
    must be schedule-independent — pin the registered (threaded)
    funnel against a strictly SEQUENTIAL recomposition of the same
    tier engine bodies. r15: the overlap is adaptive (sequential below
    _E2E_OVERLAP_MIN_SLOTS task slots), so force the CONCURRENT path
    through that threshold — the pin must keep exercising the threads,
    not compare sequential against sequential."""
    import gdxpy_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_E2E_OVERLAP_MIN_SLOTS", 0)
    from pyspark.sql import functions as F

    from gdxpy_spark.operators.llm import _semdedup_pairs
    from gdxpy_spark.operators.multimodal import _phash_dups, media_table
    from gdxpy_spark.tables import table

    got = {
        r["stage"]: r["n_docs"]
        for r in ALL["mm_e2e_dedup"].fn(spark, SF_DIR).collect()
    }
    media = media_table(spark, SF_DIR)
    s1 = (
        media.select(
            "doc_id",
            F.sha2(F.expr("substring(media, 17, 128)"), 256).alias("h"),
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    pdup = _phash_dups(spark, SF_DIR).select(
        F.col("dup_id").alias("doc_id")
    )
    s2 = s1.join(pdup, "doc_id", "left_anti")
    sdup = _semdedup_pairs(spark, SF_DIR).select(
        F.col("dup_id").alias("doc_id")
    )
    s3 = s2.join(sdup, "doc_id", "left_anti")
    expect = {
        "raw": table(spark, SF_DIR, "documents").count(),
        "exact": s1.count(),
        "perceptual": s2.count(),
        "semantic": s3.count(),
    }
    assert got == expect


def test_cc_single_materialization_reuses_exchanges(spark):
    """r14 optimization round: connected_components no longer
    checkpoints the large-star intermediate — the small-star job
    consumes it twice and must share its shuffle stages via AQE
    runtime reuse (one computation per round, not two). Machine-check
    the claim: the EXECUTED plan of one ls+ss round carries
    ReusedExchange nodes (plans/r14/cc_small_star_round_final_aqe.txt
    is the committed sf0.1 instance)."""
    from pyspark.sql import functions as F

    from gdxpy_spark.operators.graphs import _copurchase_edges

    edges = _copurchase_edges(spark, SF_DIR).select(
        F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b")
    )
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    sym = e.select("u", "v").union(e.select(F.col("v"), F.col("u")))
    lmin = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    ls = (
        sym.join(lmin, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    smin = ls.groupBy("u").agg(F.min("v").alias("m"))
    ss = (
        ls.join(smin, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(smin.select("u", F.col("m").alias("v")))
        .distinct()
    )
    # collect() (not count()) so the assertion reads THIS frame's own
    # executed QueryExecution — count() plans a separate pruned query
    assert len(ss.collect()) > 0
    plan = ss._sc._jvm.PythonSQLUtils.explainString(
        ss._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan[:2000]


def test_fan_out_is_identity_at_scale_parallelism(spark):
    """r14 optimization round: _util.fan_out is the SCALE-ADAPTIVE
    single-split repair — it must add an Exchange only when the input
    has fewer partitions than defaultParallelism, and be a literal
    identity (same DataFrame object, no repartition node) otherwise.
    The identity branch is the 100 TB posture: production scans arrive
    >= cores-many splits, so the helper cannot add a shuffle there."""
    from gdxpy_spark.operators._util import fan_out

    tp = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, 1, numPartitions=tp)
    assert fan_out(wide, spark) is wide
    wider = spark.range(0, 10_000, 1, numPartitions=tp + 3)
    assert fan_out(wider, spark) is wider

    narrow = spark.range(0, 10_000, 1, numPartitions=1)
    fanned = fan_out(narrow, spark)
    assert fanned is not narrow
    assert fanned.rdd.getNumPartitions() == tp
    # round-robin, not keyed: every partition gets an equal share
    sizes = fanned.rdd.glom().map(len).collect()
    assert max(sizes) - min(sizes) <= 1, sizes


def test_fan_out_preserves_rows(spark):
    """fan_out must be a pure re-distribution: same rows, same schema,
    nothing dropped or duplicated by the round-robin exchange."""
    from pyspark.sql import functions as F

    from gdxpy_spark.operators._util import fan_out
    from gdxpy_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    fp = F.sum(F.xxhash64("doc_id", "text").cast("decimal(38,0)"))
    a = docs.agg(F.count("*"), fp).first()
    b = fan_out(docs, spark).agg(F.count("*"), fp).first()
    assert tuple(a) == tuple(b)
