"""Semantic tests for the hash-based (weak) text/multimodal operators —
the oracle-checkable ones are covered by test_oracle_parity."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gdxpy_spark import registry
from gdxpy_spark.tables import table
from tests.conftest import SF_DIR

ALL = registry.all_queries()


@pytest.fixture(scope="module")
def dup_dir(spark, tmp_path_factory):
    """documents dir with guaranteed exact duplicates (the sf0.001 corpus
    has none): 5 texts re-inserted under doc_ids shifted by +100000."""
    docs = table(spark, SF_DIR, "documents")
    dupes = docs.orderBy("doc_id").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    out = str(tmp_path_factory.mktemp("dupdocs"))
    docs.unionByName(dupes).coalesce(1).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def test_simhash_identical_docs_collide(spark, dup_dir):
    """Exact-duplicate texts must produce identical signatures, land in
    the same band, and appear as hamming-0 pairs."""
    pairs = ALL["llm_simhash"].fn(spark, dup_dir)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    for doc_id in range(5):
        assert found.get((doc_id, doc_id + 100000)) == 0, (
            f"exact dup pair {doc_id} missing or hamming > 0"
        )


def test_minhash_agrees_with_jaccard_direction(spark, dup_dir):
    """Exact-dup docs must share all 4 MinHash signature components."""
    sigs = {
        r["doc_id"]: (r["sig0"], r["sig1"], r["sig2"], r["sig3"])
        for r in ALL["llm_minhash_sig"].fn(spark, dup_dir).collect()
    }
    for doc_id in range(5):
        assert sigs[doc_id] == sigs[doc_id + 100000]


def test_feature_extract_shape_and_determinism(spark):
    from gdxpy_spark.operators.multimodal import media_features

    df = media_features(spark, SF_DIR)
    rows = {r["doc_id"]: r["feature"] for r in df.collect()}
    assert all(len(v) == 8 for v in rows.values())
    assert all(abs(sum(v) - 1.0) < 1e-3 for v in rows.values())  # normalized hist
    rows2 = {r["doc_id"]: r["feature"] for r in df.collect()}
    assert rows == rows2  # deterministic fake → stable across runs

    # the registered view flattens the vector to scalars for the driver
    reg = {r["doc_id"]: r for r in ALL["mm_feature_extract"].fn(spark, SF_DIR).collect()}
    assert set(reg) == set(rows)
    for doc_id, r in reg.items():
        assert r["dim"] == 8
        assert abs(r["l1_checksum"] - 1.0) < 1e-3
        # flattened scalar columns agree with the array they came from
        # (tolerance = the 4-decimal rounding the view applies)
        got = [r[f"f{i}"] for i in range(8)]
        assert all(abs(a - b) <= 1e-4 for a, b in zip(got, rows[doc_id]))


def test_decode_real_is_a_marked_stub():
    import pytest

    from gdxpy_spark.operators.multimodal import decode_real

    with pytest.raises(NotImplementedError):
        decode_real(b"\x00", "png")


def test_connected_components_transitive_chain(spark, monkeypatch):
    """A~B, B~C, D~E (A≁C directly) → components {A,B,C} and {D,E}, on
    both CC paths."""
    from tests.test_r11_ops import cc_on_both_paths

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    assert cc_on_both_paths(spark, monkeypatch, edges) == {"driver": want, "spark": want}


def test_connected_components_long_chain_converges_log_rounds(spark, monkeypatch):
    """Pointer doubling must converge a 120-node path graph within
    max_iters=12 (≈ log₂ 120 + slack) on the Spark path — plain
    neighbor-min would need ~120 rounds and previously warned +
    under-merged here. The driver path ignores max_iters and must
    agree."""
    import warnings

    from tests.test_r11_ops import cc_on_both_paths

    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a BIGINT, doc_b BIGINT"
    )
    with warnings.catch_warnings():
        # the non-convergence warning is a RuntimeWarning; a blanket
        # "error" would also raise pyspark's by-design GC-time
        # ResourceWarning for collect()'s unclosed socket
        warnings.simplefilter("error", RuntimeWarning)
        got = cc_on_both_paths(spark, monkeypatch, edges, max_iters=12)
    want = {i: 0 for i in range(n)}
    assert got == {"driver": want, "spark": want}


@pytest.fixture(scope="module")
def neardup_dir(spark, tmp_path_factory):
    """documents dir with planted NEAR-duplicates: 5 texts re-inserted
    under doc_ids shifted by +200000 with one novel token appended, so
    each planted pair has token-set Jaccard n/(n+1) ≈ 0.9+."""
    docs = table(spark, SF_DIR, "documents")
    dupes = (
        docs.orderBy("doc_id")
        .limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzqxv")))
    )
    out = str(tmp_path_factory.mktemp("neardupdocs"))
    docs.unionByName(dupes).coalesce(1).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def test_minhash_band_pairs_recall_planted(spark, neardup_dir):
    """Every planted near-dup pair (Jaccard ≈ 0.9+) must survive the
    banded-LSH candidate stage AND the exact-Jaccard verify. At b=4
    bands × r=2 rows, P(candidate | s=0.9) = 1−(1−0.81)⁴ ≈ 0.9987 per
    pair; the hash functions are fixed, so the outcome is deterministic
    — pin full recall on this plant."""
    from gdxpy_spark.operators.llm import minhash_band_pairs

    docs = table(spark, neardup_dir, "documents")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_band_pairs(docs).collect()
    }
    for doc_id in range(5):
        key = (doc_id, doc_id + 200000)
        assert key in pairs, f"planted near-dup pair {key} missed by LSH"
        assert pairs[key] >= 0.5


def test_minhash_dedup_clusters_planted(spark, neardup_dir):
    """llm_minhash_dedup end-to-end: each planted near-dup must land in
    the SAME cluster as its original. (The synthetic corpus is itself
    highly overlappy — median pairwise Jaccard ≈ 0.63 — so originals
    may merge with each other; the invariant is shared membership, not
    an exact (orig, orig+200000) pair.)"""
    out = ALL["llm_minhash_dedup"].fn(spark, neardup_dir).collect()
    comp = {r["dup_id"]: r["kept_id"] for r in out}
    assert all(r["kept_id"] < r["dup_id"] for r in out)
    for doc_id in range(5):
        planted = doc_id + 200000
        assert planted in comp, f"planted near-dup {planted} not clustered"
        assert comp[planted] == comp.get(doc_id, doc_id), (
            f"planted {planted} in component {comp[planted]}, original "
            f"{doc_id} in {comp.get(doc_id, doc_id)}"
        )


def test_minhash_candidates_subquadratic(spark):
    """On a corpus of mutually-disjoint token sets plus planted
    near-dups, the LSH candidate set must be ~only the planted pairs —
    the subquadratic property that makes the 100 TB join linear-ish
    (mirrors test_ann.py's bucket assertion; can't be tested on the
    sf corpus, whose median pairwise Jaccard is 0.63 by construction)."""
    from gdxpy_spark.operators.llm import minhash_band_pairs

    n, planted = 300, 10
    rows = []
    for d in range(n):
        toks = " ".join(f"t{d}_{k}" for k in range(20))
        rows.append((d, toks))
    for d in range(planted):  # near-dup of doc d with one token changed
        toks = " ".join(f"t{d}_{k}" for k in range(19)) + " zzq"
        rows.append((1000 + d, toks))
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    cand = minhash_band_pairs(docs, threshold=0.0)
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    for d in range(planted):
        assert (d, 1000 + d) in pairs, f"planted pair ({d},{1000+d}) missed"
    total = n + planted
    assert len(pairs) < 0.01 * total * (total - 1) / 2, (
        f"candidate set not subquadratic: {len(pairs)} pairs for n={total}"
    )


@pytest.mark.slow
def test_ntile_closed_form_matches_window_all_remainders(spark):
    """win_ntile_pct's closed forms of (rn, n) must equal Spark's own
    ntile/percent_rank/cume_dist window for every n mod 4 remainder —
    including the uneven-bucket split (first n%4 quartiles get one extra
    row) and the n=1 percent_rank=0 edge."""
    from pyspark.sql import Window as W
    from gdxpy_spark.operators._util import global_row_number

    for n in (1, 2, 3, 4, 5, 7, 8, 9, 101, 102, 103, 104):
        df = spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 37 % 1000).alias("v")
        )
        w = W.orderBy(F.col("v").asc(), F.col("k").asc())
        want = {
            r["k"]: (r["q"], round(r["pr"], 4), round(r["cd"], 4))
            for r in df.select(
                "k", F.ntile(4).over(w).alias("q"),
                F.percent_rank().over(w).alias("pr"),
                F.cume_dist().over(w).alias("cd")).collect()
        }
        ranked = global_row_number(
            df, ["v", "k"], out_col="rn", total_col="_n"
        )
        rn, nn = F.col("rn"), F.col("_n")
        big, r_ = F.floor(nn / 4) + 1, nn % 4
        cutoff = r_ * big
        quartile = F.when(rn <= cutoff, F.floor((rn - 1) / big) + 1).otherwise(
            r_ + F.floor((rn - cutoff - 1) / F.greatest(F.floor(nn / 4), F.lit(1))) + 1
        )
        got = {
            r["k"]: (r["q"], round(r["pr"], 4), round(r["cd"], 4))
            for r in ranked.select(
                "k", quartile.cast("int").alias("q"),
                F.when(nn > 1, (rn - 1) / (nn - 1)).otherwise(F.lit(0.0)).alias("pr"),
                (rn / nn).alias("cd")).collect()
        }
        assert got == want, f"n={n}: closed form diverges from window"


def test_ntile_sketch_envelope(spark):
    """The sketch-based quartile bucketing must agree with exact
    NTILE(4) on all but boundary-adjacent rows: same quartile for
    ≥ 99% of rows, and never off by more than 1."""
    exact = {
        r["o_orderkey"]: r["quartile"]
        for r in ALL["win_ntile_pct"].fn(spark, SF_DIR).collect()
    }
    sketch = {
        r["o_orderkey"]: r["quartile"]
        for r in ALL["win_ntile_pct_sketch"].fn(spark, SF_DIR).collect()
    }
    assert exact.keys() == sketch.keys()
    diffs = [k for k in exact if exact[k] != sketch[k]]
    assert all(abs(exact[k] - sketch[k]) <= 1 for k in diffs)
    assert len(diffs) <= 0.01 * len(exact), (
        f"{len(diffs)}/{len(exact)} rows disagree with exact ntile"
    )


def test_fuzzy_match_prefix_blocking_semantics(spark, tmp_path):
    """Pin llm_fuzzy_match's documented blocking trade-off: an edit-1
    typo AFTER the 16-char blocking prefix is found; an edit-1 typo
    INSIDE the prefix lands in a different block and is (by design)
    missed. The oracle replicates the same blocking, so only this test
    pins the intended recall semantics."""
    rows = [
        (1, "Customer#000000001 alpha"),
        (2, "Customer#000000001 alpha"[:20] + "X" * 4),  # typo at pos 21 (outside prefix)
        (3, "Customer#000000001 beta"),
        (4, "Custmmer#000000001 beta"),  # typo at pos 5 (inside prefix)
    ]
    # make row 2 a true edit-distance-1 of row 1
    rows[1] = (2, "Customer#000000001 alphX")
    spark.createDataFrame(rows, "c_custkey BIGINT, c_name STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    out = {
        (r["key_a"], r["key_b"]): r["edit_dist"]
        for r in ALL["llm_fuzzy_match"].fn(spark, str(tmp_path)).collect()
    }
    assert out.get((1, 2)) == 1, "edit-1 typo outside the prefix must be found"
    assert (3, 4) not in out, (
        "edit-1 typo inside the prefix is by-design missed; if this "
        "starts passing, the blocking strategy changed — update docs"
    )


def test_dedup_clusters_on_corpus(spark):
    """Every emitted (dup, kept) pair must be consistent: kept < dup, and
    kept is itself never a dup."""
    out = ALL["llm_dedup_clusters"].fn(spark, SF_DIR).collect()
    dups = {r["dup_id"] for r in out}
    keeps = {r["kept_id"] for r in out}
    assert all(r["kept_id"] < r["dup_id"] for r in out)
    assert not (dups & keeps), "a kept doc may not also be a duplicate"


def _spark_band_pairs(docs, **kw):
    from gdxpy_spark.operators.llm import minhash_band_pairs

    return {(r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(docs, **kw).collect()}


def _driver_band_pairs(docs, **kw):
    from gdxpy_spark.operators.llm import _minhash_pairs_local

    a, b = _minhash_pairs_local(docs.select("doc_id", "text").toArrow(), **kw)
    return set(zip(a.to_pylist(), b.to_pylist()))


def test_minhash_band_cap_boilerplate_subquadratic(spark):
    """Band-bucket skew cap: 600 identical-template docs collapse every
    band into ONE oversized bucket. Without the cap that is 600·599/2 ≈
    180k verified pairs (all Jaccard 1.0); with representative chaining
    the candidate AND output pair count is linear (599 star edges), the
    template cluster still reassembles into a single component through
    the hub, and planted near-dups among the distinct docs keep full
    recall. Holds for both pair generators: minhash_band_pairs and its
    driver twin _minhash_pairs_local."""
    from gdxpy_spark.operators.llm import connected_components

    template = " ".join(f"tmpl{k}" for k in range(30))
    rows = [(d, template) for d in range(600)]
    for d in range(50):  # mutually-disjoint distinct docs
        rows.append((10_000 + d, " ".join(f"u{d}_{k}" for k in range(20))))
    for d in range(5):  # planted near-dup of distinct doc d
        rows.append(
            (20_000 + d, " ".join(f"u{d}_{k}" for k in range(19)) + " zzq")
        )
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    for band_pairs in (_spark_band_pairs, _driver_band_pairs):
        pset = band_pairs(docs)

        # linear, not quadratic: star edges + planted pairs, nowhere near 180k
        assert len(pset) < 3 * 655, f"cap failed: {len(pset)} pairs"
        # every boilerplate doc is covered (hub 0 links to all 599 others)
        assert {(0, d) for d in range(1, 600)} <= pset
        # planted near-dups keep full recall (their buckets are small)
        for d in range(5):
            assert (10_000 + d, 20_000 + d) in pset, f"planted pair {d} missed"

        # transitive reassembly: one component spanning all 600 templates
        edges = spark.createDataFrame(
            [(a, b) for a, b in pset], "doc_a BIGINT, doc_b BIGINT"
        )
        cc = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(spark, edges).collect()
        }
        assert len({cc[d] for d in range(600)}) == 1


@pytest.mark.parametrize("threshold", [0.5, 0.0])
@pytest.mark.parametrize("corpus", ["neardup", "sf"])
def test_minhash_pair_generators_agree(spark, neardup_dir, corpus, threshold):
    """_minhash_pairs_local, the driver twin, gives minhash_band_pairs'
    exact pair set: on the planted near-dup fixture and on the sf corpus
    (whose 31-token vocabulary fills capped buckets), at the default
    threshold and at 0.0, where every candidate survives the verify, so
    the candidate sets are compared too."""
    docs = table(spark, neardup_dir if corpus == "neardup" else SF_DIR, "documents")
    want = _spark_band_pairs(docs, threshold=threshold)
    assert want
    assert _driver_band_pairs(docs, threshold=threshold) == want


def test_minhash_dedup_matches_oracle_on_both_paths(spark, duck, monkeypatch):
    """llm_minhash_dedup matches its DuckDB oracle with the corpus forced
    onto the Spark plan (the cut patched below zero), on the driver path
    at the production cut, and with the driver's pairs sent on to
    connected_components' Spark path (the edge cut patched below zero).
    Only the driver result is a LocalTableScan: the other legs also
    force connected_components onto Spark, whose driver union-find
    would otherwise end the plan in one."""
    from gdxpy_spark.operators import llm
    from tests.conftest import assert_frames_match
    from tests.test_r11_ops import _is_local_scan

    q = ALL["llm_minhash_dedup"]
    docs_cut, cc_cut = llm._MINHASH_DRIVER_MAX_DOCS, llm._CC_DRIVER_MAX_EDGES
    for path, cuts in (
        ("spark", (-1, -1)),
        ("driver", (docs_cut, cc_cut)),
        ("driver pairs, spark components", (docs_cut, -1)),
    ):
        monkeypatch.setattr(llm, "_MINHASH_DRIVER_MAX_DOCS", cuts[0])
        monkeypatch.setattr(llm, "_CC_DRIVER_MAX_EDGES", cuts[1])
        got = q.fn(spark, SF_DIR)
        assert _is_local_scan(got) == (path == "driver"), path
        assert_frames_match(got, duck.execute(q.oracle), name=f"{q.name} {path}")


def test_minhash_dedup_logs_its_path(spark, monkeypatch, caplog, tmp_path):
    """One DEBUG record per llm_minhash_dedup call on the engine's logger
    with the doc count and the path taken: "over <cut>" when the corpus
    exceeds the cut, and the true count when a corpus within the cut
    repeats a doc id, which sends it to the Spark plan."""
    import logging

    from gdxpy_spark.operators import llm

    caplog.set_level(logging.DEBUG, logger=llm.log.name)
    repeated = str(tmp_path)
    spark.createDataFrame(
        [(1, "a b c"), (1, "a b d"), (2, "a b c")], "doc_id BIGINT, text STRING"
    ).write.parquet(f"{repeated}/documents.parquet")
    n = table(spark, SF_DIR, "documents").count()
    ALL["llm_minhash_dedup"].fn(spark, SF_DIR)
    ALL["llm_minhash_dedup"].fn(spark, repeated)
    monkeypatch.setattr(llm, "_MINHASH_DRIVER_MAX_DOCS", n - 1)
    ALL["llm_minhash_dedup"].fn(spark, SF_DIR)
    assert [
        r.getMessage() for r in caplog.records
        if r.name == llm.log.name and r.getMessage().startswith("minhash_dedup")
    ] == [
        f"minhash_dedup: {n} docs, driver path",
        "minhash_dedup: 3 docs, spark path",
        f"minhash_dedup: over {n - 1} docs, spark path",
    ]


def test_minhash_dedup_driver_path_starts_no_job(spark):
    """Within the cut llm_minhash_dedup counts the docs from the parquet
    footers and reads (doc_id, text) with pyarrow, so building it starts
    no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("minhash_dedup_build", "llm_minhash_dedup build")
    try:
        ALL["llm_minhash_dedup"].fn(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("minhash_dedup_build")) == []


def test_bitmask_fallback_agrees_with_matmul_strategy(spark):
    """bitmask_jaccard_pairs (the fully-distributed fallback for buckets
    that outgrow one task) must produce exactly the pairs the per-bucket
    matmul strategy produces — same blocking, same exact Jaccard."""
    from gdxpy_spark.operators.llm import (
        bitmask_jaccard_pairs,
        blocked_jaccard_pandas,
    )

    docs = table(spark, SF_DIR, "documents")
    exploded = docs.select(
        "doc_id",
        (F.col("n_chars") / 100).cast("bigint").alias("bucket"),
        F.explode(F.array_remove(F.array_distinct(F.split("text", " ")), "")).alias(
            "token"
        ),
    )
    arrays = docs.select(
        "doc_id",
        (F.col("n_chars") / 100).cast("bigint").alias("bucket"),
        F.array_remove(F.array_distinct(F.split("text", " ")), "").alias("tokens"),
    )
    a = sorted(tuple(r) for r in bitmask_jaccard_pairs(spark, exploded, 0.2).collect())
    spark.catalog.clearCache()
    b = sorted(tuple(r) for r in blocked_jaccard_pandas(spark, arrays, 0.2).collect())
    assert a == b and len(a) > 0


def test_boundary_straddling_pair_found_by_adjacent_probe(spark, tmp_path):
    """A near-dup pair whose lengths straddle a length-bucket boundary
    (99 vs 101 chars → buckets 0 and 1) must be found by the adjacent-
    bucket probe — and a pair two buckets apart must NOT appear."""
    words = [f"tok{i:02d}" for i in range(12)]
    base = " ".join(words)
    t99 = (base + " " + "x" * 40)[:99]
    t101 = (base + " " + "x" * 42)[:101]
    t305 = (base + " " + "y" * 300)[:305]  # bucket 3: out of probe range of 0/1
    rows = [(1, t99, len(t99)), (2, t101, len(t101)), (3, t305, len(t305))]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, n_chars INT")
    out = str(tmp_path / "docs")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"])
        for r in ALL["llm_length_blocking"].fn(spark, out).collect()
    }
    spark.catalog.clearCache()
    assert (1, 2) in got, f"boundary pair missed: {got}"
    assert (1, 3) not in got and (2, 3) not in got, got


@pytest.mark.slow
def test_auto_router_sends_giant_bucket_to_bitmask(spark):
    """blocked_jaccard_auto must route a bucket that exceeds the matmul
    memory model through the distributed bitmask path — same exact
    results as forcing the matmul on everything, and the bitmask
    operators (bit_count mask folds) must actually appear in the plan."""
    from gdxpy_spark.operators.llm import (
        blocked_jaccard_auto,
        blocked_jaccard_pandas,
    )
    from gdxpy_spark.plans.inspect import formatted_plan

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    # giant bucket 0: 120 docs of 12 tokens each -> n_docs*sum_tok = 172k
    for d in range(120):
        rows.append((d, 0, rng.sample(vocab, 12)))
    # small bucket 1: 10 docs
    for d in range(120, 130):
        rows.append((d, 1, rng.sample(vocab, 12)))
    dt = spark.createDataFrame(
        rows, "doc_id BIGINT, bucket BIGINT, tokens ARRAY<STRING>"
    )
    # max_cells=4000: bucket 0 trips the true-vocab model (n_docs·vocab =
    # 120·40 = 4.8k and n_docs² = 14.4k, both > 4k); bucket 1 stays on
    # the matmul (10·40 = 400 and 10² = 100)
    auto = blocked_jaccard_auto(spark, dt, 0.2, max_cells=4_000)
    plan = formatted_plan(auto)
    assert "bit_count" in plan, "giant bucket not routed to bitmask path"
    got = sorted(tuple(r) for r in auto.collect())
    spark.catalog.clearCache()
    want = sorted(
        tuple(r) for r in blocked_jaccard_pandas(spark, dt, 0.2).collect()
    )
    assert got == want and len(got) > 0
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def contam_dir(spark, tmp_path_factory):
    """documents dir with PLANTED contamination: train doc 999901 gets
    eval doc 0's exact text (every trigram shared), train doc 999902
    gets an eval doc 50's first 5 tokens (a handful of shared
    trigrams)."""
    docs = table(spark, SF_DIR, "documents")
    ev = {r["doc_id"]: r["text"] for r in docs.filter(
        F.col("doc_id").isin(0, 50)).collect()}
    extra = spark.createDataFrame(
        [
            (999901, ev[0], "en", len(ev[0])),
            (999902, " ".join(ev[50].split()[:5]) + " zq wq xq", "en", 40),
        ],
        "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT",
    )
    sample = docs.select("doc_id", "text", "lang", "n_chars")
    out = str(tmp_path_factory.mktemp("contam"))
    sample.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    return out


def test_decontaminate_flags_planted_leak(spark, contam_dir):
    """A train doc carrying an eval doc's exact text must be flagged
    against that eval doc, with shared_ngrams == the eval doc's distinct
    trigram count; the 5-token partial copy must also be flagged (3
    distinct trigrams ≥ 2)."""
    out = {
        (r["train_id"], r["eval_id"]): r["shared_ngrams"]
        for r in ALL["llm_decontaminate"].fn(spark, contam_dir).collect()
    }
    assert (999901, 0) in out, "full-copy contamination missed"
    ev0_toks = [t for t in table(spark, contam_dir, "documents")
                .filter(F.col("doc_id") == 0).collect()[0]["text"].split(" ") if t]
    n_tri = len({" ".join(ev0_toks[i:i + 3]) for i in range(len(ev0_toks) - 2)})
    assert out[(999901, 0)] == n_tri
    assert (999902, 50) in out, "partial-copy contamination missed"
    assert out[(999902, 50)] == 3


def test_train_split_distribution_and_stability(spark):
    """Hash split must be ~80/10/10 (binomial tolerance at n=500) and
    bit-identical across two runs (the reproducibility contract)."""
    rows1 = {r["doc_id"]: r["split"] for r in
             ALL["llm_train_split"].fn(spark, SF_DIR).collect()}
    rows2 = {r["doc_id"]: r["split"] for r in
             ALL["llm_train_split"].fn(spark, SF_DIR).collect()}
    assert rows1 == rows2
    n = len(rows1)
    from collections import Counter

    c = Counter(rows1.values())
    assert abs(c["train"] / n - 204 / 256) < 0.06
    assert abs(c["val"] / n - 26 / 256) < 0.05
    assert abs(c["test"] / n - 26 / 256) < 0.05


def test_stratified_sample_quotas_and_stability(spark):
    """Exactly ceil(10%) per language stratum, stable across runs, and a
    subset of the corpus."""
    import math

    docs = table(spark, SF_DIR, "documents")
    strata = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got1 = [(r["doc_id"], r["lang"]) for r in
            ALL["llm_sample_stratified"].fn(spark, SF_DIR).collect()]
    got2 = [(r["doc_id"], r["lang"]) for r in
            ALL["llm_sample_stratified"].fn(spark, SF_DIR).collect()]
    assert sorted(got1) == sorted(got2)
    from collections import Counter

    per = Counter(lang for _, lang in got1)
    for lang, n in strata.items():
        assert per[lang] == math.ceil(0.1 * n), (lang, per[lang], n)


def test_word_shingles_matches_transform_formulation(spark):
    """_util.word_shingles (k column-slices zipped per document) must be
    byte-identical to the canonical per-position formulation
    transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(t, i, k)))
    it replaced for speed — over random token arrays at every k used by
    the engine (2, 3, 6) including the size == k edge."""
    import random

    from pyspark.sql import functions as F

    from gdxpy_spark.operators._util import word_shingles

    rng = random.Random(6)
    rows = []
    for k in (2, 3, 6):
        rows.append((k, ["w%d" % rng.randrange(9) for _ in range(k)]))  # n == k
        for _ in range(20):
            n = rng.randrange(k, 40)
            rows.append((k, ["w%d" % rng.randrange(9) for _ in range(n)]))
    df = spark.createDataFrame(rows, "k INT, toks ARRAY<STRING>")
    for k in (2, 3, 6):
        sub = df.filter(F.col("k") == k)
        ref = F.transform(
            F.sequence(F.lit(1), F.size("toks") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, k)),
        )
        bad = sub.filter(
            ~(word_shingles(F.col("toks"), k) == ref)
        ).count()
        assert bad == 0, f"k={k}: {bad} rows diverge from the transform form"


def test_dedup_clusters_matches_recursive_closure(spark, duck):
    """llm_dedup_clusters is weak in the driver's ledger only because its
    SQL twin (recursive min-label reachability) is superquadratic on the
    dense sf0.1 graph — at the correctness-gate scale the equivalence IS
    exact, and this test pins it: same rows, same (dup_id, kept_id)
    assignments as the closure of the same deterministic edge set."""
    from gdxpy_spark import registry
    from gdxpy_spark.operators.llm import _CLUSTERS_ORACLE
    from tests.conftest import assert_frames_match

    q = registry.all_queries()["llm_dedup_clusters"]
    sdf = q.fn(spark, SF_DIR)
    rel = duck.execute(_CLUSTERS_ORACLE)
    assert_frames_match(sdf, rel, name="llm_dedup_clusters_closure")


@pytest.mark.slow
def test_blocked_jaccard_chunked_equals_unchunked(spark):
    """Row-chunking (r8 intra-group parallelism) must not change the
    pair set or any jaccard value — each unordered pair still forms
    exactly once, in the row-doc's own chunk. Pinned in BOTH kernel
    modes: plain same-bucket pairing and side-tagged adjacent-boundary
    groups (via the native-mode auto entry, forcing several C values)."""
    from gdxpy_spark.operators.llm import blocked_jaccard_pandas

    docs = table(spark, SF_DIR, "documents")
    arrays = docs.select(
        "doc_id",
        (F.col("n_chars") / 100).cast("bigint").alias("bucket"),
        F.array_remove(F.array_distinct(F.split("text", " ")), "").alias("tokens"),
    )
    base = sorted(
        tuple(r) for r in blocked_jaccard_pandas(spark, arrays, 0.2).collect()
    )
    assert len(base) > 0
    for c in (2, 5):
        chunked = sorted(
            tuple(r)
            for r in blocked_jaccard_pandas(spark, arrays, 0.2, n_chunks=c).collect()
        )
        assert chunked == base, f"n_chunks={c} changed the result"
    # side-tagged mode: boundary groups with |Δbucket| ≤ 1 pairing
    tagged = arrays.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.col("bucket").alias("bucket"), F.lit(0).alias("side")),
                F.struct((F.col("bucket") - 1).alias("bucket"), F.lit(1).alias("side")),
            )
        ).alias("g"),
        "tokens",
    ).select("doc_id", F.col("g.bucket").alias("bucket"), F.col("g.side").alias("side"), "tokens")
    sbase = sorted(
        tuple(r) for r in blocked_jaccard_pandas(spark, tagged, 0.2).collect()
    )
    assert len(sbase) > len(base)  # adjacent pairs add to the triangle set
    for c in (3,):
        schunked = sorted(
            tuple(r)
            for r in blocked_jaccard_pandas(spark, tagged, 0.2, n_chunks=c).collect()
        )
        assert schunked == sbase, f"side mode n_chunks={c} changed the result"
