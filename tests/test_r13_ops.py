"""r13 operator tests: mm_phash_neardup (content-defined perceptual
near-dup on the media binary column) and the llm_semdedup_pq support
machinery not already covered in test_ann.py."""

from __future__ import annotations

import hashlib

import pytest

from gdxpy_spark import registry
from gdxpy_spark.tables import table
from tests.conftest import SF_DIR

ALL = registry.all_queries()
N_PLANT = 20


def _py_phash(t: str) -> int:
    """Pure-python third source of the 4-gram SimHash (the oracle is
    SQL, the engine is Spark — this pins both against a reference
    implementation on planted data)."""
    gs = {t[i : i + 4] for i in range(len(t) - 3)}
    v = [0] * 64
    for g in gs:
        h = int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
        for j in range(64):
            v[j] += 1 if (h >> j) & 1 else -1
    return sum((1 << j) for j in range(64) if v[j] > 0)


@pytest.fixture(scope="module")
def phash_planted_dir(spark, tmp_path_factory):
    """documents dir with planted media near-copies:
    - doc 200000+i = doc i's text + a 4-char trailer (the corpus's own
      re-encode perturbation shape, i in 0..N_PLANT),
    - doc 300000+i = doc i's text EXACTLY (identical payload wrapped in
      a different container header — media_table derives the header
      from doc_id, i in 0..4)."""
    base = (
        table(spark, SF_DIR, "documents")
        .filter("n_chars >= 64")
        .orderBy("doc_id")
        .limit(N_PLANT)
        .collect()
    )
    rows = [
        (r["doc_id"], r["text"], r["n_chars"])
        for r in table(spark, SF_DIR, "documents")
        .select("doc_id", "text", "n_chars")
        .collect()
    ]
    for i, r in enumerate(base):
        t2 = r["text"] + " re."
        rows.append((200000 + r["doc_id"], t2, len(t2)))
        if i < 5:
            rows.append((300000 + r["doc_id"], r["text"], r["n_chars"]))
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, n_chars INT")
    out = str(tmp_path_factory.mktemp("phash_planted"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


@pytest.mark.slow
def test_phash_banded_join_is_exact_vs_brute_force(spark, phash_planted_dir):
    """The pigeonhole claim, pinned on data with real near-pairs: the
    4-band join's output must EQUAL the all-pairs hamming<=3 set over
    the pure-python signatures — no pair lost to banding, none added."""
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in ALL["mm_phash_neardup"].fn(spark, phash_planted_dir).collect()
    }
    docs = (
        table(spark, phash_planted_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    sigs = {r["doc_id"]: _py_phash(r["text"]) for r in docs if len(r["text"]) >= 4}
    ids = sorted(sigs)
    want = {}
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want


def test_phash_identical_payload_different_container_hamming0(
    spark, phash_planted_dir
):
    """A byte-identical payload re-wrapped in a different container
    header (different doc_id => different fmt/width header fields) must
    pair at hamming 0 — the hash reads only payload bytes, and
    hamming 0 <= t is ALWAYS found (pigeonhole needs no luck at 0)."""
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in ALL["mm_phash_neardup"].fn(spark, phash_planted_dir).collect()
    }
    base = (
        table(spark, SF_DIR, "documents")
        .filter("n_chars >= 64")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    for r in base:
        assert got.get((r["doc_id"], 300000 + r["doc_id"])) == 0


def test_phash_trailer_neardup_recall_floor(spark, phash_planted_dir):
    """Calibrated t=3 operating point on the re-encode perturbation the
    corpus itself plants (payload + 4-byte trailer). Measured: a 4-char
    trailer moves 4 shingles, flipping bits where |vote| < 4 — on this
    corpus's ~300-byte payloads that lands 10/20 synthetic pairs within
    t=3 (and 19/22 of the corpus's own planted pairs, which the
    all-pairs ORACLE certifies every round). Pin a >=8/20 floor so a
    hash regression (changed shingle width, broken vote sign — both
    push hamming to ~32) fails loudly while the distribution's
    straddle of t doesn't."""
    got = {
        (r["doc_a"], r["doc_b"])
        for r in ALL["mm_phash_neardup"].fn(spark, phash_planted_dir).collect()
    }
    base = (
        table(spark, SF_DIR, "documents")
        .filter("n_chars >= 64")
        .orderBy("doc_id")
        .limit(N_PLANT)
        .collect()
    )
    hits = sum(1 for r in base if (r["doc_id"], 200000 + r["doc_id"]) in got)
    assert hits >= 8, f"trailer near-dup recall {hits}/{N_PLANT}"


@pytest.mark.slow
def test_phash_head_digest_blindspot_is_covered(spark, phash_planted_dir):
    """The division of labor vs mm_exact_dedup, stated as a test: a
    MID-PAYLOAD single-byte edit defeats the 128-byte head digest only
    when it lands in the head — while the content hash degrades
    gracefully (a 1-char edit moves ~8 shingles => usually hamming<=6).
    Verify the planted trailer copies are INVISIBLE to a full-payload
    equality (they differ) yet found by phash, i.e. the op adds pairs
    no exact digest emits."""
    sd = ALL["mm_phash_neardup"].fn(spark, phash_planted_dir)
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, phash_planted_dir, "documents").collect()
    }
    rows = sd.collect()
    assert any(docs[r["doc_a"]] != docs[r["doc_b"]] for r in rows), (
        "every emitted pair is byte-identical — the perceptual hash adds "
        "nothing over exact dedup on this corpus"
    )


def _exact_nearest(x, cents):
    """The reference assignment: the argmin of _d2_blocks' exact
    Σ(v−c)² (the first, i.e. lowest, cell among ties) and its d2."""
    import numpy as np

    from gdxpy_spark.operators import llm

    cell, d2 = [], []
    for _lo, acc in llm._d2_blocks(x, cents):
        best = acc.argmin(axis=1)
        cell.append(best)
        d2.append(acc[range(len(acc)), best])
    return np.concatenate(cell), np.concatenate(d2)


def _assert_same_assignment(got, want, what):
    """Equal cells and bit-equal d2 (NaN included)."""
    import numpy as np

    (cell, d2), (wcell, wd2) = got, want
    assert np.asarray(cell).tolist() == np.asarray(wcell).tolist(), what
    bits = np.asarray(d2, dtype=np.float64).view(np.int64)
    assert bits.tolist() == np.asarray(wd2).view(np.int64).tolist(), what


def test_kmeans_assign_matches_driver_kernel_bit_for_bit(spark):
    """The Spark assignment (_kmeans_assign), the driver kernel
    (_nearest_local) and the exact _d2_blocks argmin give every sf0.01
    vector the same cell and the same d2 bit for bit, at k = 20 and at
    k = 80, against the md5-seed centroids."""
    from gdxpy_spark.operators import llm

    e = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    t = e.toArrow()
    ids = t.column("vec_id").to_pylist()
    x = llm._embedding_matrix(t.column("embedding"))
    cents = llm._md5_seeds(e, 80)
    for k in (20, 80):
        sub = cents[:k]
        want = _exact_nearest(x, sub)
        _assert_same_assignment(llm._nearest_local(x, sub), want, ("driver", k))
        got = {
            r["vec_id"]: (r["cell"], r["d2"])
            for r in llm._kmeans_assign(spark, sub, e).collect()
        }
        assert sorted(got) == sorted(ids)
        spark_asg = ([got[i][0] for i in ids], [got[i][1] for i in ids])
        _assert_same_assignment(spark_asg, want, ("spark", k))


def test_nearest_local_equals_exact_argmin_on_edge_cases():
    """The shortlist kernel gives the exact argmin's cells and d2 bit for
    bit where a shortlist is fragile: duplicated centroids (ties go to
    the lowest cell), rounded and duplicated rows (many exact ties),
    NaN and infinite rows (a NaN row takes cell 0 with d2 NaN), NaN
    and infinite centroids (every row takes the NaN one, as np.argmin
    takes the first NaN), k = 1, and k above a block's row count with
    300 NaN rows in one block."""
    import numpy as np

    from gdxpy_spark.operators import llm

    rng = np.random.default_rng(7)
    x = rng.standard_normal((2000, 64))
    dup = x[:40].copy()
    dup[20:] = dup[:20]
    rounded = np.round(x, 1)
    rounded[1000:] = rounded[:1000]
    holes = x.copy()
    holes[3, 5] = np.nan
    holes[1500] = np.nan
    holes[8, 0] = np.inf
    wide = x[:1200].copy()
    wide[100:400, 1] = np.nan
    cases = {
        "duplicated centroids": (x, dup),
        "rounded duplicated rows": (rounded, np.round(x[:64], 1)),
        "rounded duplicated centroids": (rounded, rounded[:32].repeat(2, axis=0)),
        "nan and inf rows": (holes, x[:16]),
        "nan centroid": (x, holes[:16]),
        "k = 1": (x, x[:1]),
        "k above block rows": (wide, rng.standard_normal((1000, 64))),
    }
    for what, (rows, cents) in cases.items():
        got = llm._nearest_local(rows, cents)
        _assert_same_assignment(got, _exact_nearest(rows, cents), what)
    cell, d2 = llm._nearest_local(holes, x[:16])
    assert cell[1500] == 0 and np.isnan(d2[1500])
    # rows 0..19 sit on centroids i and 20 + i: the tie goes to i
    assert llm._nearest_local(x[:20], dup)[0].tolist() == list(range(20))


def test_kmeans_assign_rejects_ragged_embeddings(spark):
    """The Spark assignment takes only non-null embeddings of one
    positive length per batch: a ragged, a null or an empty embedding
    raises ValueError."""
    from gdxpy_spark.operators import llm

    for bad in ([1.0], None, []):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, bad)], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        ).coalesce(1)
        with pytest.raises(Exception, match="needs non-null embeddings of one length"):
            llm._kmeans_assign(spark, [[0.0, 0.0]], df).collect()


def test_phash_clusters_oracle_cc_rounds_converged(duck):
    """The unrolled star-contraction depth must be converged: running
    the clusters oracle at _PHASH_CC_ROUNDS and at +1 rounds must give
    identical (dup_id, kept_id) sets (the _semdedup_oracle discipline
    applied to the phash dup graph)."""
    from gdxpy_spark.operators import multimodal as mm

    base = mm._phash_clusters_oracle()
    deeper_n = mm._PHASH_CC_ROUNDS + 1
    saved = mm._PHASH_CC_ROUNDS
    try:
        mm._PHASH_CC_ROUNDS = deeper_n
        deeper = mm._phash_clusters_oracle()
    finally:
        mm._PHASH_CC_ROUNDS = saved
    r1 = sorted(duck.execute(base).fetchall())
    r2 = sorted(duck.execute(deeper).fetchall())
    assert r1 == r2


@pytest.mark.slow
def test_phash_clusters_match_union_find_on_planted(spark, phash_planted_dir):
    """Groups must equal a pure-python union-find over the brute-force
    hamming<=3 pairs of the python signatures — third-source pin of
    pairs + CC together on data with real multi-member groups."""
    got = {
        (r["dup_id"], r["kept_id"])
        for r in ALL["mm_phash_clusters"].fn(spark, phash_planted_dir).collect()
    }
    docs = (
        table(spark, phash_planted_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    sigs = {r["doc_id"]: _py_phash(r["text"]) for r in docs if len(r["text"]) >= 4}
    ids = sorted(sigs)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {(i, find(i)) for i in ids if find(i) != i}
    assert got == want
