"""ANN recall tests: on the corpus's near-orthogonal vectors LSH buckets
rarely collide (that's the point of the bits), so recall is measured on a
*planted* near-duplicate set — each planted vector is a tiny perturbation
of a base vector, so its true NN is known and its bucket must collide
with overwhelming probability."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gdxpy_spark import registry
from gdxpy_spark.tables import table
from tests.conftest import SF_DIR

ALL = registry.all_queries()
N_PLANT = 20


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """embeddings dir where vec_id 100000+i is a 1%-noise copy of vec i."""
    base = table(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(N_PLANT).collect()
    rng = random.Random(7)
    rows = [(r["vec_id"], r["embedding"], r["label"]) for r in
            table(spark, SF_DIR, "embeddings").collect()]
    for r in base:
        noisy = [float(v) + rng.gauss(0, 0.01) for v in r["embedding"]]
        rows.append((r["vec_id"] + 100000, noisy, r["label"]))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    out = str(tmp_path_factory.mktemp("planted"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def test_brute_force_finds_planted_pairs(spark, planted_dir):
    nn = {r["vec_id"]: r["nn_id"] for r in ALL["llm_knn_brute"].fn(spark, planted_dir).collect()}
    hits = sum(1 for i in range(N_PLANT) if nn.get(100000 + i) == i)
    assert hits == N_PLANT, f"brute force must always find the planted NN ({hits}/{N_PLANT})"


def test_lsh_recall_on_planted_pairs(spark, planted_dir):
    """A 1%-noise copy is ~never separated by a random hyperplane, so
    LSH recall on planted pairs must be near-perfect (allow 2 misses)."""
    nn = {r["vec_id"]: r["nn_id"] for r in ALL["llm_ann_lsh"].fn(spark, planted_dir).collect()}
    hits = sum(1 for i in range(N_PLANT) if nn.get(100000 + i) == i)
    assert hits >= N_PLANT - 2, f"LSH recall too low: {hits}/{N_PLANT}"


def test_lsh_is_subquadratic_candidate_set(spark):
    """On the real corpus the bucket join must generate far fewer
    candidate pairs than brute force — the scale property: Σ size·(size-1)
    over buckets ≪ n·(n-1)."""
    from gdxpy_spark.operators.llm import _lsh_planes, _with_norm

    e = _with_norm(table(spark, SF_DIR, "embeddings"))
    sig = None
    for j, p in enumerate(_lsh_planes(6, 64)):
        plane = F.array(*[F.lit(x) for x in p])
        proj = F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig.bitwiseXOR(term)
    sizes = e.withColumn("bucket", sig).groupBy("bucket").count().collect()
    n = sum(r["count"] for r in sizes)
    cand_pairs = sum(r["count"] * (r["count"] - 1) for r in sizes)
    assert cand_pairs < 0.2 * n * (n - 1), (
        f"LSH candidate set not subquadratic: {cand_pairs} vs {n * (n - 1)}"
    )


@pytest.mark.slow
def test_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 multiprobe must strictly widen the candidate set per
    query, so its real-corpus recall vs brute force must be ≥ the
    single-probe recall (and well above it on near-uniform vectors
    where single-probe buckets are mostly singletons)."""
    brute = {r["vec_id"]: r["nn_id"]
             for r in ALL["llm_knn_brute"].fn(spark, SF_DIR).collect()}
    single = {r["vec_id"]: r["nn_id"]
              for r in ALL["llm_ann_lsh"].fn(spark, SF_DIR).collect()}
    multi = {r["vec_id"]: r["nn_id"]
             for r in ALL["llm_ann_lsh_multiprobe"].fn(spark, SF_DIR).collect()}
    r_single = sum(1 for v in brute if single.get(v) == brute[v]) / len(brute)
    r_multi = sum(1 for v in brute if multi.get(v) == brute[v]) / len(brute)
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi >= 0.2, f"multiprobe recall {r_multi:.2f} suspiciously low"


@pytest.mark.slow
def test_lsh_candidates_capped_on_planted_boilerplate(spark):
    """A boilerplate cluster (hundreds of near-identical vectors → one
    LSH bucket) must cost O(cluster) candidates via representative
    chaining, not cluster² — the 100 TB skew property. Every member must
    still receive ≥1 candidate (nothing silently dropped)."""
    from gdxpy_spark.operators.llm import lsh_candidate_pairs

    n_boiler, n_rand, cap = 300, 200, 64
    rng = random.Random(11)
    rows = [(i, 0) for i in range(n_boiler)]  # one giant bucket
    rows += [(n_boiler + i, 1 + rng.randrange(63)) for i in range(n_rand)]
    bucketed = spark.createDataFrame(rows, "vec_id BIGINT, bucket BIGINT")

    for probes in (0, 6):
        cand = lsh_candidate_pairs(bucketed, n_probe_bits=probes, max_bucket=cap)
        n_cand = cand.count()
        n = n_boiler + n_rand
        # uncapped boilerplate alone would be n_boiler*(n_boiler-1) ≈ 90k
        bound = n * (probes + 1) * cap + 2 * n
        assert n_cand <= bound, f"probes={probes}: {n_cand} candidates > {bound}"
        assert n_cand < n_boiler * (n_boiler - 1) / 2, "cap did not engage"
        # every CAPPED-bucket member must still get ≥1 candidate (random-
        # bucket singletons legitimately have none at probes=0)
        covered = (
            cand.filter(F.col("vec_id") < n_boiler).select("vec_id").distinct().count()
        )
        assert covered == n_boiler, f"only {covered}/{n_boiler} capped members covered"


def test_lsh_nbits_scales_with_corpus():
    from gdxpy_spark.operators.llm import _auto_n_bits

    assert _auto_n_bits(500) == 6          # test-scale floor: unchanged behavior
    assert _auto_n_bits(10_000) == 9       # ceil(log2(10000/32))
    assert _auto_n_bits(1_000_000) == 15
    assert _auto_n_bits(10**9) == 24       # hi bound
    assert _auto_n_bits(10) == 6


def test_embed_dedup_finds_planted_dups(spark, planted_dir):
    out = {r["dup_id"]: r["kept_id"] for r in ALL["llm_embed_dedup"].fn(spark, planted_dir).collect()}
    for i in range(N_PLANT):
        assert out.get(100000 + i) == i, f"planted near-dup {i} not deduped"


@pytest.mark.slow
def test_ivf_recall_on_planted_pairs(spark, planted_dir):
    """A 1%-noise copy lands in (or probes into) its base's k-means cell
    — IVF recall on planted pairs must be near-perfect."""
    nn = {r["vec_id"]: r["nn_id"] for r in ALL["llm_ann_ivf"].fn(spark, planted_dir).collect()}
    hits = sum(1 for i in range(N_PLANT) if nn.get(100000 + i) == i)
    assert hits >= N_PLANT - 2, f"IVF recall too low: {hits}/{N_PLANT}"


def test_ivf_recall_floor_on_real_corpus(spark):
    """nprobe=2 of 16 cells must beat the 2/16 random-candidate baseline
    by a wide margin even on near-uniform vectors."""
    ivf = {r["vec_id"]: r["nn_id"] for r in ALL["llm_ann_ivf"].fn(spark, SF_DIR).collect()}
    brute = {r["vec_id"]: r["nn_id"] for r in ALL["llm_knn_brute"].fn(spark, SF_DIR).collect()}
    hits = sum(1 for v in brute if ivf.get(v) == brute[v])
    recall = hits / len(brute)
    assert recall >= 0.35, f"IVF nprobe=2 recall {recall:.2f} below floor"


def test_ivf_served_recall_on_planted_pairs(spark, planted_dir):
    """The persisted-index serving path must hold the same planted-pair
    recall floor as the rebuild-per-query op (it shares the k/seed/
    nprobe spec; this pins the floor independently of the equality
    test in test_r10_ops.py)."""
    nn = {
        r["vec_id"]: r["nn_id"]
        for r in ALL["llm_ann_ivf_served"].fn(spark, planted_dir).collect()
    }
    hits = sum(1 for i in range(N_PLANT) if nn.get(100000 + i) == i)
    assert hits >= N_PLANT - 2, f"served IVF recall too low: {hits}/{N_PLANT}"


def test_semdedup_finds_planted_dups_with_exact_precision(spark, planted_dir):
    """SemDeDup must (a) cluster each 1%-noise copy with its base —
    recall on planted semantic dups — and (b) never emit a dup pair the
    exact all-pairs cosine rule would reject: every (dup, kept) group
    member must have cos >= 0.4 to SOME member of its group by brute
    recompute (precision is exact by construction; this pins it)."""
    import math

    sd = ALL["llm_semdedup"].fn(spark, planted_dir)
    comp = {r["dup_id"]: r["kept_id"] for r in sd.collect()}
    hits = sum(
        1 for i in range(N_PLANT)
        if comp.get(100000 + i) == i or comp.get(i) == comp.get(100000 + i, -1)
    )
    assert hits >= N_PLANT - 2, f"semdedup planted recall {hits}/{N_PLANT}"

    # precision: recompute cosines for emitted pairs against the source
    emb = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, planted_dir, "embeddings").collect()
    }

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return num / (na * nb)

    groups: dict[int, list[int]] = {}
    for d, k in comp.items():
        groups.setdefault(k, [k]).append(d)
    for k, members in groups.items():
        for d in members:
            if d == k:
                continue
            best = max(cos(emb[d], emb[m]) for m in members if m != d)
            assert best >= 0.4 - 1e-9, (
                f"semdedup grouped {d} with {k} but its best in-group cos "
                f"is {best:.3f}"
            )


@pytest.mark.slow
def test_semdedup_pq_planted_recall_and_exact_precision(spark, planted_dir):
    """The PQ-shortlisted variant must hold llm_semdedup's planted
    floor: each 1%-noise twin scores ~the quantization distortion under
    ADC (it shares all four sub-cells with its base w.h.p.) so it ranks
    far inside the top-R shortlist — and precision stays EXACT because
    every emitted edge passes the full-precision τ verify (same brute
    recompute check as the exact op)."""
    import math

    sd = ALL["llm_semdedup_pq"].fn(spark, planted_dir)
    comp = {r["dup_id"]: r["kept_id"] for r in sd.collect()}
    hits = sum(
        1 for i in range(N_PLANT)
        if comp.get(100000 + i) == i or comp.get(i) == comp.get(100000 + i, -1)
    )
    assert hits >= N_PLANT - 2, f"semdedup_pq planted recall {hits}/{N_PLANT}"

    emb = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, planted_dir, "embeddings").collect()
    }

    def cos(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return num / (na * nb)

    groups: dict[int, list[int]] = {}
    for d, k in comp.items():
        groups.setdefault(k, [k]).append(d)
    for k, members in groups.items():
        for d in members:
            if d == k:
                continue
            best = max(cos(emb[d], emb[m]) for m in members if m != d)
            assert best >= 0.4 - 1e-9, (
                f"semdedup_pq grouped {d} with {k} but its best in-group "
                f"cos is {best:.3f}"
            )


@pytest.mark.slow
def test_semdedup_pq_is_subset_of_exact_semdedup_groups(spark):
    """Shortlisting can only DROP candidate edges, never add them, and
    the τ verify is shared — so every (dup, kept) the PQ variant emits
    must place dup and kept in the SAME exact-semdedup component (the
    PQ dedup under-merges at worst, never mis-merges)."""
    exact = ALL["llm_semdedup"].fn(spark, SF_DIR).collect()
    pq = ALL["llm_semdedup_pq"].fn(spark, SF_DIR).collect()
    comp = {r["dup_id"]: r["kept_id"] for r in exact}
    for r in comp.copy():
        comp.setdefault(comp[r], comp[r])  # roots map to themselves

    def root(x):
        return comp.get(x, x)

    for r in pq:
        assert root(r["dup_id"]) == root(r["kept_id"]), (
            f"PQ merged {r['dup_id']} with {r['kept_id']} but exact "
            f"semdedup has them in different components"
        )
