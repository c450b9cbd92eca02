"""Deployment-regime pin for the banded hyperplane-LSH candidate
generator (round-6 verdict item 6).

The registry query dedup_semantic_survivors_lsh runs at the synthetic
corpus's 0.35 cosine threshold, where hyperplane LSH is inherently
~N^1.7 (ρ≈0.70 — measured and documented in SCALE.md).  The regime the
operator exists for is SemDeDup-style semantic dedup at cosine ≥ 0.9;
this test PINS that regime with planted near-duplicates: at density-law
bits the construction must find essentially every planted pair while
the random-collision floor stays a small constant — i.e. candidate
volume ~ true-pair volume, the linear-at-100TB claim.
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
from pyspark.sql import Row

from mongo_hadoop_spark.operators.similarity import (
    EMB_DIM, banded_lsh_candidates,
)

N_BASE = 150          # distinct base vectors
N_DUP = 50            # planted noisy copies (of base ids 0..49)
NOISE = 0.33          # => cosine(v, v + NOISE*u) ≈ 1/sqrt(1+NOISE²) ≈ 0.95
BANDS, BITS = 16, 16  # deployment sizing: bits ≈ log2(N·B) + margin


def _unit(seed: str) -> list[float]:
    """Deterministic pseudo-gaussian unit vector via md5 counters."""
    raw = []
    for d in range(EMB_DIM):
        h = int(hashlib.md5(f"{seed}|{d}".encode()).hexdigest()[:8], 16)
        # sum of two uniforms − 1: symmetric, light tails, deterministic
        u1 = (h & 0xFFFF) / 65535.0
        u2 = (h >> 16) / 65535.0
        raw.append(u1 + u2 - 1.0)
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _corpus():
    rows = []
    for i in range(N_BASE):
        rows.append(Row(vec_id=i, embedding=_unit(f"base|{i}")))
    for i in range(N_DUP):
        v = _unit(f"base|{i}")
        u = _unit(f"noise|{i}")
        w = [a + NOISE * b for a, b in zip(v, u)]
        rows.append(Row(vec_id=N_BASE + i, embedding=w))
    return rows


def test_deployment_regime_is_linear_with_full_recall(spark):
    emb = spark.createDataFrame(_corpus())
    cand = {(r["id_a"], r["id_b"])
            for r in banded_lsh_candidates(emb, BANDS, BITS).collect()}
    planted = {(i, N_BASE + i) for i in range(N_DUP)}
    recall = len(cand & planted) / N_DUP
    # cosine≈0.95 → p₁≈0.90, band hit p₁^16≈0.18, OR over 16 ≈ 96%
    assert recall >= 0.85, f"recall {recall} below deployment expectation"
    # random-collision floor: B·C(N,2)/2^R ≈ 16·19900/65536 ≈ 5 pairs —
    # candidate volume must be ~true-pair volume, not corpus-quadratic
    slack = len(cand - planted)
    assert slack <= 25, f"{slack} non-planted candidates (collision floor blown)"


def test_registry_band_shape_unchanged(spark):
    """The oracle-pinned registry configuration stays (16 bands, 8 bits)
    — changing it silently would invalidate every recorded driver hash."""
    from mongo_hadoop_spark.operators.similarity import (
        SEM_LSH_BANDS, SEM_LSH_BITS,
    )

    assert (SEM_LSH_BANDS, SEM_LSH_BITS) == (16, 8)


def test_exact_duplicate_collapse_is_answer_preserving(spark, tmp_path):
    """r9 duplicate-collapse hardening (_vector_classes): planting
    exact-duplicate vectors must (a) dominate every non-min copy,
    (b) leave the representatives' survivor decisions unchanged, and
    (c) give duplicates identical PQ codes to their representative —
    the properties that let the collapsed formulations share the
    original oracles verbatim."""
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.operators.similarity import (
        dedup_semantic_survivors_ivf, dedup_semantic_survivors_lsh,
        embedding_pq_codes)

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "dup_sf")
    (tmp_path / "dup_sf").mkdir()
    for t in ("embeddings",):
        base = spark.read.parquet(f"{src}/{t}.parquet")
        shift = base.agg(F.max("vec_id")).collect()[0][0] + 1
        # clone EVERY vector once, verbatim, at shifted ids
        clones = base.withColumn("vec_id", F.col("vec_id") + F.lit(shift))
        base.unionByName(clones).write.parquet(f"{out}/{t}.parquet")
    # (these operators read only the embeddings table, so the other
    # tables need not exist in the synthetic sf dir)

    base_ids = {r.vec_id for r in spark.read.parquet(
        f"{src}/embeddings.parquet").select("vec_id").collect()}
    for op in (dedup_semantic_survivors_ivf, dedup_semantic_survivors_lsh):
        orig = {r.vec_id for r in op(spark, src).collect()}
        dup = {r.vec_id for r in op(spark, out).collect()}
        # every clone (higher id, exact copy) must be dominated...
        assert dup <= base_ids, op.__name__
        # ...and the originals' survivor set is untouched
        assert dup == orig, op.__name__

    codes = embedding_pq_codes(spark, out).collect()
    by_id = {r.vec_id: tuple(r)[1:] for r in codes}
    assert len(by_id) == 2 * len(base_ids)  # every row still present
    shift = max(base_ids) + 1
    for vid in base_ids:
        assert by_id[vid + shift] == by_id[vid]  # clone codes = rep codes


def test_fixed_k_coarse_quantizer_is_corpus_decoupled(spark):
    """r10: the fixed-K coarse quantizer's codebook is ≤ IVF_FIXED_K rows
    at every SF (corpus-size decoupling — the last SCALE.md residual),
    assignments cover every vector exactly once, and the ivf_fixed dedup
    keeps exactly the min-id representative of every exact-duplicate
    class (answer preservation of the collapse composed with fixed-K
    cells)."""
    from mongo_hadoop_spark.operators.similarity import (
        IVF_FIXED_K, _ivf_fixed_centroids,
        dedup_semantic_survivors_ivf_fixed, ivf_assign_fixed,
    )
    from mongo_hadoop_spark.session import table

    sf = "/root/testdata/sf0.001"
    cents = _ivf_fixed_centroids(spark, sf).collect()
    assert 0 < len(cents) <= IVF_FIXED_K
    assert all(len(c.cv) == EMB_DIM for c in cents)

    emb_n = table(spark, sf, "embeddings").count()
    assign = ivf_assign_fixed(spark, sf)
    got = assign.collect()
    assert len(got) == emb_n                      # every vector, once
    cids = {c.cid for c in cents}
    assert {r.centroid_id for r in got} <= cids   # only trained cells

    # exact-duplicate classes: every non-min member must be dominated
    dup = table(spark, sf, "embeddings").select(
        "vec_id", F.md5(F.to_json(F.struct("embedding"))).alias("k"))
    import collections
    cls = collections.defaultdict(list)
    for r in dup.collect():
        cls[r.k].append(r.vec_id)
    non_min = {v for ids in cls.values() for v in ids if v != min(ids)}
    survivors = {r.vec_id for r in
                 dedup_semantic_survivors_ivf_fixed(spark, sf).collect()}
    assert not (survivors & non_min)


def test_capped_semdedup_hot_cell_contract(spark, tmp_path):
    """r11 (verdict item 4): the per-cell-capped SemDeDup composition
    under a PLANTED hot-cell corpus — near-duplicate replicas (distinct
    vectors, cosine ≈ 1, same fixed-K cell, strictly larger ids), the
    regime where the uncapped fixed-K composition's within-cell pair
    volume grows quadratically.

    Contract pinned here:
    (a) anchor stability — replicas carry larger ids than every base
        vector, so each cell's CELL_ANCHOR_CAP smallest-id anchors are
        unchanged and the BASE ids' survivor decisions are identical to
        the un-planted corpus;
    (b) recall containment — the cap can only MISS dominations, never
        invent them: capped survivors ⊇ uncapped fixed-K survivors,
        on both the plain and the planted corpus;
    (c) member domination — exact-duplicate class members are still
        dominated outright (the collapse runs ahead of the cap).
    """
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.operators.similarity import (
        dedup_semantic_survivors_ivf_capped,
        dedup_semantic_survivors_ivf_fixed)

    src = "/root/testdata/sf0.001"
    out = str(tmp_path / "hot_sf")
    (tmp_path / "hot_sf").mkdir()
    base = spark.read.parquet(f"{src}/embeddings.parquet")
    shift = base.agg(F.max("vec_id")).collect()[0][0] + 1
    planted = base
    for i in (1, 2):   # 3x corpus: base + two near-dup replicas
        planted = planted.unionByName(
            base.withColumn("vec_id", F.col("vec_id") + i * shift)
            .withColumn("embedding", F.expr(
                "transform(embedding, (x, j) -> CAST(CASE WHEN j = 0 "
                f"THEN x + {i}e-5 ELSE x END AS FLOAT))")))
    planted.write.parquet(f"{out}/embeddings.parquet")

    base_ids = {r.vec_id for r in base.select("vec_id").collect()}
    cap_plain = {r.vec_id for r in
                 dedup_semantic_survivors_ivf_capped(spark, src).collect()}
    cap_hot = {r.vec_id for r in
               dedup_semantic_survivors_ivf_capped(spark, out).collect()}
    fix_plain = {r.vec_id for r in
                 dedup_semantic_survivors_ivf_fixed(spark, src).collect()}
    fix_hot = {r.vec_id for r in
               dedup_semantic_survivors_ivf_fixed(spark, out).collect()}

    assert cap_hot & base_ids == cap_plain          # (a)
    assert cap_plain >= fix_plain                   # (b)
    assert cap_hot >= fix_hot                       # (b)
    # (c): plant one exact clone class and check outright domination
    clone_out = str(tmp_path / "clone_sf")
    (tmp_path / "clone_sf").mkdir()
    clones = base.withColumn("vec_id", F.col("vec_id") + 10 * shift)
    base.unionByName(clones).write.parquet(f"{clone_out}/embeddings.parquet")
    cap_clone = {r.vec_id for r in dedup_semantic_survivors_ivf_capped(
        spark, clone_out).collect()}
    assert cap_clone <= base_ids                    # every clone dominated
    assert cap_clone == cap_plain                   # reps' decisions intact


def test_cell_density_overflow_signal(spark, tmp_path):
    """r12 (verdict item 4): the cell-density report FIRES on the
    planted hot-cell corpus — every cell whose distinct-class count
    exceeds CELL_ANCHOR_CAP carries overflow=true, the class/row
    accounting reconciles with the corpus, and exact-duplicate clones
    inflate n_rows but NOT n_classes (the collapse runs first)."""
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.operators.similarity import (
        CELL_ANCHOR_CAP, dedup_semantic_cell_density)

    src = "/root/testdata/sf0.001"
    base = spark.read.parquet(f"{src}/embeddings.parquet")
    n_base = base.count()
    shift = base.agg(F.max("vec_id")).collect()[0][0] + 1

    plain = dedup_semantic_cell_density(spark, src).collect()
    assert sum(r.n_rows for r in plain) == n_base
    assert all(r.overflow == (r.n_classes > CELL_ANCHOR_CAP)
               for r in plain)

    # planted hot cells: near-dup replicas are DISTINCT classes, so
    # n_classes triples and the overflow flag must fire somewhere
    out = str(tmp_path / "hot_sf")
    (tmp_path / "hot_sf").mkdir()
    planted = base
    for i in (1, 2):
        planted = planted.unionByName(
            base.withColumn("vec_id", F.col("vec_id") + i * shift)
            .withColumn("embedding", F.expr(
                "transform(embedding, (x, j) -> CAST(CASE WHEN j = 0 "
                f"THEN x + {i}e-5 ELSE x END AS FLOAT))")))
    planted.write.parquet(f"{out}/embeddings.parquet")
    hot = dedup_semantic_cell_density(spark, out).collect()
    assert sum(r.n_rows for r in hot) == 3 * n_base
    assert sum(r.n_classes for r in hot) == 3 * sum(
        r.n_classes for r in plain)
    assert any(r.overflow for r in hot)

    # exact clones: same classes, doubled rows — no new overflow beyond
    # the plain corpus's own flags
    clone_out = str(tmp_path / "clone_sf")
    (tmp_path / "clone_sf").mkdir()
    base.unionByName(
        base.withColumn("vec_id", F.col("vec_id") + 10 * shift)
    ).write.parquet(f"{clone_out}/embeddings.parquet")
    cl = dedup_semantic_cell_density(spark, clone_out).collect()
    assert {(r.centroid_id, r.n_classes, r.overflow) for r in cl} == \
        {(r.centroid_id, r.n_classes, r.overflow) for r in plain}
    assert sum(r.n_rows for r in cl) == 2 * n_base


def test_ivf_pq_knn_fixed_trains_each_state_once(spark, monkeypatch):
    """A direct library call (no registry wrapper) trains the coarse
    centroids and the PQ codebook once each, and a second call trains
    them again (no state carried between calls)."""
    from conftest import SF_SMOKE
    from mongo_hadoop_spark.operators import similarity

    calls = {"ivf": 0, "pq": 0}

    def counted(key, build):
        def wrapper(*args):
            calls[key] += 1
            return build(*args)
        return wrapper

    monkeypatch.setattr(similarity, "_ivf_fixed_centroids_build", counted(
        "ivf", similarity._ivf_fixed_centroids_build))
    monkeypatch.setattr(similarity, "_pq_fixed_codebook_build", counted(
        "pq", similarity._pq_fixed_codebook_build))
    similarity.ivf_pq_knn_fixed(spark, SF_SMOKE)
    assert calls == {"ivf": 1, "pq": 1}
    similarity.ivf_pq_knn_fixed(spark, SF_SMOKE)
    assert calls == {"ivf": 2, "pq": 2}
