"""Hyperplane-family health pins (the round-8 lesson, made mechanical).

The original weight formula ((h*73 + j*37) % 7) - 3 was a function of
h mod 7 — SEVEN distinct hyperplanes total, max 128 effective buckets
at any configured plane count, measured as 406-vector average buckets
and a 6.09x wall-clock blowup on 2x docs at 50k vectors. These tests
recompute the family EXACTLY as both engines do and assert the
properties that made that bug invisible in code review:

1. plane vectors are pairwise distinct over every h the engine uses;
2. on a clustered corpus, the sign codes spread over far more than
   2^7 buckets and no bucket collapses a constant fraction of the
   corpus.

A future "simplification" of the formula that reintroduces modular
degeneracy or cross-plane correlation fails here in seconds, not in a
half-hour stress probe.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from tests.test_plan_lint import SF_DIR
from tpg_weather_etl_spark.queries_embeddings import (
    EMB_DIM,
    JL_DIM,
    JL_H0,
    N_PLANES,
    NEARDUP_TABLES,
)


def _weights(h_values):
    H = np.asarray(h_values)[:, None]
    J = np.arange(EMB_DIM)[None, :]
    return ((H * 73 + J * 37 + H * J * 29) % 97) - 48


def test_plane_vectors_pairwise_distinct():
    # every h the engine can use BEFORE the LSH range reaches the JL
    # draw: the sizing rule is n_planes ~ log2(n_vectors/16) per
    # table x NEARDUP_TABLES tables, so LSH planes run over
    # [0, NEARDUP_TABLES*n_planes). Derive the tested range from
    # JL_H0 itself instead of pinning a literal plane count — a probe
    # config whose sizing reaches the JL offset fails HERE, not as a
    # silent plane-reuse in a half-hour stress run (the round-8 bug
    # class; the round-9 ADVICE found the literal-13 pin left planes
    # 40-41 uncovered at ~260k docs with the old JL_H0=40).
    hs = list(range(JL_H0)) + list(range(JL_H0, JL_H0 + JL_DIM))
    W = _weights(hs)
    seen = {tuple(row) for row in W.tolist()}
    assert len(seen) == len(hs), "duplicate hyperplanes in the family"
    # and no two planes are exact negations either (same partition)
    neg = {tuple((-row).tolist()) for row in W}
    assert not (seen & neg)


def test_jl_offset_beyond_any_feasible_lsh_sizing():
    # The LSH side collides with the JL draw once
    # NEARDUP_TABLES * n_planes > JL_H0. Assert the corpus size at
    # which that happens is absurd (>1e8 vectors), so no realistic
    # probe or production sizing can reach the JL planes.
    max_safe_planes = JL_H0 // NEARDUP_TABLES          # per table
    n_at_collision = 16 * 2 ** (max_safe_planes + 1)   # n ~ 16*2^p
    assert n_at_collision > 10 ** 8, (max_safe_planes, n_at_collision)
    # and the JL draw itself stays inside the 97-plane family
    assert JL_H0 + JL_DIM <= 97


def test_bucket_distribution_on_clustered_corpus():
    rng = np.random.default_rng(13)
    n, cluster = 20_000, 64
    centers = rng.standard_normal((n // cluster, EMB_DIM)) * 3.0
    embs = (centers[np.arange(n) % (n // cluster)]
            + rng.standard_normal((n, EMB_DIM)) * 0.5)
    planes = 12  # the probe's scaled configuration at this size
    max_sizes, occupied = [], []
    for tbl in range(NEARDUP_TABLES):
        W = _weights(range(tbl * planes, (tbl + 1) * planes))
        signs = (embs @ W.T) > 0
        codes = (signs * (1 << np.arange(planes))).sum(axis=1)
        _, counts = np.unique(codes, return_counts=True)
        occupied.append(len(counts))
        max_sizes.append(counts.max())
    # the degenerate family capped occupancy at 128 codes and grew
    # buckets with the corpus (max ~1900 at this size); the healthy
    # family spreads clusters across the 4096-code space
    assert min(occupied) > 300, occupied
    assert max(max_sizes) < n // 20, max_sizes


def test_pair_jaccard_reduce_once_output_parity(spark):
    """The large-corpus once-reduced verify path (r13,
    _pair_jaccard(reduce_once=True)) must be value-identical to the
    gate-pinned two-semi-join plan — the branch switch is a plan
    choice, never a semantics choice."""
    from pyspark.sql import functions as F

    from tpg_weather_etl_spark.queries_text import _pair_jaccard

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(12)))
         for i in range(40)]
        + [(100 + i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(12)))
           for i in range(10)],          # 10 exact near-dups of 0..9
        ["doc_id", "text"])
    from tpg_weather_etl_spark.queries_text import shingles_from_docs
    sh = shingles_from_docs(docs, k=3)
    cand = spark.createDataFrame(
        [(i, 100 + i) for i in range(10)] + [(0, 5), (3, 17)],
        ["doc_a", "doc_b"])

    def rows(reduce_once):
        out = _pair_jaccard(sh, cand=cand, reduce_once=reduce_once)
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, round(r.jaccard, 9))
            for r in out.collect())

    base, once = rows(False), rows(True)
    assert base == once
    # 11 scored rows: the 10 planted dup pairs + (3,17); (0,5) shares
    # no shingle, and zero-intersection candidates emit no row in
    # EITHER branch (inner-join semantics — part of the parity claim)
    assert len(base) == 11
    assert sum(1 for r in base if r[3] == 1.0) == 10


def test_mh_reduce_once_threshold(spark, tmp_path):
    """Below MH_REDUCE_ONCE_MIN_DOCS the gate plan is untouched."""
    from tpg_weather_etl_spark.queries_text import _mh_reduce_once

    docs = spark.createDataFrame(
        [(i, f"tiny doc {i}", "en", "web", 10) for i in range(50)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    docs.write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    assert _mh_reduce_once(spark, str(tmp_path)) is False


@pytest.fixture(scope="module")
def _need_testdata():
    if not Path(SF_DIR).exists():
        pytest.skip("sf0.001 testdata not present")


def test_kmeans_ivf_recall_vs_brute_force(spark, _need_testdata):
    from tpg_weather_etl_spark.queries_embeddings import (
        IVF_TOPK,
        q_embedding_topk,
        q_kmeans_ivf_topk,
    )

    exact = {}
    for r in q_embedding_topk(spark, SF_DIR).collect():
        if r.rank <= IVF_TOPK:
            exact.setdefault(r.qid, set()).add(r.vec_id)
    approx = {}
    for r in q_kmeans_ivf_topk(spark, SF_DIR).collect():
        approx.setdefault(r.qid, set()).add(r.vec_id)

    # recall@3 over the query set: the trained quantizer must place
    # the true neighbors in probed cells for >=80% of (query, hit)s
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert total > 0
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_multi_table_neardup_superset_and_candidates(spark, _need_testdata):
    from pyspark.sql import functions as F

    from tpg_weather_etl_spark.queries_embeddings import (
        _bucketed,
        _bucketed_multi,
        q_embedding_neardup,
        q_embedding_neardup_multi,
    )

    single = {(r.vec_a, r.vec_b)
              for r in q_embedding_neardup(spark, SF_DIR).collect()}
    multi = {(r.vec_a, r.vec_b)
             for r in q_embedding_neardup_multi(spark, SF_DIR).collect()}
    # more tables can only ADD candidate pairs; the cosine verify is
    # identical, so multi-table recall dominates single-table
    assert single <= multi

    def n_cand(bkt, keys):
        a = bkt.select(F.col("vec_id").alias("a"), *keys)
        b = bkt.select(F.col("vec_id").alias("b"),
                       *[F.col(k).alias(f"{k}_b") for k in keys])
        cond = F.col("a") < F.col("b")
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"{k}_b"))
        return a.join(b, cond).select("a", "b").distinct().count()

    c1 = n_cand(_bucketed(spark, SF_DIR), ["bucket"])
    cm = n_cand(_bucketed_multi(spark, SF_DIR), ["tbl", "bucket"])
    # L tables inspect more candidates (union over tables) but stay
    # far below the n^2 cross join
    n = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert c1 <= cm < n * (n - 1) / 2


def test_hot_band_bucket_cap_binding_and_inert(spark):
    """filter_hot_band_buckets: inert when no bucket exceeds the cap;
    drops the mega-bucket (and its quadratic pair blob) when one
    does — the text-side analogue of the embedding family's
    filter_hot_buckets (round-9 probe find: boilerplate-heavy corpora
    grow one shared header bucket per band linearly with the corpus,
    so uncapped candidates grow quadratically)."""
    from pyspark.sql import functions as F

    from tpg_weather_etl_spark.queries_text import (
        bands_from_shingles,
        filter_hot_band_buckets,
        shingles_from_docs,
    )

    # 12 identical docs -> every band bucket holds all 12
    body = " ".join(f"w{i}" for i in range(30))
    rows = [(i, body) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = bands_from_shingles(shingles_from_docs(docs))

    capped_inert = filter_hot_band_buckets(bands, cap=50)
    assert capped_inert.count() == bands.count()  # inert above size

    capped = filter_hot_band_buckets(bands, cap=5)
    assert capped.count() == 0  # the mega-bucket is dropped whole

    # mixed corpus: mega-cluster + 3 small near-dup pairs -> cap keeps the
    # small buckets intact while dropping only the hot one
    rows2 = rows + [(100 + i, " ".join(f"p{i}_{j}" for j in range(30)))
                    for i in range(3)]
    rows2 += [(200 + i, " ".join(f"p{i}_{j}" for j in range(29)) + " zz")
              for i in range(3)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    bands2 = bands_from_shingles(shingles_from_docs(docs2))
    kept = filter_hot_band_buckets(bands2, cap=5)
    kept_docs = {r.doc_id for r in kept.select("doc_id").distinct().collect()}
    assert not kept_docs & set(range(12))
    assert {100, 101, 102, 200, 201, 202} <= kept_docs
