"""Embedding similarity-search gate over the ``embeddings`` table
(``vec_id bigint, embedding array<float>, label int``).

- ``embedding_topk``: brute-force cosine top-k — the correctness
  baseline. All arithmetic in double; similarity is rounded to 6
  decimals (+0.0 normalizes -0.0) *before* ranking so both engines
  rank identical values with the vec_id tiebreak.
- ``ann_buckets`` / ``ann_topk``: deterministic random-hyperplane LSH —
  the scale path. Hyperplane weights are the integer formula
  w(h,j) = ((h*73 + j*37 + h*j*29) % 97) - 48, reproducible in any
  engine; the
  bucket id packs the 8 projection signs. The modulus MUST exceed the
  largest plane index ever used: the plane VECTOR [w(h,j) for j] is a
  function of h mod modulus, so a small modulus collapses the family
  (the original mod-7 form had only 7 distinct hyperplanes — max 128
  effective buckets at ANY configured plane count; measured as a
  406-vector average bucket at 50k corpus size, SCALE.md rule 11).
  The h·j cross term decorrelates the planes: without it every plane
  is the same arithmetic progression shifted by a constant, signs
  correlate across planes, and bucket sizes skew 20x (max 3918 vs 288
  on the 50k probe corpus; within 1.01x of true-random md5 weights by
  total candidate volume). At 100 TB the bucket join
  replaces the n² cross join; candidates are reranked by exact cosine
  within buckets.

Sign robustness: a projection within ~1e-12 of zero could flip its
bit across engines (summation order); with O(1)-magnitude embeddings
the probability is negligible, and the gate would surface it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.vectors import (
    cosine_from_norms,
    cosine_from_parts,
    cosine_similarity,
    dot_product_d,
    l2_norm,
)
from tpg_weather_etl_spark.sources.tables import read_table as t

N_PLANES = 8
N_QUERY_VECS = 10
EMB_DIM = 64  # testdata embedding dimensionality (oracle hardcodes it)


def _cos_rounded(a, b):
    return F.round(cosine_similarity(a, b), 6) + F.lit(0.0)


# --- per-pair cosine with the per-vector work hoisted (opt r14) -----
# The inline _cos_rounded evaluates five 64-element fold expressions
# per candidate pair (dot + 2 norms in the when-guard + 2 norms in
# the division), all interpreted (higher-order functions do not
# codegen). In every pair join the norms and the float→double cast
# depend on ONE side each, so they belong in the join-side row
# projections: per-pair work drops to the single dot product. Same
# IEEE ops in the same order → bit-identical results (the oracle SQL
# is untouched and the driver gate re-proves value-hash equality).

def _emb_d(c) -> Column:
    """Per-row float→double cast of an embedding array (exact)."""
    return F.transform(c, lambda x: x.cast("double"))


def _cos_rounded_pre(a_d, b_d, na, nb) -> Column:
    """``_cos_rounded`` over pre-cast arrays + pre-computed norms."""
    return F.round(cosine_from_parts(a_d, b_d, na, nb), 6) + F.lit(0.0)


def _emb_side(e: DataFrame, id_alias: str, emb_alias: str,
              norm_alias: str, id_col: str = "vec_id",
              emb_col: str = "embedding") -> DataFrame:
    """(id, emb_d, norm) join-side projection: one cast + one norm
    per row, feeding ``_cos_rounded_pre`` in the pair expression.

    Use ONLY where the projected side reaches the pair expression
    without crossing an Exchange/Broadcast (the streamed side of the
    brute-force cross joins, or below an AQE-broadcast build of a
    tiny table): the pre-cast double array is 2x the storage float
    width, measured as a net loss when it rides a shuffle or a
    corpus-sized broadcast (50k-vector probe, OPTIMIZATION_r14.md).
    For key/bucket joins use ``_emb_side_f`` + ``_cos_rounded_norms``."""
    return e.select(
        F.col(id_col).alias(id_alias),
        _emb_d(F.col(emb_col)).alias(emb_alias),
        l2_norm(F.col(emb_col)).alias(norm_alias),
    )


def _cos_rounded_norms(a, b, na, nb) -> Column:
    """``_cos_rounded`` with pre-computed norms over storage-type
    arrays (the cast happens inside the single per-pair dot)."""
    return F.round(cosine_from_norms(a, b, na, nb), 6) + F.lit(0.0)


def _emb_side_f(e: DataFrame, id_alias: str, emb_alias: str,
                norm_alias: str, id_col: str = "vec_id",
                emb_col: str = "embedding") -> DataFrame:
    """(id, raw float emb, norm) MIXED join-side projection for
    key/bucket equi-joins whose sides cross an Exchange or Broadcast:
    hoists only the 8-byte norm (the expensive self-fold) and keeps
    the array at storage width, so shuffle/broadcast bytes stay flat
    while the pair expression still drops from five folds to one
    (see functions.vectors.cosine_from_norms for the bit-identity
    argument)."""
    return e.select(
        F.col(id_col).alias(id_alias),
        F.col(emb_col).alias(emb_alias),
        l2_norm(F.col(emb_col)).alias(norm_alias),
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (baseline; exact)
# ---------------------------------------------------------------------------

def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    q = _emb_side(e.filter(F.col("vec_id") < N_QUERY_VECS),
                  "qid", "q_emb", "qn")
    pairs = (
        _emb_side(e, "vec_id", "emb_d", "nn")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            _cos_rounded_pre(F.col("q_emb"), F.col("emb_d"),
                             F.col("qn"), F.col("nn")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


SQL_EMBEDDING_TOPK = f"""
WITH q AS (SELECT vec_id AS qid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
a AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
p AS (SELECT qid, vec_id,
        round(list_dot_product(qe, e)
              / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
              6) + 0.0 AS cos
      FROM q CROSS JOIN a WHERE vec_id != qid)
SELECT qid, vec_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, vec_id ASC) AS rank
      FROM p)
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss compressed scan + exact rerank — the third
# ANN compression axis (SQ8 quantizes values, PQ quantizes subspaces,
# JL reduces DIMENSIONS). At 100 TB the win is scan bandwidth: the
# brute-force pass reads a 16-double projection column instead of the
# 64-float vectors (4x less), and the full vectors are touched only
# for the bounded rerank candidate set.
# ---------------------------------------------------------------------------

JL_DIM = 16
JL_H0 = 80       # plane-index offset: a fresh draw from the same
                 # decorrelated integer weight family as the LSH.
                 # The plane VECTOR is a function of h mod 97, so the
                 # family holds exactly 97 distinct planes and offsets
                 # must stay inside [0, 97) to be actually fresh —
                 # an offset of 500 (= 15 mod 97) silently REUSED LSH
                 # planes 15-30 (caught by test_lsh_family). 80, not
                 # 40: the production sizing rule (~log2(n/16) planes
                 # x NEARDUP_TABLES tables) reaches LSH plane 42 at
                 # ~260k docs, which would have overlapped a 40-offset
                 # JL draw; at 80 the LSH side would need n_planes>=27
                 # (~2e9 vectors) before colliding, and
                 # test_lsh_family derives its distinctness range from
                 # this offset so any future overlap fails there first
JL_RERANK = 20   # JL-space candidates per query before exact rerank


def _jl_project(col) -> Column:
    """16-double JL projection of an embedding array — same
    engine-portable weight family as the LSH planes (the h·j cross
    term matters here for the same reason: correlated rows of a
    projection matrix squash the projected geometry)."""
    xd = F.transform(col, lambda x: x.cast("double"))
    idx = F.sequence(F.lit(0), F.size(col) - 1)
    return F.transform(
        F.sequence(F.lit(JL_H0), F.lit(JL_H0 + JL_DIM - 1)),
        lambda h: F.aggregate(
            F.zip_with(
                xd, idx,
                lambda x, j: x * (((h * 73 + j * 37 + h * j * 29) % 97)
                                  - 48).cast("double")),
            F.lit(0.0), lambda acc, x: acc + x),
    )


def q_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbours per query via JL-compressed scan + exact
    rerank: brute-force cosine in the 16-d projection space selects
    JL_RERANK candidates; the 64-d vectors are read back only for
    those, and the final top-5 ranks by exact cosine.

    Scale shape: the projection is computed ONCE per vector (a narrow
    16-double column — project at ingest and the scan reads 4x fewer
    bytes than the raw vectors); the JL pass is the same broadcast
    crossJoin as the exact baseline but over compressed rows; the
    rerank joins the full embeddings against a (queries x JL_RERANK)-
    bounded candidate list. Ordering ties at both cut points are
    deterministic (6dp-rounded cos, vec_id tiebreak).
    """
    e = t(spark, sf_dir, "embeddings")
    # y is already array<double>; the JL pass hoists only the norms
    # (the cast hoist applies to the raw-embedding rerank sides below)
    jl = e.select("vec_id", _jl_project(F.col("embedding")).alias("y"))
    jl = jl.select("vec_id", "y",
                   F.sqrt(dot_product_d(F.col("y"), F.col("y")))
                   .alias("yn"))
    qj = jl.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("y").alias("qy"),
        F.col("yn").alias("qyn"))
    jp = (
        jl.crossJoin(F.broadcast(qj))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id",
                _cos_rounded_pre(F.col("qy"), F.col("y"),
                                 F.col("qyn"), F.col("yn"))
                .alias("jl_cos"))
    )
    wj = Window.partitionBy("qid").orderBy(
        F.desc("jl_cos"), F.asc("vec_id"))
    cand = (jp.withColumn("rn", F.row_number().over(wj))
            .filter(F.col("rn") <= JL_RERANK)
            .select("qid", "vec_id"))
    # Rerank verifies only N_QUERY*JL_RERANK pairs against the full
    # corpus side: any per-row hoist on ce does MORE work than the
    # pairs save, so the exact cosine stays inline here (reverted
    # from the first batch-2 cut after the 50k probe).
    qe = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    ce = e.select("vec_id", F.col("embedding").alias("c_emb"))
    exact = (
        cand.join(F.broadcast(qe), "qid").join(ce, "vec_id")
        .select("qid", "vec_id",
                _cos_rounded(F.col("q_emb"), F.col("c_emb")).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5))


SQL_JL_TOPK = f"""
WITH eb AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings),
jl AS (SELECT vec_id,
         list_transform(range({JL_H0}, {JL_H0 + JL_DIM}), h ->
           list_sum(list_transform(range(1, {EMB_DIM} + 1),
             j -> e[j] * (((h*73 + (j-1)*37 + h*(j-1)*29) % 97) - 48))))
           AS y
       FROM eb),
q AS (SELECT vec_id AS qid, y AS qy FROM jl
      WHERE vec_id < {N_QUERY_VECS}),
jp AS (SELECT qid, vec_id,
         round(list_dot_product(qy, y)
               / (sqrt(list_dot_product(qy, qy))
                  * sqrt(list_dot_product(y, y))), 6) + 0.0 AS jl_cos
       FROM q CROSS JOIN jl WHERE vec_id != qid),
cand AS (SELECT qid, vec_id FROM
           (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY jl_cos DESC, vec_id ASC) AS rn FROM jp)
         WHERE rn <= {JL_RERANK}),
x AS (SELECT c.qid, c.vec_id,
        round(list_dot_product(qe.e, ce.e)
              / (sqrt(list_dot_product(qe.e, qe.e))
                 * sqrt(list_dot_product(ce.e, ce.e))), 6) + 0.0 AS cos
      FROM cand c JOIN eb qe ON qe.vec_id = c.qid
      JOIN eb ce ON ce.vec_id = c.vec_id)
SELECT qid, vec_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
        ORDER BY cos DESC, vec_id ASC) AS rank FROM x)
WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Random-hyperplane LSH buckets (deterministic, engine-portable)
# ---------------------------------------------------------------------------

def _bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # cast hoisted below the explode — see buckets_for_embeddings
    planes = e.select(
        "vec_id", _emb_d(F.col("embedding")).alias("emb_d"),
        F.explode(F.sequence(F.lit(0), F.lit(N_PLANES - 1))).alias("h"),
    )
    # proj = Σ_j emb[j] * w(h, j) as a sequential fold (deterministic)
    proj = F.aggregate(
        F.zip_with(
            F.col("emb_d"),
            F.sequence(F.lit(0), F.size(F.col("emb_d")) - 1),
            lambda x, j: x * (((F.col("h") * 73 + j * 37 + F.col("h") * j * 29) % 97) - 48).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bits = planes.select(
        "vec_id", "h",
        F.when(proj > 0, F.expr("shiftleft(CAST(1 AS BIGINT), h)"))
         .otherwise(F.lit(0).cast("long")).alias("bit"),
    )
    return bits.groupBy("vec_id").agg(F.sum("bit").alias("bucket"))


def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        _bucketed(spark, sf_dir)
        .join(e, "vec_id")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.count_distinct(F.col("label")).alias("n_labels"))
    )


_SQL_BUCKETS = f"""
proj AS (
  SELECT vec_id, h,
    SUM(CAST(embedding[j+1] AS DOUBLE) * (((h*73 + j*37 + h*j*29) % 97) - 48)) AS p
  FROM embeddings
  CROSS JOIN range(0, {N_PLANES}) t(h)
  CROSS JOIN range(0, {EMB_DIM}) s(j)
  GROUP BY vec_id, h),
bkt AS (
  SELECT vec_id,
    CAST(SUM(CASE WHEN p > 0 THEN (1::BIGINT << h) ELSE 0::BIGINT END)
         AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id)
"""

SQL_ANN_BUCKETS = f"""
WITH {_SQL_BUCKETS}
SELECT bucket, COUNT(*) AS n_vecs, COUNT(DISTINCT label) AS n_labels
FROM bkt JOIN embeddings USING (vec_id)
GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# ANN query: same-bucket candidates reranked by exact cosine
# ---------------------------------------------------------------------------

def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    bkt = _bucketed(spark, sf_dir)
    eb = e.select("vec_id", _emb_d(F.col("embedding")).alias("emb_d"),
                  l2_norm(F.col("embedding")).alias("nn")).join(
        bkt, "vec_id")
    q = eb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("emb_d").alias("q_emb"),
        F.col("nn").alias("qn"), F.col("bucket").alias("q_bucket"),
    )
    cand = (
        eb.join(F.broadcast(q), (F.col("bucket") == F.col("q_bucket"))
                & (F.col("vec_id") != F.col("qid")))
        .select("qid", "vec_id",
                _cos_rounded_pre(F.col("q_emb"), F.col("emb_d"),
                                 F.col("qn"), F.col("nn")).alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


SQL_ANN_TOPK = f"""
WITH {_SQL_BUCKETS},
eb AS (SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e,
              b.bucket
       FROM embeddings e JOIN bkt b USING (vec_id)),
q AS (SELECT vec_id AS qid, e AS qe, bucket AS q_bucket
      FROM eb WHERE vec_id < {N_QUERY_VECS}),
cand AS (SELECT qid, vec_id,
           round(list_dot_product(qe, e)
                 / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
                 6) + 0.0 AS cos
         FROM eb JOIN q ON eb.bucket = q.q_bucket AND eb.vec_id != q.qid)
SELECT qid, vec_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, vec_id ASC) AS rank
      FROM cand)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Semantic search: ANN hits joined back to document metadata — the
# user-facing retrieval shape (vector index finds ids, the catalog
# supplies the payload; vec_id doubles as doc_id in the testdata)
# ---------------------------------------------------------------------------

def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 ANN neighbors per query vector enriched with the matched
    document's source/lang/length — composes the bucketed ANN operator
    with a doc_id equi-join rather than re-deriving retrieval logic.

    Scale shape: everything the ANN query does, plus one
    co-partitioned join of the (tiny) hit list against the catalog —
    at scale the hit list broadcasts; the catalog never shuffles.
    """
    hits = q_ann_topk(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id"), "source", "lang", "n_chars")
    return (
        hits.join(docs, hits["vec_id"] == docs["doc_id"])
        .select("qid", "vec_id", "cos", "rank", "source", "lang", "n_chars")
    )


SQL_SEMANTIC_SEARCH = f"""
WITH hits AS ({SQL_ANN_TOPK})
SELECT h.qid, h.vec_id, h.cos, h.rank, d.source, d.lang, d.n_chars
FROM hits h JOIN documents d ON h.vec_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (LSH-bucketed scale path)
# ---------------------------------------------------------------------------

NEARDUP_TAU = 0.35


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: same LSH bucket AND cosine ≥ τ.

    This is the embedding flavor of near-dup dedup (the text flavors
    are minhash/simhash/ngram-jaccard in queries_text.py). The bucket
    equi-join replaces the n² cross join — at 100 TB only same-bucket
    pairs are scored, ~n²/2^planes work, and more planes (or multiple
    hash tables for recall) tune the candidate volume. The definition
    is deterministic (bucket is part of the predicate), so the oracle
    computes the identical set.
    """
    e = t(spark, sf_dir, "embeddings")
    # MIXED hoist: both sides of the bucket self-join cross a hash
    # Exchange carrying the embedding — keep it at storage width and
    # hoist only the norm (see _emb_side_f).
    eb = _emb_side_f(e, "vec_id", "emb_f", "nn").join(
        _bucketed(spark, sf_dir), "vec_id")
    a = eb.select(F.col("vec_id").alias("vec_a"),
                  F.col("emb_f").alias("emb_a"),
                  F.col("nn").alias("na"), "bucket")
    b = eb.select(F.col("vec_id").alias("vec_b"),
                  F.col("emb_f").alias("emb_b"),
                  F.col("nn").alias("nb"),
                  F.col("bucket").alias("bucket_b"))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b",
                _cos_rounded_norms(F.col("emb_a"), F.col("emb_b"),
                                   F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= NEARDUP_TAU)
    )


SQL_EMBEDDING_NEARDUP = f"""
WITH {_SQL_BUCKETS},
eb AS (SELECT e.vec_id, list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e,
              b.bucket
       FROM embeddings e JOIN bkt b USING (vec_id))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        6) + 0.0 AS cos
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        6) + 0.0 >= {NEARDUP_TAU}
"""


# ---------------------------------------------------------------------------
# Multi-table LSH near-dup: L independent hyperplane tables
# ---------------------------------------------------------------------------

NEARDUP_TABLES = 3


def _bucketed_multi(spark: SparkSession, sf_dir: str,
                    n_tables: int = NEARDUP_TABLES,
                    n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, tbl, bucket): one bucket per vector per hash table.

    Table ℓ is simply planes h ∈ [ℓ·n_planes, (ℓ+1)·n_planes) of the
    same integer weight formula w(h,j) = ((h·73 + j·37 + h·j·29) % 97)
    − 48 — a
    fresh deterministic hyperplane family per table with no new
    formula, so the oracle rebuilds every table bit-identically. All
    tables are computed in ONE pass over the embeddings (the h explode
    covers L·P planes; tbl = h div P, bit = h mod P) — L× recall for
    one extra shuffle, not L pipeline runs.

    ``n_planes`` is the SCALE knob: the bucket space is 2^planes per
    table, and bucket-join work per bucket is quadratic in bucket
    size, so a growing corpus must grow the plane count to hold
    expected bucket size constant (measured: the fixed-8-plane bucket
    join ran 6.09× wall-clock on 2× docs at 50k→100k vectors —
    STRESS_curation.json / SCALE.md rule 11). The gate queries pin
    n_planes=N_PLANES because their oracles inline it; a production
    deployment sizes it as ~log2(n_vectors / target_bucket_size).
    """
    return buckets_for_embeddings(t(spark, sf_dir, "embeddings"),
                                  n_tables=n_tables, n_planes=n_planes)


def buckets_for_embeddings(e: DataFrame,
                           n_tables: int = NEARDUP_TABLES,
                           n_planes: int = N_PLANES) -> DataFrame:
    """DataFrame form of ``_bucketed_multi`` — same hyperplane family,
    same one-pass L·P plane explode — over ANY (vec_id, embedding)
    input instead of the warehouse table. The streaming embedding
    dedup (streaming/embedding_dedup.py) buckets each micro-batch
    through this, so the stream and the batch gate share one hash
    family by construction."""
    # cast hoisted BELOW the explode (opt r14): the float→double
    # transform used to sit inside ``proj`` and re-ran once per
    # (row, plane) — L·P per row; projected before the Generate it
    # runs once per row and the exploded rows carry the pointer.
    planes = e.select(
        "vec_id", _emb_d(F.col("embedding")).alias("emb_d"),
        F.explode(F.sequence(
            F.lit(0), F.lit(n_tables * n_planes - 1))).alias("h"),
    )
    proj = F.aggregate(
        F.zip_with(
            F.col("emb_d"),
            F.sequence(F.lit(0), F.size(F.col("emb_d")) - 1),
            lambda x, j: x * (((F.col("h") * 73 + j * 37 + F.col("h") * j * 29) % 97) - 48)
            .cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bits = planes.select(
        "vec_id",
        F.floor(F.col("h") / n_planes).cast("int").alias("tbl"),
        F.when(proj > 0,
               F.expr(f"shiftleft(CAST(1 AS BIGINT), h % {n_planes})"))
         .otherwise(F.lit(0).cast("long")).alias("bit"),
    )
    return bits.groupBy("vec_id", "tbl").agg(F.sum("bit").alias("bucket"))


def q_embedding_neardup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with L=3 LSH tables: candidates = union of
    same-(table, bucket) pairs, dedupe, exact cosine ≥ τ verify.

    The recall fix for the single-table query: a near-dup pair missed
    by one table's 8 sign bits (P[split] grows with angle) gets L−1
    more chances; candidate volume grows ~L× while each table's join
    stays bucket-bounded. The distinct collapses pairs found by
    several tables before the (costlier) cosine verify.
    """
    e = t(spark, sf_dir, "embeddings")
    bkt = _bucketed_multi(spark, sf_dir)
    a = bkt.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = bkt.select(F.col("vec_id").alias("vec_b"),
                   F.col("tbl").alias("tbl_b"),
                   F.col("bucket").alias("bucket_b"))
    cand = (
        a.join(b, (F.col("tbl") == F.col("tbl_b"))
               & (F.col("bucket") == F.col("bucket_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b").distinct()
    )
    # MIXED hoist: the verify sides are corpus-sized and ride an
    # Exchange/Broadcast into the cand joins — storage-width arrays +
    # hoisted norm (see _emb_side_f).
    ea = _emb_side_f(e, "vec_a", "emb_a", "na")
    eb2 = _emb_side_f(e, "vec_b", "emb_b", "nb")
    return (
        cand.join(ea, "vec_a").join(eb2, "vec_b")
        .select("vec_a", "vec_b",
                _cos_rounded_norms(F.col("emb_a"), F.col("emb_b"),
                                   F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= NEARDUP_TAU)
    )


# Shared oracle-side multi-table bucket CTEs — the SQL mirror of
# _bucketed_multi (used by the near-dup and bitext-mining gates).
_SQL_MULTI_BUCKETS = f"""projm AS (
  SELECT vec_id, h,
    SUM(CAST(embedding[j+1] AS DOUBLE) * (((h*73 + j*37 + h*j*29) % 97) - 48)) AS p
  FROM embeddings
  CROSS JOIN range(0, {NEARDUP_TABLES * N_PLANES}) t(h)
  CROSS JOIN range(0, {EMB_DIM}) s(j)
  GROUP BY vec_id, h),
bktm AS (
  SELECT vec_id, h // {N_PLANES} AS tbl,
    CAST(SUM(CASE WHEN p > 0 THEN (1::BIGINT << (h % {N_PLANES}))
             ELSE 0::BIGINT END) AS BIGINT) AS bucket
  FROM projm GROUP BY vec_id, h // {N_PLANES})"""


SQL_EMBEDDING_NEARDUP_MULTI = f"""
WITH {_SQL_MULTI_BUCKETS},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bktm a JOIN bktm b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings)
SELECT vec_a, vec_b,
  round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        6) + 0.0 AS cos
FROM cand JOIN eb a ON a.vec_id = vec_a JOIN eb b ON b.vec_id = vec_b
WHERE round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        6) + 0.0 >= {NEARDUP_TAU}
"""


# ---------------------------------------------------------------------------
# Dense-bucket-capped near-dup: the 100 TB guard for embedding LSH.
# A hyperplane bucket join generates ~(bucket size)² candidates per
# bucket; a genuinely dense region (or a degenerate/uniform corpus)
# makes one bucket corpus-scale and the join quadratic. The capped
# variant DROPS over-full buckets before candidate generation — the
# embedding-side analogue of filter_hot_shingles — trading recall
# inside dense regions (where near-dup pairs are least informative
# anyway) for a hard per-bucket work bound. SCALE.md rule 11.
# ---------------------------------------------------------------------------

EMB_BUCKET_CAP = 64   # max members per (table, bucket) group


def filter_hot_buckets(bkt: DataFrame,
                       cap: int = EMB_BUCKET_CAP) -> DataFrame:
    """Drop (tbl, bucket) groups with more than ``cap`` members.

    One extra aggregation over the bucket table (vector-count-sized,
    not candidate-sized) and a co-partitioned semi join; after it, no
    bucket can contribute more than cap·(cap−1)/2 candidate pairs —
    the memory/work bound that makes the LSH join safe on ANY vector
    distribution, not just well-clustered ones.
    """
    sizes = bkt.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("n_in_bucket"))
    return (bkt.join(sizes, ["tbl", "bucket"])
            .filter(F.col("n_in_bucket") <= cap)
            .drop("n_in_bucket"))


def q_embedding_neardup_capped(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """`embedding_neardup_multi` with the dense-bucket cap applied:
    identical output on clustered corpora (the cap binds only on
    over-full buckets), bounded candidate volume on hostile ones.
    Kept as a separate gate so the uncapped query's oracle semantics
    stay untouched and the recall trade is EXPLICIT in the registry.
    """
    e = t(spark, sf_dir, "embeddings")
    bkt = filter_hot_buckets(_bucketed_multi(spark, sf_dir))
    a = bkt.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = bkt.select(F.col("vec_id").alias("vec_b"),
                   F.col("tbl").alias("tbl_b"),
                   F.col("bucket").alias("bucket_b"))
    cand = (
        a.join(b, (F.col("tbl") == F.col("tbl_b"))
               & (F.col("bucket") == F.col("bucket_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b").distinct()
    )
    # MIXED hoist: the verify sides are corpus-sized and ride an
    # Exchange/Broadcast into the cand joins — storage-width arrays +
    # hoisted norm (see _emb_side_f).
    ea = _emb_side_f(e, "vec_a", "emb_a", "na")
    eb2 = _emb_side_f(e, "vec_b", "emb_b", "nb")
    return (
        cand.join(ea, "vec_a").join(eb2, "vec_b")
        .select("vec_a", "vec_b",
                _cos_rounded_norms(F.col("emb_a"), F.col("emb_b"),
                                   F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= NEARDUP_TAU)
    )


SQL_EMBEDDING_NEARDUP_CAPPED = f"""
WITH {_SQL_MULTI_BUCKETS},
keep AS (SELECT tbl, bucket FROM bktm GROUP BY tbl, bucket
         HAVING COUNT(*) <= {EMB_BUCKET_CAP}),
bk AS (SELECT b.vec_id, b.tbl, b.bucket
       FROM bktm b JOIN keep k ON k.tbl = b.tbl AND k.bucket = b.bucket),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bk a JOIN bk b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings)
SELECT vec_a, vec_b,
  round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0 AS cos
FROM cand JOIN eb a ON a.vec_id = vec_a JOIN eb b ON b.vec_id = vec_b
WHERE round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e))
           * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0
      >= {NEARDUP_TAU}
"""


# ---------------------------------------------------------------------------
# Embedding-level benchmark decontamination (round 10): the semantic
# second rung above contamination_ngrams — n-gram decontamination
# misses paraphrases; comparing corpus embeddings against the
# benchmark set's embeddings is the standard answer (e.g. the
# semantic dedup/decontamination step in LLM data pipelines). Same
# pseudo-benchmark convention as the n-gram gate: vec_id % 100 == 0.
# ---------------------------------------------------------------------------

# Deliberately loose: the synthetic test embeddings are near-
# orthogonal (max bench-corpus cosine ~0.35 at gate SFs), so the gate
# pins the MACHINERY at a threshold that yields rows; a production
# corpus with real encoder outputs runs the same query at ~0.8+.
CONTAM_COS_TAU = 0.25


def q_embedding_contamination(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Corpus vectors semantically close (cos >= CONTAM_COS_TAU) to
    any pseudo-benchmark vector: (vec_id, n_bench_hits, max_cos).

    Scale shape: candidates come from the multi-table LSH buckets
    (one bucket join per table, bucket-bounded like the near-dup
    family — never corpus x benchmark brute force); the benchmark
    embedding side is corpus/100 and broadcast for the verify join.
    The exact-cosine verify touches candidate pairs only. At 100 TB
    this is the same plan as embedding_neardup_multi with one side
    shrunk 100x, so every bound that held there holds here.
    """
    e = t(spark, sf_dir, "embeddings")
    bkt = _bucketed_multi(spark, sf_dir)
    bench_b = (bkt.filter(F.col("vec_id") % 100 == 0)
               .select(F.col("vec_id").alias("bench_vec"),
                       F.col("tbl").alias("tbl_b"),
                       F.col("bucket").alias("bucket_b")))
    corp_b = bkt.filter(F.col("vec_id") % 100 != 0)
    cand = (
        corp_b.join(bench_b, (F.col("tbl") == F.col("tbl_b"))
                    & (F.col("bucket") == F.col("bucket_b")))
        .select("vec_id", "bench_vec").distinct()
    )
    # MIXED hoist: ec is corpus-sized through a key join and ebn is
    # an explicitly broadcast corpus/100 side — storage-width arrays.
    ec = _emb_side_f(e, "vec_id", "emb_c", "nc")
    ebn = _emb_side_f(e, "bench_vec", "emb_b", "nb")
    hits = (
        cand.join(ec, "vec_id")
        .join(F.broadcast(ebn), "bench_vec")
        .select("vec_id", "bench_vec",
                _cos_rounded_norms(F.col("emb_c"), F.col("emb_b"),
                                   F.col("nc"), F.col("nb"))
                .alias("cos"))
        .filter(F.col("cos") >= CONTAM_COS_TAU)
    )
    return (hits.groupBy("vec_id")
            .agg(F.count_distinct(F.col("bench_vec"))
                 .alias("n_bench_hits"),
                 F.max("cos").alias("max_cos"))
            .orderBy("vec_id"))


SQL_EMBEDDING_CONTAMINATION = f"""
WITH {_SQL_MULTI_BUCKETS},
cand AS (
  SELECT DISTINCT c.vec_id, b.vec_id AS bench_vec
  FROM bktm c JOIN bktm b ON c.tbl = b.tbl AND c.bucket = b.bucket
  WHERE b.vec_id % 100 = 0 AND c.vec_id % 100 != 0),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
hits AS (
  SELECT cand.vec_id, bench_vec,
    round(list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0 AS cos
  FROM cand JOIN eb a ON a.vec_id = cand.vec_id
            JOIN eb b ON b.vec_id = bench_vec)
SELECT vec_id, COUNT(DISTINCT bench_vec) AS n_bench_hits,
       MAX(cos) AS max_cos
FROM hits WHERE cos >= {CONTAM_COS_TAU}
GROUP BY vec_id ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Decontamination-detector self-eval (round 11, VERDICT r10 item 8):
# the semantic decontamination gate is only as good as its LSH
# candidate recall, and that recall was previously asserted only
# transitively through the shared bucket family. This is the
# embedding-side mirror of q_neardup_eval: on a deterministic capped
# sample, run the exhaustive corpus x benchmark cosine AND the
# LSH-bucketed candidate path, report measured recall + candidate
# precision — the audit a production pipeline runs on a new encoder /
# corpus before trusting the approximate decontamination pass.
# ---------------------------------------------------------------------------

CONTAM_EVAL_PCT = 20
# Absolute row cap on the evaluation sample (not just a fraction —
# a pct-only knob still grows pct²·n² at 100x data): the exact half
# is corpus_sample x bench_sample <= cap x cap/100, bounded at ANY
# corpus size. At the driver's SFs the pct sample is far below the
# cap, so the cap is inert there by design.
CONTAM_EVAL_MAX = 5000


def q_contamination_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the semantic-decontamination detector: on a
    deterministic ``CONTAM_EVAL_PCT``% sample of the embeddings capped
    at ``CONTAM_EVAL_MAX`` rows (LCG order), run the exhaustive
    corpus-sample x benchmark-sample cosine join AND the multi-table
    LSH candidate path (the very machinery `embedding_contamination`
    runs), and report measured recall and candidate precision at
    CONTAM_COS_TAU.

    The brute-force half is a deliberate BroadcastNestedLoopJoin whose
    BOTH sides are sample-bounded (<= cap x cap/100 pairs at any
    corpus size); the LSH half reuses `buckets_for_embeddings` over
    the same sample, so the hash family under audit is the production
    one by construction. detected ⊆ exact (same τ on both paths), so
    recall is the only number that can degrade; precision here is
    candidate-level — the cost metric of the bucket join.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    from tpg_weather_etl_spark.operators.sampling import (
        deterministic_sample_capped,
    )

    se = track(deterministic_sample_capped(
        t(spark, sf_dir, "embeddings"), "vec_id", CONTAM_EVAL_PCT,
        CONTAM_EVAL_MAX,
    ).persist(StorageLevel.MEMORY_AND_DISK))
    corp = _emb_side(se.filter(F.col("vec_id") % 100 != 0),
                     "vec_id", "emb_c", "nc")
    bench = _emb_side(se.filter(F.col("vec_id") % 100 == 0),
                      "bench_vec", "emb_b", "nb")
    exact = track(
        corp.crossJoin(F.broadcast(bench))
        .select("vec_id", "bench_vec",
                _cos_rounded_pre(F.col("emb_c"), F.col("emb_b"),
                                 F.col("nc"), F.col("nb"))
                .alias("cos"))
        .filter(F.col("cos") >= CONTAM_COS_TAU)
        .select("vec_id", "bench_vec")
        .persist(StorageLevel.MEMORY_AND_DISK))

    bkt = buckets_for_embeddings(se)
    cb = bkt.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("bench_vec"),
        F.col("tbl").alias("tbl_b"), F.col("bucket").alias("bucket_b"))
    cand = track(
        bkt.filter(F.col("vec_id") % 100 != 0)
        .join(cb, (F.col("tbl") == F.col("tbl_b"))
              & (F.col("bucket") == F.col("bucket_b")))
        .select("vec_id", "bench_vec").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    detected = exact.join(cand, ["vec_id", "bench_vec"], "left_semi")

    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        corp.agg(F.count(F.lit(1)).alias("n_corpus"))
        .crossJoin(bench.agg(F.count(F.lit(1)).alias("n_bench")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(detected.agg(F.count(F.lit(1)).alias("n_detected")))
        .select(
            "n_corpus", "n_bench", "n_exact", "n_candidates",
            "n_detected",
            r6(F.col("n_detected")
               / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)))
            .alias("recall"),
            r6(F.col("n_detected")
               / F.nullif(F.col("n_candidates").cast("double"),
                          F.lit(0.0)))
            .alias("candidate_precision"),
        )
    )


def _sql_contamination_eval() -> str:
    from tpg_weather_etl_spark.operators.sampling import (
        deterministic_sample_capped_sql,
    )
    sample = deterministic_sample_capped_sql(
        "vec_id", CONTAM_EVAL_PCT, CONTAM_EVAL_MAX, table="embeddings")
    buckets_sampled = _SQL_MULTI_BUCKETS.replace(
        "FROM embeddings", "FROM se")
    return f"""
WITH se AS (SELECT * FROM {sample} s),
{buckets_sampled},
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM se),
exact AS (
  SELECT c.vec_id, b.vec_id AS bench_vec
  FROM eb c, eb b
  WHERE c.vec_id % 100 != 0 AND b.vec_id % 100 = 0
    AND round(list_dot_product(c.e, b.e)
              / (sqrt(list_dot_product(c.e, c.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0
        >= {CONTAM_COS_TAU}),
cand AS (
  SELECT DISTINCT c.vec_id, b.vec_id AS bench_vec
  FROM bktm c JOIN bktm b ON c.tbl = b.tbl AND c.bucket = b.bucket
  WHERE c.vec_id % 100 != 0 AND b.vec_id % 100 = 0),
det AS (
  SELECT e.vec_id FROM exact e
  JOIN cand c ON c.vec_id = e.vec_id AND c.bench_vec = e.bench_vec),
m AS (SELECT
  (SELECT COUNT(*) FROM se WHERE vec_id % 100 != 0) AS n_corpus,
  (SELECT COUNT(*) FROM se WHERE vec_id % 100 = 0) AS n_bench,
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM det) AS n_detected)
SELECT n_corpus, n_bench, n_exact, n_candidates, n_detected,
  round(n_detected / NULLIF(CAST(n_exact AS DOUBLE), 0.0), 6) + 0.0
    AS recall,
  round(n_detected / NULLIF(CAST(n_candidates AS DOUBLE), 0.0), 6)
    + 0.0 AS candidate_precision
FROM m
"""


# ---------------------------------------------------------------------------
# Margin-based bitext mining (Artetxe & Schwenk 2019): cross-lingual
# pair candidates from the multi-table LSH buckets, scored by the
# ratio of pair cosine to the average of each side's K-nearest
# cosines — the absolute-threshold killer for hubness: a "hub" vector
# cosine-close to everything has a high denominator, so only pairs
# that stand out ABOVE their own neighborhoods survive.
# ---------------------------------------------------------------------------

BITEXT_K = 4        # neighbors in the margin denominator
BITEXT_MARGIN = 1.05


def q_bitext_mining_pairs(spark: SparkSession, sf_dir: str,
                          n_planes: int = N_PLANES) -> DataFrame:
    """Mined cross-lingual document pairs: (src_id, tgt_id, src_lang,
    tgt_lang, cos, margin) where margin = 2·cos(a,b) /
    (avgK(a) + avgK(b)) ≥ BITEXT_MARGIN and the documents' declared
    languages differ — the parallel-corpus mining step of a
    multilingual training pipeline (LASER/CCMatrix-style), made
    engine-portable.

    Scale shape: candidates come from the SAME multi-table LSH bucket
    join the near-dup gate uses (never n²); the scored candidate
    table is persisted because it feeds both the per-vector top-K
    denominator window and the final pair margin; denominators are
    one row per vector (corpus-sized, co-partitioned equi joins — not
    broadcast). Determinism: cosines are 6dp-rounded; the top-K
    average routes the ≤K rounded values through DECIMAL(38,8) before
    ONE double division; the margin is two IEEE ops on those rounded
    inputs, re-rounded to 6dp before the threshold compare.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    e = t(spark, sf_dir, "embeddings")
    # n_planes: gate default pins the oracle's literal; the stress
    # probe scales it with corpus size (see _bucketed_multi docstring)
    bkt = _bucketed_multi(spark, sf_dir, n_planes=n_planes)
    a = bkt.select(F.col("vec_id").alias("va"), "tbl", "bucket")
    b = bkt.select(F.col("vec_id").alias("vb"),
                   F.col("tbl").alias("tbl_b"),
                   F.col("bucket").alias("bucket_b"))
    cand = (
        a.join(b, (F.col("tbl") == F.col("tbl_b"))
               & (F.col("bucket") == F.col("bucket_b"))
               & (F.col("va") != F.col("vb")))
        .select("va", "vb").distinct()
    )
    # MIXED hoist (see _emb_side_f): verify sides cross the cand joins.
    ea = _emb_side_f(e, "va", "emb_a", "na")
    eb2 = _emb_side_f(e, "vb", "emb_b", "nb")
    scored = track(
        cand.join(ea, "va").join(eb2, "vb")
        .select("va", "vb",
                _cos_rounded_norms(F.col("emb_a"), F.col("emb_b"),
                                   F.col("na"), F.col("nb")).alias("cos"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Denominators stay EXACT: sum of 6dp cosines routed through
    # decimal, plus the integer neighbor count — no inner round. The
    # margin 2·cos/(sum_a/k_a + sum_b/k_b) is rewritten rationally as
    # 2·cos·k_a·k_b / (sum_a·k_b + sum_b·k_a): numerator and
    # denominator are exact decimals, so the whole expression is ONE
    # double division + final 6dp round (an inner rounded average hit
    # a cross-engine round-boundary at sf0.001 — 2/239 margins off by
    # ~8e-6).
    w = Window.partitionBy("va").orderBy(F.desc("cos"), F.asc("vb"))
    denom = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BITEXT_K)
        .groupBy("va")
        .agg(F.sum(F.col("cos").cast("decimal(20,8)")).alias("sum_nn"),
             F.count(F.lit(1)).alias("k_nn"))
    )
    lang = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vid"), "lang")
    numer = (F.col("cos").cast("decimal(20,8)")
             * 2 * F.col("ka") * F.col("kb"))
    den = F.col("sa") * F.col("kb") + F.col("sb") * F.col("ka")
    margin = F.round(
        numer.cast("double") / den.cast("double"), 6) + F.lit(0.0)
    return (
        scored.filter(F.col("va") < F.col("vb"))
        .join(denom.select("va", F.col("sum_nn").alias("sa"),
                           F.col("k_nn").alias("ka")), "va")
        .join(denom.select(F.col("va").alias("vb"),
                           F.col("sum_nn").alias("sb"),
                           F.col("k_nn").alias("kb")), "vb")
        .filter((F.col("cos") > 0) & (den > 0))
        .join(lang.select(F.col("vid").alias("va"),
                          F.col("lang").alias("src_lang")), "va")
        .join(lang.select(F.col("vid").alias("vb"),
                          F.col("lang").alias("tgt_lang")), "vb")
        .filter(F.col("src_lang") != F.col("tgt_lang"))
        .withColumn("margin", margin)
        .filter(F.col("margin") >= BITEXT_MARGIN)
        .select(F.col("va").alias("src_id"), F.col("vb").alias("tgt_id"),
                "src_lang", "tgt_lang", "cos", "margin")
    )


SQL_BITEXT_MINING_PAIRS = f"""
WITH {_SQL_MULTI_BUCKETS},
candm AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          FROM bktm a JOIN bktm b
            ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id <> b.vec_id),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
scored AS MATERIALIZED (
  SELECT va, vb,
    round(list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0 AS cos
  FROM candm JOIN eb a ON a.vec_id = va JOIN eb b ON b.vec_id = vb),
denom AS MATERIALIZED (
  SELECT va, SUM(CAST(cos AS DECIMAL(20,8))) AS sum_nn,
         COUNT(*) AS k_nn
  FROM (SELECT va, vb, cos,
          row_number() OVER (PARTITION BY va
                             ORDER BY cos DESC, vb ASC) AS rn
        FROM scored)
  WHERE rn <= {BITEXT_K} GROUP BY va),
m AS (
  SELECT s.va, s.vb, s.cos,
    CAST(CAST(s.cos AS DECIMAL(20,8)) * 2 * da.k_nn * db.k_nn AS DOUBLE)
      AS numer,
    CAST(da.sum_nn * db.k_nn + db.sum_nn * da.k_nn AS DOUBLE) AS den
  FROM scored s
  JOIN denom da ON da.va = s.va
  JOIN denom db ON db.va = s.vb
  WHERE s.va < s.vb AND s.cos > 0
    AND da.sum_nn * db.k_nn + db.sum_nn * da.k_nn > 0)
SELECT m.va AS src_id, m.vb AS tgt_id,
  dl.lang AS src_lang, d2.lang AS tgt_lang, m.cos,
  round(numer / den, 6) + 0.0 AS margin
FROM m
JOIN documents dl ON dl.doc_id = m.va
JOIN documents d2 ON d2.doc_id = m.vb
WHERE dl.lang <> d2.lang
  AND round(numer / den, 6) + 0.0 >= {BITEXT_MARGIN}
"""


# ---------------------------------------------------------------------------
# IVF ANN: coarse-quantizer cells + nprobe probing + exact rerank
# ---------------------------------------------------------------------------

IVF_NPROBE = 2
IVF_TOPK = 3


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell, ce: array<double>) coarse-quantizer centroids.

    Label means stand in for k-means cells (deterministic and
    SQL-expressible, so the oracle builds bit-identical centroids via
    the DECIMAL(24,8)→round(4) exact-average form). At scale this is
    the classic IVF coarse quantizer: k ≪ n centroids, broadcast to
    every executor; training them with real k-means would bolt on
    pyspark.ml.clustering.KMeans without changing this query shape.
    """
    e = t(spark, sf_dir, "embeddings")
    dims = e.select("label", F.posexplode(F.col("embedding")).alias("dim", "x"))
    cd = dims.groupBy("label", "dim").agg(
        (F.round(F.sum(F.col("x").cast("double").cast("decimal(24,8)")), 4)
         .cast("decimal(18,4)").cast("double")
         / F.count("x")).alias("c")
    )
    return cd.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("ce")
    ).select(F.col("label").alias("cell"), "ce")


def _cent_parts(cent: DataFrame) -> DataFrame:
    """ONE-row (cells: array<struct<cell, ce_d, cen>>) centroid-parts
    table: the k centroids (with pre-cast arrays and pre-computed
    norms) collapse into a single collect_list row, so attaching them
    to the corpus is a 1-row broadcast nested-loop join — NO k× row
    explosion. Element order is irrelevant: every consumer sorts the
    per-vector affinities itself."""
    return cent.select(
        "cell", _emb_d(F.col("ce")).alias("ce_d"),
        l2_norm(F.col("ce")).alias("cen"),
    ).agg(F.collect_list(F.struct("cell", "ce_d", "cen")).alias("__cs"))


def _affinity_cmp(lh, rh) -> Column:
    """array_sort comparator replicating the old window order
    (cos_c DESC NULLS LAST, cell ASC). cos_c is NULL only for a
    zero-norm vector/centroid (cosine_from_parts' guard); cells are
    distinct non-null ints, so the order is total."""
    by_cell = (F.when(lh["cell"] < rh["cell"], -1)
               .when(lh["cell"] > rh["cell"], 1)
               .otherwise(0))
    return (
        F.when(lh["cos_c"].isNull() & rh["cos_c"].isNull(), by_cell)
        .when(lh["cos_c"].isNull(), F.lit(1))
        .when(rh["cos_c"].isNull(), F.lit(-1))
        .when(lh["cos_c"] > rh["cos_c"], F.lit(-1))
        .when(lh["cos_c"] < rh["cos_c"], F.lit(1))
        .otherwise(by_cell)
    )


def _cell_topm(e: DataFrame, cent: DataFrame, m: int) -> DataFrame:
    """(vec_id, embedding, __ed, __en, cells) with ``cells`` the
    vector's m best centroid affinities as struct<cos_c, cell>,
    ordered (cos_c desc nulls last, cell asc) — exactly the rows the
    former window formulation ranked rn <= m, computed MAP-ONLY
    (optimization r14, guide §2.3/§2.4): the old shape cross-joined
    every vector with all k centroids and ranked via a window, i.e.
    a k× row explosion (each row carrying the full embedding array)
    pushed through a corpus-sized Exchange just to keep the best
    m ≤ k of them. Scoring the k affinities as ONE array projection
    and sorting the 8-element array per row needs no shuffle at all.

    The k per-vector cosines share the vector's cast+norm (one
    evaluation per row) and each centroid's (computed k times total
    in the 1-row broadcast build)."""
    scored = F.transform(
        F.col("__cs"),
        lambda c: F.struct(
            _cos_rounded_pre(F.col("__ed"), c["ce_d"],
                             F.col("__en"), c["cen"]).alias("cos_c"),
            c["cell"].alias("cell"),
        ),
    )
    return (
        e.select("vec_id", "embedding",
                 _emb_d(F.col("embedding")).alias("__ed"),
                 l2_norm(F.col("embedding")).alias("__en"))
        .crossJoin(F.broadcast(_cent_parts(cent)))
        .select("vec_id", "embedding", "__ed", "__en",
                F.slice(F.array_sort(scored, _affinity_cmp), 1, m)
                .alias("cells"))
    )


def _topm_cells(m: int) -> Column:
    """Explode the m best cells of a ``_cell_topm`` row."""
    return F.explode(
        F.transform(F.slice(F.col("cells"), 1, m), lambda s: s["cell"])
    )


# Parquet scan split size (spark.sql.files.maxPartitionBytes default).
_SCAN_SPLIT_BYTES = 128 * 1024 * 1024

# Don't bother spreading corpora smaller than this per core: the
# per-row projection work an exchange would parallelize is below the
# exchange's own stage cost (gate/bench corpora stay un-spread, so
# their plans — and the shuffle budgets — are untouched).
_SPREAD_MIN_BYTES_PER_CORE = 64 * 1024


def _spread_small_scan(spark: SparkSession, e: DataFrame,
                       sf_dir: str, table: str = "embeddings") -> DataFrame:
    """Repartition ``e`` to core width ONLY when the table's parquet
    bytes cannot yield that many scan splits (optimization r14, guide
    §2.5 scale-adaptive partitioning): the map-only ``_cell_topm``
    projection and everything pipelined above it (the candidate
    verify) run at SCAN parallelism, which for gate/bench/probe-sized
    corpora is 1-4 splits — the 50k probe ran the whole assign branch
    on 4 of 32 cores. Below the threshold the corpus is by definition
    small, so the one vec_id exchange is cheap (1x storage bytes —
    the layout the old window formulation shuffled was 8x); above it
    the scan already feeds >= defaultParallelism splits and the
    repartition would be a pointless corpus-wide shuffle, so the
    plan is untouched. Unreadable paths leave the scan alone."""
    import os

    width = spark.sparkContext.defaultParallelism
    path = os.path.join(str(sf_dir), f"{table}.parquet")
    try:
        if os.path.isdir(path):
            size = sum(f.stat().st_size for f in os.scandir(path)
                       if f.is_file())
        else:
            size = os.stat(path).st_size
    except OSError:
        return e
    if (size >= width * _SCAN_SPLIT_BYTES
            or size < width * _SPREAD_MIN_BYTES_PER_CORE):
        return e
    return e.repartition(width, F.col("vec_id"))


def _ivf_topk_from_centroids(e: DataFrame, cent: DataFrame,
                             nprobe: int = IVF_NPROBE,
                             nassign: int = 1,
                             e_assign: DataFrame | None = None) -> DataFrame:
    """Shared IVF probe shape: assign vectors to their nearest
    centroid cell, probe each query's IVF_NPROBE nearest cells,
    exact-rerank candidates.

    Scale shape: the inverted lists are just the assignment table
    partitioned by cell (at rest: parquet partitioned/bucketed on
    cell, so probing prunes to nprobe/k of the corpus); the centroid
    table is a broadcast; the only shuffle is the per-query top-k.

    Optimization r14 (guide §2.3/§2.4/§5): the former shape persisted
    the full k×-exploded, window-ranked affinity table (every row
    carrying the embedding array — k× corpus embedding bytes through
    an Exchange and into cache) so assignment and probe could both
    read it. Both consumers only ever keep the TOP-m cells, so the
    assignment is now the map-only ``_cell_topm`` projection (no
    Exchange, no persist, nothing to rebuild per run) and the probe
    side is the same projection over the pushed-down query-vector
    scan (10 rows). The query vectors' cast+norm are reused from
    that same projection, folding the former separate q-side scan
    and second broadcast join into the probe broadcast.
    """
    # ``e_assign`` (optional): the corpus side pre-spread to core
    # width by _spread_small_scan — the map-heavy scored projection
    # runs at scan parallelism otherwise. The query branch below
    # stays on the raw ``e`` so its vec_id filter reaches the scan.
    scored = _cell_topm(e if e_assign is None else e_assign,
                        cent, nassign)
    # nassign > 1 = multi-assignment (IVF with replication): each
    # vector is indexed in its nassign nearest cells, trading an
    # nassign× bigger index for recall at the same nprobe — the
    # standard fix when cluster structure is weak relative to the
    # query's true neighbors.
    assign = scored.select(
        "vec_id", F.col("__ed").alias("emb_d"),
        F.col("__en").alias("nn"), _topm_cells(nassign).alias("cell")
    )
    # explicit pushed-down scan for the query side (vec_id is the
    # leading predicate at the parquet reader): both _cell_topm
    # broadcasts share one _cent_parts subtree, so ReuseExchange
    # dedups the centroid build at physical planning.
    queries = _cell_topm(
        e.filter(F.col("vec_id") < N_QUERY_VECS), cent, nprobe
    ).select(
        F.col("vec_id").alias("qid"), F.col("__ed").alias("q_emb"),
        F.col("__en").alias("qn"), _topm_cells(nprobe).alias("cell")
    )
    cand = (
        assign.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id",
                _cos_rounded_pre(F.col("q_emb"), F.col("emb_d"),
                                 F.col("qn"), F.col("nn")).alias("cos"))
    )
    if nassign > 1:
        # a vector indexed in 2+ probed cells appears once per cell —
        # dedupe on the scalar (qid, vec_id, cos) rows, never on the
        # embedding arrays (cos is identical across duplicates)
        cand = cand.groupBy("qid", "vec_id").agg(F.max("cos").alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("qid", "vec_id", "cos", F.col("rank").cast("int").alias("rank"))
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the deterministic label-mean coarse quantizer
    (SQL-expressible, so the oracle builds bit-identical centroids)."""
    e = t(spark, sf_dir, "embeddings")
    return _ivf_topk_from_centroids(
        e, _centroids(spark, sf_dir),
        e_assign=_spread_small_scan(spark, e, sf_dir))


KMEANS_IVF_K = 8
KMEANS_IVF_SEED = 42
KMEANS_IVF_NASSIGN = 2
KMEANS_IVF_NPROBE = 4


# Quantizer training reads at most this many vectors, whatever the
# corpus size — IVF coarse-quantizer quality needs thousands of points
# per cell, not the full corpus (FAISS trains exactly this way).
KMEANS_TRAIN_MAX = 20_000

# Fitted centers memo: (cache_key + data signature, k, seed,
# train_max, max_iter) → centroid rows. The centers are k tiny Python
# lists (plain data, no session handle), so the memo survives session
# churn; a sweep that calls the query repeatedly (correctness gate +
# bench + recall tests) pays the fit once per (sf_dir, params)
# (VERDICT r2 task #6). The signature (parquet size + mtime) keeps
# the memo from serving stale centers if the data under sf_dir is
# regenerated within one process (ADVICE r4).
_CENTROID_MEMO: dict[tuple, list] = {}


def _data_signature(cache_key: str | None) -> tuple:
    """Cheap content signature of ``<cache_key>/embeddings.parquet``
    (size + mtime_ns), so the centroid memo invalidates if testdata
    is rewritten in-process. Non-path cache keys sign as ()."""
    import os

    if cache_key is None:
        return ()
    p = os.path.join(str(cache_key), "embeddings.parquet")
    try:
        st = os.stat(p)
    except OSError:
        return ()
    return (st.st_size, st.st_mtime_ns)


_CENTROID_DF_MEMO: dict[tuple, tuple] = {}


def _parquet_glob(sf_dir: str, table: str) -> str:
    """read_parquet-able path for ``<sf_dir>/<table>.parquet``: the
    driver testdata ships single files, Spark-written fixtures are
    part-file DIRECTORIES — glob those."""
    import os

    p = os.path.join(str(sf_dir), f"{table}.parquet")
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def _portable_sample_order(vec_id: Column) -> Column:
    """Engine-portable pseudo-random sort key over vec_id (the
    operators/sampling.py LCG). Odd multiplier mod 2^31 is a
    bijection on distinct ids, so ordering by it is a deterministic
    pseudo-random permutation reproducible in any SQL dialect —
    unlike xxhash64, which only Spark computes. The DuckDB-side
    oracle fit (``fit_kmeans_local``) replays the exact same order."""
    from tpg_weather_etl_spark.operators.sampling import LCG_A, LCG_C, LCG_M

    return (vec_id.cast("long") * LCG_A + LCG_C) % LCG_M


def _lloyd(X, k: int, seed: int, max_iter: int) -> list:
    """Seeded kmeans++ / Lloyd over an in-memory sample matrix.

    Shared verbatim by the Spark fit (sample collected via
    TakeOrderedAndProject) and the oracle-side DuckDB fit, so both
    produce bit-identical centers from the same rows in the same
    order."""
    import numpy as np

    n = len(X)
    k = min(k, n)
    rng = np.random.RandomState(seed)
    # kmeans++ seeding: spread initial centers by squared-distance
    idx = [int(rng.randint(n))]
    for _ in range(1, k):
        C = X[idx]
        d2 = (
            (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :]
            - 2.0 * (X @ C.T)
        ).min(1).clip(min=0.0)
        tot = d2.sum()
        p = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        idx.append(int(rng.choice(n, p=p)))
    C = X[idx].copy()
    for _ in range(max_iter):
        d2 = ((X * X).sum(1)[:, None] + (C * C).sum(1)[None, :]
              - 2.0 * (X @ C.T))
        lab = d2.argmin(1)
        newC = np.vstack([
            X[lab == j].mean(0) if np.any(lab == j) else C[j]
            for j in range(k)
        ])
        done = np.allclose(newC, C)
        C = newC
        if done:
            break
    return [(i, [float(x) for x in c]) for i, c in enumerate(C)]


def _fit_kmeans(e: DataFrame, k: int, seed: int, train_max: int,
                max_iter: int) -> list:
    """Seeded kmeans++ / Lloyd fit over a bounded, deterministic sample.

    100 TB shape: the ONLY driver-side data is a ≤``train_max``-row
    training sample (chosen by portable-LCG order → uniform pseudo-
    random, deterministic, planned as TakeOrderedAndProject — no full
    sort) and the k centers. Lloyd on 20k×64 doubles is milliseconds
    of numpy; a distributed fit at this scale pays per-iteration job
    overhead for data that fits in one L2 cache. Cell ASSIGNMENT of
    the full corpus stays distributed (broadcast centroids, see
    _ivf_topk_from_centroids).
    """
    import numpy as np

    sample = (
        e.select(F.col("vec_id"),
                 F.col("embedding").cast("array<double>").alias("emb"))
        .orderBy(_portable_sample_order(F.col("vec_id")), F.col("vec_id"))
        .limit(train_max)
        .collect()
    )
    X = np.asarray([r.emb for r in sample], dtype=np.float64)
    return _lloyd(X, k, seed, max_iter)


def fit_kmeans_local(sf_dir: str, k: int = KMEANS_IVF_K,
                     seed: int = KMEANS_IVF_SEED,
                     train_max: int = KMEANS_TRAIN_MAX,
                     max_iter: int = 8) -> list:
    """Spark-free replay of ``_fit_kmeans`` for the DuckDB oracle:
    same LCG sample order, same rows, same ``_lloyd`` → bit-identical
    centers. This is what lets kmeans_ivf_topk carry a full value-hash
    oracle instead of a rows-only check."""
    import duckdb
    import numpy as np

    from tpg_weather_etl_spark.operators.sampling import LCG_A, LCG_C, LCG_M

    rows = duckdb.sql(
        f"SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb "
        f"FROM read_parquet('{_parquet_glob(sf_dir, 'embeddings')}') "
        f"ORDER BY (vec_id * {LCG_A} + {LCG_C}) % {LCG_M}, vec_id "
        f"LIMIT {train_max}"
    ).fetchall()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    return _lloyd(X, k, seed, max_iter)


def kmeans_centroids(
    spark: SparkSession,
    e: DataFrame,
    k: int = KMEANS_IVF_K,
    seed: int = KMEANS_IVF_SEED,
    train_max: int = KMEANS_TRAIN_MAX,
    max_iter: int = 8,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF index build: train the coarse quantizer on a bounded sample
    (fixed seed), returning the k centers as a broadcastable table.

    Pass ``cache_key`` (e.g. the sf_dir) to memoize the fitted centers
    across calls — index training is a build-once artifact, not a
    per-query cost.
    """
    memo_key = (cache_key, _data_signature(cache_key),
                k, seed, train_max, max_iter)
    rows = _CENTROID_MEMO.get(memo_key) if cache_key is not None else None
    if rows is None:
        rows = _fit_kmeans(e, k, seed, train_max, max_iter)
        if cache_key is not None:
            _CENTROID_MEMO[memo_key] = rows
    # DataFrame-level memo (optimization r14): a FRESH createDataFrame
    # per call gives every consumer a distinct LocalRelation, which
    # breaks analyzed-plan equality for every plan built on top — the
    # semantic-dedup keeper/apply pair and the kmeans-IVF family then
    # each persist their own copy of the identical cell-scores subtree
    # instead of resolving to one cache entry (measured: zero sharing,
    # 2 duplicate persists per consumer). Returning the SAME DataFrame
    # object per (session, fit) restores CacheManager/track dedup for
    # everything downstream. Keyed by session identity so a stopped
    # session's handle is never served to a new one.
    # ONE-slice RDD, not createDataFrame(list) (optimization r14):
    # the local-list path parallelizes the k rows over
    # defaultParallelism slices, so EVERY materialization of anything
    # built on the centroids (each broadcast build, each _cent_parts
    # aggregate) schedules 32 near-empty tasks — measured 0.5-2 s of
    # pure task overhead per run at the bench, 38 s of executor time
    # on the 50k probe's cold run. k rows are one slice of work.
    def _df():
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "cell int, ce array<double>")

    if cache_key is None:
        return _df()
    hit = _CENTROID_DF_MEMO.get(memo_key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = _df()
    _CENTROID_DF_MEMO[memo_key] = (spark, df)
    return df


def q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over a KMeans-trained quantizer, with multi-
    assignment (each vector indexed in its 2 nearest cells). Full
    value-hash oracle: the fit is deterministic given (seed, sample)
    and the sample order is an engine-portable LCG, so the oracle
    replays the identical fit Spark-free (``fit_kmeans_local``) and
    embeds the centers as a literal VALUES CTE — DuckDB then performs
    the same assignment + probe + top-k. pytest additionally checks
    recall@k against the brute-force baseline.

    The testdata embeddings are nearly unclustered, so recall needs
    nprobe/k = 1/2 here; on a real corpus (where neighbors ARE
    clustered) the same shape runs k ≈ √n cells with nprobe ≈ 8 —
    the pruning ratio is data-dependent, the plan is not.
    """
    e = t(spark, sf_dir, "embeddings")
    return _ivf_topk_from_centroids(
        e, kmeans_centroids(spark, e, cache_key=sf_dir),
        nprobe=KMEANS_IVF_NPROBE, nassign=KMEANS_IVF_NASSIGN,
        e_assign=_spread_small_scan(spark, e, sf_dir),
    )


SQL_IVF_TOPK = f"""
WITH dims AS (
  SELECT label, CAST(j AS INTEGER) AS dim,
    CAST(CAST(ROUND(SUM(CAST(CAST(embedding[j+1] AS DOUBLE) AS DECIMAL(24,8))), 4)
         AS DECIMAL(18,4)) AS DOUBLE) / COUNT(embedding[j+1]) AS c
  FROM embeddings CROSS JOIN range(0, {EMB_DIM}) s(j)
  GROUP BY label, j),
cent AS (SELECT label AS cell, list(c ORDER BY dim) AS ce FROM dims GROUP BY label),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
scores AS (
  SELECT vec_id, e, cell,
    round(list_dot_product(e, ce)
          / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))),
          6) + 0.0 AS cos_c
  FROM eb CROSS JOIN cent),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cell ASC) AS rn
  FROM scores),
asg AS (SELECT vec_id, e, cell FROM ranked WHERE rn = 1),
probe AS (SELECT vec_id AS qid, cell FROM ranked
          WHERE vec_id < {N_QUERY_VECS} AND rn <= {IVF_NPROBE}),
q AS (SELECT vec_id AS qid, e AS qe FROM eb WHERE vec_id < {N_QUERY_VECS}),
cand AS (
  SELECT p.qid, a.vec_id,
    round(list_dot_product(q.qe, a.e)
          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(a.e, a.e))),
          6) + 0.0 AS cos
  FROM probe p JOIN asg a ON a.cell = p.cell AND a.vec_id != p.qid
  JOIN q ON q.qid = p.qid)
SELECT qid, vec_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, vec_id ASC) AS rank
      FROM cand)
WHERE rank <= {IVF_TOPK}
"""


# Default sf dir the external driver compares oracles at; local runs
# (tools/check_oracle.py --sf ...) override via this env var so the
# literal-centers CTE matches whatever data the views point at.
ORACLE_SF_ENV = "SPARK_GRAFT_ORACLE_SF"
_DEFAULT_ORACLE_SF = "/root/testdata/sf0.01"

_KMEANS_ORACLE_MEMO: dict[tuple, str] = {}


def sql_kmeans_ivf_topk() -> str:
    """Build the kmeans_ivf_topk oracle at call time: replay the
    deterministic fit on the oracle's sf dir and inline the centers
    as double literals (repr round-trips exactly, so DuckDB parses
    the same 8 centroids bit-for-bit)."""
    import os

    sf_dir = os.environ.get(ORACLE_SF_ENV, _DEFAULT_ORACLE_SF)
    memo_key = (sf_dir, _data_signature(sf_dir))
    sql = _KMEANS_ORACLE_MEMO.get(memo_key)
    if sql is not None:
        return sql
    centers = fit_kmeans_local(sf_dir)
    values = ",\n  ".join(
        f"({cell}, CAST([{', '.join(repr(x) for x in ce)}] AS DOUBLE[]))"
        for cell, ce in centers
    )
    sql = f"""
WITH cent(cell, ce) AS (VALUES
  {values}),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
scores AS (
  SELECT vec_id, e, cell,
    round(list_dot_product(e, ce)
          / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))),
          6) + 0.0 AS cos_c
  FROM eb CROSS JOIN cent),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cos_c DESC, cell ASC) AS rn
  FROM scores),
asg AS (SELECT vec_id, e, cell FROM ranked WHERE rn <= {KMEANS_IVF_NASSIGN}),
probe AS (SELECT vec_id AS qid, cell FROM ranked
          WHERE vec_id < {N_QUERY_VECS} AND rn <= {KMEANS_IVF_NPROBE}),
q AS (SELECT vec_id AS qid, e AS qe FROM eb WHERE vec_id < {N_QUERY_VECS}),
cand AS (
  SELECT p.qid, a.vec_id,
    round(list_dot_product(q.qe, a.e)
          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(a.e, a.e))),
          6) + 0.0 AS cos
  FROM probe p JOIN asg a ON a.cell = p.cell AND a.vec_id != p.qid
  JOIN q ON q.qid = p.qid),
dedup AS (SELECT qid, vec_id, MAX(cos) AS cos FROM cand GROUP BY qid, vec_id)
SELECT qid, vec_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, vec_id ASC) AS rank
      FROM dedup)
WHERE rank <= {IVF_TOPK}
"""
    _KMEANS_ORACLE_MEMO[memo_key] = sql
    return sql


# ---------------------------------------------------------------------------
# Scalar (int8-style) quantization + quantized top-k — the memory-side
# half of a FAISS-like ANN stack, as plain columnar arithmetic
# ---------------------------------------------------------------------------

INT8_N_QUERY = 3
INT8_TOPK = 10


def _int8_quantize(x, p):
    """q = floor((x-lo)/(hi-lo)*255 + 0.5) ∈ [0,255]; 0 when the
    dimension is degenerate (hi==lo). Pure IEEE double ops in an
    identical tree on both engines, so the codes are bit-portable."""
    lo, hi = p.getField("lo"), p.getField("hi")
    return F.when(hi == lo, F.lit(0)).otherwise(
        F.floor((x.cast("double") - lo) / (hi - lo) * F.lit(255)
                + F.lit(0.5)).cast("int"))


def q_int8_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbours by QUANTIZED dot product: per-dimension
    min/max train a uint8 scalar quantizer (the SQ8 of FAISS /
    Milvus), every vector is encoded once, and search runs entirely
    in integer arithmetic — 4× less memory traffic than float32 and
    exact cross-engine (integer dots have no summation-order issue,
    so this needs none of the decimal machinery).

    Scale shape: the trainer is ONE map-side-combined agg over
    (dim, value) pairs with a dims-sized result; codes are produced by
    a single broadcast of the 64-struct param array; search is the
    same broadcast-probe top-k as embedding_topk. Nothing driver-side
    except the dims-bounded param row.
    """
    e = t(spark, sf_dir, "embeddings")
    dims = (e.select(F.posexplode("embedding").alias("pos", "xf"))
            .groupBy("pos")
            .agg(F.min(F.col("xf").cast("double")).alias("lo"),
                 F.max(F.col("xf").cast("double")).alias("hi")))
    params = dims.agg(
        F.array_sort(F.collect_list(F.struct("pos", "lo", "hi")))
        .alias("ps"))
    qv = (e.crossJoin(F.broadcast(params))
          .select("vec_id", F.transform(
              F.col("embedding"),
              lambda x, i: _int8_quantize(
                  x, F.element_at(F.col("ps"), i + F.lit(1)))).alias("q")))
    qs = (qv.filter(F.col("vec_id") < INT8_N_QUERY)
          .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq")))
    pairs = (
        qv.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.aggregate(
            F.zip_with("q", "qq", lambda x, y: (x * y).cast("bigint")),
            F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("qdot")))
    w = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("vec_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= INT8_TOPK))


SQL_INT8_QUANT_TOPK = f"""
WITH pe AS (
  SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(64)) AS pos)),
dims AS (SELECT pos, MIN(x) AS lo, MAX(x) AS hi FROM pe GROUP BY 1),
qv AS (
  SELECT vec_id, pos,
         CASE WHEN hi = lo THEN 0
              ELSE CAST(FLOOR((x - lo) / (hi - lo) * 255 + 0.5) AS INTEGER)
         END AS q
  FROM pe JOIN dims USING (pos)),
dots AS (
  SELECT b.vec_id AS qid, a.vec_id AS vec_id,
         CAST(SUM(a.q * b.q) AS BIGINT) AS qdot
  FROM qv a JOIN qv b
    ON a.pos = b.pos AND b.vec_id < {INT8_N_QUERY}
   AND a.vec_id <> b.vec_id
  GROUP BY 1, 2)
SELECT qid, vec_id, qdot, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY qdot DESC, vec_id ASC) AS rank
      FROM dots)
WHERE rank <= {INT8_TOPK}
"""


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hyperplane-LSH ANN against the exact top-3 —
    the retrieval twin of ``neardup_eval``: measured recall per query
    vector, not an argued one, before trusting the approximate index
    on a new embedding distribution. Both sides are the registry's own
    retrievers; the evaluation is one co-partitioned join + per-qid
    counts (the exact side's cost is already bounded by its
    broadcast-query design)."""
    exact = (q_embedding_topk(spark, sf_dir)
             .filter(F.col("rank") <= 3).select("qid", "vec_id"))
    approx = q_ann_topk(spark, sf_dir).select("qid", "vec_id")
    hits = (exact.join(approx, ["qid", "vec_id"])
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")))
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "qid", "left").fillna({"n_hit": 0})
        .select(
            "qid", "n_exact", "n_hit",
            (F.round(F.col("n_hit")
                     / F.col("n_exact").cast("double"), 6)
             + F.lit(0.0)).alias("recall_at_3"),
        )
        .orderBy("qid")
    )


SQL_ANN_RECALL_EVAL = f"""
WITH exact AS (
  SELECT qid, vec_id FROM ({SQL_EMBEDDING_TOPK}) WHERE rank <= 3),
approx AS (SELECT qid, vec_id FROM ({SQL_ANN_TOPK})),
base AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
         FROM exact GROUP BY qid),
hits AS (SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
         FROM exact e JOIN approx a USING (qid, vec_id) GROUP BY e.qid)
SELECT b.qid, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
  round(COALESCE(h.n_hit, 0) / CAST(b.n_exact AS DOUBLE), 6) + 0.0
    AS recall_at_3
FROM base b LEFT JOIN hits h USING (qid) ORDER BY qid
"""


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding column — the
    embedding QA panel that catches un-normalized batches (norms ≫ 1
    where unit vectors are expected) and representation collapse
    (norms → 0) before a cosine-based index silently degrades.

    Norms are rounded to 6dp per vector (the _cos_rounded parity
    discipline — the fold inside l2_norm is sequential in both
    engines, and rounding absorbs last-ulp divergence); min/max are
    exact on the rounded values and the mean routes through a decimal
    sum. One map-side pass plus a |labels|-sized aggregate."""
    from tpg_weather_etl_spark.functions.vectors import l2_norm

    e = t(spark, sf_dir, "embeddings")
    norm = (F.round(
        l2_norm(F.transform(F.col("embedding"),
                            lambda x: x.cast("double"))), 6)
        + F.lit(0.0))
    rows = e.select("label", norm.alias("nrm"))
    return (
        rows.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (F.round(F.sum(F.col("nrm").cast("decimal(24,8)"))
                     .cast("double") / F.count(F.lit(1)), 6)
             + F.lit(0.0)).alias("mean_norm"),
        )
        .orderBy("label")
    )


SQL_EMBEDDING_NORM_PROFILE = """
WITH r AS (
  SELECT label,
    round(sqrt(list_dot_product(
      list_transform(embedding, x -> CAST(x AS DOUBLE)),
      list_transform(embedding, x -> CAST(x AS DOUBLE)))), 6) + 0.0
      AS nrm
  FROM embeddings)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
  round(CAST(SUM(CAST(nrm AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*), 6)
    + 0.0 AS mean_norm
FROM r GROUP BY label ORDER BY label
"""


RRF_K = 60


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two independent ANN retrievers
    (hyperplane-LSH buckets and IVF) — the standard hybrid-retrieval
    combiner: score(d) = Σ_r 1/(RRF_K + rank_r(d)), robust to
    incomparable raw scores. Terms are 6dp-rounded rationals
    decimal-summed (house transcendental-free parity), re-ranked
    top-3 per query. Scale: both retrievers are already
    bucket/cell-pruned; fusion touches only their hit lists."""
    a = q_ann_topk(spark, sf_dir).select(
        "qid", "vec_id", F.col("rank").alias("r"))
    b = q_ivf_topk(spark, sf_dir).select(
        "qid", "vec_id", F.col("rank").alias("r"))
    term = (F.round(1.0 / (F.lit(RRF_K) + F.col("r")), 6)
            .cast("decimal(24,8)"))
    fused = (
        a.unionByName(b)
        .select("qid", "vec_id", term.alias("t"))
        .groupBy("qid", "vec_id")
        .agg(F.count(F.lit(1)).alias("n_retrievers"),
             (F.sum("t").cast("double") + F.lit(0.0)).alias("rrf"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("rrf"), F.asc("vec_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 3)
        .select("qid", "vec_id", "n_retrievers", "rrf", "fused_rank")
    )


SQL_RRF_FUSION = f"""
WITH a AS (SELECT qid, vec_id, rank AS r FROM ({SQL_ANN_TOPK})),
b AS (SELECT qid, vec_id, rank AS r FROM ({SQL_IVF_TOPK})),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
fused AS (
  SELECT qid, vec_id, CAST(COUNT(*) AS BIGINT) AS n_retrievers,
    CAST(SUM(CAST(round(1.0 / ({RRF_K} + r), 6) AS DECIMAL(24,8)))
         AS DOUBLE) + 0.0 AS rrf
  FROM u GROUP BY 1, 2)
SELECT qid, vec_id, n_retrievers, rrf,
  CAST(fused_rank AS INTEGER) AS fused_rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
        ORDER BY rrf DESC, vec_id ASC) AS fused_rank FROM fused)
WHERE fused_rank <= 3
"""




# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance top-k — the
# compressed-index half of a FAISS-like ANN stack (Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
# ---------------------------------------------------------------------------

PQ_M = 8                 # subspaces (64 dims -> 8 slices of 8)
PQ_SUB_DIM = EMB_DIM // PQ_M
PQ_K = 16                # centroids per subspace -> 4-bit codes
PQ_SEED = 77
PQ_N_QUERY = 3
PQ_TOPK = 10


def _fit_pq(X, m: int):
    """Per-subspace Lloyd fit over the slice columns of the shared
    LCG-ordered training sample — the same `_lloyd` the IVF quantizer
    uses, seeded per subspace, so codebooks are deterministic and
    replayable engine-free."""
    sub = X[:, m * PQ_SUB_DIM:(m + 1) * PQ_SUB_DIM]
    return _lloyd(sub, PQ_K, PQ_SEED + m, max_iter=8)


_PQ_MEMO: dict[tuple, list] = {}


def pq_codebooks_local(sf_dir: str) -> list:
    """(m, code, ce) codebook rows fitted Spark-free from the LCG
    sample — shared by the Spark query (as a createDataFrame literal)
    and the DuckDB oracle (as a VALUES literal), so both engines
    quantize with bit-identical centroids. The fit itself is
    driver/oracle-side numpy over a bounded (<=KMEANS_TRAIN_MAX-row)
    sample — at 100 TB this is the index-build artifact, not a
    per-query cost."""
    import duckdb
    import numpy as np

    from tpg_weather_etl_spark.operators.sampling import LCG_A, LCG_C, LCG_M

    memo_key = (sf_dir, _data_signature(sf_dir))
    rows = _PQ_MEMO.get(memo_key)
    if rows is not None:
        return rows
    sample = duckdb.sql(
        f"SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb "
        f"FROM read_parquet('{_parquet_glob(sf_dir, 'embeddings')}') "
        f"ORDER BY (vec_id * {LCG_A} + {LCG_C}) % {LCG_M}, vec_id "
        f"LIMIT {KMEANS_TRAIN_MAX}"
    ).fetchall()
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    rows = [(m, code, ce)
            for m in range(PQ_M)
            for code, ce in _fit_pq(X, m)]
    _PQ_MEMO[memo_key] = rows
    return rows


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbours by PQ asymmetric distance: each vector is
    encoded once as PQ_M 4-bit codes (nearest codebook centroid per
    subspace slice); search never touches the original vectors —
    per query, a PQ_M x PQ_K lookup table of exact query-to-centroid
    distances is built, and every corpus vector's distance is the sum
    of PQ_M table lookups (the ADC of Jegou et al. 2011).

    Scale shape: the codebook is PQ_M*PQ_K = 128 bounded rows
    (broadcast by construction — rule 2 of SCALE.md); encoding is one
    broadcast-join + per-(vec, subspace) argmin, a one-off index
    build whose output (vec_id, m, code) is 4 bits of payload per
    subspace — 16x less memory traffic than float32 at search time;
    the ADC search is a 128-row broadcast lookup join + one
    map-side-combinable sum per (query, vector). Cross-engine parity:
    distances are rounded to 6 decimals BEFORE every argmin/rank
    (the kmeans_ivf discipline), ties broken by code/vec_id.
    """
    cb = spark.createDataFrame(
        pq_codebooks_local(sf_dir), "m int, code int, ce array<double>")
    e = t(spark, sf_dir, "embeddings")
    # slice ONCE per (vector, subspace) — 8 rows/vec — then broadcast-
    # hash-join the 16 codes per subspace; slicing inside the 128-row
    # cross join would recompute each sub-vector 16x
    slices = F.array(*[
        F.slice(F.col("embedding").cast("array<double>"),
                m * PQ_SUB_DIM + 1, PQ_SUB_DIM)
        for m in range(PQ_M)
    ])
    sub = (
        e.select("vec_id", F.posexplode(slices).alias("m", "x"))
        .join(F.broadcast(cb), "m")
    )
    d2 = F.round(F.aggregate(
        F.zip_with("x", "ce", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, v: acc + v), 6) + F.lit(0.0)
    w_enc = Window.partitionBy("vec_id", "m").orderBy(
        F.asc("d2"), F.asc("code"))
    codes = (sub.withColumn("d2", d2)
             .withColumn("rn", F.row_number().over(w_enc))
             .filter(F.col("rn") == 1)
             .select("vec_id", "m", "code"))
    # per-query exact distance lookup table (PQ_N_QUERY x 128 rows)
    lut = (
        e.filter(F.col("vec_id") < PQ_N_QUERY)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .crossJoin(F.broadcast(cb))
        .select(
            "qid", "m", "code",
            F.round(F.aggregate(
                F.zip_with(
                    F.slice(F.col("embedding").cast("array<double>"),
                            F.col("m") * PQ_SUB_DIM + 1, PQ_SUB_DIM),
                    F.col("ce"), lambda x, c: (x - c) * (x - c)),
                F.lit(0.0), lambda acc, v: acc + v), 6).alias("qd"))
    )
    # qd values are 6dp-rounded, so their DECIMAL(38,8) forms are
    # exact and the sum is order-free — a plain double F.sum over a
    # shuffled groupBy could flip adc_dist/rank at a rounding boundary
    # between runs/engines (ADVICE r7); same decimal-sum discipline as
    # dsir_importance / char_entropy.
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg((F.round(F.sum(F.col("qd").cast("decimal(38,8)")), 6)
              .cast("double") + F.lit(0.0)).alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"),
                                          F.asc("vec_id"))
    return (adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= PQ_TOPK))


def sql_pq_topk() -> str:
    """DuckDB oracle with the codebook inlined as literals (repr
    round-trips doubles exactly) — the same replayed-fit discipline
    as sql_kmeans_ivf_topk."""
    import os

    sf_dir = os.environ.get(ORACLE_SF_ENV, _DEFAULT_ORACLE_SF)
    values = ",\n  ".join(
        f"({m}, {code}, CAST([{', '.join(repr(x) for x in ce)}]"
        f" AS DOUBLE[]))"
        for m, code, ce in pq_codebooks_local(sf_dir)
    )
    return f"""
WITH cb(m, code, ce) AS (VALUES
  {values}),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
sub AS (
  SELECT vec_id, m, code,
    round(list_sum(list_transform(
      range(1, {PQ_SUB_DIM} + 1),
      j -> (e[m * {PQ_SUB_DIM} + j] - ce[j])
           * (e[m * {PQ_SUB_DIM} + j] - ce[j]))), 6) + 0.0 AS d2
  FROM eb CROSS JOIN cb),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d2 ASC, code ASC) AS rn
    FROM sub)
  WHERE rn = 1),
lut AS (
  SELECT vec_id AS qid, m, code,
    round(list_sum(list_transform(
      range(1, {PQ_SUB_DIM} + 1),
      j -> (e[m * {PQ_SUB_DIM} + j] - ce[j])
           * (e[m * {PQ_SUB_DIM} + j] - ce[j]))), 6) AS qd
  FROM eb CROSS JOIN cb
  WHERE vec_id < {PQ_N_QUERY}),
adc AS (
  SELECT l.qid, c.vec_id,
    CAST(round(SUM(CAST(l.qd AS DECIMAL(38,8))), 6) AS DOUBLE) + 0.0
      AS adc_dist
  FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
  WHERE c.vec_id <> l.qid
  GROUP BY 1, 2)
SELECT qid, vec_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
        ORDER BY adc_dist ASC, vec_id ASC) AS rank
      FROM adc)
WHERE rank <= {PQ_TOPK}
"""




# ---------------------------------------------------------------------------
# Contrastive training triplets: (anchor, positive, negative) pairs
# for embedding-model fine-tuning — positive = exact nearest
# neighbour, negative = deterministic pseudo-random non-neighbour
# (the "in-batch random negative" of contrastive pipelines, made
# engine-portable)
# ---------------------------------------------------------------------------

def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor (the N_QUERY_VECS query vectors): the exact cosine
    top-1 as the positive, and as the negative the corpus vector with
    the smallest portable-LCG value keyed on (anchor, candidate) —
    uniform pseudo-random, reproducible in any engine, and excluded
    from {anchor, positive}. Scale shape: positives reuse the
    brute-force gate (broadcast queries, one pass); negatives are one
    MIN-aggregate over the same broadcast-join pass — no extra
    corpus shuffle, no RNG state."""
    from tpg_weather_etl_spark.operators.sampling import LCG_A, LCG_C, LCG_M

    pos = (q_embedding_topk(spark, sf_dir)
           .filter(F.col("rank") == 1)
           .select("qid", F.col("vec_id").alias("pos_id"),
                   F.col("cos").alias("pos_cos")))
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    lcg = ((F.col("vec_id") + F.col("qid") * 7919).cast("long")
           * LCG_A + LCG_C) % LCG_M
    cand = (
        e.crossJoin(F.broadcast(q))
        .join(F.broadcast(pos), "qid")
        .filter((F.col("vec_id") != F.col("qid"))
                & (F.col("vec_id") != F.col("pos_id")))
        .select("qid", "vec_id", "q_emb", "embedding",
                lcg.alias("u"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("u"), F.asc("vec_id"))
    neg = (cand.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("qid", F.col("vec_id").alias("neg_id"),
                   _cos_rounded(F.col("q_emb"), F.col("embedding"))
                   .alias("neg_cos")))
    return (pos.join(neg, "qid")
            .select("qid", "pos_id", "pos_cos", "neg_id", "neg_cos")
            .orderBy("qid"))


SQL_CONTRASTIVE_TRIPLETS = f"""
WITH topk AS ({SQL_EMBEDDING_TOPK.strip()}),
pos AS (SELECT qid, vec_id AS pos_id, cos AS pos_cos
        FROM topk WHERE rank = 1),
eb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM eb WHERE vec_id < {N_QUERY_VECS}),
cand AS (
  SELECT q.qid, eb.vec_id, qe, e,
    ((eb.vec_id + q.qid * 7919) * 1103515245 + 12345) % 2147483648 AS u
  FROM eb CROSS JOIN q
  JOIN pos ON pos.qid = q.qid
  WHERE eb.vec_id <> q.qid AND eb.vec_id <> pos.pos_id),
neg AS (
  SELECT qid, vec_id AS neg_id,
    round(list_dot_product(qe, e)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))),
          6) + 0.0 AS neg_cos
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                  ORDER BY u ASC, vec_id ASC) AS rn FROM cand)
  WHERE rn = 1)
SELECT qid, pos_id, pos_cos, neg_id, neg_cos
FROM pos JOIN neg USING (qid) ORDER BY qid
"""


QUERIES = {
    "ann_recall_eval": q_ann_recall_eval,
    "embedding_norm_profile": q_embedding_norm_profile,
    "rrf_fusion": q_rrf_fusion,
    "int8_quant_topk": q_int8_quant_topk,
    "embedding_topk": q_embedding_topk,
    "ann_buckets": q_ann_buckets,
    "ann_topk": q_ann_topk,
    "semantic_search": q_semantic_search,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_multi": q_embedding_neardup_multi,
    "bitext_mining_pairs": q_bitext_mining_pairs,
    "embedding_neardup_capped": q_embedding_neardup_capped,
    "embedding_contamination": q_embedding_contamination,
    "contamination_eval": q_contamination_eval,
    "jl_topk": q_jl_topk,
    "ivf_topk": q_ivf_topk,
    "kmeans_ivf_topk": q_kmeans_ivf_topk,
    "pq_topk": q_pq_topk,
    "contrastive_triplets": q_contrastive_triplets,
}

# Oracles whose SQL embeds data-derived literals (fitted centers) are
# built lazily at oracle_sql() call time, not import time.
ORACLE_DYNAMIC = {
    "kmeans_ivf_topk": sql_kmeans_ivf_topk,
    "pq_topk": sql_pq_topk,
}

ORACLE = {
    "ann_recall_eval": SQL_ANN_RECALL_EVAL,
    "embedding_norm_profile": SQL_EMBEDDING_NORM_PROFILE,
    "rrf_fusion": SQL_RRF_FUSION,
    "int8_quant_topk": SQL_INT8_QUANT_TOPK,
    "embedding_topk": SQL_EMBEDDING_TOPK,
    "ann_buckets": SQL_ANN_BUCKETS,
    "ann_topk": SQL_ANN_TOPK,
    "semantic_search": SQL_SEMANTIC_SEARCH,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "embedding_neardup_multi": SQL_EMBEDDING_NEARDUP_MULTI,
    "bitext_mining_pairs": SQL_BITEXT_MINING_PAIRS,
    "embedding_neardup_capped": SQL_EMBEDDING_NEARDUP_CAPPED,
    "embedding_contamination": SQL_EMBEDDING_CONTAMINATION,
    "contamination_eval": _sql_contamination_eval(),
    "jl_topk": SQL_JL_TOPK,
    "ivf_topk": SQL_IVF_TOPK,
    "contrastive_triplets": SQL_CONTRASTIVE_TRIPLETS,
}
