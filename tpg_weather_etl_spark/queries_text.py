"""Text-analysis & deduplication gate — the training-data-pipeline
operators over the ``documents`` table, each with an exact DuckDB
oracle.

Cross-engine determinism notes:
- String hashing uses md5 (identical everywhere); 60-bit ints derive
  from the first 15 hex chars (``stable_hash60``). Spark's xxhash64 and
  DuckDB's hash() do NOT agree — never use them in gate queries.
- All ratios are exact integer divisions in double (identical IEEE).
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all default.
- MinHash banding and SimHash bit-banding are the *scale* paths (hash
  join on band keys, no n² pair scan); the oracles compute the same
  result the quadratic way, proving the banded plans lose nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.text import (
    doc_fingerprint,
    norm_text,
    punct_ratio,
    stable_hash60,
    stopword_hits,
    token_count,
)
from tpg_weather_etl_spark.sources.tables import read_table as t

# MinHash parameters (small but real; production would use 128 hashes)
MH_P = 2147483647          # 2^31 - 1, Mersenne prime
MH_NUM_HASHES = 16
MH_BAND_ROWS = 4           # → 4 bands of 4 rows per pass
# Two independently-seeded band passes (STRESS_giant finding, round
# 7): per-doc LSH misses are CORRELATED inside near-identical
# clusters — a doc whose signature happens to diverge misses ALL its
# cluster edges at once, so the miss rate does not vanish with
# cluster size. A second 4-band pass from a disjoint hash family
# gives every pair an independent second detection draw: per-edge
# detection at J=0.7 rises 0.67 → ~0.89, and measured unconditional
# planted-cluster connectivity rises 0.847 → ≥0.95
# (STRESS_similarity.json). Exact verify is unchanged, so extra
# candidates cost band-join width only, never precision.
# Hash family of pass p, hash i: ((2i+a_p)·h + (b_p·i+c_p)) mod P.
MH_FAMILIES = [(3, 104729, 12345), (37, 15485863, 54321)]
SIMHASH_BITS = 60          # full width of stable_hash60
SIMHASH_BANDS = 5          # 5 × 12 bits → exact for hamming ≤ 4
SIMHASH_MAX_HAMMING = 4

# Shared SQL prelude: normalized text → tokens → distinct 3-gram
# shingles, hashed to 60-bit ints. Set semantics apply to the *hash*
# (DISTINCT over sh_hash) in both engines, so results agree exactly
# even in the (≈2⁻⁶¹ per pair) event of a hash collision.
_SQL_SHINGLES = """
d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents),
tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM d),
sh AS (SELECT doc_id,
         CASE WHEN len(toks) >= 3
           THEN list_transform(range(1, len(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ELSE [norm] END AS shingles
       FROM tk),
shx AS (SELECT DISTINCT doc_id,
          ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_hash
        FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)),
shn AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id)
"""


def shingles_from_docs(d: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh_hash) distinct hashed k-shingles from an arbitrary
    documents DataFrame (batch table, micro-batch, or test fixture) —
    the reusable core of ``_shingle_df``; see there for the
    physical-plan rationale."""
    base = (
        d.select("doc_id", norm_text(F.col("text")).alias("norm"))
        .withColumn("toks", F.split(F.col("norm"), " "))
        .withColumn("n", F.size(F.col("toks")))
    )
    exploded = base.select(
        "doc_id", "norm", "toks", "n",
        F.explode(
            F.when(F.col("n") >= k, F.sequence(F.lit(0), F.col("n") - k))
            .otherwise(F.sequence(F.lit(0), F.lit(0)))
        ).alias("i"),
    )
    shingle = F.when(
        F.col("n") >= k,
        F.concat_ws(" ", *[
            F.element_at(F.col("toks"), (F.col("i") + j + 1).cast("int"))
            for j in range(k)
        ]),
    ).otherwise(F.col("norm"))
    return exploded.select(
        "doc_id", stable_hash60(shingle).alias("sh_hash")
    ).distinct()


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, s0_0..s0_15, s1_0..s1_15) MinHash signature columns —
    32 aggregate min expressions over the shingle rows (map-side
    partial min, ONE shuffle), never a 32x row explode. Shared by the
    band builder and the estimator-parity gate; column order matches
    the oracle's flat hash index i (family = i // MH_NUM_HASHES)."""
    shh = sh.withColumn("h", F.col("sh_hash") % MH_P)
    return shh.groupBy("doc_id").agg(
        *[
            F.min(((2 * i + a) * F.col("h") + (b * i + c)) % MH_P)
            .alias(f"s{p}_{i}")
            for p, (a, b, c) in enumerate(MH_FAMILIES)
            for i in range(MH_NUM_HASHES)
        ]
    )


def bands_from_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) band keys as a pure projection over a
    signature table — split out of ``bands_from_shingles`` (round 9)
    so gate queries can build bands from the SHARED persisted
    signature table and the estimator-parity gate can reuse the same
    cached aggregate instead of re-running the 32-expression agg."""
    n_bands = MH_NUM_HASHES // MH_BAND_ROWS
    band_keys = F.array(*[
        F.concat_ws("_", *[
            F.col(f"s{p}_{b * MH_BAND_ROWS + r}").cast("string")
            for r in range(MH_BAND_ROWS)
        ])
        for p in range(len(MH_FAMILIES))
        for b in range(n_bands)
    ])
    return sig.select(
        "doc_id", F.posexplode(band_keys).alias("band", "bkey")
    )


def bands_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) MinHash-LSH band keys from a shingle
    table — the signature is 32 aggregate expressions (two disjoint
    16-hash families, map-side partial min), not a 32× explode;
    shared by the batch gate query and the streaming near-dup store.
    The two 4-band passes are concatenated (bands 0-3 = family 0,
    bands 4-7 = family 1), so the downstream band self-join is one
    join regardless of pass count — see MH_FAMILIES for why two."""
    return bands_from_signatures(minhash_signatures(sh))


def minhash_signatures_shared(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Persisted signature table over the shared shingle cache — the
    second natural reuse point of the MinHash DAG (after the shingle
    table itself): the band builder consumes it as a projection and
    the estimator-parity gate consumes the raw 32 columns, so
    persisting HERE (round 9) is what lets Spark's cache manager
    resolve both to one aggregate run. Persisting only the band table
    (the round-8 design) cached a PROJECTION of the agg, which the
    estimator's plan is not a subtree match for — its signature agg
    silently re-ran (sf0.1 A/B below in the commit)."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    return track(
        minhash_signatures(_shingle_df_shared(spark, sf_dir))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


# Compressed-parquet bytes of corpus text per shingle-builder task.
# Deliberately tiny next to maxPartitionBytes: the builder EXPLODES
# each task's text into per-shingle partial-aggregation state (~100
# distinct-map entries of ~50 B per doc — a 40-80x expansion of the
# zstd bytes), so sizing tasks by scan bytes overloads them long
# before the scan itself is coarse. 2 MB keeps per-task distinct
# state ~100 MB. At the gate/bench corpora (<= 0.6 MB) the floor is
# defaultParallelism, so small-SF plans are byte-identical to the
# fixed-width ones.
SHINGLE_TASK_INPUT_BYTES = 2 * 1024 * 1024


def corpus_repartition_width(spark: SparkSession, sf_dir: str,
                             table: str = "documents") -> int:
    """Scale-adaptive width for the pre-explode corpus repartition
    (optimization r14, guide §2.5/§5): one task per
    SHINGLE_TASK_INPUT_BYTES of compressed input, floored at
    defaultParallelism, capped at 32768. The former constant
    (defaultParallelism) sized per-task partial-aggregation state
    LINEARLY with the corpus: at a 2M-doc probe each of 32 tasks held
    a ~6M-entry distinct map and the stage spilled 12 GB to disk
    (PROFILE stage metrics) — the measured sig-stage superlinearity.
    Unreadable/remote paths fall back to the floor."""
    import os

    base = spark.sparkContext.defaultParallelism
    path = os.path.join(str(sf_dir), f"{table}.parquet")
    try:
        if os.path.isdir(path):
            size = sum(e.stat().st_size for e in os.scandir(path)
                       if e.is_file())
        else:
            size = os.stat(path).st_size
    except OSError:
        return base
    return int(max(base, min(32768,
                             -(-size // SHINGLE_TASK_INPUT_BYTES))))


def _shingle_df(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """(doc_id, sh_hash) distinct 60-bit-hashed k-word shingles per doc.

    Physical-plan care (this is the hot path of every similarity op):
    - repartition before the per-row work: a small parquet file is one
      split, which would serialize all shingle/md5 work onto a single
      core (at real scale the scan has many splits — repartitioning
      1 row/doc is cheap insurance, not a cost).
    - shingles are built by exploding the *index* range through a
      Generate and assembling each shingle with O(k) element_at on the
      token array materialized below the Generate. A transform() lambda
      over the token array looks cleaner but Catalyst inlines the
      split() expression into the lambda body and re-evaluates the full
      tokenization per shingle index — O(tokens²) per document (23s →
      3s at sf0.1 for 5k docs from this change alone).
    - the shingle string is hashed to a 60-bit int map-side, BEFORE the
      distinct: every downstream shuffle/join (set-dedupe, inverted
      index, signature agg) then moves 8-byte longs instead of ~30-byte
      strings — at 100 TB that is the difference between shuffling the
      corpus text ~1.5× and shuffling compact keys. Set semantics apply
      to the hash in both engines (oracle does DISTINCT over the same
      md5-derived hash), so parity is exact even under collisions.
    """
    # HASH-partitioned by doc_id, not round-robin (optimization r14,
    # guide §2.4 "two operations keyed the same way share one
    # exchange"): doc_id survives the explode/projection, so this ONE
    # exchange satisfies the ClusteredDistribution of BOTH the
    # (doc_id, sh_hash) distinct and the signature groupBy(doc_id) —
    # each then plans as a complete-mode aggregate with NO further
    # Exchange and per-task state bounded by the task's own docs. The
    # former round-robin layout scattered every doc's shingles across
    # all partitions, so the signature agg's map side held partial
    # min-state for ~EVERY doc per task (2M docs: 9.5 GB of partial
    # rows shuffled, 9.4 GB spilled — probe stage metrics); that
    # whole stage is now gone.
    return shingles_from_docs(
        t(spark, sf_dir, "documents").repartition(
            corpus_repartition_width(spark, sf_dir), F.col("doc_id")
        ),
        k=k,
    )


def _shingle_df_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted shingle table for queries that branch over it.

    MinHash-style pipelines consume the shingles 3+ times (signatures,
    intersection sides, counts); without materialization Spark rescans
    and re-shingles the documents for every branch (12 scans / 14
    exchanges observed). MEMORY_AND_DISK persist turns that into one
    computation; blocks are LRU-evicted so repeated gate queries don't
    accumulate. At cluster scale the same call is the right move — the
    shingle table is the natural reuse point of every similarity DAG.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    return track(
        _shingle_df(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    )


def _pair_jaccard(shingles: DataFrame, counts: DataFrame | None = None,
                  cand: DataFrame | None = None,
                  reduce_once: bool = False,
                  tau: float | None = None) -> DataFrame:
    """Exact shingle-set Jaccard per doc pair via inverted-index join.

    One shuffle on the shingle key; pair counts aggregate map-side.
    ``cand`` (doc_a, doc_b) restricts to candidate pairs (LSH output).
    ``counts`` (doc_id, n_sh) is required only on the exhaustive path;
    the candidate path derives per-doc counts from the semi-join-
    reduced shingle sides itself.

    ``reduce_once`` (round 13, large-corpus path): reduce the shingle
    table with ONE semi-join on the UNION of both candidate id sides
    and persist the result, instead of two independent side-specific
    semi-joins. The r13 stage profile (PROFILE_minhash_capped.json)
    measured the two-reduction plan hitting a 10.8x verify cliff at
    [1M -> 2M] docs while the capped candidate volume itself stayed
    exactly linear (x1.98 per doubling): past AQE's broadcast
    threshold each id set falls to a sort-merge semi-join that
    shuffles the FULL shingle table — and each reduced side is
    consumed twice (pair join + per-doc counts), so the un-persisted
    subtree re-runs, 4 full-table passes total. The once-reduced
    persisted table is computed in one pass and read by all four
    consumers. Outputs are identical (the pair joins filter the extra
    union docs; counts rows for never-matched ids drop in the inner
    joins); gate-scale callers keep the default so sf0.001/0.01 plans
    stay byte-identical.

    ``tau`` (optimization r15, guide §3 / VERDICT r14 item 3,
    candidate path only): exact size-ratio prefilter. J(A,B) =
    |A∩B| / |A∪B| ≤ min(|A|,|B|) / max(|A|,|B|) — the intersection is
    at most the smaller set, the union at least the larger — so a
    candidate pair whose shingle-set size ratio is below tau is
    verify-rejected with CERTAINTY and can be dropped BEFORE the
    intersection join, unlike a bucket-cap change, which trades
    recall. Valid only for callers that filter jaccard ≥ tau on the
    output (no false negatives: J ≥ tau ⇒ min ≥ tau·max; survivors
    still go through the exact verify). The filter reuses the
    candidate-docs-scale na/nb aggregates the result join already
    needs — its cost scales with candidates, never the corpus.
    tau·max is exact in double arithmetic for the callers' tau = 0.5
    (a power of two times an integer < 2^53), so a boundary pair with
    min = tau·max is kept, never dropped.
    """
    a = shingles.select(F.col("doc_id").alias("doc_a"),
                        F.col("sh_hash").alias("sh_a"))
    b = shingles.select(F.col("doc_id").alias("doc_b"),
                        F.col("sh_hash").alias("sh_b"))
    if cand is None:
        if counts is None:
            raise ValueError("exhaustive _pair_jaccard needs counts")
        inter = (
            a.join(b, (F.col("sh_a") == F.col("sh_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # Scale path: intersect shingles only for LSH candidate pairs —
        # the n² shingle self-join never happens. Semi-join-reducing
        # the shingle table on the candidate doc-id sets BEFORE the
        # pair joins keeps both verify shuffles to candidate shingles
        # only; without it, ``cand.join(a, ...)`` and the (doc_b, sh)
        # join each move the FULL shingle table (the r2 minhash_pairs
        # 2.14× regression). No broadcast hint: in the near-dup-heavy
        # regime the distinct candidate id set approaches one row per
        # corpus document — per-doc-scale data that must never be
        # force-broadcast. AQE turns these semi-joins into broadcasts
        # at runtime exactly when the build side is actually small.
        if reduce_once:
            from pyspark import StorageLevel

            from tpg_weather_etl_spark.caching import track
            ids = (cand.select(F.col("doc_a").alias("doc_id"))
                   .union(cand.select(F.col("doc_b").alias("doc_id")))
                   .distinct())
            red = track(
                shingles.join(ids, "doc_id", "left_semi")
                .persist(StorageLevel.MEMORY_AND_DISK))
            a_red = red.select(F.col("doc_id").alias("doc_a"),
                               F.col("sh_hash").alias("sh_a"))
            b2_red = red.select(F.col("doc_id").alias("doc_b2"),
                                F.col("sh_hash").alias("sh_b"))
        else:
            b2 = shingles.select(F.col("doc_id").alias("doc_b2"),
                                 F.col("sh_hash").alias("sh_b"))
            a_red = a.join(cand.select("doc_a").distinct(),
                           "doc_a", "left_semi")
            b2_red = b2.join(
                cand.select(F.col("doc_b").alias("doc_b2")).distinct(),
                "doc_b2", "left_semi",
            )
        if tau is not None:
            # size-ratio prefilter (see docstring). na/nb are the same
            # candidate-docs-scale aggregates the no-tau path joins
            # onto the result AFTER the intersection — here they join
            # onto cand BEFORE it (that is the prefilter) and ride
            # through the pair groupBy as functionally-dependent keys,
            # so each aggregate appears ONCE in the plan and the final
            # re-joins disappear; jaccard is computed from the same
            # integers, so values are bit-identical. The two extra
            # longs per intersection row are the whole added width.
            na_c = a_red.groupBy("doc_a").agg(
                F.count(F.lit(1)).alias("na"))
            nb_c = b2_red.groupBy(F.col("doc_b2").alias("doc_b")).agg(
                F.count(F.lit(1)).alias("nb"))
            cand_sz = (
                cand.join(na_c, "doc_a").join(nb_c, "doc_b")
                .filter(F.least("na", "nb").cast("double")
                        >= F.lit(tau)
                        * F.greatest("na", "nb").cast("double"))
            )
            return (
                cand_sz.join(a_red, "doc_a")
                .join(b2_red, (F.col("doc_b") == F.col("doc_b2"))
                      & (F.col("sh_b") == F.col("sh_a")), "inner")
                .groupBy("doc_a", "doc_b", "na", "nb")
                .agg(F.count(F.lit(1)).alias("n_inter"))
                .select(
                    "doc_a", "doc_b", "n_inter",
                    (F.col("n_inter").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("n_inter")))
                    .alias("jaccard"),
                )
            )
        inter = (
            cand.join(a_red, "doc_a")
            .join(b2_red, (F.col("doc_b") == F.col("doc_b2"))
                  & (F.col("sh_b") == F.col("sh_a")), "inner")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    # Per-doc counts scale with the corpus (one row per document) —
    # NEVER broadcast them: at 100 TB the broadcast build would OOM
    # the driver. In the candidate branch the reduced shingle sides
    # already hold every shingle of every candidate doc, so the counts
    # aggregate over THEM (candidate-bounded) instead of re-scanning
    # the corpus-wide ``counts`` table; the join inputs shrink from
    # |corpus| to |candidates| rows. In the exhaustive branch they are
    # plain shuffle hash joins co-partitioned on the join key.
    if cand is None:
        na = counts.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_sh").alias("na"))
        nb = counts.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("nb"))
    else:
        na = a_red.groupBy("doc_a").agg(F.count(F.lit(1)).alias("na"))
        nb = b2_red.groupBy(F.col("doc_b2").alias("doc_b")).agg(
            F.count(F.lit(1)).alias("nb")
        )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter",
            (F.col("n_inter").cast("double")
             / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Text statistics: token counting, length stats, fingerprint
# ---------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    n_nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id", "lang", "source",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        (n_nonspace.cast("double") / n_tok).alias("avg_token_len"),
        stopword_hits(F.col("text")).alias("stop_hits"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )


SQL_TEXT_STATS = """
SELECT doc_id, lang, source,
  length(text) AS n_chars_actual,
  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
    / len(regexp_extract_all(text, '\\S+')) AS avg_token_len,
  CAST(len(regexp_extract_all(lower(text),
       '\\b(the|a|of|and|to|in|is|for)\\b')) AS BIGINT) AS stop_hits,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# Language-ID heuristic (stopword ratio) + quality scoring
# ---------------------------------------------------------------------------

def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    stop_ratio = stopword_hits(F.col("text")).cast("double") / n_tok
    pr = punct_ratio(F.col("text"))
    score = (
        0.4 * F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - pr)
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    return d.select(
        "doc_id", "lang",
        stop_ratio.alias("stop_ratio"),
        F.when(stop_ratio >= 0.15, "en")
         .when(stop_ratio >= 0.05, "maybe_en")
         .otherwise("other").alias("lang_pred"),
        pr.alias("punct_ratio"),
        score.alias("quality_score"),
        F.when(score >= 0.8, "high").when(score >= 0.5, "medium")
         .otherwise("low").alias("quality_label"),
    )


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the DECLARED language column and the
    stop-word-heuristic language ID — the metadata-trust audit: a
    source whose declared labels disagree with the content heuristic
    has broken metadata (or mislabeled scrapes) and its language
    quotas cannot be trusted. Composes q_lang_quality rather than
    re-deriving the heuristic; output is |langs|x|preds| cells with
    each declared language's agreement share (share of its docs the
    heuristic maps to the modal prediction — a label-free consistency
    measure, since the heuristic's classes need not equal the
    declared vocabulary)."""
    lq = q_lang_quality(spark, sf_dir).select("lang", "lang_pred")
    cell = lq.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n"))
    tot = cell.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    w = Window.partitionBy("lang")
    return (
        cell.join(tot, "lang")
        .withColumn("modal_n", F.max("n").over(w))
        .select(
            "lang", "lang_pred", "n", "lang_n",
            (F.round(F.col("n") / F.col("lang_n").cast("double"), 6)
             + F.lit(0.0)).alias("share"),
            (F.round(F.col("modal_n") / F.col("lang_n").cast("double"),
                     6) + F.lit(0.0)).alias("modal_share"),
        )
        .orderBy("lang", "lang_pred")
    )


SQL_LANG_QUALITY = """
WITH s AS (
  SELECT doc_id, lang,
    CAST(len(regexp_extract_all(lower(text),
         '\\b(the|a|of|and|to|in|is|for)\\b')) AS DOUBLE)
      / len(regexp_extract_all(text, '\\S+')) AS stop_ratio,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
              / length(text) ELSE 0.0 END AS punct_ratio,
    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok
  FROM documents)
SELECT doc_id, lang, stop_ratio,
  CASE WHEN stop_ratio >= 0.15 THEN 'en'
       WHEN stop_ratio >= 0.05 THEN 'maybe_en' ELSE 'other' END AS lang_pred,
  punct_ratio,
  0.4 * least(n_tok/100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
    + 0.3 * least(stop_ratio*5.0, 1.0) AS quality_score,
  CASE WHEN 0.4*least(n_tok/100.0, 1.0) + 0.3*(1.0-punct_ratio)
            + 0.3*least(stop_ratio*5.0, 1.0) >= 0.8 THEN 'high'
       WHEN 0.4*least(n_tok/100.0, 1.0) + 0.3*(1.0-punct_ratio)
            + 0.3*least(stop_ratio*5.0, 1.0) >= 0.5 THEN 'medium'
       ELSE 'low' END AS quality_label
FROM s
"""


SQL_LANG_AGREEMENT = f"""
WITH lq AS ({SQL_LANG_QUALITY.strip()}),
cell AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         FROM lq GROUP BY 1, 2),
tot AS (SELECT lang, SUM(n) AS lang_n FROM cell GROUP BY 1)
SELECT c.lang, c.lang_pred, c.n, CAST(t.lang_n AS BIGINT) AS lang_n,
  round(c.n / CAST(t.lang_n AS DOUBLE), 6) + 0.0 AS share,
  round(MAX(c.n) OVER (PARTITION BY c.lang) / CAST(t.lang_n AS DOUBLE),
        6) + 0.0 AS modal_share
FROM cell c JOIN tot t USING (lang) ORDER BY lang, lang_pred
"""



# ---------------------------------------------------------------------------
# Exact content dedup via fingerprint (generalizes reference A1 to
# content-addressed dedup)
# ---------------------------------------------------------------------------

def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(doc_fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("keeper_doc_id"))
    )


SQL_FINGERPRINT_DEDUP = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (exact inverted-index form)
# ---------------------------------------------------------------------------

NGRAM_DF_CAP = 50  # drop shingles appearing in > this many documents


def filter_hot_shingles(sh: DataFrame, cap: int = NGRAM_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap``.

    The guard that makes the exact inverted-index self-join survive
    skew: a stop-shingle present in 1M documents would put ~5·10¹¹
    pairs on a single join key. Hot shingles carry no near-dup signal
    (they are corpus-wide boilerplate), so the standard practice is to
    cap document frequency before building the index; Jaccard is then
    computed over the capped shingle vocabulary on both numerator and
    denominator (a well-defined filtered-Jaccard, mirrored exactly in
    the oracle).
    """
    keep = (
        sh.groupBy("sh_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= cap)
        .select("sh_hash")
    )
    return sh.join(keep, "sh_hash")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = filter_hot_shingles(_shingle_df_shared(spark, sf_dir))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return _pair_jaccard(sh, counts).filter(F.col("jaccard") >= 0.5)


# ---------------------------------------------------------------------------
# Containment detection: asymmetric near-dup — doc A's shingles
# (almost) all appear in doc B. Catches quote-expansion / boilerplate-
# wrap duplicates whose symmetric Jaccard stays LOW because the
# containing document is much larger (|A∩B|/|A∪B| shrinks with |B|,
# |A∩B|/|A| does not).
# ---------------------------------------------------------------------------

CONTAINMENT_MIN = 0.9


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where either direction's containment ≥ 0.9, with the
    contained (smaller-coverage) doc identified.

    Scale shape: identical to the Jaccard inverted index — one shuffle
    on the (hot-capped) shingle key, pair counts aggregate map-side —
    and BOTH directions' containment derive from the single unordered
    intersection count, no second pass over the index.
    """
    sh = filter_hot_shingles(_shingle_df_shared(spark, sf_dir))
    return containment_pairs_from_shingles(sh)


def containment_pairs_from_shingles(sh: DataFrame) -> DataFrame:
    """Containment pair detection over a prepared (doc_id, sh_hash)
    shingle set — parameterized so tests can measure the hot-shingle
    cap's recall cost by feeding capped vs uncapped shingles."""
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh_hash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh_hash").alias("sh_b"))
    inter = (
        a.join(b, (F.col("sh_a") == F.col("sh_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"),
                       F.col("n_sh").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"),
                       F.col("n_sh").alias("nb"))
    cont_a = F.col("n_inter").cast("double") / F.col("na")
    cont_b = F.col("n_inter").cast("double") / F.col("nb")
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter",
            (F.round(F.greatest(cont_a, cont_b), 6) + 0.0)
            .alias("containment"),
            # the contained doc is the one with the HIGHER coverage
            # ratio (its shingle set is the one swallowed)
            F.when(cont_a >= cont_b, F.col("doc_a"))
            .otherwise(F.col("doc_b")).alias("contained_doc"),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH {_SQL_SHINGLES},
hot AS (SELECT sh_hash FROM shx GROUP BY sh_hash
        HAVING COUNT(*) <= {NGRAM_DF_CAP}),
shc AS (SELECT shx.* FROM shx JOIN hot USING (sh_hash)),
shcn AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
  round(greatest(n_inter / na.n_sh, n_inter / nb.n_sh), 6) + 0.0
    AS containment,
  CASE WHEN n_inter / na.n_sh >= n_inter / nb.n_sh
       THEN doc_a ELSE doc_b END AS contained_doc
FROM inter
JOIN shcn na ON na.doc_id = doc_a
JOIN shcn nb ON nb.doc_id = doc_b
WHERE round(greatest(n_inter / na.n_sh, n_inter / nb.n_sh), 6) + 0.0
      >= {CONTAINMENT_MIN}
"""


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_SQL_SHINGLES},
hot AS (SELECT sh_hash FROM shx GROUP BY sh_hash
        HAVING COUNT(*) <= {NGRAM_DF_CAP}),
shc AS (SELECT shx.* FROM shx JOIN hot USING (sh_hash)),
shcn AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shc a JOIN shc b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
  CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
FROM inter
JOIN shcn na ON na.doc_id = doc_a
JOIN shcn nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (PPJoin-style; Chaudhuri 2006 /
# Bayardo 2007). The third point in the design space next to the
# df-capped inverted index (exact but measured recall cost under the
# cap) and MinHash-LSH (probabilistic): EXACT τ-threshold join with
# no cap and no false negatives. Shingles get a global rare-first
# order (df asc); a doc with n shingles indexes only its first
# n − ⌈τ·n⌉ + 1. Prefix lemma: J(a,b) ≥ τ ⇒ |a∩b| ≥ ⌈τ·|d|⌉ for both
# docs, and the globally-smallest intersection element must sit in
# BOTH prefixes — so the prefix-prefix equi-join misses nothing.
# Skew story: hot boilerplate shingles have high df, so they land in
# suffixes and never enter the index — the skew guard is built into
# the ordering instead of bought with recall.
# ---------------------------------------------------------------------------

PJ_TAU = 0.5


def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ τ pairs via prefix filtering.

    Shuffles at any scale: df agg + join (sh_hash), counts + window
    (doc_id), prefix self-join (sh_hash, low-df keys only), then the
    candidate-bounded exact verify of ``_pair_jaccard``. The oracle
    is the quadratic uncapped join — hash-equality proves the prefix
    candidates lose nothing.
    """
    sh = _shingle_df_shared(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_ = sh.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("df"))
    ordered = sh.join(df_, "sh_hash").join(counts, "doc_id")
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"),
                                             F.asc("sh_hash"))
    pref = (
        ordered.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk")
                <= F.col("n_sh")
                - F.ceil(F.lit(PJ_TAU) * F.col("n_sh")) + 1)
        .select("doc_id", "sh_hash")
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh_hash").alias("sh_p"))
    pb = pref.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh_hash").alias("sh_p"))
    cand = (
        pa.join(pb, ["sh_p"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _pair_jaccard(sh, cand=cand, tau=PJ_TAU).filter(
        F.col("jaccard") >= PJ_TAU
    )


SQL_PREFIX_JACCARD_PAIRS = f"""
WITH {_SQL_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shx a JOIN shx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
  CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
FROM inter
JOIN shn na ON na.doc_id = doc_a
JOIN shn nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter)
      >= {PJ_TAU}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup detection (the scale path: band-bucket hash
# join produces candidates; exact Jaccard verifies them)
# ---------------------------------------------------------------------------

def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates + exact-Jaccard verify.

    The result is persisted: it is tiny (near-dup pairs, not the
    corpus) and is the input of the dedup-clustering query — the cache
    manager resolves a later identical plan to the cached rows, so
    dedup_clusters starts from the materialized edge list instead of
    re-running signatures + band join + verify.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    sh = _shingle_df_shared(spark, sf_dir)
    # Bands as a projection over the SHARED persisted signature table
    # (round 9; previously the band table itself was persisted, which
    # still ran the 32-expression signature agg once per consumer
    # that needed raw signature columns — the estimator gate). Both
    # self-join sides and the estimator now resolve to ONE cached
    # aggregate; the explode projection is recomputed per side, which
    # is cheap next to the agg it replaced.
    bands = bands_from_signatures(
        minhash_signatures_shared(spark, sf_dir))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("band").alias("band_b"),
                     F.col("bkey").alias("bkey_b"))
    # Persisted: the verify path consumes the candidate pair set three
    # times (two broadcast doc-id reductions + the pair join); without
    # materialization each consumer re-runs the band self-join.
    cand = track(
        a.join(b, (F.col("band") == F.col("band_b"))
               & (F.col("bkey") == F.col("bkey_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = _pair_jaccard(sh, cand=cand,
                          reduce_once=_mh_reduce_once(spark, sf_dir),
                          tau=0.5)
    return track(
        pairs.filter(F.col("jaccard") >= 0.5).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )


# ---------------------------------------------------------------------------
# Hot-band-bucket-capped MinHash pairs — the text-side analogue of
# the embedding family's filter_hot_buckets (SCALE.md rule 11), added
# after the round-9 curation probe measured the uncapped candidate
# volume growing QUADRATICALLY on a boilerplate-heavy corpus: 30% of
# docs sharing one 15-word header put every "header-dominant" doc
# (all 4 band minima drawn from header shingles, P≈0.2⁴ per band)
# into ONE shared bucket per band whose size grows linearly with the
# corpus — so its pair contribution grows quadratically even though
# no true near-dups live there (header-pair Jaccard ≈0.12, all
# verify-rejected at cost). The cap drops over-full buckets before
# candidate generation, bounding per-bucket work at cap²/2 on ANY
# corpus composition. Tension, same as the embedding side: a TRUE
# mega-cluster (STRESS_giant's 1000 near-identical docs) also lives
# in over-full buckets, so the capped variant trades its recovery
# for the work bound — both variants stay first-class, the pipeline
# picks per corpus-profile (boilerplate_prefixes tells you which).
# ---------------------------------------------------------------------------

MH_BUCKET_CAP = 200   # max members per (band, bkey) bucket

# Corpus size from which the MinHash verify switches to the
# once-reduced persisted shingle path (_pair_jaccard reduce_once).
# Below it the candidate id sets broadcast and the classic
# two-semi-join plan is optimal AND byte-identical to the pinned gate
# plans; above it the id sets outgrow AQE's broadcast threshold and
# the two-reduction plan pays four full shingle-table passes
# (PROFILE_minhash_capped.json: verify 17s -> 183s across [1M -> 2M]
# on linear candidate volume). Same conditional-plan pattern as the
# triangle family's apex split (one bounded construction-time job
# picks the branch; choice must match the data the plan runs on).
MH_REDUCE_ONCE_MIN_DOCS = 200_000


def _mh_reduce_once(spark: SparkSession, sf_dir: str) -> bool:
    """CONSTRUCTION-TIME ACTION (documented, same contract as
    queries_ml._oriented_triangles): one parquet count picks the
    verify branch, so building the minhash queries requires the
    documents table to exist — every actual caller builds against
    real testdata."""
    return (t(spark, sf_dir, "documents").count()
            >= MH_REDUCE_ONCE_MIN_DOCS)


def filter_hot_band_buckets(bands: DataFrame,
                            cap: int = MH_BUCKET_CAP) -> DataFrame:
    """Drop (band, bkey) buckets with more than ``cap`` members.

    One aggregation over the band table (docs×8 rows, not
    candidate-sized) and a co-partitioned join; after it no bucket
    contributes more than cap·(cap−1)/2 candidate pairs."""
    sizes = bands.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).alias("n_in_bucket"))
    return (bands.join(sizes, ["band", "bkey"])
            .filter(F.col("n_in_bucket") <= cap)
            .drop("n_in_bucket"))


def q_minhash_pairs_capped(spark: SparkSession, sf_dir: str,
                           cap: int = MH_BUCKET_CAP) -> DataFrame:
    """`minhash_pairs` with the hot-band-bucket cap applied before
    candidate generation: identical output when no bucket exceeds
    ``cap`` (gate SFs — pytest-pinned), bounded candidate work on
    boilerplate-heavy corpora where the uncapped join goes quadratic
    (probe-measured, see filter_hot_band_buckets).

    The candidate set is persisted like the uncapped variant's: the
    verify path (`_pair_jaccard`) consumes it three times (two
    semi-join doc-id reductions + the pair join), and round 11 made
    this query the estimator gate's pair source — without
    materialization each consumer re-runs the capped band self-join.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    sh = _shingle_df_shared(spark, sf_dir)
    bands = filter_hot_band_buckets(
        bands_from_signatures(minhash_signatures_shared(spark, sf_dir)),
        cap=cap)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("band").alias("band_b"),
                     F.col("bkey").alias("bkey_b"))
    cand = track(
        a.join(b, (F.col("band") == F.col("band_b"))
               & (F.col("bkey") == F.col("bkey_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _pair_jaccard(
        sh, cand=cand, reduce_once=_mh_reduce_once(spark, sf_dir),
        tau=0.5
    ).filter(F.col("jaccard") >= 0.5)




# Shared oracle-side band CTEs — the SQL mirror of
# bands_from_shingles: two disjoint 16-hash families (MH_FAMILIES),
# 8 bands of 4, band index i//4 so bands 4-7 are the second pass.
_SQL_MH_BANDS = f"""
hv AS (SELECT doc_id, sh_hash % {MH_P} AS h FROM shx),
sig AS (SELECT doc_id, i,
          MIN(CASE WHEN i < {MH_NUM_HASHES}
              THEN ((2*i+{MH_FAMILIES[0][0]})*h
                    + ({MH_FAMILIES[0][1]}*i+{MH_FAMILIES[0][2]})) % {MH_P}
              ELSE ((2*(i-{MH_NUM_HASHES})+{MH_FAMILIES[1][0]})*h
                    + ({MH_FAMILIES[1][1]}*(i-{MH_NUM_HASHES})
                       +{MH_FAMILIES[1][2]})) % {MH_P}
              END) AS s
        FROM hv CROSS JOIN range(0, {MH_NUM_HASHES * len(MH_FAMILIES)}) t(i)
        GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {MH_BAND_ROWS} AS band,
            string_agg(s::VARCHAR, '_' ORDER BY i) AS bkey
          FROM sig GROUP BY doc_id, band)
"""


SQL_MINHASH_PAIRS = f"""
WITH {_SQL_SHINGLES},
{_SQL_MH_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shx a JOIN shx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
  CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
FROM inter
JOIN shn na ON na.doc_id = doc_a
JOIN shn nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5
"""


SQL_MINHASH_PAIRS_CAPPED = f"""
WITH {_SQL_SHINGLES},
{_SQL_MH_BANDS},
keep AS (SELECT band, bkey FROM bands GROUP BY band, bkey
         HAVING COUNT(*) <= {MH_BUCKET_CAP}),
bc AS (SELECT b.* FROM bands b JOIN keep USING (band, bkey)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bc a JOIN bc b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shx a JOIN shx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
  CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
FROM inter
JOIN shn na ON na.doc_id = doc_a
JOIN shn nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5
"""


# ---------------------------------------------------------------------------
# MinHash estimator-parity gate: the sketch ESTIMATE itself (matching
# signature components / total hashes) against the exact Jaccard it
# estimates, per verified near-dup pair. Unlike HLL/percentile
# sketches, MinHash signatures are cross-engine deterministic here
# (same hash family over the same md5-derived shingle hashes), so the
# estimate is value-hashable directly — no tolerance booleans needed.
# ---------------------------------------------------------------------------

def q_minhash_est_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per verified near-dup pair: exact shingle Jaccard, the MinHash
    estimate (matching signature components / 32), and their absolute
    error — the estimator-quality audit that tells you whether the
    banded-LSH thresholds are calibrated for a new corpus before you
    trust them (expected |err| ~ sqrt(J(1-J)/32) ≈ 0.09 at J=0.5).

    Scale shape: O(pairs x 32) — the pair list is near-dup-sized
    (tiny next to the corpus), the signature table IS the shared
    persisted aggregate the band builder projects from
    (minhash_signatures_shared — one agg run for detector +
    estimator), and the two signature joins are doc_id equi joins
    whose probe side is the pair list. Nothing quadratic, nothing
    corpus-wide beyond what the detector already computed.

    Round 11 (VERDICT r10 item 1): the pair source is the CAPPED
    candidate stream (q_minhash_pairs_capped), not the uncapped
    detector. The estimator audits sketch accuracy — |est − exact|
    per verified pair is a property of the signature, not of which
    candidate generator surfaced the pair — so capped pairs are a
    valid (and at 100 TB, the only affordable) estimation sample.
    The uncapped stream's resource envelope is quadratic on
    boilerplate corpora in more than wall-clock (the 1M-doc probe's
    SPILL_OUT_OF_MEMORY, STRESS_curation r10); the capped stream's
    per-bucket work is cap²/2-bounded on ANY corpus composition.
    Identical output at gate SFs (max bucket 5 ≪ cap 200), so the
    sf0.01 value hash is unchanged; the oracle mirrors the capped
    CTE so parity holds at every SF, not just where the cap is slack.
    """
    pairs = q_minhash_pairs_capped(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard")
    cols = [f"s{p}_{i}" for p in range(len(MH_FAMILIES))
            for i in range(MH_NUM_HASHES)]
    sig = minhash_signatures_shared(spark, sf_dir)
    arr = F.array(*cols)
    sa = sig.select(F.col("doc_id").alias("doc_a"), arr.alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), arr.alias("sig_b"))
    n_total = MH_NUM_HASHES * len(MH_FAMILIES)
    n_match = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
        lambda m: m)).cast("long")
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "jaccard",
            n_match.alias("n_match"),
            (n_match / F.lit(float(n_total))).alias("est_jaccard"),
            (F.round(F.abs(n_match / F.lit(float(n_total))
                           - F.col("jaccard")), 6)
             + F.lit(0.0)).alias("abs_err"),
        )
    )


SQL_MINHASH_EST_ACCURACY = f"""
WITH {_SQL_SHINGLES},
{_SQL_MH_BANDS},
keep AS (SELECT band, bkey FROM bands GROUP BY band, bkey
         HAVING COUNT(*) <= {MH_BUCKET_CAP}),
bc AS (SELECT b.* FROM bands b JOIN keep USING (band, bkey)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bc a JOIN bc b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shx a JOIN shx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2),
p AS MATERIALIZED (
  SELECT doc_a, doc_b,
    CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN shn na ON na.doc_id = doc_a
  JOIN shn nb ON nb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5),
m AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
    CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT)
      AS n_match
  FROM p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.i = sa.i
  GROUP BY 1, 2, 3)
SELECT doc_a, doc_b, jaccard, n_match,
  n_match / {MH_NUM_HASHES * len(MH_FAMILIES)}.0 AS est_jaccard,
  round(abs(n_match / {MH_NUM_HASHES * len(MH_FAMILIES)}.0 - jaccard),
        6) + 0.0 AS abs_err
FROM m
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints + banded hamming-distance pairs
# ---------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc — one shuffle, no bit explode.

    The 60 per-bit ±1 sums are 60 aggregate expressions over the token
    rows (map-side combine), not a 60× row blowup; the final hash is a
    60-term projection.
    """
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok")
    ).withColumn("h", stable_hash60(F.col("tok")))
    bitsums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.shiftright(F.col("h"), b) % 2) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0,
                      F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return bitsums.select("doc_id", simhash.alias("simhash"))


SQL_SIMHASH = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d),
hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
bits AS (SELECT doc_id, b,
           SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
         FROM hv CROSS JOIN range(0, {SIMHASH_BITS}) t(b)
         GROUP BY doc_id, b)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)
       AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ 4 via 12-bit band join.

    Pigeonhole: ≤4 differing bits across 5 bands leaves ≥1 band equal,
    so the band join has zero false negatives for the threshold — the
    oracle proves it by scanning all pairs quadratically.
    """
    sh = q_simhash(spark, sf_dir)
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "bval", F.expr("(simhash >> (band * 12)) & 4095")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sh_a"), "band", "bval")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sh_b"),
                      F.col("band").alias("band_b"),
                      F.col("bval").alias("bval_b"))
    cand = (
        a.join(b, (F.col("band") == F.col("band_b"))
               & (F.col("bval") == F.col("bval_b"))
               & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


SQL_SIMHASH_PAIRS = f"""
WITH sh AS ({SQL_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Gopher-style quality rules (word count, word length, symbol ratio,
# bigram repetition) with a composite keep flag
# ---------------------------------------------------------------------------

GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 10000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_PUNCT = 0.10
GOPHER_MAX_TOP_BIGRAM = 0.20


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher-rule quality filter: token-count bounds, mean word
    length bounds, symbol ratio, and top-bigram repetition fraction.

    All ratios are integer-over-integer doubles (exact IEEE in both
    engines), so the boundary comparisons in ``keep`` agree bit-exactly.
    Scale shape: two per-doc aggregations (token stats, bigram stats)
    that combine map-side, then a co-partitioned join on doc_id — no
    broadcast needed, no full-corpus shuffle beyond the doc_id keys.
    """
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # MAP-ONLY since the optimization round (r14): every statistic
    # here is doc-LOCAL, so the former token/bigram explodes (full
    # corpus-token rows through two doc_id shuffles plus two joins —
    # a 6-Exchange plan) are computable per row inside one
    # WholeStageCodegen pass. Values are bit-identical to the explode
    # formulation: n_tokens = size(toks) (the explode emitted one row
    # per array element, including the single "" token of an empty
    # doc); sum(length(tok)) over single-space-normalized text is
    # length(nt) − (n−1) separators, exactly; and the per-doc modal
    # bigram count equals the longest equal-run of the SORTED bigram
    # array (groupBy multiplicity = run length), with sum(c) = n−1
    # bigram instances as the denominator. The aggregate/zip_with
    # lambdas reference only their own arguments, so the
    # word_shingles O(tokens²) split-inlining hazard does not apply —
    # `toks` is referenced 4× at projection level, which Catalyst
    # will not inline a non-cheap split() into.
    staged = d.select(
        "doc_id",
        punct_ratio(F.col("text")).alias("punct_ratio"),
        F.length(norm_text(F.col("text"))).alias("len_nt"),
        F.split(norm_text(F.col("text")), " ").alias("toks"),
    )
    n = F.size(F.col("toks")).cast("long")
    nb = F.size(F.col("toks")) - 1
    bgs = F.zip_with(
        F.slice(F.col("toks"), 1, nb),
        F.slice(F.col("toks"), 2, nb),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    zero = F.lit(0).cast("long")
    run = lambda acc, x: (  # noqa: E731 — shared by run/mx fields
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")))
    top_run = F.aggregate(
        F.array_sort(bgs),
        F.struct(F.lit("").alias("prev"), zero.alias("run"),
                 zero.alias("mx")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["mx"], run(acc, x)).alias("mx"),
        ),
        lambda acc: acc["mx"],
    )
    out = staged.select(
        "doc_id",
        n.alias("n_tokens"),
        ((F.col("len_nt") - (n - 1)).cast("double") / n)
        .alias("mean_word_len"),
        "punct_ratio",
        F.when(n >= 2,
               top_run.cast("double") / nb.cast("long"))
        .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )
    keep = (
        F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
        & F.col("mean_word_len").between(GOPHER_MIN_WORD_LEN,
                                         GOPHER_MAX_WORD_LEN)
        & (F.col("punct_ratio") < GOPHER_MAX_PUNCT)
        & (F.col("top_bigram_frac") < GOPHER_MAX_TOP_BIGRAM)
    )
    return out.withColumn("keep", keep)


SQL_GOPHER_QUALITY = f"""
WITH d AS (SELECT doc_id, text,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM d),
tstats AS (SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(length(tok)) AS DOUBLE) / COUNT(*) AS mean_word_len
           FROM tok GROUP BY 1),
bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM d WHERE len(toks) >= 2),
bcount AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgr GROUP BY 1, 2),
bstats AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
           FROM bcount GROUP BY 1),
pr AS (SELECT doc_id,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS DOUBLE)
                   / length(text) ELSE 0.0 END AS punct_ratio
       FROM documents)
SELECT t.doc_id, t.n_tokens, t.mean_word_len, pr.punct_ratio,
       COALESCE(b.top_bigram_frac, 0.0) AS top_bigram_frac,
       (t.n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
        AND t.mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
        AND pr.punct_ratio < {GOPHER_MAX_PUNCT}
        AND COALESCE(b.top_bigram_frac, 0.0) < {GOPHER_MAX_TOP_BIGRAM}) AS keep
FROM tstats t
LEFT JOIN bstats b ON b.doc_id = t.doc_id
JOIN pr ON pr.doc_id = t.doc_id
"""


def q_source_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality pass-rate per (source, lang) — the curation report that
    decides which crawl sources are worth keeping. Composes the
    Gopher gate: per-doc keep verdicts join the doc catalog
    co-partitioned on doc_id, then one small hash-agg; output is
    source×lang-sized regardless of corpus size."""
    q = q_gopher_quality(spark, sf_dir).select("doc_id", "keep")
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return (
        d.join(q, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
        )
        .select(
            "source", "lang", "n_docs",
            F.col("n_keep").cast("bigint").alias("n_keep"),
            (F.round(F.col("n_keep") / F.col("n_docs"), 6) + F.lit(0.0))
            .alias("keep_rate"),
        )
    )


SQL_SOURCE_QUALITY_MATRIX = f"""
WITH g AS ({SQL_GOPHER_QUALITY})
SELECT source, lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
  round(SUM(CASE WHEN keep THEN 1 ELSE 0 END) / COUNT(*), 6) + 0.0
    AS keep_rate
FROM documents JOIN g USING (doc_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination: corpus docs sharing n-gram shingles with a
# held-out eval set (the GPT-3-style n-gram contamination check)
# ---------------------------------------------------------------------------

CONTAM_MIN_SHINGLES = 3


def q_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus docs contaminated by the pseudo-benchmark set
    (doc_id % 100 == 0), i.e. sharing ≥ CONTAM_MIN_SHINGLES distinct
    3-gram shingles with any benchmark doc.

    Scale shape: the benchmark side is small by construction (an eval
    suite, not a corpus) — its shingle set broadcasts; the corpus-side
    shingle scan is embarrassingly parallel and aggregates map-side.
    No shuffle of the corpus by shingle is needed at any size.
    """
    sh = _shingle_df_shared(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % 100 == 0)
        .select(F.col("doc_id").alias("bench_doc"),
                F.col("sh_hash").alias("bsh"))
    )
    corpus = sh.filter(F.col("doc_id") % 100 != 0)
    return (
        corpus.join(F.broadcast(bench), corpus.sh_hash == bench.bsh)
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("sh_hash")).alias("n_hit_shingles"),
             F.count_distinct(F.col("bench_doc")).alias("n_bench_docs"))
        .filter(F.col("n_hit_shingles") >= CONTAM_MIN_SHINGLES)
    )


SQL_CONTAMINATION_NGRAMS = f"""
WITH {_SQL_SHINGLES},
bench AS (SELECT doc_id AS bench_doc, sh_hash AS bsh FROM shx
          WHERE doc_id % 100 = 0),
corpus AS (SELECT doc_id, sh_hash FROM shx WHERE doc_id % 100 != 0)
SELECT doc_id,
       COUNT(DISTINCT sh_hash) AS n_hit_shingles,
       COUNT(DISTINCT bench_doc) AS n_bench_docs
FROM corpus JOIN bench ON corpus.sh_hash = bench.bsh
GROUP BY doc_id
HAVING COUNT(DISTINCT sh_hash) >= {CONTAM_MIN_SHINGLES}
"""


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (per-language quota)
# ---------------------------------------------------------------------------

STRAT_N = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-STRAT_N docs per language by md5(doc_id) — an engine-portable
    deterministic stratified sample (training sets need per-stratum
    quotas, not uniform fractions). One shuffle on the stratum key; at
    scale this is `row_number` over a hash order, which also de-skews
    any ingestion-order bias inside each stratum.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "lang", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= STRAT_N)
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source, n_chars, CAST(rk AS INTEGER) AS rk
FROM (SELECT doc_id, lang, source, n_chars,
        row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
WHERE rk <= {STRAT_N}
"""


# ---------------------------------------------------------------------------
# Token-length bucketing (power-of-2 buckets for training batch packing)
# ---------------------------------------------------------------------------

def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket docs by floor(log2(token count)) — the standard
    length-bucketing pass before sequence batching. Map-side: one
    aggregation, no joins; at 100 TB it is a single shuffle of
    (bucket → partial sums). log2 boundaries are exact doubles at
    powers of two, so both engines bucket identically.
    """
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucket = F.floor(F.log2(n_tok.cast("double"))).cast("int")
    return (
        d.select(bucket.alias("len_bucket"), n_tok.alias("n_tokens"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").cast("long").alias("total_tokens"),
             (F.sum("n_tokens").cast("double")
              / F.count(F.lit(1))).alias("avg_tokens"))
    )


SQL_LENGTH_BUCKETS = """
WITH s AS (SELECT CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
           FROM documents)
SELECT CAST(FLOOR(log2(CAST(n_tokens AS DOUBLE))) AS INTEGER) AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Source mixing weights: per-source token share → sampling weight to
# hit a uniform target mixture (pretraining data mixing)
# ---------------------------------------------------------------------------

def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counts, corpus share, and the sampling weight
    that re-balances the mixture to uniform across sources
    (weight = target_share / actual_share; >1 = upsample).

    All shares are exact integer-over-integer doubles. Scale shape:
    one map-side token count + tiny two-level aggregate — the final
    per-source table is k rows, broadcastable to the sampler.
    """
    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_source.agg(
        F.sum("n_tokens").alias("tot"), F.count(F.lit(1)).alias("k")
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("tot"))
            .alias("token_share"),
            ((F.col("tot").cast("double") / F.col("k"))
             / F.col("n_tokens")).alias("mix_weight"),
        )
    )


SQL_SOURCE_MIX_WEIGHTS = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
    SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY 1),
totals AS (SELECT SUM(n_tokens) AS tot, COUNT(*) AS k FROM per_source)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_tokens AS DOUBLE) / tot AS token_share,
  (CAST(tot AS DOUBLE) / k) / n_tokens AS mix_weight
FROM per_source CROSS JOIN totals
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling: apply the mixing weights via a
# hash-uniform keep rule (the sampler half of data mixing)
# ---------------------------------------------------------------------------

MIX_BASE_RATE = 0.25


def q_mixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs kept by the rebalanced mixture: u(doc) < weight(source) ×
    base_rate, where u = md5-derived 60-bit uniform in [0,1).

    Deterministic (same doc always decides the same way — re-runs and
    engines agree), and distributed: the k-row weight table broadcasts,
    the keep rule is a map-side predicate, no shuffle of the corpus at
    all. 2⁶⁰ is a power of two, so the int→double division is exact in
    both engines.
    """
    d = t(spark, sf_dir, "documents")
    w = q_source_mix_weights(spark, sf_dir).select("source", "mix_weight")
    u = stable_hash60(F.col("doc_id").cast("string")) / F.lit(float(1 << 60))
    return (
        d.join(F.broadcast(w), "source")
        .select("doc_id", "source", u.alias("u"), "mix_weight")
        .filter(F.col("u")
                < F.least(F.col("mix_weight") * MIX_BASE_RATE, F.lit(1.0)))
    )


SQL_MIXED_SAMPLE = f"""
WITH w AS (
  SELECT source, (CAST(tot AS DOUBLE) / k) / n_tokens AS mix_weight
  FROM (SELECT source,
          SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS n_tokens
        FROM documents GROUP BY 1) per_source
  CROSS JOIN (SELECT SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS tot,
                     COUNT(DISTINCT source) AS k
              FROM documents) totals)
SELECT doc_id, source,
  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
    / CAST({1 << 60} AS DOUBLE) AS u,
  mix_weight
FROM documents JOIN w USING (source)
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        / CAST({1 << 60} AS DOUBLE)
      < least(mix_weight * {MIX_BASE_RATE}, 1.0)
"""


# ---------------------------------------------------------------------------
# Pipeline funnel: staged survival counts through the cleaning stack
# ---------------------------------------------------------------------------

def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many documents survive each stage of the cleaning pipeline:
    total → language filter → Gopher quality filter → exact-dedup
    keeper. The composition report every pretraining data run ends
    with — built by JOINING the existing per-stage operators on
    doc_id, not by re-deriving their logic, so funnel numbers can
    never drift from the individual filters.

    Scale shape: three doc_id-keyed joins (co-partitioned) and one
    global conditional-sum aggregate; the corpus text is scanned by
    the underlying stage queries only.
    """
    lq = q_lang_quality(spark, sf_dir).select("doc_id", "lang_pred")
    gq = q_gopher_quality(spark, sf_dir).select("doc_id", "keep")
    d = t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp"))
    keeper = q_fingerprint_dedup(spark, sf_dir).select(
        "fp", "keeper_doc_id")
    flags = (
        d.join(lq, "doc_id")
        .join(gq, "doc_id")
        .join(keeper, "fp")
        .select(
            (F.col("lang_pred") != "other").alias("lang_ok"),
            F.col("keep").alias("quality_ok"),
            (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
        )
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("lang_ok").cast("long")).alias("n_lang_ok"),
        F.sum((F.col("lang_ok") & F.col("quality_ok")).cast("long"))
        .alias("n_quality_ok"),
        F.sum((F.col("lang_ok") & F.col("quality_ok")
               & F.col("is_keeper")).cast("long")).alias("n_kept"),
    )


SQL_PIPELINE_FUNNEL = f"""
SELECT COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
  CAST(SUM(CASE WHEN lang_ok AND quality_ok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality_ok,
  CAST(SUM(CASE WHEN lang_ok AND quality_ok AND is_keeper THEN 1 ELSE 0 END)
       AS BIGINT) AS n_kept
FROM (
  SELECT lq.lang_pred != 'other' AS lang_ok,
         gq.keep AS quality_ok,
         d.doc_id = fp.keeper_doc_id AS is_keeper
  FROM (SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents) d
  JOIN ({SQL_LANG_QUALITY}) lq ON lq.doc_id = d.doc_id
  JOIN ({SQL_GOPHER_QUALITY}) gq ON gq.doc_id = d.doc_id
  JOIN ({SQL_FINGERPRINT_DEDUP}) fp ON fp.fp = d.fp)
"""


# ---------------------------------------------------------------------------
# Chunk-level (paragraph) dedup — C4-style: split each doc into
# fixed-size token chunks, count each chunk's cross-corpus document
# frequency, report per-doc duplicated-chunk ratios.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-chunk profile (the C4/RefinedWeb
    paragraph-dedup primitive, with fixed 8-token chunks standing in
    for newline paragraphs the synthetic corpus lacks).

    Plan: one Generate (explode chunk index) over the materialized
    token array — same O(tokens) barrier pattern as ``_shingle_df``
    (a transform() lambda would re-tokenize per chunk, O(tokens²)) —
    then chunks are hashed to 60-bit ints map-side, so every shuffle
    moves 8-byte longs, never chunk text. SINGLE-PASS document
    frequency (optimization r15, guide §2.3/§2.4): the former
    groupBy(ch_hash) → join-back-on-ch_hash formulation evaluated the
    un-persisted chunk subtree (corpus scan + tokenize + explode +
    md5 + distinct) TWICE — the agg side shuffles partial counts and
    the probe side raw rows, so no exchange reuse is possible — and
    paid two ch_hash exchanges. A count over a ch_hash window
    computes the identical df on the SAME rows in one pass and one
    exchange. The scan repartition is HASH(doc_id) at byte-scaled
    width (the r14 shingle-layout fix): doc_id survives the explode,
    so the (doc_id, ch_hash) distinct and the final per-doc aggregate
    both plan against doc-local partitions.
    """
    d = t(spark, sf_dir, "documents").repartition(
        corpus_repartition_width(spark, sf_dir), F.col("doc_id")
    )
    base = (
        d.select("doc_id", norm_text(F.col("text")).alias("norm"))
        .withColumn("toks", F.split(F.col("norm"), " "))
        .withColumn("n", F.size(F.col("toks")))
    )
    exploded = base.select(
        "doc_id", "toks",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / CHUNK_TOKENS)
                       .cast("int"))
        ).alias("g"),
    )
    chunk = F.array_join(
        F.slice(F.col("toks"),
                (F.col("g") * CHUNK_TOKENS + 1).cast("int"), CHUNK_TOKENS),
        " ",
    )
    chunks = exploded.select(
        "doc_id", stable_hash60(chunk).alias("ch_hash")
    ).distinct()
    w_df = Window.partitionBy("ch_hash")
    return (
        chunks.withColumn("df", F.count(F.lit(1)).over(w_df))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("df") >= 2).cast("int")).alias("n_dup_chunks"),
        )
        .select(
            "doc_id", "n_chunks", "n_dup_chunks",
            (F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6) + 0.0)
            .alias("dup_ratio"),
        )
    )


SQL_CHUNK_DEDUP = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
ch AS (SELECT DISTINCT doc_id,
         ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS ch_hash
       FROM (SELECT doc_id,
               unnest(list_transform(
                 range(0, CAST(floor((len(toks)-1)/{CHUNK_TOKENS}) AS INTEGER) + 1),
                 g -> array_to_string(
                   toks[g*{CHUNK_TOKENS}+1 : g*{CHUNK_TOKENS}+{CHUNK_TOKENS}],
                   ' '))) AS chunk
             FROM tk)),
fr AS (SELECT ch_hash, COUNT(*) AS df FROM ch GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  ROUND(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0.0
    AS dup_ratio
FROM ch JOIN fr USING (ch_hash)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Substring-level duplication coverage (Lee et al., "Deduplicating
# Training Data Makes Language Models Better"): the fraction of each
# document's token positions covered by ANY W-token span that occurs
# ≥2 times in the corpus (cross- or intra-document). Unlike
# chunk_dedup's fixed non-overlapping chunks, the spans OVERLAP, so
# coverage needs interval-union merging, not a per-chunk count.
# ---------------------------------------------------------------------------

DUP_SPAN_W = 8   # span width in tokens (production: ~50 BPE tokens)


def _doc_tokens_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HASH(doc_id) at byte-scaled width, not round-robin (optimization
    # r15 — the r14 shingle-layout fix applied to the dup_span family):
    # doc_id survives every downstream projection, so the per-doc
    # window/aggregate/join consumers plan against doc-local
    # partitions instead of re-exchanging corpus-position rows.
    d = t(spark, sf_dir, "documents").repartition(
        corpus_repartition_width(spark, sf_dir), F.col("doc_id")
    )
    return (
        d.select("doc_id", norm_text(F.col("text")).alias("norm"))
        .withColumn("toks", F.split(F.col("norm"), " "))
        .withColumn("n", F.size(F.col("toks")))
    )


def _dup_span_starts(base: DataFrame) -> DataFrame:
    """(doc_id, i) start positions of W-token spans occurring ≥2
    times in the corpus — shared by the coverage metric, the apply
    step and the regions query. Spans are built by the explode-index
    + O(W) element_at pattern of ``_shingle_df`` (a transform() lambda
    re-tokenizes per span — O(tokens²)), hashed to 60-bit ints
    map-side so the corpus-wide shuffle moves 8-byte longs.

    SINGLE-PASS (optimization r15, guide §2.3/§2.4): the former
    groupBy(sp_hash) → filter(cnt≥2) → join-back-on-sp_hash
    formulation evaluated the corpus-wide span explode + md5 TWICE —
    the count agg shuffles partial-count rows while the join probe
    side shuffles raw (doc_id, i, sp_hash) rows, so the two subtrees
    can never share an exchange — and on a low-duplication corpus the
    partial counts compress ~nothing, so it paid two full
    span-volume exchanges plus a second tokenize+hash pass. A count
    over a sp_hash window keeps the identical rows (every occurrence
    whose span hash occurs ≥2 times; sp_hash is never null — md5 of a
    non-null string) with ONE explode and ONE exchange, and at scale
    it also drops the duplicated-hash broadcast/SMJ the join needed.
    """
    starts = base.filter(F.col("n") >= DUP_SPAN_W).select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), F.col("n") - DUP_SPAN_W)).alias("i"),
    )
    span = F.concat_ws(" ", *[
        F.element_at(F.col("toks"), (F.col("i") + j + 1).cast("int"))
        for j in range(DUP_SPAN_W)
    ])
    spans = starts.select(
        "doc_id", "i", stable_hash60(span).alias("sp_hash")
    )
    w_cnt = Window.partitionBy("sp_hash")
    return (
        spans.withColumn("cnt", F.count(F.lit(1)).over(w_cnt))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "i")
    )


def _dup_span_starts_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted duplicated-start set — the shared reuse point of the
    dup_span family (optimization r15, guide §5): fraction, apply and
    regions each consume the IDENTICAL (doc_id, i) table, and the span
    explode + corpus-wide sp_hash shuffle behind it is the family's
    dominant cost. track()'s plan-equality dedup resolves all three
    builders to ONE cache entry per sweep. The start set is
    duplication-sized (two longs per duplicated span occurrence), far
    below the corpus — cheap to hold at any scale; MEMORY_AND_DISK
    spills rather than OOMs on a duplication-heavy corpus."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    return track(
        _dup_span_starts(_doc_tokens_base(spark, sf_dir))
        .persist(StorageLevel.MEMORY_AND_DISK))


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-span coverage.

    Coverage is the classic sorted-interval union: spans all have
    width W, so covered = Σ min(W, next_start − start) under a
    per-doc window over candidate starts only (a handful of rows per
    doc, not the token stream). Three shuffles total at any scale:
    span-hash window, doc_id window, doc_id final join.
    """
    base = _doc_tokens_base(spark, sf_dir)
    dup_starts = _dup_span_starts_shared(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    covered = (
        dup_starts.withColumn("nxt", F.lead("i").over(w))
        .select(
            "doc_id",
            F.least(
                F.lit(DUP_SPAN_W),
                F.coalesce(F.col("nxt") - F.col("i"), F.lit(DUP_SPAN_W)),
            ).alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_tokens"))
    )
    return (
        base.select("doc_id", F.col("n").cast("bigint").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint")
            .alias("dup_tokens"),
            (F.round(F.coalesce(F.col("dup_tokens"), F.lit(0))
                     / F.col("n_tokens"), 6) + F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


SQL_DUP_SPAN_FRACTION = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
sp AS (SELECT doc_id, i,
         ('0x' || substr(md5(
            array_to_string(toks[i+1 : i+{DUP_SPAN_W}], ' ')), 1, 15))::BIGINT
           AS sp_hash
       FROM (SELECT doc_id, toks,
               unnest(range(0, len(toks) - {DUP_SPAN_W} + 1)) AS i
             FROM tk WHERE len(toks) >= {DUP_SPAN_W})),
fr AS (SELECT sp_hash FROM sp GROUP BY 1 HAVING COUNT(*) >= 2),
ds AS (SELECT doc_id, i FROM sp
       WHERE sp_hash IN (SELECT sp_hash FROM fr)),
cov AS (SELECT doc_id,
          least({DUP_SPAN_W},
                COALESCE(lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i,
                         {DUP_SPAN_W})) AS c
        FROM ds),
agg AS (SELECT doc_id, SUM(c) AS dup_tokens FROM cov GROUP BY 1)
SELECT tk.doc_id, len(toks) AS n_tokens,
  COALESCE(dup_tokens, 0)::BIGINT AS dup_tokens,
  round(COALESCE(dup_tokens, 0) / len(toks), 6) + 0.0 AS dup_fraction
FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id
"""


def q_dup_span_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of substring-level dedup (Lee et al.): rewrite
    each document with every duplicated-span position removed, and
    fingerprint the result to prove the exact rewrite.

    Plan: duplicated starts expand to covered positions with one
    Generate (≤ W rows per start — dup-sized, not corpus-sized);
    tokens leave via a co-partitioned (doc_id, pos) anti-join; the
    cleaned text reassembles with the deterministic ordered-array
    rebuild (array_sort over (pos, tok) structs — collect_list alone
    is partition-arrival-ordered and NOT stable at scale). Everything
    keys on doc_id after the span agg, so the anti-join, rebuild, and
    final join share one partitioning.
    """
    base = _doc_tokens_base(spark, sf_dir)
    covered = (
        _dup_span_starts_shared(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + DUP_SPAN_W - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    toks_pos = base.select(
        "doc_id", F.posexplode(F.col("toks")).alias("pos", "tok")
    )
    kept = (
        toks_pos.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ), " ",
            ).alias("clean"),
        )
    )
    return (
        base.select("doc_id", F.col("n").cast("bigint").alias("n_tokens"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("bigint")
            .alias("kept_tokens"),
            stable_hash60(F.coalesce(F.col("clean"), F.lit("")))
            .alias("clean_fp"),
        )
    )


SQL_DUP_SPAN_APPLY = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
sp AS (SELECT doc_id, i,
         ('0x' || substr(md5(
            array_to_string(toks[i+1 : i+{DUP_SPAN_W}], ' ')), 1, 15))::BIGINT
           AS sp_hash
       FROM (SELECT doc_id, toks,
               unnest(range(0, len(toks) - {DUP_SPAN_W} + 1)) AS i
             FROM tk WHERE len(toks) >= {DUP_SPAN_W})),
fr AS (SELECT sp_hash FROM sp GROUP BY 1 HAVING COUNT(*) >= 2),
ds AS (SELECT doc_id, i FROM sp
       WHERE sp_hash IN (SELECT sp_hash FROM fr)),
cov AS (SELECT DISTINCT doc_id, i + o AS pos
        FROM ds, (SELECT unnest(range(0, {DUP_SPAN_W})) AS o)),
tp AS (SELECT doc_id, pos, toks[pos + 1] AS tok
       FROM (SELECT doc_id, toks,
               unnest(range(0, len(toks))) AS pos
             FROM tk)),
kept AS (
  SELECT tp.doc_id, COUNT(*) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY tp.pos) AS clean
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos
  WHERE cov.doc_id IS NULL
  GROUP BY tp.doc_id)
SELECT tk.doc_id, len(toks) AS n_tokens,
  COALESCE(kept_tokens, 0)::BIGINT AS kept_tokens,
  ('0x' || substr(md5(COALESCE(clean, '')), 1, 15))::BIGINT AS clean_fp
FROM tk LEFT JOIN kept ON tk.doc_id = kept.doc_id
"""


# Minimum length (tokens) of an emitted maximal duplicated region —
# strictly longer than one W-span, so only genuinely MERGED runs
# qualify (production: Lee et al.'s 50-token threshold with W~50 BPE).
DUP_REGION_MIN = 12


def q_dup_span_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated regions per document (the completion of the
    Lee et al. substring-dedup story beyond coverage/apply): the
    interval union of all duplicated W-token spans, merged per doc
    into maximal runs, emitted as (doc_id, span_start, span_end,
    span_len) for every region of ≥ DUP_REGION_MIN tokens.

    A duplicated substring of length ≥ W contributes ALL its W-windows
    to the duplicated-start set, so merging overlapping/abutting
    starts (gap ≤ W) reconstructs exactly the maximal duplicated
    regions the sorted-suffix-array construction would report, using
    two shuffles instead of a suffix sort: the corpus-wide W-gram
    hash count (map-side partial agg), then one per-doc window for
    gaps-and-islands; the islands groupBy reuses the window's doc_id
    partitioning (subset rule — verify with plan budget).

    Scale shape: positions explode linearly in corpus tokens; the
    duplicated-start set is duplication-sized, not corpus-sized, and
    everything after the hash-count keys on doc_id. No suffix array,
    no global sort.
    """
    dup_starts = _dup_span_starts_shared(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.col("i") - F.lag("i").over(w) > DUP_SPAN_W, 1).otherwise(0)
    grp = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        dup_starts.withColumn("g", grp)
        .groupBy("doc_id", "g")
        .agg(F.min("i").alias("span_start"),
             (F.max("i") + DUP_SPAN_W).alias("span_end"))
        .select(
            "doc_id",
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_end").cast("bigint").alias("span_end"),
            (F.col("span_end") - F.col("span_start")).cast("bigint")
            .alias("span_len"),
        )
        .filter(F.col("span_len") >= DUP_REGION_MIN)
    )


SQL_DUP_SPAN_REGIONS = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
sp AS (SELECT doc_id, i,
         ('0x' || substr(md5(
            array_to_string(toks[i+1 : i+{DUP_SPAN_W}], ' ')), 1, 15))::BIGINT
           AS sp_hash
       FROM (SELECT doc_id, toks,
               unnest(range(0, len(toks) - {DUP_SPAN_W} + 1)) AS i
             FROM tk WHERE len(toks) >= {DUP_SPAN_W})),
fr AS (SELECT sp_hash FROM sp GROUP BY 1 HAVING COUNT(*) >= 2),
ds AS (SELECT doc_id, i FROM sp
       WHERE sp_hash IN (SELECT sp_hash FROM fr)),
mk AS (SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                   > {DUP_SPAN_W} THEN 1 ELSE 0 END AS brk
       FROM ds),
gr AS (SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
       FROM mk),
reg AS (SELECT doc_id,
          CAST(MIN(i) AS BIGINT) AS span_start,
          CAST(MAX(i) + {DUP_SPAN_W} AS BIGINT) AS span_end
        FROM gr GROUP BY doc_id, g)
SELECT doc_id, span_start, span_end,
       span_end - span_start AS span_len
FROM reg WHERE span_end - span_start >= {DUP_REGION_MIN}
"""


# ---------------------------------------------------------------------------
# Deterministic sequence packing — concatenate the (deterministically
# shuffled) corpus and cut every PACK_CAP tokens, GPT-style. The
# interesting part is the *distributed global prefix sum*: a naive
# `SUM() OVER (ORDER BY …)` collapses to one partition at scale, so
# the implementation uses the two-level form (range partition → local
# running sums → tiny cross-partition offset table).
# ---------------------------------------------------------------------------

PACK_CAP = 256          # tokens per packed training sequence
PACK_PARTITIONS = 32    # range partitions for the prefix-sum pass


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-capacity token sequences and report
    per-sequence (n_docs, n_tokens, n_starts).

    Order is the md5-derived ``hkey`` (a deterministic shuffle of the
    corpus — hash order is the standard unbiased pack order). Each
    doc occupies the half-open token interval [start, start+n_tok);
    sequence s covers [s*CAP, (s+1)*CAP); docs straddle boundaries
    exactly as GPT-style packing cuts them.

    Scale design — the global running sum is built WITHOUT a
    single-partition window via ``operators.prefix.global_running_sum``
    (range partition → parallel local cumsums → broadcast P-row offset
    table). Every full sequence totals exactly CAP tokens, which the
    oracle verifies row by row. The oracle computes the same packing
    with the one-partition window — proving the distributed form loses
    nothing.
    """
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            token_count(F.col("text")).alias("n_tok"),
            stable_hash60(F.col("doc_id").cast("string")).alias("hkey"),
        )
        .filter(F.col("n_tok") >= 1)
    )
    packed = global_running_sum(
        docs, ["hkey", "doc_id"], "n_tok", out_col="cum",
        # hkey is uniform in [0, 2^60): its top 5 bits are a monotone
        # 32-bucket split → the prefix sum costs ONE shuffle
        bucket=F.shiftright(F.col("hkey"), 55),
    ).withColumn("start", (F.col("cum") - F.col("n_tok")).cast("long"))
    spans = packed.select(
        "start", "n_tok",
        F.explode(F.sequence(
            F.floor(F.col("start") / PACK_CAP),
            F.floor((F.col("start") + F.col("n_tok") - 1) / PACK_CAP),
        )).alias("seq_id"),
    )
    return spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.least(F.col("start") + F.col("n_tok"),
                    (F.col("seq_id") + 1) * PACK_CAP)
            - F.greatest(F.col("start"), F.col("seq_id") * PACK_CAP)
        ).alias("n_tokens"),
        F.sum((F.floor(F.col("start") / PACK_CAP) == F.col("seq_id"))
              .cast("int")).alias("n_starts"),
    )


SQL_SEQUENCE_PACK = f"""
WITH dt AS (SELECT doc_id,
              CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                AS hkey
            FROM documents),
c AS (SELECT doc_id, n_tok,
        CAST(SUM(n_tok) OVER (ORDER BY hkey, doc_id ROWS UNBOUNDED PRECEDING)
             - n_tok AS BIGINT) AS start
      FROM dt WHERE n_tok >= 1),
s AS (SELECT unnest(range(start // {PACK_CAP},
                          (start + n_tok - 1) // {PACK_CAP} + 1)) AS seq_id,
             start, n_tok
      FROM c)
SELECT CAST(seq_id AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
  CAST(SUM(least(start + n_tok, (seq_id + 1) * {PACK_CAP})
           - greatest(start, seq_id * {PACK_CAP})) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN start // {PACK_CAP} = seq_id THEN 1 ELSE 0 END)
       AS BIGINT) AS n_starts
FROM s GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Source-priority dedup: among content-identical documents keep the
# one from the most trusted source (curated > semi-curated > crawl) —
# the cross-source generalization of A2, run on content fingerprints.
# ---------------------------------------------------------------------------

# Deterministic 3-tier source trust map over the synthetic src0..srcN.
_TIER1 = ("src0", "src1")
_TIER2 = ("src2", "src3", "src4")


def _source_priority(col: F.Column) -> F.Column:
    return (
        F.when(col.isin(*_TIER1), 3)
        .when(col.isin(*_TIER2), 2)
        .otherwise(1)
    )


def q_source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per content fingerprint: the keeper document under source-trust
    priority (tier desc, then doc_id asc), plus the duplicate count —
    reuses the A2 ``priority_dedupe`` operator (one window over the
    fingerprint shuffle; the count aggregates over the same
    partitioning, so at scale this is one shuffle of (fp, small
    payload) rows).
    """
    from tpg_weather_etl_spark.operators.dedupe import priority_dedupe

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        doc_fingerprint(F.col("text")).alias("fp"),
        _source_priority(F.col("source")).alias("prio"),
    )
    keeper = priority_dedupe(
        d, ["fp"], [F.col("prio").desc()], ["doc_id"]
    ).select("fp", F.col("doc_id").alias("keeper_doc_id"),
             F.col("source").alias("keeper_source"))
    counts = d.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return keeper.join(counts, "fp")


SQL_SOURCE_PRIORITY_DEDUP = f"""
WITH d AS (
  SELECT doc_id, source,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
    CASE WHEN source IN {_TIER1} THEN 3
         WHEN source IN {_TIER2} THEN 2 ELSE 1 END AS prio
  FROM documents),
k AS (SELECT fp, doc_id AS keeper_doc_id, source AS keeper_source
      FROM (SELECT *, row_number() OVER (
              PARTITION BY fp ORDER BY prio DESC, doc_id) AS rn FROM d)
      WHERE rn = 1)
SELECT k.fp, k.keeper_doc_id, k.keeper_source, c.n_copies
FROM k JOIN (SELECT fp, COUNT(*) AS n_copies FROM d GROUP BY 1) c
  USING (fp)
"""


# ---------------------------------------------------------------------------
# Web-domain curation: host extraction + per-domain caps — the
# URL-level hygiene pass of a crawl corpus. The synthetic corpus has
# no URLs, so a deterministic URL is derived from doc_id (identical
# expression in the oracle), then parsed back with the regexes a real
# crawl pipeline would use.
# ---------------------------------------------------------------------------

DOMAIN_CAP = 5  # max docs kept per registered domain

_HOST_RE = "^https?://([^/]+)/"


def q_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per registered domain: doc count, token total, and how many
    docs survive a per-domain cap (keep the ``DOMAIN_CAP`` smallest
    md5-ordered docs — the deterministic equivalent of random
    per-host sampling crawl pipelines apply against SEO farms).

    Scale shape: URL parse and hash order are map-side; one shuffle
    on domain for the window + aggregate (shared partitioning).
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") * 2654435761) % 97,
            F.when(F.col("doc_id") % 3 == 0, F.lit(".com"))
            .when(F.col("doc_id") % 3 == 1, F.lit(".org"))
            .otherwise(F.lit(".net")),
            F.lit("/doc/"), F.col("doc_id"),
        ).alias("url"),
    )
    parsed = d.select(
        "doc_id", "n_tok",
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("domain"),
        stable_hash60(F.md5(F.col("url"))).alias("horder"),
    )
    w = Window.partitionBy("domain").orderBy("horder", "doc_id")
    ranked = parsed.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum((F.col("rn") <= DOMAIN_CAP).cast("int")).alias("n_kept"),
    )


SQL_DOMAIN_CURATION = f"""
WITH d AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok,
    'https://site' || ((doc_id * 2654435761) % 97) ||
      CASE WHEN doc_id % 3 = 0 THEN '.com'
           WHEN doc_id % 3 = 1 THEN '.org' ELSE '.net' END ||
      '/doc/' || doc_id AS url
  FROM documents),
p AS (SELECT doc_id, n_tok,
        regexp_extract(url, '{_HOST_RE}', 1) AS domain,
        ('0x' || substr(md5(md5(url)), 1, 15))::BIGINT AS horder
      FROM d),
r AS (SELECT *, row_number() OVER (
        PARTITION BY domain ORDER BY horder, doc_id) AS rn FROM p)
SELECT domain, COUNT(*) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept
FROM r GROUP BY 1
"""


# ---------------------------------------------------------------------------
# BPE-style pre-tokenization stats — the GPT-2 pre-tokenizer regex
# class structure (word / number / punctuation runs, each optionally
# space-prefixed), restricted to lookahead-free primitives RE2 and
# Java regex interpret identically (the real GPT-2 pattern's
# `\s+(?!\S)` lookahead does not exist in RE2).
# ---------------------------------------------------------------------------

BPE_WORD_RE = " ?[a-z]+"
BPE_NUM_RE = " ?[0-9]+"
BPE_OTHER_RE = " ?[^a-z0-9 ]+"
BPE_ANY_RE = f"({BPE_WORD_RE}|{BPE_NUM_RE}|{BPE_OTHER_RE})"


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE-pre-tokenizer token counts by class, plus the
    BPE-to-whitespace token ratio (the "fertility" every tokenizer
    budget estimate needs).

    Runs over normalized text (single spaces), so the classes are
    disjoint at every position and alternation order is immaterial —
    Java (leftmost-first) and RE2 agree. Pure map-side regexp_count
    in codegen; zero shuffle.
    """
    d = t(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    ws = token_count(F.col("text"))
    n_bpe = F.regexp_count(norm, F.lit(BPE_ANY_RE)).cast("long")
    return d.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.regexp_count(norm, F.lit(BPE_WORD_RE)).cast("long")
        .alias("n_word_toks"),
        F.regexp_count(norm, F.lit(BPE_NUM_RE)).cast("long")
        .alias("n_num_toks"),
        F.regexp_count(norm, F.lit(BPE_OTHER_RE)).cast("long")
        .alias("n_other_toks"),
        ws.alias("n_ws_tokens"),
        (F.round(n_bpe / ws, 6) + 0.0).alias("fertility"),
    )


SQL_BPE_TOKEN_STATS = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws
           FROM documents)
SELECT doc_id,
  len(regexp_extract_all(norm, '{BPE_ANY_RE}')) AS n_bpe_tokens,
  len(regexp_extract_all(norm, '{BPE_WORD_RE}')) AS n_word_toks,
  len(regexp_extract_all(norm, '{BPE_NUM_RE}')) AS n_num_toks,
  len(regexp_extract_all(norm, '{BPE_OTHER_RE}')) AS n_other_toks,
  ws AS n_ws_tokens,
  ROUND(len(regexp_extract_all(norm, '{BPE_ANY_RE}')) * 1.0 / ws, 6) + 0.0
    AS fertility
FROM d
"""


# ---------------------------------------------------------------------------
# Char-level fingerprinting (winnowing-lite): hash every character
# k-gram, keep each document's minimum as its selected fingerprint —
# the MOSS/winnowing primitive that catches copied character runs
# word-level shingles miss (whitespace/token-boundary edits).
# ---------------------------------------------------------------------------

CHAR_GRAM_K = 16
CHAR_GRAM_STRIDE = 4   # sample every 4th offset (winnowing stride)


def q_char_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: distinct char-16-gram count, the winnowed (min)
    fingerprint, and how many OTHER documents share it.

    Positional char k-grams via the same Generate-barrier pattern as
    word shingles (substr per exploded offset — O(n·k) with no
    re-tokenization; a true Karp-Rabin recurrence is the streaming
    form of the same fingerprint set). Hashes are 60-bit map-side
    ints, so the min-agg and the sharing join move longs. Scale
    shape: one explode + per-doc min agg, then a self-join on the
    k-distinct fingerprint values only.
    """
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = d.select(
        "doc_id", norm_text(F.col("text")).alias("norm")
    ).withColumn("len", F.length("norm"))
    exploded = base.select(
        "doc_id", "norm",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.col("len") - CHAR_GRAM_K + 1, F.lit(1)),
                F.lit(CHAR_GRAM_STRIDE),
            )
        ).alias("i"),
    )
    gram_hash = stable_hash60(
        F.substring(F.col("norm"), F.col("i"), CHAR_GRAM_K)
    )
    per_doc = (
        exploded.select("doc_id", gram_hash.alias("g"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_char_grams"),
             F.min("g").alias("min_fp"))
    )
    sharing = per_doc.groupBy("min_fp").agg(
        F.count(F.lit(1)).alias("n_docs_with_fp"))
    return (
        per_doc.join(sharing, "min_fp")
        .select("doc_id", "n_char_grams", "min_fp",
                (F.col("n_docs_with_fp") - 1).cast("long")
                .alias("n_sharing_docs"))
    )


SQL_CHAR_FINGERPRINTS = f"""
WITH d AS (SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
           FROM documents),
g AS (SELECT DISTINCT doc_id,
        ('0x' || substr(md5(substr(norm, i, {CHAR_GRAM_K})), 1, 15))::BIGINT
          AS g
      FROM (SELECT doc_id, norm,
              unnest(range(1, greatest(length(norm) - {CHAR_GRAM_K} + 1, 1)
                           + 1, {CHAR_GRAM_STRIDE})) AS i
            FROM d)),
per_doc AS (SELECT doc_id, COUNT(*) AS n_char_grams, MIN(g) AS min_fp
            FROM g GROUP BY 1),
sharing AS (SELECT min_fp, COUNT(*) AS n_docs_with_fp
            FROM per_doc GROUP BY 1)
SELECT doc_id, n_char_grams, min_fp,
  CAST(n_docs_with_fp - 1 AS BIGINT) AS n_sharing_docs
FROM per_doc JOIN sharing USING (min_fp)
"""


# ---------------------------------------------------------------------------
# PII detection + redaction (email / phone / IPv4) — the compliance
# pass every pretraining corpus goes through before training.
# ---------------------------------------------------------------------------

# Patterns restricted to primitives Java regex and RE2 interpret
# identically: char classes, bounded repetition, \d, ASCII \b.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{1,3}[ -]?\d{6,10}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact emails / phone numbers / IPv4 addresses.

    The synthetic corpus contains no PII, so the query first derives a
    deterministic augmented text from doc_id (identical expression in
    the oracle) — docs get an email always, a phone when doc_id%3!=0,
    an IP when doc_id%2=0 — giving the regexes real, varied matches to
    find. Detection is ``regexp_count``; redaction is a chain of three
    ``regexp_replace`` (email → phone → IP, order significant and
    mirrored in the oracle). The output carries md5(redacted) rather
    than the redacted text, verifying the exact replacement output
    without hauling the corpus through the gate.

    Scale shape: pure map-side row work inside codegen — no shuffle at
    all except the implicit scan; this is the cheapest possible plan
    for a corpus-wide rewrite.
    """
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail"), F.col("doc_id") % 3, F.lit(".example.com"),
        F.when(F.col("doc_id") % 3 != 0,
               F.concat(F.lit(" tel +41 "),
                        F.lpad(((F.col("doc_id") * 7919) % 10000000)
                               .cast("string"), 7, "0"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(" from 10."), F.col("doc_id") % 256,
                        F.lit("."), (F.col("doc_id") * 31) % 256,
                        F.lit(".7"))
               ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>"),
        PII_IPV4_RE, "<IP>")
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL_RE)).cast("long")
        .alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_PHONE_RE)).cast("long")
        .alias("n_phones"),
        F.regexp_count(aug, F.lit(PII_IPV4_RE)).cast("long")
        .alias("n_ips"),
        F.md5(red).alias("redacted_md5"),
    )


SQL_PII_REDACT = f"""
WITH a AS (
  SELECT doc_id,
    text || ' contact user' || doc_id
         || '@mail' || (doc_id % 3) || '.example.com'
         || CASE WHEN doc_id % 3 != 0
                 THEN ' tel +41 ' ||
                      lpad(CAST((doc_id * 7919) % 10000000 AS VARCHAR), 7, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' from 10.' || (doc_id % 256) || '.'
                      || ((doc_id * 31) % 256) || '.7'
                 ELSE '' END AS aug
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(aug, '{PII_PHONE_RE}')) AS n_phones,
  len(regexp_extract_all(aug, '{PII_IPV4_RE}')) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(aug,
      '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{PII_PHONE_RE}', '<PHONE>', 'g'),
      '{PII_IPV4_RE}', '<IP>', 'g')) AS redacted_md5
FROM a
"""


# ---------------------------------------------------------------------------
# Token-budget curation: greedy per-source fill up to a token budget
# ---------------------------------------------------------------------------

TOKEN_BUDGET_PER_SOURCE = 800


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget curation: within each source, admit docs in
    preference order (longest first, doc_id tiebreak) while the
    running token total stays within ``TOKEN_BUDGET_PER_SOURCE`` —
    the "fill each source's token quota" step of training-mix
    construction, where the budget is in TOKENS (what the trainer
    pays for), not documents.

    Scale shape: one shuffle on source shared by the ordering window
    and the running sum (same partitioning, single Window spec); the
    filter on the cumulative is map-side after the window. Per-source
    data volume bounds the window partition — at 100 TB with a
    pathological mega-source, pre-aggregate candidates above the
    budget away first (the budget itself caps useful depth), or salt
    the order key into budget-sized chunks.
    """
    from tpg_weather_etl_spark.operators.budget import greedy_budget_fill

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok"))
    return greedy_budget_fill(
        d, ["source"], [F.col("n_tok").desc(), "doc_id"], "n_tok",
        TOKEN_BUDGET_PER_SOURCE, cum_col="cum_tok",
    ).select("doc_id", "source", "n_tok", "cum_tok")


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, source,
    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
  FROM documents)
SELECT doc_id, source, n_tok, cum_tok FROM (
  SELECT doc_id, source, n_tok,
    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
  FROM d)
WHERE cum_tok <= {TOKEN_BUDGET_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (first-occurrence share in doc_id order)
# ---------------------------------------------------------------------------

def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each document's shingles that appear for the FIRST
    time at that document (in doc_id order) — the curation signal for
    incremental corpus growth ("how much genuinely new content does
    this doc add"), the streaming-dedup question asked of a static
    corpus.

    Scale shape: first-occurrence is one MIN agg over the shared
    shingle table; the join back is co-partitioned on sh_hash (same
    key both sides); the per-doc ratio is a second map-side-combined
    agg. No windows, no distinct-count expand.
    """
    sh = _shingle_df_shared(spark, sf_dir)
    first = sh.groupBy("sh_hash").agg(F.min("doc_id").alias("first_doc"))
    per = (sh.join(first, "sh_hash")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_shingles"),
                F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                      .otherwise(0)).cast("bigint").alias("n_novel")))
    return per.select(
        "doc_id", "n_shingles", "n_novel",
        (F.round(F.col("n_novel").cast("double")
                 / F.col("n_shingles").cast("double"), 6)
         + F.lit(0.0)).alias("novelty"))


SQL_NGRAM_NOVELTY = f"""
WITH {_SQL_SHINGLES},
first AS (SELECT sh_hash, MIN(doc_id) AS first_doc FROM shx GROUP BY 1),
per AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM shx JOIN first USING (sh_hash)
  GROUP BY 1)
SELECT doc_id, n_shingles, n_novel,
       round(CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
         + 0.0 AS novelty
FROM per
"""


# ---------------------------------------------------------------------------
# BPE merge learning: the iterative half of tokenizer training
# (bpe_token_stats covers pre-tokenization; this learns the merges)
# ---------------------------------------------------------------------------

BPE_MERGE_ROUNDS = 8


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop → (final vocab DataFrame with merged
    symbol arrays, learned merge list). See q_bpe_merges for the
    scale rationale."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(norm_text(F.col("text")), " "))
                 .alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.expr("filter(split(word, ''), x -> x <> '')"))
    )
    vocab = words.localCheckpoint(eager=False)
    pair_expr = F.expr(
        "CASE WHEN size(syms) < 2 THEN array() "
        "ELSE transform(sequence(1, size(syms)-1), "
        "i -> struct(element_at(syms, i) AS lhs, "
        "element_at(syms, i+1) AS rhs)) END")
    merges: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        top = (
            vocab.select("freq", F.explode(pair_expr).alias("p"))
            .groupBy("p.lhs", "p.rhs").agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "lhs", "rhs").limit(1).collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0].lhs, top[0].rhs, int(top[0].cnt)
        merged = lhs + rhs
        merges.append((rnd, lhs, rhs, merged, cnt))
        # symbols match ^[a-z0-9]+$ so inlining them in the expression
        # is injection-safe by construction
        vocab = vocab.withColumn("syms", F.expr(
            f"aggregate(syms, cast(array() as array<string>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{lhs}' AND x = '{rhs}' "
            f"THEN concat(slice(acc, 1, size(acc)-1), array('{merged}')) "
            f"ELSE concat(acc, array(x)) END)"
        )).localCheckpoint(eager=False)
    return vocab, merges


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``BPE_MERGE_ROUNDS`` byte-pair-encoding merges
    over the corpus — the distributed word-count formulation every
    tokenizer trainer uses (count words once, then iterate on the
    word VOCABULARY, never the corpus).

    Scale design: the only corpus-sized shuffle is the initial word
    count. Each round then (1) explodes adjacent symbol pairs from
    the vocab table (bounded by |V|, not corpus size) with map-side
    partial sums, (2) takes the argmax pair — a ONE-row collect with a
    deterministic (count DESC, lhs, rhs) tie-break, and (3) applies
    the merge as a pure Column fold (greedy left-to-right non-overlap,
    the aggregate() accumulator replacing its own last element).
    ``localCheckpoint`` per round keeps the loop's plan flat (same
    discipline as operators/graph.py). Returns the learned merge
    table: 8 rows from the driver's bounded per-round argmaxes.
    """
    _, merges = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, "
                "pair_count bigint")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges back to the corpus: every document's
    alphanumeric words re-segmented under the trained BPE vocabulary —
    the train→apply pair of tokenizer land (same pattern as
    dedup detect→apply and substring-dup detect→apply).

    Scale shape: the trained word→symbols table is vocabulary-sized,
    so the application is one corpus-sized equi-join on the word plus
    the ordered-array rebuild (sorted collect_list of (pos, subpos)
    structs — the tokenized_docs pattern). No per-round work touches
    the corpus; only the final segmentation does."""
    vocab, _ = _bpe_learn(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    words = (
        d.select("doc_id",
                 F.posexplode(F.split(norm_text(F.col("text")), " "))
                 .alias("pos", "word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
    )
    toks = (
        words.join(vocab.select("word", "syms"), "word")
        .select("doc_id", "pos",
                F.posexplode(F.col("syms")).alias("subpos", "sym"))
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(F.expr(
                "transform(array_sort(collect_list("
                "struct(pos, subpos, sym))), x -> x.sym)"), " ")
            .alias("tokens"),
        )
        .orderBy("doc_id")
    )


def _sql_bpe_merges(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """Unrolled DuckDB replay of the merge loop. Words are encoded as
    ``|sym||sym|...`` — the doubled separator lets a plain RE2 global
    regexp_replace perform the same greedy left-to-right non-overlap
    merge (``|a||a||a||a|`` → ``|aa||aa|``) without lookahead, which
    RE2 does not support. Symbols are ^[a-z0-9]+$ so no escaping."""
    parts = [r"""w0 AS (
  SELECT word, freq,
    array_to_string(list_transform(range(1, length(word)+1),
      i -> '|' || substr(word, CAST(i AS INT), 1) || '|'), '') AS enc
  FROM (
    SELECT word, COUNT(*) AS freq FROM (
      SELECT unnest(string_split(
        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
      FROM documents)
    WHERE regexp_matches(word, '^[a-z0-9]+$')
    GROUP BY 1))"""]
    for r in range(1, rounds + 1):
        parts.append(f"""m{r} AS (
  SELECT p AS pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
      i -> syms[i] || ' ' || syms[i+1])) AS p
    FROM (SELECT freq,
            list_filter(string_split(enc, '|'), x -> x <> '') AS syms
          FROM w{r - 1}))
  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)""")
        parts.append(f"""w{r} AS (
  SELECT word, freq,
    regexp_replace(enc,
      '\\|' || split_part(pair, ' ', 1) || '\\|\\|'
            || split_part(pair, ' ', 2) || '\\|',
      '|' || replace(pair, ' ', '') || '|', 'g') AS enc
  FROM w{r - 1} CROSS JOIN m{r})""")
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS rank, split_part(pair, ' ', 1) AS lhs, "
        f"split_part(pair, ' ', 2) AS rhs, "
        f"replace(pair, ' ', '') AS merged, cnt AS pair_count FROM m{r}"
        for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(parts) + "\n" + selects


def _sql_bpe_encode(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """Replay the learned merges onto every document: the same
    unrolled w0..wN chain yields each word's final segmentation; the
    corpus join + ordered string_agg rebuilds per-doc token streams."""
    chain = _sql_bpe_merges(rounds)
    # everything before the final UNION-ALL block is the CTE chain
    # (the selects block always starts with "SELECT 1 AS rank")
    ctes = chain[len("WITH "):chain.index("SELECT 1 AS rank")].rstrip()
    return f"""
WITH {ctes},
enc_final AS (
  SELECT word,
    list_filter(string_split(enc, '|'), x -> x <> '') AS syms
  FROM w{rounds}),
docw AS (
  SELECT doc_id, u.pos, u.word FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(toks)+1),
        i -> struct_pack(pos := i, word := toks[i]))) AS u
    FROM (SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                             'g')), ' ') AS toks
          FROM documents))
  WHERE regexp_matches(u.word, '^[a-z0-9]+$')),
tokrows AS (
  SELECT doc_id, pos, s.subpos, s.sym FROM (
    SELECT d.doc_id, d.pos,
      unnest(list_transform(range(1, len(e.syms)+1),
        j -> struct_pack(subpos := j, sym := e.syms[j]))) AS s
    FROM docw d JOIN enc_final e USING (word)))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  string_agg(sym, ' ' ORDER BY pos, subpos) AS tokens
FROM tokrows GROUP BY doc_id ORDER BY doc_id
"""


SQL_BPE_MERGES = _sql_bpe_merges()
SQL_BPE_ENCODE = _sql_bpe_encode()


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health rollup: per source, how much of it is exact
    duplicate (same normalized-text fingerprint seen elsewhere in the
    corpus) and how much sits in a MinHash near-dup pair — the first
    dashboard panel of any dedup pipeline, composing the registry's
    own detectors instead of re-deriving them.

    Scale: fingerprint groupBy is the exact-dedup shuffle the pipeline
    already pays; near-dup membership derives from the minhash pair
    list via two left joins. Neither ``dup_fp`` nor ``near_ids`` is
    force-broadcast: both scale WITH the corpus in dup-heavy regimes
    (near_ids approaches one row per document — exactly the
    STRESS_similarity scenario), so a broadcast hint here is a driver
    OOM at the design scale. AQE decides at runtime, same discipline
    as ``_pair_jaccard``."""
    from tpg_weather_etl_spark.functions.text import doc_fingerprint

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp"))
    dup_fp = (d.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
              .filter(F.col("n") > 1).select("fp"))
    pairs = q_minhash_pairs(spark, sf_dir)
    near_ids = (pairs.select(F.col("doc_a").alias("doc_id"))
                .union(pairs.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    flagged = (
        d.join(dup_fp.withColumn("__e", F.lit(1)), "fp", "left")
        .join(near_ids.withColumn("__n", F.lit(1)), "doc_id", "left")
    )
    r6 = (lambda c: F.round(c, 6) + F.lit(0.0))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__e").isNotNull().cast("long"))
            .alias("n_exact_dup"),
            F.sum(F.col("__n").isNotNull().cast("long"))
            .alias("n_near_dup"),
        )
        .select(
            "source", "n_docs", "n_exact_dup", "n_near_dup",
            r6(F.col("n_exact_dup") / F.col("n_docs").cast("double"))
            .alias("exact_dup_rate"),
            r6(F.col("n_near_dup") / F.col("n_docs").cast("double"))
            .alias("near_dup_rate"),
        )
        .orderBy("source")
    )


def _sql_dedup_rate_by_source() -> str:
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    return f"""
WITH dd AS (
  SELECT doc_id, source,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents),
dupfp AS (SELECT fp FROM dd GROUP BY fp HAVING COUNT(*) > 1),
near_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM ({inner})
    UNION ALL SELECT doc_b FROM ({inner})))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM dupfp)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near_ids)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
  round(SUM(CASE WHEN fp IN (SELECT fp FROM dupfp) THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS exact_dup_rate,
  round(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near_ids)
            THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS near_dup_rate
FROM dd GROUP BY source ORDER BY source
"""


EVAL_SAMPLE_PCT = 20
# Hard row cap on the evaluation sample: the exact half of the
# evaluator is quadratic in the sample, and a %-only knob still grows
# as pct²·n² at 100× data. 5,000 docs bounds the exact join at ~12.5M
# pairs regardless of corpus size (at the driver's SFs the pct sample
# is far below the cap, so the cap is inert there by design).
EVAL_SAMPLE_MAX = 5000


def q_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the MinHash-LSH near-dup detector: on a
    deterministic ``EVAL_SAMPLE_PCT``% document sample capped at a
    FIXED ``EVAL_SAMPLE_MAX`` documents (LCG order), run the exact
    exhaustive Jaccard join AND the banded-LSH pipeline, and report
    the detector's measured recall and candidate precision — the
    "measure, don't guess" hook every production dedup needs before
    trusting the approximate path on a new corpus.

    The quadratic exact join is bounded by the sample — and the bound
    is an absolute document count, not a fraction, so the evaluator's
    cost is O(EVAL_SAMPLE_MAX²) worst-case at ANY corpus size (a pure
    pct knob would still grow pct²·n² at 100× data). The LSH half is
    the very pipeline the real query runs. The verify step filters to
    true J≥0.5 on both paths, so detected ⊆ exact and recall is the
    one number that can degrade — precision here is candidate-level
    (verified / LSH candidates), the cost metric of the band join."""
    from tpg_weather_etl_spark.operators.sampling import (
        deterministic_sample_capped,
    )
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    # HASH(doc_id), not round-robin (optimization r14, same layout
    # argument as the production shingle builder in _shingle_df):
    # doc_id survives the shingle explode, so this one exchange
    # satisfies the ClusteredDistribution of the shingle distinct,
    # the per-doc counts agg AND the signature groupBy(doc_id) — all
    # three plan exchange-free over the persisted sample shingles.
    # Width stays defaultParallelism: the sample is capped at
    # EVAL_SAMPLE_MAX docs, so no byte-scaled width is needed.
    docs = deterministic_sample_capped(
        t(spark, sf_dir, "documents"), "doc_id", EVAL_SAMPLE_PCT,
        EVAL_SAMPLE_MAX,
    ).repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    # both halves of the evaluation branch over the sample's shingle
    # table 4x (counts, exact join sides, signatures, verify) — the
    # same reuse point the production pipeline persists
    sh = track(shingles_from_docs(docs)
               .persist(StorageLevel.MEMORY_AND_DISK))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    exact = _pair_jaccard(sh, counts).filter(F.col("jaccard") >= 0.5)

    bands = bands_from_shingles(sh)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("band").alias("band_b"),
                     F.col("bkey").alias("bkey_b"))
    cand = (a.join(b, (F.col("band") == F.col("band_b"))
                   & (F.col("bkey") == F.col("bkey_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
            .select("doc_a", "doc_b").distinct())
    cand = track(cand.persist(StorageLevel.MEMORY_AND_DISK))
    # tau prefilters ONLY the verify's intersection input
    # (optimization r15): n_candidates below still counts the
    # persisted cand — the detector's true LSH candidate volume, the
    # cost metric — and detected is unchanged (every prefilter-dropped
    # pair has J < 0.5 with certainty; see _pair_jaccard).
    detected = _pair_jaccard(sh, cand=cand, tau=0.5).filter(
        F.col("jaccard") >= 0.5)

    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(detected.agg(F.count(F.lit(1)).alias("n_detected")))
        .select(
            "n_docs", "n_exact", "n_candidates", "n_detected",
            r6(F.col("n_detected")
               / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)))
            .alias("recall"),
            r6(F.col("n_detected")
               / F.nullif(F.col("n_candidates").cast("double"),
                          F.lit(0.0)))
            .alias("candidate_precision"),
        )
    )


def _sql_neardup_eval() -> str:
    from tpg_weather_etl_spark.operators.sampling import (
        deterministic_sample_capped_sql,
    )
    shingles_sampled = _SQL_SHINGLES.replace(
        "FROM documents",
        "FROM " + deterministic_sample_capped_sql(
            "doc_id", EVAL_SAMPLE_PCT, EVAL_SAMPLE_MAX) + " documents")
    return f"""
WITH {shingles_sampled},
exact AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shx a JOIN shx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
exactp AS (
  SELECT doc_a, doc_b FROM exact
  JOIN shn na ON na.doc_id = doc_a
  JOIN shn nb ON nb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5),
{_SQL_MH_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
det AS (
  SELECT e.doc_a, e.doc_b FROM exactp e
  JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b),
m AS (SELECT
  (SELECT COUNT(*) FROM shn) AS n_docs,
  (SELECT COUNT(*) FROM exactp) AS n_exact,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM det) AS n_detected)
SELECT n_docs, n_exact, n_candidates, n_detected,
  round(n_detected / NULLIF(CAST(n_exact AS DOUBLE), 0.0), 6) + 0.0
    AS recall,
  round(n_detected / NULLIF(CAST(n_candidates AS DOUBLE), 0.0), 6) + 0.0
    AS candidate_precision
FROM m
"""


CHUNK_SIZE = 40
CHUNK_STRIDE = 30   # = size − overlap(10)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks per document — the
    RAG/pretraining chunker: windows of ``CHUNK_SIZE`` tokens every
    ``CHUNK_STRIDE`` (10-token overlap so no span is split across a
    boundary without context).

    Pure Catalyst row expansion: sequence() of starts → transform →
    explode, all inside codegen — zero shuffle, the chunker is
    embarrassingly parallel and must stay map-side at corpus scale.
    The trailing window keeps whatever tokens remain (standard
    chunker behavior; a short tail still carries its overlap
    context)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(norm_text(F.col("text")), " ")
    base = d.select("doc_id", toks.alias("toks"),
                    F.size(toks).alias("n"))
    starts = F.expr(
        f"sequence(0, greatest(0, n - 1), {CHUNK_STRIDE})")
    chunk = F.expr(
        f"array_join(slice(toks, start + 1, {CHUNK_SIZE}), ' ')")
    return (
        base.filter(F.col("n") > 0)
        .select("doc_id", "toks", "n",
                F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id", "chunk_idx", "start",
            F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("start"))
            .cast("int").alias("n_tokens"),
            chunk.alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


SQL_DOC_CHUNKS = f"""
WITH b AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
      AS toks
  FROM documents),
e AS (
  SELECT doc_id, toks, len(toks) AS n,
    unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
  FROM b WHERE len(toks) > 0)
SELECT doc_id,
  CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_idx,
  CAST(start AS INT) AS start,
  CAST(least({CHUNK_SIZE}, n - start) AS INT) AS n_tokens,
  array_to_string(list_slice(toks, start + 1, start + {CHUNK_SIZE}), ' ')
    AS chunk_text
FROM e ORDER BY doc_id, chunk_idx
"""


HH_K = 100


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus words with count·K > N via two-phase Misra-Gries
    (operators/heavy.py): per-partition bounded-memory summaries →
    candidate-only exact recount. The answer is exact (the oracle is a
    plain GROUP BY ... HAVING), but the plan never shuffles the
    vocabulary long tail — ≤ P·K candidate rows move, then a broadcast
    semi-join recount."""
    from tpg_weather_etl_spark.operators.heavy import heavy_hitters
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(norm_text(F.col("text")), " "))
                 .alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
    )
    return (heavy_hitters(words, "word", HH_K)
            .withColumnRenamed("value", "word")
            .orderBy(F.desc("cnt"), "word"))


SQL_HEAVY_HITTERS = f"""
WITH wds AS (
  SELECT word FROM (
    SELECT unnest(string_split(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents)
  WHERE regexp_matches(word, '^[a-z0-9]+$')),
tot AS (SELECT COUNT(*) AS n FROM wds)
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM wds CROSS JOIN tot
GROUP BY word, n
HAVING COUNT(*) * {HH_K} > n
ORDER BY cnt DESC, word
"""




# ---------------------------------------------------------------------------
# Boilerplate prefix detection: the template-page telltale — per
# source, the dominant opening k-gram and how much of the source it
# covers (a CCNet/RefinedWeb-style cleanup diagnostic)
# ---------------------------------------------------------------------------

BOILER_PREFIX_TOKENS = 5


def q_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: the most common first-``BOILER_PREFIX_TOKENS``-token
    prefix, how many documents open with it, and its share of the
    source — >~0.3 flags a templated source whose headers will melt
    naive n-gram indexes (the exact skew STRESS_similarity plants).

    Scale shape: prefix extraction is a map-side slice+concat (no
    explode), then one (source, prefix) count shuffle and a per-source
    top-1 window on the counted table (already tiny). Ties break by
    prefix string for cross-engine determinism."""
    from tpg_weather_etl_spark.functions.text import norm_text

    d = t(spark, sf_dir, "documents")
    pref = d.select(
        "source",
        F.concat_ws(" ", F.slice(
            F.split(norm_text(F.col("text")), " "),
            1, BOILER_PREFIX_TOKENS)).alias("prefix"))
    # persisted: counts feed both the per-source totals and the top-1
    # window — unmaterialized, the corpus prefix pass runs twice
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    counts = track(pref.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).alias("n_docs"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    per_source = counts.groupBy("source").agg(
        F.sum("n_docs").alias("n_source"))
    w = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), F.asc("prefix"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).drop("rn")
        .join(per_source, "source")
        .select(
            "source", "prefix", "n_docs",
            (F.round(F.col("n_docs")
                     / F.col("n_source").cast("double"), 6)
             + F.lit(0.0)).alias("share"),
        )
        .orderBy("source")
    )


SQL_BOILERPLATE_PREFIXES = f"""
WITH pref AS (
  SELECT source,
    array_to_string(list_slice(
      string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   ' '), 1, {BOILER_PREFIX_TOKENS}), ' ') AS prefix
  FROM documents),
counts AS (SELECT source, prefix, COUNT(*) AS n_docs
           FROM pref GROUP BY 1, 2),
per_source AS (SELECT source, SUM(n_docs) AS n_source
               FROM counts GROUP BY 1),
top1 AS (
  SELECT source, prefix, n_docs FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY n_docs DESC, prefix ASC) AS rn
    FROM counts)
  WHERE rn = 1)
SELECT source, prefix, CAST(n_docs AS BIGINT) AS n_docs,
  round(n_docs / CAST(n_source AS DOUBLE), 6) + 0.0 AS share
FROM top1 JOIN per_source USING (source) ORDER BY source
"""


# ---------------------------------------------------------------------------
# Per-document character entropy: the cheapest quality signal there
# is — gibberish/binary-leak docs sit high, template/repetitive docs
# sit low; a standard pre-filter feature next to the Gopher rules
# ---------------------------------------------------------------------------

def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits/char) of each document's normalized
    character distribution. Characters are exploded positionally
    (substr over a sequence — identical array in both engines), the
    per-(doc, char) counts combine map-side, and the entropy terms
    are rounded to 6dp then DECIMAL-summed so the gate hash cannot
    drift with partitioning. At 100 TB the explode is the honest
    cost of a per-char statistic; it stays one map-side Generate with
    no extra shuffle beyond the (doc_id, ch) count."""
    from tpg_weather_etl_spark.functions.text import norm_text

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    chars = (d.select("doc_id", norm_text(F.col("text")).alias("s"))
             .select("doc_id",
                     F.explode(F.split(F.col("s"), "")).alias("ch")))
    # persisted: the counted table feeds both the per-doc total and
    # the term join — unmaterialized, the char explode runs twice
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    cc = track(chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")).persist(StorageLevel.MEMORY_AND_DISK))
    nn = cc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    term = F.round(
        -(F.col("c") / F.col("n").cast("double"))
        * F.log2(F.col("c") / F.col("n").cast("double")), 6
    ).cast("decimal(38,8)")
    return (
        cc.join(nn, "doc_id")
        .select("doc_id", "n", term.alias("term"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars_norm"),
            (F.round(F.sum("term"), 6).cast("double") + F.lit(0.0))
            .alias("char_entropy_bits"),
        )
        .orderBy("doc_id")
    )


SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '')) AS ch
  FROM documents),
cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
nn AS (SELECT doc_id, SUM(c) AS n FROM cc GROUP BY 1),
terms AS (
  SELECT doc_id, n,
    CAST(round(-(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)),
               6) AS DECIMAL(38,8)) AS term
  FROM cc JOIN nn USING (doc_id))
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars_norm,
  CAST(ROUND(SUM(term), 6) AS DOUBLE) + 0.0 AS char_entropy_bits
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Source-pair vocabulary overlap: which sources are near-copies of
# each other at the VOCABULARY level — the source-granular cousin of
# doc-level near-dup, and the first question of any mixture design
# ---------------------------------------------------------------------------

def q_source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity of the distinct-token vocabularies
    of every source pair. Scale shape: the corpus reduces to a
    distinct (source, tok) table ONCE; the pair intersection is a
    self-join co-partitioned on tok whose fan-out per token is
    bounded by (n_sources choose 2) — a constant of the catalog, not
    the corpus — and per-source vocab sizes broadcast back onto the
    k²-row result. The distinct table is persisted: it feeds all four
    consumers (both join sides + both size lookups) — without
    materialization the corpus is scanned and tokenized four times."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    from tpg_weather_etl_spark.functions.text import norm_text

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    st = track(
        d.select("source",
                 F.explode(F.split(norm_text(F.col("text")), " "))
                 .alias("tok"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = st.select(F.col("source").alias("source_a"), "tok")
    b = st.select(F.col("source").alias("source_b"),
                  F.col("tok").alias("tok_b"))
    inter = (
        a.join(b, (F.col("tok") == F.col("tok_b"))
               & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n_vocab").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n_vocab").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "n_inter", "na", "nb",
            (F.round(F.col("n_inter")
                     / (F.col("na") + F.col("nb")
                        - F.col("n_inter")).cast("double"), 6)
             + F.lit(0.0)).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SQL_SOURCE_OVERLAP_JACCARD = """
WITH st AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(string_split(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
    FROM documents)),
sizes AS (SELECT source, COUNT(*) AS n_vocab FROM st GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_inter
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT source_a, source_b, CAST(n_inter AS BIGINT) AS n_inter,
  CAST(sa.n_vocab AS BIGINT) AS na, CAST(sb.n_vocab AS BIGINT) AS nb,
  round(n_inter / CAST(sa.n_vocab + sb.n_vocab - n_inter AS DOUBLE), 6)
    + 0.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""




# ---------------------------------------------------------------------------
# Packing-efficiency report: the QA readout over sequence_pack — how
# full the training sequences are and how often documents get cut at
# sequence boundaries (attention-fragmentation rate)
# ---------------------------------------------------------------------------

def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row rollup over the packed-sequence table: sequence count,
    full-sequence count, token fill rate, and the boundary-cut rate
    (doc spans minus doc starts = number of boundary crossings — each
    crossing is a document whose attention span a GPT-style loader
    fragments). Composes q_sequence_pack; the rollup itself is one
    aggregation over the (already tiny) per-sequence table."""
    packed = q_sequence_pack(spark, sf_dir)
    agg = packed.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum((F.col("n_tokens") == PACK_CAP).cast("long"))
        .alias("n_full"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_docs").alias("doc_spans"),
        F.sum("n_starts").alias("doc_starts"))
    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return agg.select(
        "n_seqs", "n_full", "total_tokens",
        (F.col("doc_spans") - F.col("doc_starts")).alias("boundary_cuts"),
        r6(F.col("total_tokens")
           / (F.col("n_seqs") * PACK_CAP).cast("double"))
        .alias("fill_rate"),
        r6((F.col("doc_spans") - F.col("doc_starts"))
           / F.col("doc_starts").cast("double")).alias("cut_rate"),
    )


SQL_PACK_EFFICIENCY = f"""
WITH packed AS ({SQL_SEQUENCE_PACK.strip()}),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seqs,
        CAST(SUM(CASE WHEN n_tokens = {PACK_CAP} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_full,
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        SUM(n_docs) AS doc_spans, SUM(n_starts) AS doc_starts
      FROM packed)
SELECT n_seqs, n_full, total_tokens,
  CAST(doc_spans - doc_starts AS BIGINT) AS boundary_cuts,
  round(total_tokens / CAST(n_seqs * {PACK_CAP} AS DOUBLE), 6) + 0.0
    AS fill_rate,
  round((doc_spans - doc_starts) / CAST(doc_starts AS DOUBLE), 6) + 0.0
    AS cut_rate
FROM a
"""


QUERIES = {
    "pack_efficiency": q_pack_efficiency,
    "boilerplate_prefixes": q_boilerplate_prefixes,
    "char_entropy": q_char_entropy,
    "source_overlap_jaccard": q_source_overlap_jaccard,
    "bpe_merges": q_bpe_merges,
    "neardup_eval": q_neardup_eval,
    "bpe_encode": q_bpe_encode,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "lang_agreement": q_lang_agreement,
    "doc_chunks": q_doc_chunks,
    "heavy_hitters": q_heavy_hitters,
    "ngram_novelty": q_ngram_novelty,
    "token_budget_sample": q_token_budget_sample,
    "containment_pairs": q_containment_pairs,
    "pipeline_funnel": q_pipeline_funnel,
    "pii_redact": q_pii_redact,
    "chunk_dedup": q_chunk_dedup,
    "dup_span_fraction": q_dup_span_fraction,
    "dup_span_apply": q_dup_span_apply,
    "dup_span_regions": q_dup_span_regions,
    "minhash_pairs_capped": q_minhash_pairs_capped,
    "sequence_pack": q_sequence_pack,
    "bpe_token_stats": q_bpe_token_stats,
    "char_fingerprints": q_char_fingerprints,
    "source_priority_dedup": q_source_priority_dedup,
    "domain_curation": q_domain_curation,
    "text_stats": q_text_stats,
    "lang_quality": q_lang_quality,
    "fingerprint_dedup": q_fingerprint_dedup,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "prefix_jaccard_pairs": q_prefix_jaccard_pairs,
    "minhash_pairs": q_minhash_pairs,
    "minhash_est_accuracy": q_minhash_est_accuracy,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "contamination_ngrams": q_contamination_ngrams,
    "stratified_sample": q_stratified_sample,
    "length_buckets": q_length_buckets,
    "gopher_quality": q_gopher_quality,
    "source_quality_matrix": q_source_quality_matrix,
    "source_mix_weights": q_source_mix_weights,
    "mixed_sample": q_mixed_sample,
}

ORACLE = {
    "pack_efficiency": SQL_PACK_EFFICIENCY,
    "boilerplate_prefixes": SQL_BOILERPLATE_PREFIXES,
    "char_entropy": SQL_CHAR_ENTROPY,
    "source_overlap_jaccard": SQL_SOURCE_OVERLAP_JACCARD,
    "bpe_merges": SQL_BPE_MERGES,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "doc_chunks": SQL_DOC_CHUNKS,
    "neardup_eval": _sql_neardup_eval(),
    "bpe_encode": SQL_BPE_ENCODE,
    "dedup_rate_by_source": _sql_dedup_rate_by_source(),
    "lang_agreement": SQL_LANG_AGREEMENT,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "pipeline_funnel": SQL_PIPELINE_FUNNEL,
    "pii_redact": SQL_PII_REDACT,
    "chunk_dedup": SQL_CHUNK_DEDUP,
    "dup_span_fraction": SQL_DUP_SPAN_FRACTION,
    "dup_span_apply": SQL_DUP_SPAN_APPLY,
    "dup_span_regions": SQL_DUP_SPAN_REGIONS,
    "minhash_pairs_capped": SQL_MINHASH_PAIRS_CAPPED,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "bpe_token_stats": SQL_BPE_TOKEN_STATS,
    "char_fingerprints": SQL_CHAR_FINGERPRINTS,
    "source_priority_dedup": SQL_SOURCE_PRIORITY_DEDUP,
    "domain_curation": SQL_DOMAIN_CURATION,
    "text_stats": SQL_TEXT_STATS,
    "lang_quality": SQL_LANG_QUALITY,
    "fingerprint_dedup": SQL_FINGERPRINT_DEDUP,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "prefix_jaccard_pairs": SQL_PREFIX_JACCARD_PAIRS,
    "minhash_pairs": SQL_MINHASH_PAIRS,
    "minhash_est_accuracy": SQL_MINHASH_EST_ACCURACY,
    "simhash": SQL_SIMHASH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "contamination_ngrams": SQL_CONTAMINATION_NGRAMS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "length_buckets": SQL_LENGTH_BUCKETS,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "source_quality_matrix": SQL_SOURCE_QUALITY_MATRIX,
    "source_mix_weights": SQL_SOURCE_MIX_WEIGHTS,
    "mixed_sample": SQL_MIXED_SAMPLE,
}
