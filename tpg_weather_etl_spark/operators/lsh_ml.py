"""Production LSH via ``pyspark.ml.feature`` — the idiomatic Spark ML
route for near-duplicate detection and ANN (SURVEY.md §7.4).

The gate queries (queries_text.py / queries_embeddings.py) implement
LSH with engine-portable md5-derived hashes so a DuckDB oracle can
reproduce them bit-for-bit. In production that constraint disappears,
and Spark's built-in estimators are the right tool: JVM-side hashing,
``approxSimilarityJoin`` does the band-bucket join + distance filter in
one operator, and the fitted model broadcasts its hash functions.

These wrappers keep the same contracts as the gate queries (doc pairs
with a similarity, vector pairs with a distance) so a caller can swap
implementations without touching downstream code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_jaccard_distance: float = 0.5,
    num_hash_tables: int = 8,
    shingle_k: int = 3,
    vocab_size: int = 1 << 18,
) -> DataFrame:
    """(doc_a, doc_b, jaccard_distance) near-dup candidates via
    ``MinHashLSH.approxSimilarityJoin``.

    Shingles are hashed onto a fixed-size sparse binary vector
    (HashingTF with binary=True — the standard trick to feed text sets
    to MinHashLSH). Distance is the *estimator's* Jaccard distance on
    the hashed space; for exact-verify semantics re-check survivors
    with the inverted-index join (queries_text._pair_jaccard).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = docs.select(
        F.col(id_col).alias("id"), F.split(norm, " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    exploded = toks.select(
        "id", "toks", "n",
        F.explode(
            F.when(F.col("n") >= shingle_k,
                   F.sequence(F.lit(0), F.col("n") - shingle_k))
            .otherwise(F.sequence(F.lit(0), F.lit(0)))
        ).alias("i"),
    )
    shingle = F.when(
        F.col("n") >= shingle_k,
        F.concat_ws(" ", *[
            F.element_at(F.col("toks"), (F.col("i") + j + 1).cast("int"))
            for j in range(shingle_k)
        ]),
    ).otherwise(F.concat_ws(" ", F.col("toks")))
    sets = (
        exploded.select("id", shingle.alias("shingle"))
        .groupBy("id").agg(F.collect_set("shingle").alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(inputCol="shingles", outputCol="features",
                   numFeatures=vocab_size, binary=True)
    feats = tf.transform(sets)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="jaccard_distance"
    )
    return (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("doc_a"),
            F.col("datasetB.id").alias("doc_b"),
            "jaccard_distance",
        )
    )


def random_projection_ann_pairs(
    vecs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_l2_distance: float = 1.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """(vec_a, vec_b, l2_distance) close-vector pairs via
    ``BucketedRandomProjectionLSH.approxSimilarityJoin`` over an
    ``array<float>`` column (converted to ml vectors with
    ``array_to_vector`` — no Python UDF)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feats = vecs.select(
        F.col(id_col).alias("id"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42,
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, max_l2_distance, distCol="l2_distance"
    )
    return (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("vec_a"),
            F.col("datasetB.id").alias("vec_b"),
            "l2_distance",
        )
    )


def write_ivf_index(
    assignments: "DataFrame",
    path: str,
    cell_col: str = "cell",
) -> None:
    """Persist an IVF index at rest: the (vector, cell) assignment
    table written partitioned by cell — the inverted-list layout.

    This is what makes IVF an *index* rather than a per-query
    computation: probing nprobe cells becomes a partition-pruned scan
    (``PartitionFilters: [cell IN (...)]``) that reads nprobe/k of the
    corpus from disk and nothing else.
    """
    (assignments.write.mode("overwrite")
     .option("compression", "zstd")
     .partitionBy(cell_col)
     .parquet(str(path)))


def probe_ivf_index(spark, path: str, cells: list[int],
                    cell_col: str = "cell"):
    """Read ONLY the probed cells' partitions from an index at rest."""
    from pyspark.sql import functions as F
    return spark.read.parquet(str(path)).filter(
        F.col(cell_col).isin([int(c) for c in cells]))
