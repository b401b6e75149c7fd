"""Further training-data-pipeline operators: TF-IDF term scoring,
global n-gram frequencies, per-label embedding centroids, and
connected-components dedup clustering over the near-dup pair graph.

The dedup-clusters oracle unrolls a fixed number of min-label
propagation rounds (no recursive CTE — portable to engines that choke
on recursion); the Spark side is the scale path: an iterative
label-propagation loop (each step one shuffle-join) that converges in
O(graph diameter) steps and is exact, not approximate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.text import norm_text
from tpg_weather_etl_spark.sources.tables import read_table as t

TOP_TERMS = 3

# curation_e2e "auto" profile: a source whose single most common
# document prefix covers at least this share of the source is
# templated boilerplate — its header band-buckets grow linearly with
# the corpus and the near-dup candidate join goes quadratic, so the
# pipeline switches to the hot-band-bucket-capped variant (SCALE.md
# rule 11.4; probe-measured threshold — the round-9 quadratic showed
# at a 0.30 planted share).
BOILER_HOT_SHARE = 0.3


# ---------------------------------------------------------------------------
# Token table (shared): one row per (doc_id, token) with counts
# ---------------------------------------------------------------------------

def token_counts_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, tok, tf) per-document token counts — the
    shared reuse point of the whole unigram family (optimization r14
    batch 3). Ten gate queries (tfidf, bm25, repetition/unigram
    stats, vocab ids + the tokenizer encode built on them, NB source
    confusion, zipf/gini/KL/coverage diagnostics) each re-ran the
    corpus scan + norm_text regex + token explode + a first
    map-side-combined shuffle; every one of their aggregates is
    derivable from the counts table (occurrence sums become
    Σ tf·x — exact, see each call site), which is far smaller than
    the token stream (distinct tokens per doc, not occurrences).
    track()'s plan-equality dedup resolves all consumers to ONE cache
    entry per sweep — the corpus is tokenized once, not ten times.
    MEMORY_AND_DISK: at 100 TB the counts table is a bounded fraction
    of corpus size and blocks LRU-evict rather than OOM.

    The counts are built MAP-SIDE (gopher_quality's sorted-run
    pattern): per-doc tf equals the run length of the token in the
    SORTED token array, so (doc_id, tok, tf) is one projection +
    Generate per row — NO (doc_id, tok) Exchange. That matters on
    low-redundancy corpora (the 50k synthetic probe measured counts
    ≈ 0.96x occurrences — a groupBy-built counts table there pays a
    corpus-sized shuffle and compresses nothing), and it makes the
    builder strictly cheaper than any single consumer's former
    explode + first-shuffle at every compression level. Equality to
    the groupBy formulation is exact (integer run lengths; the ""
    token of an empty doc appears with tf = 1 exactly as the explode
    emitted it) — pinned by the oracle gate on all ten consumers."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    staged = d.select(
        "doc_id",
        F.array_sort(F.split(norm_text(F.col("text")), " ")).alias("ts"),
    )
    # 1-based run-start positions in the sorted array
    starts = staged.select(
        "doc_id", "ts",
        F.filter(
            F.sequence(F.lit(1), F.size("ts")),
            lambda i: (i == F.lit(1))
            | (F.element_at(F.col("ts"), i)
               != F.element_at(F.col("ts"), i - F.lit(1))),
        ).alias("st"),
    )
    runs = starts.select(
        "doc_id",
        F.explode(F.transform(
            F.col("st"),
            lambda s, j: F.struct(
                F.element_at(F.col("ts"), s).alias("tok"),
                # next run start (0-based get -> NULL past the end)
                (F.coalesce(F.get(F.col("st"), j + F.lit(1)),
                            F.size(F.col("ts")) + F.lit(1)) - s)
                .cast("long").alias("tf"),
            ),
        )).alias("r"),
    )
    return track(
        runs.select("doc_id", F.col("r.tok").alias("tok"),
                    F.col("r.tf").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK))


_SQL_TOKENS = """
tok AS (SELECT doc_id,
          unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents)
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared counts table (opt r14 batch 3): tf IS the counts table,
    # and df is one row-count per token over it (counts rows are
    # distinct (doc, tok) by construction) — the second corpus
    # explode + distinct this query ran is gone.
    tf = token_counts_shared(spark, sf_dir)
    n_docs = t(spark, sf_dir, "documents").count()  # scalar; tiny action
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # df_ is vocabulary-sized (grows with the corpus) — joined
    # co-partitioned on tok, never hint-broadcast
    scored = tf.join(df_, "tok").select(
        "doc_id", "tok", "tf", "df",
        # ln(n_docs/df) idf; tf*idf rounded 6 for cross-engine parity
        (F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6)
         + F.lit(0.0)).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "tok", "tf", "df", "tfidf",
                F.col("rank").cast("int").alias("rank"))
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH {_SQL_TOKENS},
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df
       FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY 1),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok, tf, df,
         round(tf * ln(n_docs / df), 6) + 0.0 AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n)
SELECT doc_id, tok, tf, df, tfidf, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok ASC) AS rank
      FROM scored)
WHERE rank <= {TOP_TERMS}
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — Okapi BM25 (Lucene idf variant) top-k
# documents per query over an inverted-index shaped plan
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# (qid, term) literal query workload — the retrieval side of a
# training-data curation loop (e.g. pulling topical slices out of a
# 100 TB corpus). 'dup' is deliberately the rare term (df≈6% of docs)
# so the idf spread is exercised, not just tf.
BM25_QUERIES = [
    (1, ["spark", "hash", "join"]),
    (2, ["window", "sort", "merge"]),
    (3, ["dup", "table", "scan"]),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k docs per query by BM25.

    Scale shape: the tiny (qid, term) workload table joins the
    per-(doc, term) tf table FIRST — Catalyst broadcasts it, so the
    corpus-wide tf/df work is immediately cut to rows matching any
    query term (an inverted-index probe, not a corpus scan-out).
    Per-doc length joins co-partitioned on doc_id; N and avgdl are
    scalars (avgdl = total_tokens/n_docs — an exact int/int double
    division, bit-identical in both engines, instead of an
    order-dependent AVG over doubles). Per-term contributions are
    rounded then summed in DECIMAL(18,6) so the (qid, doc) score is
    independent of aggregation order under AQE.
    """
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    counts = token_counts_shared(spark, sf_dir)
    qterm_list = sorted({term for _, terms in BM25_QUERIES
                         for term in terms})
    # ONE corpus scan: per (doc, matched-term) counts, with every
    # unmatched token folded into a single NULL bucket per doc. The
    # result is doc-sized (≤ |terms|+1 rows per doc), so it persists
    # cheaply and feeds tf, per-doc length, AND the N/avgdl scalars —
    # the naive formulation scanned and re-exploded the corpus three
    # times (once per branch), visible as 3 FileScans in the plan.
    # Σ tf over the shared counts == COUNT over occurrences (opt r14
    # batch 3); g keeps its own persist — it feeds tf, dl AND the
    # N/avgdl scalars below.
    g = track(
        counts.groupBy(
            "doc_id",
            F.when(F.col("tok").isin(qterm_list), F.col("tok"))
            .alias("qtok"),
        )
        .agg(F.sum("tf").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dl = g.groupBy("doc_id").agg(F.sum("cnt").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, avgdl = stats["n_docs"], stats["tot"] / stats["n_docs"]

    qterms = spark.createDataFrame(
        [(qid, term) for qid, terms in BM25_QUERIES for term in terms],
        "qid int, tok string",
    )
    tf = g.filter(F.col("qtok").isNotNull()).select(
        "doc_id", F.col("qtok").alias("tok"), F.col("cnt").alias("tf")
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)) + F.lit(1.0)
        ), 6,
    )
    contrib = F.round(
        idf * F.col("tf") * F.lit(BM25_K1 + 1.0)
        / (F.col("tf") + F.lit(BM25_K1)
           * (F.lit(1.0 - BM25_B)
              + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))), 6,
    )
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(qterms), "tok")
        .groupBy("qid", "doc_id")
        .agg(F.sum(contrib.cast("decimal(18,6)")).cast("double")
             .alias("score"),
             F.count(F.lit(1)).alias("n_terms"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("qid", "doc_id", "n_terms", "score",
                F.col("rank").cast("int").alias("rank"))
    )


def _bm25_queries_values() -> str:
    return ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in BM25_QUERIES for term in terms
    )


SQL_BM25_TOPK = f"""
WITH {_SQL_TOKENS},
q(qid, tok) AS (VALUES {_bm25_queries_values()}),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
st AS (SELECT COUNT(*)::DOUBLE AS n_docs,
              (SUM(dl) / COUNT(*))::DOUBLE AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
       WHERE tok IN (SELECT DISTINCT tok FROM q) GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT qid, doc_id, COUNT(*) AS n_terms,
         CAST(SUM(CAST(round(
           round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
           * tf * {BM25_K1 + 1.0}
           / (tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl)),
         6) AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
       JOIN q USING (tok) CROSS JOIN st
  GROUP BY qid, doc_id)
SELECT qid, doc_id, n_terms, score, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Grouped OLS trend fit — per-key closed-form linear regression
# (value vs. time), the distributed "fit a model per group" primitive.
# No UDF and no per-group iteration: five sufficient statistics per
# group (Σx Σy Σxy Σx² Σy²) aggregate map-side in ONE hash-agg pass,
# and slope/intercept/r² come from the closed form. At 100 TB this is
# a single shuffle of 5 numbers per key.
# ---------------------------------------------------------------------------

TREND_X_ORIGIN = "2024-01-01"  # x = days since this origin


def q_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of event value against time, per event_type.

    Cross-engine determinism: x and y are per-row doubles computed
    bit-identically in both engines (bigint µs → double → one
    division), and each product is cast to DECIMAL(38,8) BEFORE the
    sum, so every sufficient statistic is an exact, order-independent
    decimal — the closed-form arithmetic then starts from identical
    doubles on both sides. Two magnitude controls make the final
    decimal→double cast itself bit-identical (the _dsum hazard: above
    2^53 unscaled, DuckDB double-rounds where Spark rounds once):
    x is DAYS since an origin INSIDE the data's span (a far-away origin
    makes x a huge near-constant: x² sums overflow 2^53 unscaled —
    where the engines' decimal→double casts disagree — and the
    variance n·Σx²−(Σx)² cancels catastrophically),
    and each sum is rounded to scale 4 and shrunk to DECIMAL(18,4)
    before the cast. NULLIF guards degenerate groups (zero variance)
    identically instead of relying on either engine's
    division-by-zero behavior.
    """
    from tpg_weather_etl_spark.functions.time import epoch_us

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = (
        (epoch_us(F.col("ts"))
         - epoch_us(F.lit(TREND_X_ORIGIN).cast("timestamp")))
        / F.lit(86400000000.0)
    )
    b = e.select("event_type", x.alias("x"), F.col("value").alias("y"))

    def dsum38(col: F.Column) -> F.Column:
        return (F.round(F.sum(col.cast("decimal(38,8)")), 4)
                .cast("decimal(18,4)").cast("double"))

    a = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum38(F.col("x")).alias("sx"),
        dsum38(F.col("y")).alias("sy"),
        dsum38(F.col("x") * F.col("y")).alias("sxy"),
        dsum38(F.col("x") * F.col("x")).alias("sxx"),
        dsum38(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.nullif(nd * F.col("sxx") - F.col("sx") * F.col("sx"),
                     F.lit(0.0))
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        "event_type", "n",
        (F.round(cov_n / var_x, 6) + F.lit(0.0)).alias("slope"),
        (F.round((F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
                 / var_x, 6) + F.lit(0.0)).alias("intercept"),
        (F.round(cov_n * cov_n / F.nullif(
            (nd * F.col("sxx") - F.col("sx") * F.col("sx")) * var_y,
            F.lit(0.0)), 6) + F.lit(0.0)).alias("r2"),
    )


SQL_TREND_BY_TYPE = f"""
WITH b AS (
  SELECT event_type,
    (epoch_us(ts) - epoch_us(TIMESTAMP '{TREND_X_ORIGIN}'))
      / 86400000000.0 AS x,
    value AS y
  FROM events WHERE value IS NOT NULL),
a AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sx,
    CAST(CAST(ROUND(SUM(CAST(y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sy,
    CAST(CAST(ROUND(SUM(CAST(x*y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sxy,
    CAST(CAST(ROUND(SUM(CAST(x*x AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sxx,
    CAST(CAST(ROUND(SUM(CAST(y*y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS syy
  FROM b GROUP BY 1)
SELECT event_type, n,
  round((n::DOUBLE*sxy - sx*sy) / NULLIF(n::DOUBLE*sxx - sx*sx, 0.0), 6)
    + 0.0 AS slope,
  round((sy*sxx - sx*sxy) / NULLIF(n::DOUBLE*sxx - sx*sx, 0.0), 6)
    + 0.0 AS intercept,
  round((n::DOUBLE*sxy - sx*sy) * (n::DOUBLE*sxy - sx*sy)
        / NULLIF((n::DOUBLE*sxx - sx*sx) * (n::DOUBLE*syy - sy*sy), 0.0), 6)
    + 0.0 AS r2
FROM a
"""


# ---------------------------------------------------------------------------
# Global bigram frequency top-k
# ---------------------------------------------------------------------------

def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = (
        d.select("doc_id", F.split(norm_text(F.col("text")), " ").alias("toks"))
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 2)
    )
    exploded = base.select(
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n") - 2)).alias("i"),
    )
    bigram = F.concat_ws(
        " ",
        F.element_at(F.col("toks"), (F.col("i") + 1).cast("int")),
        F.element_at(F.col("toks"), (F.col("i") + 2).cast("int")),
    )
    return (
        exploded.select(bigram.alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


SQL_BIGRAM_TOPK = """
WITH d AS (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
b AS (SELECT unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM d WHERE len(toks) >= 2)
SELECT bigram, COUNT(*) AS n FROM b
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style repetition signals per document)
# ---------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition profile: distinct-token fraction and the
    fraction of bigrams taken by the single most frequent bigram —
    the two cheapest repetition signals pretraining filters cut on
    (boilerplate and template spam score low distinct_frac / high
    top_bigram_frac).

    Scale shape: both aggregates key on doc_id, so the token explode
    shuffles once and every later stage is a doc-partitioned agg or
    co-partitioned join; nothing is global.
    """
    # Shared counts (opt r14 batch 3): n_tokens = Σ tf, n_distinct =
    # row count per doc — no occurrence explode.
    base = token_counts_shared(spark, sf_dir).groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") >= 2)
    bg = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - 2)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at(F.col("toks"), (F.col("i") + 1).cast("int")),
            F.element_at(F.col("toks"), (F.col("i") + 2).cast("int")),
        ).alias("bigram"),
    ).groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    top = bg.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_n"),
        F.sum("c").alias("n_bigrams"),
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id", "n_tokens",
        (F.round(F.col("n_distinct").cast("double")
                 / F.col("n_tokens"), 6) + F.lit(0.0)).alias("distinct_frac"),
        (F.round(F.col("top_bigram_n").cast("double")
                 / F.col("n_bigrams"), 6) + F.lit(0.0))
        .alias("top_bigram_frac"),
    )


SQL_REPETITION_STATS = f"""
WITH {_SQL_TOKENS},
base AS (SELECT doc_id, COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_distinct
         FROM tok GROUP BY doc_id),
d AS (SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
          AS toks
      FROM documents),
bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram
       FROM d WHERE len(toks) >= 2),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
        FROM bc GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
  round(CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) + 0.0
    AS distinct_frac,
  round(CAST(t.top_bigram_n AS DOUBLE) / t.n_bigrams, 6) + 0.0
    AS top_bigram_frac
FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# Unigram-LM cross-entropy (the perplexity-filter proxy)
# ---------------------------------------------------------------------------

def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy against the corpus unigram LM — the
    engine-portable stand-in for KenLM perplexity filtering: docs
    whose token distribution diverges from the corpus (gibberish,
    wrong language, boilerplate) score high.

    Parity discipline: the per-token −ln p is rounded to 6 decimals
    BEFORE the sum (transcendentals agree across engines at that
    precision; raw double sums would not), summed exactly as
    DECIMAL(24,8), then averaged. Scale shape: vocabulary counts are
    a map-side-combined groupBy(tok); the tokens⋈vocab join is
    co-partitioned on tok (vocab is NOT broadcast — at corpus scale
    the vocabulary is itself huge).
    """
    # Shared counts (opt r14 batch 3): every occurrence of (doc, tok)
    # contributes the SAME decimal nll, so the occurrence-level sum is
    # exactly tf * nll (decimal multiply by an integer is exact) and
    # the occurrence count is Σ tf — no token explode, and the
    # tokens⋈vocab join shrinks to counts⋈vocab.
    counts = token_counts_shared(spark, sf_dir)
    total = counts.agg(F.sum("tf")).first()[0]  # scalar action
    vocab = counts.groupBy("tok").agg(F.sum("tf").alias("c"))
    tok_lp = counts.join(vocab, "tok").select(
        "doc_id", "tf",
        F.round(-F.log(F.col("c") / F.lit(float(total))), 6)
        .cast("decimal(24,8)").alias("nll"),
    )
    return tok_lp.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        (F.round(F.sum(F.col("nll") * F.col("tf")).cast("double")
                 / F.sum("tf"), 6)
         + F.lit(0.0)).alias("xent"),
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy against a corpus bigram LM with add-one
    smoothing — one conditioning order up from ``unigram_logprob``
    (the CCNet-style perplexity filter ladder): P(w2|w1) =
    (c(w1,w2)+1)/(c(w1·)+V), with c(w1·) the bigram-first marginal
    (= Σ_w2 c(w1,w2)) and V the distinct-second-word count, so the
    model derives entirely from ONE (w1,w2) count shuffle.

    Scale shape: doc bigrams are built MAP-SIDE (explode of a
    transform over the token array — no positional self-join) and
    persisted as the shared reuse point of model fit and scoring; the
    bigram model join back is co-partitioned on (w1,w2) with the
    model's own count shuffle; the marginal join shuffles only the
    model table. Transcendental parity: per-bigram −ln p rounded to
    6dp, decimal-summed, then averaged (the unigram_logprob
    discipline)."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    toks = F.split(norm_text(F.col("text")), " ")
    bg = track(
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(element_at(toks, i) AS w1, "
            "element_at(toks, i + 1) AS w2))")).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .persist(StorageLevel.MEMORY_AND_DISK))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c12.select("w2").distinct().agg(
        F.count(F.lit(1)).alias("v"))
    nll = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(-F.log((F.col("c12") + 1.0)
                           / (F.col("c1") + F.col("v")).cast("double")),
                    6).cast("decimal(24,8)").alias("nll"),
        )
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6)
         + F.lit(0.0)).alias("xent"),
    ).orderBy("doc_id")


SQL_BIGRAM_LOGPROB = """
WITH d AS (SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS toks
           FROM documents),
bg AS (
  SELECT doc_id, u.w1, u.w2 FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(toks)),
        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS u
    FROM d WHERE len(toks) >= 2)),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w2) AS v FROM c12),
nll AS (
  SELECT bg.doc_id,
    CAST(round(-ln((c12.c12 + 1.0) / CAST(c1.c1 + v.v AS DOUBLE)), 6)
         AS DECIMAL(24,8)) AS nll
  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
SELECT doc_id, COUNT(*) AS n_bigrams,
  round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) + 0.0 AS xent
FROM nll GROUP BY doc_id ORDER BY doc_id
"""


SQL_UNIGRAM_LOGPROB = f"""
WITH {_SQL_TOKENS},
n AS (SELECT COUNT(*)::DOUBLE AS total FROM tok),
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
lp AS (SELECT t.doc_id,
         CAST(round(-ln(v.c / n.total), 6) AS DECIMAL(24,8)) AS nll
       FROM tok t JOIN vocab v USING (tok) CROSS JOIN n)
SELECT doc_id, COUNT(*) AS n_tokens,
  round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) + 0.0 AS xent
FROM lp GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram cross-entropy — the top rung of the
# perplexity-filter ladder (unigram MLE → add-one bigram → KN), i.e.
# the smoothing KenLM actually uses in CCNet-style quality filtering.
# KN replaces the raw unigram backoff with the CONTINUATION
# distribution (how many distinct contexts a word follows), which is
# what stops boilerplate-frequent-but-context-poor tokens from
# looking probable.
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75


def q_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an interpolated Kneser-Ney bigram
    LM with fixed discount D: P(w2|w1) = max(c12−D, 0)/c1 +
    (D·N1+(w1·)/c1) · (N1+(·w2)/B), where N1+(w1·)/N1+(·w2) are the
    distinct-continuation fan-outs and B the distinct-bigram count.

    Cross-engine exactness: all model terms derive from integer
    counts off ONE (w1,w2) shuffle (c1 and N1+(w1·) come from the
    SAME aggregate over the distinct-pair table — sum and count);
    the probability is evaluated in the identical parenthesization in
    both engines (IEEE ops are exactly rounded, so same inputs + same
    op order = bit-identical doubles), then the per-bigram −ln p goes
    through the established transcendental discipline (round 6 →
    DECIMAL(24,8) sum → average).

    Scale shape: identical to q_bigram_logprob — map-side bigram
    build, model joins co-partitioned on their group keys, the only
    broadcast is the 1-row B scalar."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)
    toks = F.split(norm_text(F.col("text")), " ")
    bg = track(
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(F.expr(
            "transform(sequence(1, size(toks) - 1), "
            "i -> struct(element_at(toks, i) AS w1, "
            "element_at(toks, i + 1) AS w2))")).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .persist(StorageLevel.MEMORY_AND_DISK))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # c12 rows are distinct (w1,w2) pairs, so one agg yields both the
    # marginal and the forward continuation fan-out
    ctx = c12.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                F.count(F.lit(1)).alias("n1f"))
    n1b = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    btot = c12.agg(F.count(F.lit(1)).alias("b"))
    p = (
        (F.greatest(F.col("c12") - KN_DISCOUNT, F.lit(0.0))
         / F.col("c1"))
        + ((KN_DISCOUNT * F.col("n1f")) / F.col("c1"))
        * (F.col("n1b") / F.col("b").cast("double"))
    )
    nll = (
        bg.join(c12, ["w1", "w2"])
        .join(ctx, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            "doc_id",
            F.round(-F.log(p), 6).cast("decimal(24,8)").alias("nll"),
        )
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.round(F.sum("nll").cast("double") / F.count(F.lit(1)), 6)
         + F.lit(0.0)).alias("kn_xent"),
    ).orderBy("doc_id")


SQL_KN_BIGRAM_LOGPROB = f"""
WITH d AS (SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS toks
           FROM documents),
bg AS (
  SELECT doc_id, u.w1, u.w2 FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(toks)),
        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS u
    FROM d WHERE len(toks) >= 2)),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM c12 GROUP BY 1),
n1b AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
btot AS (SELECT COUNT(*) AS b FROM c12),
nll AS (
  SELECT bg.doc_id,
    CAST(round(-ln(
      (greatest(c12.c12 - {KN_DISCOUNT}, 0.0) / ctx.c1)
      + (({KN_DISCOUNT} * ctx.n1f) / ctx.c1)
        * (n1b.n1b / CAST(btot.b AS DOUBLE))
    ), 6) AS DECIMAL(24,8)) AS nll
  FROM bg JOIN c12 USING (w1, w2) JOIN ctx USING (w1)
  JOIN n1b USING (w2) CROSS JOIN btot)
SELECT doc_id, COUNT(*) AS n_bigrams,
  round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) + 0.0 AS kn_xent
FROM nll GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Per-label embedding centroids (vector aggregation, long form)
# ---------------------------------------------------------------------------

def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    return dims.groupBy("label", "dim").agg(
        (F.round(F.sum(F.col("x").cast("double").cast("decimal(24,8)")), 4)
         .cast("decimal(18,4)").cast("double")
         / F.count("x")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def q_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift per label: cosine of each label's centroid to
    the GLOBAL centroid (and shift = 1 − cos) — the embedding-space
    twin of ``source_kl_drift``: a label whose centroid swings away
    from the corpus centroid signals a shifted sub-population before
    any downstream model sees it.

    Determinism: centroids are decimal-exact means (the
    label_centroids discipline); the cosine's 64 per-dimension
    products are rounded to 6dp and decimal-summed before the final
    division (the zipf/OLS sufficient-statistic pattern). Scale
    shape: one posexplode shuffle to (label, dim), a broadcast 64-row
    global-centroid table, and a per-label aggregate."""
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x"))

    def cmean(col):
        return (F.round(F.sum(col.cast("double").cast("decimal(24,8)")), 4)
                .cast("decimal(18,4)").cast("double") / F.count(col))

    lc = dims.groupBy("label", "dim").agg(
        cmean(F.col("x")).alias("cl"),
        F.count(F.lit(1)).alias("n"))
    gc = dims.groupBy("dim").agg(cmean(F.col("x")).alias("cg"))
    j = lc.join(F.broadcast(gc), "dim")
    d6 = (lambda c: F.round(c, 6).cast("decimal(24,8)"))
    agg = j.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.sum(d6(F.col("cl") * F.col("cg"))).alias("sxy"),
        F.sum(d6(F.col("cl") * F.col("cl"))).alias("sxx"),
        F.sum(d6(F.col("cg") * F.col("cg"))).alias("syy"))
    cos = F.round(
        F.col("sxy").cast("double")
        / (F.sqrt(F.col("sxx").cast("double"))
           * F.sqrt(F.col("syy").cast("double"))), 6) + F.lit(0.0)
    return agg.select(
        "label", "n_vecs", cos.alias("cos_to_global"),
        (F.round(1.0 - cos, 6) + F.lit(0.0)).alias("shift"),
    ).orderBy("label")


SQL_CENTROID_SHIFT = """
WITH dims AS (
  SELECT label, CAST(j AS INTEGER) AS dim,
         CAST(embedding[j+1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(0, 64) s(j)),
lc AS (
  SELECT label, dim,
    CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(24,8))), 4) AS DECIMAL(18,4))
         AS DOUBLE) / COUNT(x) AS cl,
    COUNT(*) AS n
  FROM dims GROUP BY 1, 2),
gc AS (
  SELECT dim,
    CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(24,8))), 4) AS DECIMAL(18,4))
         AS DOUBLE) / COUNT(x) AS cg
  FROM dims GROUP BY 1),
a AS (
  SELECT label, MAX(n) AS n_vecs,
    SUM(CAST(round(cl * cg, 6) AS DECIMAL(24,8))) AS sxy,
    SUM(CAST(round(cl * cl, 6) AS DECIMAL(24,8))) AS sxx,
    SUM(CAST(round(cg * cg, 6) AS DECIMAL(24,8))) AS syy
  FROM lc JOIN gc USING (dim) GROUP BY label)
SELECT label, n_vecs,
  round(CAST(sxy AS DOUBLE)
        / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6) + 0.0
    AS cos_to_global,
  round(1.0 - (round(CAST(sxy AS DOUBLE)
        / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6) + 0.0),
        6) + 0.0 AS shift
FROM a ORDER BY label
"""


SQL_LABEL_CENTROIDS = """
SELECT label, CAST(j AS INTEGER) AS dim,
  CAST(CAST(ROUND(SUM(CAST(CAST(embedding[j+1] AS DOUBLE) AS DECIMAL(24,8))), 4)
       AS DECIMAL(18,4)) AS DOUBLE) / COUNT(embedding[j+1]) AS centroid,
  COUNT(*) AS n_vecs
FROM embeddings CROSS JOIN range(0, 64) s(j)
GROUP BY label, j
"""


# ---------------------------------------------------------------------------
# Embedding z-score normalization: per-dimension standardization —
# the feature-prep step before distance-based ML. Moments are
# decimal-exact (order-independent); sqrt is IEEE-correctly-rounded in
# every engine, so z-scores hash-match bit-for-bit.
# ---------------------------------------------------------------------------

def q_embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardize every embedding dimension to zero mean / unit
    variance and rebuild the vectors (ordered array reassembly via
    array_sort over (dim, z) structs — the engine-portable ordered
    collect).

    Scale shape: one posexplode pass, a 64-row per-dimension stats
    table (broadcast — the dimension count is fixed, never
    corpus-scale), and one groupBy(vec_id) reassembly; total two
    shuffles of (vec_id|dim, scalar) rows.
    """
    e = t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    # Parity rule for derived moments: decimal-sum (order-independent),
    # round ONCE, cast to double, then do all remaining arithmetic in
    # pure double — every IEEE double op is correctly rounded and thus
    # engine-identical, whereas decimal *division/multiplication* scale
    # rules differ between engines in the late decimals.
    # (18,8) so the squared product stays within precision 38 — a
    # (24,8)x(24,8) product overflows and each engine degrades scale
    # differently
    xd = F.col("x").cast("decimal(18,8)")
    n = F.count("x")
    s1 = F.sum(xd)
    s1d = F.round(s1, 6).cast("double")
    s2d = F.round(F.sum(xd * xd), 6).cast("double")
    nd = n.cast("double")
    mean = (F.round(s1, 4).cast("decimal(18,4)").cast("double") / n)
    var = (nd * s2d - s1d * s1d) / (nd * (nd - F.lit(1.0)))
    stats = dims.groupBy("dim").agg(
        mean.alias("mu"), var.alias("v"),
        (s2d / nd).alias("s2n"))
    # Degenerate-dimension guard: a (near-)zero-variance dim would
    # make z Inf/NaN/huge — Spark's decimal cast then yields NULL and
    # an unguarded array_join DROPS the element (silently shorter
    # vector) while DuckDB's cast raises. Emit an explicit NULL
    # instead and render it as the literal 'null' in both engines so
    # degenerate dims stay position-stable and hash-identical. The
    # threshold is RELATIVE (v > 1e-12 · Σx²/n, identical in the SQL
    # oracle): for a mathematically-zero-variance dim the cancellation
    # n·Σx² − (Σx)² can land tiny-positive, and a bare v > 0 would
    # sit on that knife-edge (ADVICE r4).
    z = F.when(
        F.col("v") > F.lit(1e-12) * F.col("s2n"),
        F.round((F.col("x") - F.col("mu")) / F.sqrt(F.col("v")), 6) + 0.0,
    )
    zd = dims.join(F.broadcast(stats), "dim").select(
        "vec_id", "dim", z.alias("z"))
    # Gate contract: the driver's canonicalizer cannot hash raw array
    # cells (pandas sort_values on list objects), so the vector is
    # serialized to a comma-joined string of fixed-scale DECIMAL(18,6)
    # renderings — scale-stable text in both engines, unlike raw
    # double→string (scientific-notation divergence).
    return zd.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "z"))),
                lambda s: s["z"].cast("decimal(18,6)").cast("string"),
            ),
            ",",
            "null",
        ).alias("zvec")
    )


SQL_EMBEDDING_ZSCORE = """
WITH dims AS (
  SELECT vec_id, j AS dim, CAST(embedding[j+1] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN range(0, 64) s(j)),
st AS (
  SELECT dim,
    CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(24,8))), 4) AS DECIMAL(18,4))
         AS DOUBLE) / COUNT(x) AS mu,
    (CAST(COUNT(x) AS DOUBLE)
       * CAST(ROUND(SUM(CAST(x AS DECIMAL(18,8))
                        * CAST(x AS DECIMAL(18,8))), 6) AS DOUBLE)
     - CAST(ROUND(SUM(CAST(x AS DECIMAL(18,8))), 6) AS DOUBLE)
       * CAST(ROUND(SUM(CAST(x AS DECIMAL(18,8))), 6) AS DOUBLE))
    / (CAST(COUNT(x) AS DOUBLE) * (CAST(COUNT(x) AS DOUBLE) - 1.0)) AS v,
    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,8))
                   * CAST(x AS DECIMAL(18,8))), 6) AS DOUBLE)
    / CAST(COUNT(x) AS DOUBLE) AS s2n
  FROM dims GROUP BY 1)
SELECT vec_id,
  string_agg(COALESCE(CAST(CASE WHEN v > 1e-12 * s2n THEN
                 CAST(round((x - mu) / sqrt(v), 6) + 0.0 AS DECIMAL(18,6))
               END AS VARCHAR), 'null'),
             ',' ORDER BY dim) AS zvec
FROM dims JOIN st USING (dim)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Vocabulary ID assignment: contiguous frequency-ranked token ids for
# a corpus-scale vocabulary — global enumeration WITHOUT the
# single-partition row_number window (the zipWithIndex replacement)
# ---------------------------------------------------------------------------

def q_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token vocabulary with dense ids in (frequency desc, token asc)
    order — the tokenizer-building step. At 100 TB the vocabulary is
    itself corpus-scale, so ids come from
    ``operators.prefix.global_running_sum`` over a constant-1 column
    (range partition → parallel local counts → broadcast offsets)
    instead of ``row_number() OVER (ORDER BY …)``, which would drag
    the whole vocabulary through one task. The oracle computes the
    same ids the single-window way, proving nothing is lost.
    """
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    vocab = (
        token_counts_shared(spark, sf_dir)
        .groupBy("tok").agg(F.sum("tf").alias("c"))
        .withColumn("negc", -F.col("c"))
        .withColumn("one", F.lit(1))
    )
    return (
        global_running_sum(vocab, ["negc", "tok"], "one", out_col="tid")
        .select("tok", "c", F.col("tid").cast("long").alias("tid"))
    )


SQL_VOCAB_IDS = f"""
WITH {_SQL_TOKENS},
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1)
SELECT tok, c,
  row_number() OVER (ORDER BY c DESC, tok ASC) AS tid
FROM vocab
"""


# ---------------------------------------------------------------------------
# Tokenizer apply: documents → vocabulary-id sequences (the encode
# step; corpus ⋈ vocabulary joined co-partitioned on token, order
# restored through the struct-sort array rebuild)
# ---------------------------------------------------------------------------

def q_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as its sequence of ``vocab_ids`` token
    ids, preserving token order.

    Scale shape: posexplode (one Generate), a corpus⋈vocab join
    co-partitioned on the token (the vocabulary is corpus-scale —
    never broadcast), one groupBy(doc_id) rebuilding the ordered id
    array. Exactly the plan a distributed tokenizer encode pass runs.
    """
    vocab = q_vocab_ids(spark, sf_dir).select("tok", "tid")
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    ptoks = d.select(
        "doc_id",
        F.posexplode(F.split(norm_text(F.col("text")), " "))
        .alias("pos", "tok"),
    )
    # Gate contract: comma-joined id string rather than array<long> —
    # the driver canonicalizer cannot hash raw list cells; integer
    # rendering is engine-identical so nothing is lost.
    return (
        ptoks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                    lambda s: s["tid"].cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )


SQL_TOKENIZED_DOCS = f"""
WITH {_SQL_TOKENS},
vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
vids AS (SELECT tok,
           row_number() OVER (ORDER BY c DESC, tok ASC) AS tid
         FROM vocab),
ptok AS (SELECT doc_id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) - 1 AS pos
         FROM (SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                  'g')), ' ') AS toks
               FROM documents))
SELECT doc_id, COUNT(*) AS n_tokens,
  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
FROM ptok JOIN vids USING (tok)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Array higher-order functions: filter / exists / forall / aggregate
# directly over the embedding arrays — all JVM-side lambda expressions
# inside codegen (zero explode, zero shuffle beyond the scan)
# ---------------------------------------------------------------------------

def q_array_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector array statistics computed entirely with higher-order
    functions: positive-dimension count (``filter``), any-extreme flag
    (``exists``), boundedness check (``forall``), and a sequential-fold
    sum (``aggregate`` — deterministic left fold, matching DuckDB
    list_aggregate ordering).
    """
    e = t(spark, sf_dir, "embeddings")
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(F.filter(arr, lambda x: x > 0)).cast("long")
        .alias("n_positive"),
        F.exists(arr, lambda x: F.abs(x) > 2.5).alias("has_extreme"),
        F.forall(arr, lambda x: F.abs(x) <= 6.0).alias("bounded"),
        (F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6)
         + 0.0).alias("dim_sum"),
    )


SQL_ARRAY_HOF_STATS = """
WITH a AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings)
SELECT vec_id,
  CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_positive,
  len(list_filter(e, x -> abs(x) > 2.5)) > 0 AS has_extreme,
  len(list_filter(e, x -> abs(x) > 6.0)) = 0 AS bounded,
  round(list_aggregate(e, 'sum'), 6) + 0.0 AS dim_sum
FROM a
"""


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def _edges(spark: SparkSession, sf_dir: str,
           capped: bool = False) -> DataFrame:
    from tpg_weather_etl_spark.queries_text import (
        q_minhash_pairs,
        q_minhash_pairs_capped,
    )
    fn = q_minhash_pairs_capped if capped else q_minhash_pairs
    return fn(spark, sf_dir).select("doc_a", "doc_b")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the MinHash pair graph: cluster = min
    doc_id reachable (operators/graph.py min-label propagation)."""
    from tpg_weather_etl_spark.operators.graph import (
        cluster_summary,
        connected_components_min_label,
    )
    edges = _edges(spark, sf_dir)  # persisted inside q_minhash_pairs
    return cluster_summary(
        connected_components_min_label(edges, reuse=True))


def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering operator over the embedding-cosine near-dup
    graph — near-dup semantics change (cosine vs Jaccard), the
    dedup-clustering operator doesn't."""
    from tpg_weather_etl_spark.operators.graph import (
        cluster_summary,
        connected_components_min_label,
    )
    from tpg_weather_etl_spark.queries_embeddings import q_embedding_neardup
    edges = q_embedding_neardup(spark, sf_dir).select("vec_a", "vec_b")
    return cluster_summary(
        connected_components_min_label(edges, src="vec_a", dst="vec_b",
                                       reuse=True)
    )


# Oracle-side connected components WITHOUT recursion: a fixed unroll
# of min-label propagation rounds (neighbor-min then pointer-jump
# through the label itself), the SQL mirror of operators/graph.py.
# Each round at least doubles the distance the component minimum has
# travelled, so K rounds cover components of diameter ~2^K; K=6 is far
# beyond any near-dup graph at oracle scale (verified converged at
# sf0.001/sf0.01/sf0.1).  Non-recursive on purpose: recursive CTEs are
# the one SQL feature engines time out or diverge on, and the oracle
# must run anywhere.
_CC_ROUNDS = 6


def _cc_label_ctes(edges: str,
                   rounds: int = _CC_ROUNDS) -> tuple[list, str]:
    """The shared (node, lbl) propagation CTE chain + convergence
    guard; callers append their own final SELECT, cross-joined with
    ``guard`` and filtered on ``guard.ok = 1``.

    MATERIALIZED: every CTE here is referenced 2+ times (sym each
    round, m{k} self-joined); without it DuckDB inlines the whole
    chain per reference and re-opens the source parquet once per
    inlined copy ("Too many open files").
    """
    ctes = [
        f"edges AS MATERIALIZED ({edges})",
        "sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM edges"
        " UNION SELECT doc_b, doc_a FROM edges)",
        "l0 AS MATERIALIZED (SELECT a AS node, a AS lbl FROM sym"
        " UNION SELECT b, b FROM sym)",
    ]
    prev = "l0"
    for k in range(rounds):
        n, m, cur = f"n{k}", f"m{k}", f"l{k + 1}"
        ctes.append(
            f"{n} AS MATERIALIZED (SELECT s.a AS node, MIN(l.lbl) AS nb"
            f" FROM sym s JOIN {prev} l ON l.node = s.b GROUP BY s.a)"
        )
        ctes.append(
            f"{m} AS MATERIALIZED (SELECT l.node,"
            f" LEAST(l.lbl, COALESCE(n.nb, l.lbl)) AS lbl"
            f" FROM {prev} l LEFT JOIN {n} n ON n.node = l.node)"
        )
        ctes.append(
            f"{cur} AS MATERIALIZED (SELECT m.node,"
            f" LEAST(m.lbl, p.lbl) AS lbl"
            f" FROM {m} m JOIN {m} p ON p.node = m.lbl)"
        )
        prev = cur
    # Convergence oracle (VERDICT r3 stretch): one EXTRA neighbor-min
    # probe after the unrolled rounds; if any label would still
    # shrink, the fixed unroll under-covered the graph diameter and
    # the clusters are silently wrong — raise via error() instead.
    ctes.append(
        "probe AS MATERIALIZED (SELECT s.a AS node, MIN(l.lbl) AS nb"
        f" FROM sym s JOIN {prev} l ON l.node = s.b GROUP BY s.a)"
    )
    ctes.append(
        "guard AS (SELECT CASE WHEN EXISTS ("
        f"SELECT 1 FROM probe p JOIN {prev} l ON l.node = p.node"
        " AND p.nb < l.lbl)"
        " THEN error('cc oracle under-converged: raise _CC_ROUNDS')"
        " ELSE 1 END AS ok)"
    )
    return ctes, prev


def _cc_sql(edges: str) -> str:
    ctes, prev = _cc_label_ctes(edges)
    # members bounded to the 100 smallest ids, mirroring
    # operators/graph.py cluster_summary MEMBER_SAMPLE_N
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT lbl AS cluster_id, COUNT(*) AS cluster_size,
       CAST(list_slice(list_sort(list(node)), 1, 100) AS VARCHAR) AS members
FROM {prev}, guard
WHERE guard.ok = 1
GROUP BY lbl
"""
    )


def _dedup_clusters_oracle() -> str:
    from tpg_weather_etl_spark.queries_text import SQL_MINHASH_PAIRS
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    return _cc_sql(f"SELECT doc_a, doc_b FROM ({inner})")


def _embedding_dedup_clusters_oracle() -> str:
    from tpg_weather_etl_spark.queries_embeddings import SQL_EMBEDDING_NEARDUP
    inner = SQL_EMBEDDING_NEARDUP.strip().rstrip(";")
    return _cc_sql(f"SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({inner})")


# ---------------------------------------------------------------------------
# Keeper selection: the FINAL step of a dedup pipeline — per near-dup
# cluster, decide which document survives. Rule: longest document wins
# (the standard "keep the most complete copy" heuristic), ties broken
# by lowest doc_id (H2 tie rule).
# ---------------------------------------------------------------------------

def q_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, keeper_doc_id, keeper_n_chars, n_members) for each
    MinHash near-dup cluster.

    Scale shape: labels ⋈ documents is a per-doc equi join; the keeper
    argmax is a row_number window on cluster whose hash partitioning
    the member-count groupBy reuses — one shuffle after the join, no
    collect, no per-cluster materialization.
    """
    from pyspark.sql import Window

    from tpg_weather_etl_spark.operators.graph import (
        connected_components_min_label,
    )

    labels = connected_components_min_label(_edges(spark, sf_dir),
                                            reuse=True)
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = labels.join(d, labels.doc == d.doc_id).select(
        "doc", "cluster", "n_chars")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc"))
    ranked = m.withColumn("__rk", F.row_number().over(w))
    sizes = m.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"))
    return (
        ranked.filter(F.col("__rk") == 1)
        .join(sizes, "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            F.col("doc").alias("keeper_doc_id"),
            F.col("n_chars").cast("long").alias("keeper_n_chars"),
            "n_members",
        )
    )


def _dedup_keeper_oracle() -> str:
    from tpg_weather_etl_spark.queries_text import SQL_MINHASH_PAIRS
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    ctes, prev = _cc_label_ctes(f"SELECT doc_a, doc_b FROM ({inner})")
    return (
        "WITH " + ",\n".join(ctes) + f""",
mem AS (SELECT l.lbl, l.node, d.n_chars
        FROM {prev} l JOIN documents d ON d.doc_id = l.node),
ranked AS (SELECT lbl, node, n_chars,
             row_number() OVER (PARTITION BY lbl
                                ORDER BY n_chars DESC, node ASC) AS rk
           FROM mem),
sizes AS (SELECT lbl, COUNT(*) AS n_members FROM mem GROUP BY lbl)
SELECT r.lbl AS cluster_id, r.node AS keeper_doc_id,
       CAST(r.n_chars AS BIGINT) AS keeper_n_chars, s.n_members
FROM ranked r JOIN sizes s USING (lbl), guard
WHERE r.rk = 1 AND guard.ok = 1
"""
    )


# ---------------------------------------------------------------------------
# Source-mix diagnostics: per-source language entropy — the "is this
# source monolingual boilerplate or a broad mix" signal used when
# weighting corpus sources. ln parity follows the unigram-LM rule:
# round each transcendental term to 6 BEFORE the exact decimal sum.
# ---------------------------------------------------------------------------

def q_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's language distribution.

    Scale shape: one (source, lang) map-side-combined count, one tiny
    per-source rollup, a co-partitioned join on source, one final agg
    — nothing holds more than (sources × languages) rows after the
    first combine.
    """
    d = t(spark, sf_dir, "documents").select("source", "lang")
    cnt = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("n_docs"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("c") / F.col("n_docs")
    term = F.round(-p * F.log(p), 6).cast("decimal(24,8)")
    return (
        cnt.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_langs").alias("n_langs"),
            (F.sum(term).cast("double") + 0.0).alias("lang_entropy"),
        )
    )


SQL_SOURCE_LANG_ENTROPY = """
WITH c AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
               COUNT(*) AS n_langs
        FROM c GROUP BY 1)
SELECT source, MAX(n_docs) AS n_docs, MAX(n_langs) AS n_langs,
  CAST(SUM(CAST(round(-(c.c / tot.n_docs) * ln(c.c / tot.n_docs), 6)
           AS DECIMAL(24,8))) AS DOUBLE) + 0.0 AS lang_entropy
FROM c JOIN tot USING (source)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dedup APPLY: materialize the surviving corpus — every document not
# in a near-dup cluster, plus each cluster's keeper (longest doc, H2
# tie rule). The final step of the detect → cluster → keeper pipeline.
# ---------------------------------------------------------------------------

def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_chars) of the deduplicated corpus.

    Scale shape: the loser set is near-dup-cluster-sized (tiny
    relative to the corpus), so the final left_anti join broadcasts
    losers and the corpus itself NEVER shuffles — applying dedup to
    100 TB is one broadcast anti-join over the scan.
    """
    from pyspark.sql import Window

    from tpg_weather_etl_spark.operators.graph import (
        connected_components_min_label,
    )

    labels = connected_components_min_label(_edges(spark, sf_dir),
                                            reuse=True)
    d = t(spark, sf_dir, "documents")
    m = labels.join(d.select("doc_id", "n_chars"),
                    labels.doc == F.col("doc_id")).select(
        "doc", "cluster", "n_chars")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc"))
    losers = (m.withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") > 1)
              .select(F.col("doc").alias("doc_id")))
    return (
        d.join(losers, "doc_id", "left_anti")
        .select("doc_id", "lang", "source",
                F.col("n_chars").cast("long").alias("n_chars"))
    )


def _dedup_apply_oracle() -> str:
    from tpg_weather_etl_spark.queries_text import SQL_MINHASH_PAIRS
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    ctes, prev = _cc_label_ctes(f"SELECT doc_a, doc_b FROM ({inner})")
    return (
        "WITH " + ",\n".join(ctes) + f""",
mem AS (SELECT l.lbl, l.node, d.n_chars
        FROM {prev} l JOIN documents d ON d.doc_id = l.node),
ranked AS (SELECT lbl, node,
             row_number() OVER (PARTITION BY lbl
                                ORDER BY n_chars DESC, node ASC) AS rk
           FROM mem)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d, guard
WHERE guard.ok = 1
  AND d.doc_id NOT IN (SELECT node FROM ranked WHERE rk > 1)
"""
    )


# ---------------------------------------------------------------------------
# Composed end-to-end curation pipeline: lang -> quality -> exact
# dedup -> near-dup apply -> decontaminate -> pack, as ONE gate query
# with per-stage survivor counts. Every stage is the registry's own
# operator (joined on doc_id, never re-derived), so this pins the
# STAGES' INTERACTION — the one thing the individual gates can't see.
# ---------------------------------------------------------------------------

def q_curation_e2e(spark: SparkSession, sf_dir: str,
                   near_dup: str = "uncapped") -> DataFrame:
    """One-row funnel of the full pretraining curation pipeline:
    total -> language filter -> Gopher quality -> exact-dedup keeper
    -> MinHash near-dup survivor -> decontaminated, plus the packing
    summary of the final corpus (token mass and number of PACK_CAP
    sequences the survivors fill).

    ``near_dup`` picks the near-dup stage per corpus profile
    (SCALE.md rule 11.4, VERDICT r9 item 3):
    - ``"uncapped"`` (default, the gate's oracle-pinned behavior):
      exact banded-LSH recall, candidate volume can grow
      quadratically on boilerplate-heavy corpora;
    - ``"capped"``: the hot-band-bucket-capped variant — bounded
      candidate work on ANY corpus, trades mega-cluster recovery;
    - ``"auto"``: consult ``boilerplate_prefixes`` (one bounded
      per-source collect — rows = number of sources) and use the
      capped path iff any source's dominant prefix share is >=
      ``BOILER_HOT_SHARE`` — the templated-source signature whose
      header buckets are exactly what goes quadratic.

    Scale shape: the corpus is scanned by the underlying stage
    operators; this query adds only doc_id/fp-keyed joins against
    per-doc flag tables plus two BOUNDED left joins (the near-dup
    loser set and the contaminated set are cluster-/hit-sized, tiny
    next to the corpus — AQE broadcasts them), and one global
    conditional-sum aggregate. Nothing corpus-sized shuffles that the
    stages didn't already shuffle.
    """
    from tpg_weather_etl_spark.functions.text import (
        doc_fingerprint,
        token_count,
    )
    from tpg_weather_etl_spark.operators.graph import (
        connected_components_min_label,
    )
    from tpg_weather_etl_spark.queries_text import (
        PACK_CAP,
        q_contamination_ngrams,
        q_fingerprint_dedup,
        q_gopher_quality,
        q_lang_quality,
    )

    if near_dup not in ("uncapped", "capped", "auto"):
        raise ValueError(f"near_dup must be uncapped|capped|auto, "
                         f"got {near_dup!r}")
    capped = near_dup == "capped"
    if near_dup == "auto":
        from tpg_weather_etl_spark.queries_text import (
            q_boilerplate_prefixes,
        )
        # bounded collect: one row per SOURCE (a handful), not per doc
        shares = q_boilerplate_prefixes(spark, sf_dir).select(
            "share").collect()
        capped = any(r["share"] >= BOILER_HOT_SHARE for r in shares)

    d = t(spark, sf_dir, "documents")
    lq = q_lang_quality(spark, sf_dir).select("doc_id", "lang_pred")
    gq = q_gopher_quality(spark, sf_dir).select("doc_id", "keep")
    fpk = q_fingerprint_dedup(spark, sf_dir).select("fp", "keeper_doc_id")

    labels = connected_components_min_label(
        _edges(spark, sf_dir, capped=capped), reuse=True)
    m = labels.join(d.select("doc_id", "n_chars"),
                    labels.doc == F.col("doc_id")).select(
        "doc", "cluster", "n_chars")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc"))
    losers = (m.withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") > 1)
              .select(F.col("doc").alias("doc_id"),
                      F.lit(True).alias("is_loser")))
    contam = q_contamination_ngrams(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("contaminated"))

    flags = (
        d.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"),
                 token_count(F.col("text")).alias("n_tok"))
        .join(lq, "doc_id")
        .join(gq, "doc_id")
        .join(fpk, "fp")
        .join(losers, "doc_id", "left")
        .join(contam, "doc_id", "left")
    )
    s1 = F.col("lang_pred") != "other"
    s2 = s1 & F.col("keep")
    s3 = s2 & (F.col("doc_id") == F.col("keeper_doc_id"))
    s4 = s3 & F.col("is_loser").isNull()
    s5 = s4 & F.col("contaminated").isNull()
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(s1.cast("long")).alias("n_lang_ok"),
        F.sum(s2.cast("long")).alias("n_quality_ok"),
        F.sum(s3.cast("long")).alias("n_exact_kept"),
        F.sum(s4.cast("long")).alias("n_neardup_kept"),
        F.sum(s5.cast("long")).alias("n_clean"),
        F.sum(F.when(s5, F.col("n_tok")).otherwise(F.lit(0)))
        .alias("n_tokens_final"),
        F.ceil(F.sum(F.when(s5, F.col("n_tok")).otherwise(F.lit(0)))
               / F.lit(PACK_CAP)).alias("n_sequences"),
    )


def _curation_e2e_oracle() -> str:
    from tpg_weather_etl_spark.queries_text import (
        PACK_CAP,
        SQL_CONTAMINATION_NGRAMS,
        SQL_FINGERPRINT_DEDUP,
        SQL_GOPHER_QUALITY,
        SQL_LANG_QUALITY,
        SQL_MINHASH_PAIRS,
    )

    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    ctes, prev = _cc_label_ctes(f"SELECT doc_a, doc_b FROM ({inner})")
    return (
        "WITH " + ",\n".join(ctes) + f""",
mem AS (SELECT l.lbl, l.node, d.n_chars
        FROM {prev} l JOIN documents d ON d.doc_id = l.node),
ranked AS (SELECT lbl, node,
             row_number() OVER (PARTITION BY lbl
                                ORDER BY n_chars DESC, node ASC) AS rk
           FROM mem),
losers AS MATERIALIZED (SELECT node AS doc_id FROM ranked WHERE rk > 1),
contam AS MATERIALIZED (SELECT doc_id FROM ({SQL_CONTAMINATION_NGRAMS})),
flags AS (
  SELECT d.doc_id,
    lq.lang_pred != 'other' AS s1,
    gq.keep AS qok,
    d.doc_id = fpk.keeper_doc_id AS ek,
    d.doc_id IN (SELECT doc_id FROM losers) AS is_loser,
    d.doc_id IN (SELECT doc_id FROM contam) AS is_contam,
    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tok
  FROM documents d
  JOIN ({SQL_LANG_QUALITY}) lq ON lq.doc_id = d.doc_id
  JOIN ({SQL_GOPHER_QUALITY}) gq ON gq.doc_id = d.doc_id
  JOIN ({SQL_FINGERPRINT_DEDUP}) fpk
    ON fpk.fp = md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))))
SELECT COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_ok,
  CAST(SUM(CASE WHEN s1 AND qok THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality_ok,
  CAST(SUM(CASE WHEN s1 AND qok AND ek THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_kept,
  CAST(SUM(CASE WHEN s1 AND qok AND ek AND NOT is_loser
           THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_kept,
  CAST(SUM(CASE WHEN s1 AND qok AND ek AND NOT is_loser
                 AND NOT is_contam THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clean,
  CAST(SUM(CASE WHEN s1 AND qok AND ek AND NOT is_loser
                 AND NOT is_contam THEN n_tok ELSE 0 END) AS BIGINT)
    AS n_tokens_final,
  CAST(ceil(SUM(CASE WHEN s1 AND qok AND ek AND NOT is_loser
                      AND NOT is_contam THEN n_tok ELSE 0 END)
            / {PACK_CAP}.0) AS BIGINT) AS n_sequences
FROM flags, guard WHERE guard.ok = 1
"""
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): KMeans cells bound the quadratic,
# within-cell cosine >= tau pairs form the semantic-duplicate graph,
# connected components resolve groups, min-id keeper survives.
# ---------------------------------------------------------------------------

SEM_TAU = 0.35


def _semantic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc=vec_id, cluster=min-id keeper) for every vector in a
    semantic-dup group — the shared core of the SemDeDup pipeline
    (Abbas et al. 2023): KMeans cells bound the pairwise cosine work
    to ~n²/k per cell; the intra-cell pair graph resolves via the
    per-cell union-find in ONE shuffle (pairs never cross cells by
    construction, so the O(log d) global loop — ~16 driver-scheduled
    rounds on these sparse chain-y graphs at sf0.1 — is pure
    overhead; measured 10.2s → 6.5s)."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    from tpg_weather_etl_spark.operators.graph import (
        connected_components_partitioned,
    )
    from tpg_weather_etl_spark.functions.vectors import l2_norm
    from tpg_weather_etl_spark.queries_embeddings import (
        _cell_topm,
        _cos_rounded_norms,
        _spread_small_scan,
        kmeans_centroids,
    )

    e = t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(spark, e, cache_key=sf_dir)
    # plain (non-replicated) cell assignment — the vector's single
    # best cell, computed MAP-ONLY by _cell_topm (optimization r14:
    # the former window-ranked k× affinity explosion and its Exchange
    # are gone); persisted because the self-join consumes it twice,
    # at storage width (the projection's cast+norm are dropped here).
    # Persisted HASH-PARTITIONED ON CELL: the intra-cell self-join
    # below then reads both sides co-partitioned from the cache and
    # plans with ZERO join exchanges (one corpus exchange at build vs
    # two at join, and the n²/k-pair cosine verify — the family's
    # dominant cost — keeps its parallelism even when the corpus scan
    # is a single split, which is exactly what happens at gate SFs:
    # without this the map-only build inherits the 1-split layout and
    # AQE streams the whole verify through ONE task; measured 2x on
    # the keeper, probe stage 4.2 s/1 task).
    asg = track(
        _cell_topm(_spread_small_scan(spark, e, sf_dir), cent, 1)
        .select("vec_id", "embedding",
                F.col("cells")[0]["cell"].alias("cell"))
        .repartition(F.col("cell"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # MIXED hoist (opt r14 batch 2): the l2 norm moves to the
    # join-side row projections (once per row, not per pair) but the
    # embedding stays at storage width — both sides of the intra-cell
    # self-join cross a hash Exchange on cell, and a pre-cast double
    # array would double those shuffle bytes (50k probe evidence in
    # OPTIMIZATION_r14.md). The per-pair expression is the single
    # cast-inline dot product — bit-identical, see
    # functions.vectors.cosine_from_norms.
    a = asg.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("emb_a"),
                   l2_norm(F.col("embedding")).alias("na"), "cell")
    b = asg.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("emb_b"),
                   l2_norm(F.col("embedding")).alias("nb"),
                   F.col("cell").alias("cell_b"))
    # Persisted (optimization r14): the intra-cell cosine self-join is
    # the dominant cost of the SemDeDup family (n²/k 64-dim dot
    # products per cell) and BOTH the keeper and the apply query build
    # this identical plan — track()'s plan-equality dedup resolves the
    # second builder to one cache entry, so the pairwise pass runs
    # once per sweep instead of once per consumer. The pair list
    # itself is group-edge-sized (tiny next to the corpus), so the
    # cache is cheap at any scale.
    pairs = track(
        a.join(b, (F.col("cell") == F.col("cell_b"))
               & (F.col("vec_a") < F.col("vec_b")))
        .select("cell", "vec_a", "vec_b",
                _cos_rounded_norms(F.col("emb_a"), F.col("emb_b"),
                                   F.col("na"), F.col("nb")).alias("cos"))
        .filter(F.col("cos") >= SEM_TAU)
        .select("cell", "vec_a", "vec_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return connected_components_partitioned(pairs, part_col="cell",
                                            src="vec_a", dst="vec_b")


def q_semantic_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(keeper_vec_id, n_members) per semantic-duplicate group.
    Min-id keeper means the CC label IS the keeper — no second pass.
    Full value-hash oracle: the deterministic fitted centers are
    inlined as a VALUES CTE (same machinery as kmeans_ivf_topk) and
    the CC label CTEs mirror the propagation."""
    labels = _semantic_labels(spark, sf_dir)
    return (
        labels.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("cluster").alias("keeper_vec_id"), "n_members")
    )


def q_semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label) of the SemDeDup-surviving embedding corpus —
    every vector outside any semantic-dup group plus each group's
    min-id keeper. Because the CC label IS the keeper id, the loser
    set is simply rows with doc ≠ cluster: group-sized, so applying
    the dedup at 100 TB is one broadcast anti-join over the scan (the
    corpus itself never shuffles), the same shape as ``dedup_apply``.
    """
    labels = _semantic_labels(spark, sf_dir)
    losers = labels.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias("vec_id")
    )
    e = t(spark, sf_dir, "embeddings")
    return e.join(losers, "vec_id", "left_anti").select("vec_id", "label")


_SEM_ORACLE_MEMO: dict[tuple, tuple[str, str]] = {}


def _semantic_label_with_clause() -> tuple[str, str]:
    """(WITH-body, final-label-CTE-name) shared by the keeper and
    apply oracles: fitted centers as literals, the same assignment,
    within-cell pair filter, and CC label CTEs. Memoized per
    (sf_dir, data signature)."""
    import os

    from tpg_weather_etl_spark.queries_embeddings import (
        _DEFAULT_ORACLE_SF,
        ORACLE_SF_ENV,
        _data_signature,
        fit_kmeans_local,
    )

    sf_dir = os.environ.get(ORACLE_SF_ENV, _DEFAULT_ORACLE_SF)
    memo_key = (sf_dir, _data_signature(sf_dir))
    hit = _SEM_ORACLE_MEMO.get(memo_key)
    if hit is not None:
        return hit
    centers = fit_kmeans_local(sf_dir)
    values = ",\n  ".join(
        f"({cell}, CAST([{', '.join(repr(x) for x in ce)}] AS DOUBLE[]))"
        for cell, ce in centers
    )
    head = f"""cent(cell, ce) AS (VALUES
  {values}),
emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
cscore AS (
  SELECT vec_id, e, cell,
    round(list_dot_product(e, ce)
          / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))),
          6) + 0.0 AS cos_c
  FROM emb CROSS JOIN cent),
casg AS (
  SELECT vec_id, e, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cos_c DESC, cell ASC) AS rn
    FROM cscore) WHERE rn = 1),
spairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM casg a JOIN casg b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) + 0.0
        >= {SEM_TAU})"""
    # The within-cell cosine graph chains far longer than the near-dup
    # graphs (sparse random intra-cell edges form 100+-node path-like
    # components; measured 16 propagation rounds at sf0.1 — the
    # label-pointer jump is ~path-halving, not strict doubling). 20
    # rounds matches the Spark side\'s default budget; the guard
    # still errors on anything deeper.
    ctes, prev = _cc_label_ctes("SELECT doc_a, doc_b FROM spairs",
                                rounds=20)
    parts = ("WITH " + head + ",\n" + ",\n".join(ctes), prev)
    _SEM_ORACLE_MEMO[memo_key] = parts
    return parts


def sql_semantic_dedup_keeper() -> str:
    with_clause, prev = _semantic_label_with_clause()
    return with_clause + f"""
SELECT l.lbl AS keeper_vec_id, COUNT(*) AS n_members
FROM {prev} l, guard
WHERE guard.ok = 1
GROUP BY l.lbl
"""


def sql_semantic_dedup_apply() -> str:
    with_clause, prev = _semantic_label_with_clause()
    return with_clause + f"""
SELECT e.vec_id, e.label
FROM embeddings e, guard
WHERE guard.ok = 1
  AND e.vec_id NOT IN (SELECT node FROM {prev} WHERE node <> lbl)
"""


# ---------------------------------------------------------------------------
# Part co-purchase graph (shared by the triangle / PageRank / degree
# queries): parts are adjacent iff some order contains both
# ---------------------------------------------------------------------------

def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) undirected edge list. Per-order pair
    expansion — bounded by max basket size (a constant at any SF), a
    co-partitioned self-join on l_orderkey, never quadratic."""
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").distinct()
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .select(F.col("a.l_partkey").alias("u"),
                F.col("b.l_partkey").alias("v"))
        .distinct()
    )


_SQL_COPURCHASE_EDGES = """
pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pr a JOIN pr b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
"""


def copurchase_edges_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracked persisted canonical edge list — the shared reuse point
    of the WHOLE graph family (optimization r14). Five gate queries
    (degree_distribution, pagerank_parts, part_triangles,
    clustering_coeff, edge_jaccard) build the identical co-purchase
    self-join; track()'s plan-equality dedup resolves them to ONE
    cache entry per sweep, so the lineitem self-join + distinct runs
    once instead of once per consumer. Same pattern as the minhash
    shingle/signature caches: the edge list is the natural reuse
    point of every co-occurrence-graph DAG."""
    from tpg_weather_etl_spark.caching import track
    return track(_copurchase_edges(spark, sf_dir).persist())


# ---------------------------------------------------------------------------
# Triangle counting on the part co-purchase graph (degree-oriented)
# ---------------------------------------------------------------------------

# Heavy-hitter apex split (round 11, VERDICT r10 item 3): max oriented
# edges the wedge self-join keeps on the BUILD side of one shuffle key.
# Degree orientation bounds per-apex wedge fan-out by arboricity, but
# "bounded by arboricity" still concentrates one apex's full d²/2 wedge
# enumeration in ONE task; on a power-law graph the hub apex owns the
# stage. Splitting apexes above the budget caps per-key join output at
# ~budget·d (linear in d, not quadratic) at the cost of replicating the
# probe side of hot apexes ceil(d/budget)×. 256 keeps the split inert
# at gate SFs (max oriented out-degree ≲ budget there) and engages
# exactly on the hubs the split exists for.
WEDGE_APEX_BUDGET = 256


def _oriented_triangles(spark: SparkSession,
                        sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, triangles) of the part co-purchase graph.

    ``edges`` is the persisted canonical (u < v) list; ``triangles``
    is (apex, lo, hi) with every triangle materialized EXACTLY ONCE at
    its lowest-(degree, id) apex — the standard degree orientation, so
    wedge fan-out is arboricity-bounded, not max-degree-bounded.
    Shared by `q_part_triangles` (counts rows) and
    `q_clustering_coeff` (credits corners).

    CONSTRUCTION-TIME ACTION (ADVICE r12, deliberate): the branch
    pre-check below runs one bounded Spark job (`.first()` on a
    two-level agg) while the plan is being BUILT, so callers cannot
    build these plans schema-only or against absent data. Every
    actual caller (driver gate, bench, check_oracle, the pytest
    plan-budget/plan-lint suites) builds against real testdata, and
    the branch choice is frozen per-build by design — the choice must
    match the data the plan will run on, and a stale choice would
    silently reintroduce exactly the d² hub blowup the split exists
    to prevent.

    Skew guard (CONDITIONAL since round 12): when any apex's oriented
    out-degree exceeds WEDGE_APEX_BUDGET — detected by one bounded
    scalar agg on the persisted oriented edge list — that apex's
    wedge enumeration is SPLIT across ceil(out-degree / budget)
    shuffle keys: the w1 side takes a deterministic per-edge salt
    (hash of the low endpoint mod n_salts), the w2 side replicates
    each edge to every salt of its apex, and the join key becomes
    (src, salt). Each unordered (lo, hi) pair still meets exactly
    once (at lo's salt), so the output is identical; per-key output
    drops from d²/2 to ≤ budget·d. Hub-free graphs (every oriented
    out-degree ≤ budget, the common case after orientation) skip the
    salt machinery entirely — round 11 paid an unconditional window
    shuffle + explode here, measured ~1.5-1.8x on hub-free sf0.1.
    """
    from tpg_weather_etl_spark.caching import track
    # The edge list feeds four consumers (both degree scans, the wedge
    # self-join, and the closing-edge probe); without a persist each
    # consumer replans the full co-purchase self-join (observed: a
    # 49-exchange plan). Shared family-wide via copurchase_edges_shared.
    e = copurchase_edges_shared(spark, sf_dir)
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    e2 = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")),
               "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")),
              "v"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = track(e2.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"))
        .persist())
    # Engage the apex split ONLY when some apex actually exceeds the
    # budget (round 12, VERDICT r11 item 1): the round-11 version paid
    # a full edge-list window shuffle + explode(sequence) on EVERY
    # run, measured ~1.5-1.8x on hub-free sf0.1 where ns = 1
    # everywhere and the split buys nothing. The pre-check is one
    # bounded scalar agg over the persisted oriented list (map-side
    # combined groupBy + max -> 1 driver row); it also warms the
    # persist the wedge join reads. Exactness of BOTH branches is
    # pinned: the forced-budget clique + edge_jaccard brute-force
    # tests engage the salted path, the sf0.001/0.01 oracle parity
    # runs the plain path.
    max_out = (oriented.groupBy("src").agg(F.count("*").alias("od"))
               .agg(F.max("od").alias("m")).first()["m"]) or 0
    from pyspark import StorageLevel
    if max_out <= WEDGE_APEX_BUDGET:
        # hub-free: EDGE-ITERATOR enumeration over per-apex sorted
        # out-neighbor arrays (optimization r14, guide §2.3/§2.4 —
        # "shuffle fewer bytes / remove the shuffle of the big
        # intermediate"). The classic wedge self-join materializes and
        # SHUFFLES every wedge (41.1M rows at sf0.1) into the
        # closing-edge probe; but a triangle is exactly one oriented
        # path a→b→c, so intersecting N+(a) ∩ N+(b) per oriented edge
        # (a→b) finds each triangle once — same (apex, lo, hi)
        # multiset, proven by the unchanged orientation-free oracle —
        # while non-closing wedges never exist as rows. The arrays are
        # budget-bounded (≤ WEDGE_APEX_BUDGET elements, this branch's
        # precondition), so rows stay small; measured 26.3s → 4.95s
        # for the tri build at sf0.1 (plans/r14/part_triangles_*).
        adj = track(
            oriented.groupBy("src")
            .agg(F.array_sort(F.collect_list("dst")).alias("nb"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        au = adj.select(F.col("src").alias("ju"), F.col("nb").alias("nu"))
        av = adj.select(F.col("src").alias("jv"), F.col("nb").alias("nv"))
        # inner joins: an edge whose dst has no out-neighbors closes
        # no triangle and drops here, exactly as it found no closing
        # edge in the wedge formulation
        tri = track(
            oriented.join(au, F.col("src") == F.col("ju"))
            .join(av, F.col("dst") == F.col("jv"))
            .select(F.col("src").alias("apex"),
                    F.col("dst").alias("b"),
                    F.explode(F.array_intersect(
                        F.col("nu"), F.col("nv"))).alias("c"))
            .select("apex",
                    F.least("b", "c").alias("lo"),
                    F.greatest("b", "c").alias("hi"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        return e, tri
    else:
        # per-apex salt count from the ORIENTED out-degree (not the
        # full undirected degree — orientation is what keeps it
        # small, using du here would over-replicate hubs whose
        # out-degree is tiny). The hot-apex table is <= |E|/budget
        # rows by construction and on real power-law graphs a tiny
        # tail, so AQE converts the left join to a broadcast at
        # runtime and the big side never shuffles; no explicit
        # broadcast() hint because the bound is data-dependent — in
        # the worst case (every apex hot) SMJ is the correct
        # fallback and costs what the old unconditional window did.
        hot = (oriented.groupBy("src").agg(F.count("*").alias("od"))
               .where(F.col("od") > WEDGE_APEX_BUDGET)
               .select("src", F.ceil(F.col("od") / F.lit(
                   WEDGE_APEX_BUDGET)).cast("int").alias("ns")))
        salted = (oriented.join(hot, "src", "left")
                  .withColumn("ns", F.coalesce(F.col("ns"), F.lit(1))))
        w1 = salted.select(
            "src", "dst",
            F.pmod(F.hash("dst"), F.col("ns")).alias("salt"))
        w2 = salted.select(
            F.col("src").alias("src2"),
            F.col("dst").alias("dst2"),
            F.explode(F.sequence(F.lit(0), F.col("ns") - 1))
            .alias("salt2"))
        wedges = (
            w1.join(w2, (F.col("src") == F.col("src2"))
                    & (F.col("salt") == F.col("salt2"))
                    & (F.col("dst") < F.col("dst2")))
            .select(F.col("src").alias("apex"),
                    F.col("dst").alias("lo"),
                    F.col("dst2").alias("hi")))
    # Persisted (optimization r14): the triangle stream feeds THREE
    # gate queries (part_triangles counts rows, clustering_coeff
    # credits corners, edge_jaccard credits edges) and the wedge
    # self-join + closing-edge probe behind it is the family's
    # dominant cost. track()'s plan-equality dedup resolves all three
    # builders to ONE cache entry, so the enumeration runs once per
    # sweep instead of once per consumer. The triangle list is three
    # longs per triangle — far below the wedge join's own shuffle —
    # so the cache is cheap at any scale, and MEMORY_AND_DISK spills
    # rather than OOMs on a triangle-dense graph.
    tri = track(
        (wedges.join(e, (wedges["lo"] == e["u"])
                     & (wedges["hi"] == e["v"]))
         .select("apex", "lo", "hi"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    return e, tri


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-purchase graph (parts are adjacent iff
    some order contains both). Edge construction is per-order pair
    expansion — bounded by the max basket size (≤ ~13 parts/order in
    this data and a constant at any SF), so it's a co-partitioned
    self-join on l_orderkey, never quadratic in the table.

    Counting uses the standard DEGREE ORIENTATION with a heavy-hitter
    apex split — see `_oriented_triangles` (shared with
    `q_clustering_coeff`) for both the orientation argument and the
    per-apex salting that keeps a power-law hub from concentrating
    its whole d²/2 wedge enumeration in one task.

    Oracle: the orientation-free canonical a<b<c three-way join — an
    independent formulation, so the gate proves the oriented, salted
    enumeration counts every triangle exactly once.
    """
    e, tri = _oriented_triangles(spark, sf_dir)
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


SQL_PART_TRIANGLES = f"""
WITH {_SQL_COPURCHASE_EDGES}
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*)
        FROM e e1
        JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
"""


# ---------------------------------------------------------------------------
# PageRank, fixed-iteration, decimal-exact — the canonical iterative
# graph algorithm, with the iteration UNROLLED into the SQL oracle
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85
PAGERANK_TOPK = 25

def _pr_sum(col: F.Column) -> F.Column:
    # rank mass is < 1 per node, so the rounded sum fits DECIMAL(16,15)
    # with unscaled < 2^53 — the cast-to-double is then bit-identical
    # in both engines (the _dsum hazard at high scales).
    return (F.round(F.sum(col.cast("decimal(38,20)")), 15)
            .cast("decimal(16,15)").cast("double"))


def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by PageRank over the co-purchase graph after a
    FIXED 5 damped iterations (d=0.85).

    Scale shape: the per-iteration job is one join of the (persisted,
    degree-annotated) edge list against the current rank vector on
    src, plus a groupBy dst — both co-partitionable; the edge list is
    computed and cached ONCE across all iterations. The node and edge
    counts (teleport term + loop sizing) are ONE bounded aggregate
    over the checkpointed |V|-row degree table.

    Cross-engine determinism by induction: contributions r/outdeg are
    IEEE divisions of identical operands; their per-dst sum routes
    through exact DECIMAL(38,20) (order-independent under AQE),
    rounded to scale 15 and shrunk to DECIMAL(16,15) before the
    double cast (unscaled < 2^53 since rank mass < 1, so both
    engines' decimal→double agree); the update
    base + 0.85·s is the same double tree. So every iteration's rank
    vector is bit-identical to the oracle's, which UNROLLS the five
    iterations as a WITH-chain — no recursive CTE.

    No dangling-mass term: every node has out-edges by construction
    (nodes are edge endpoints, edges are symmetrized).
    """
    from tpg_weather_etl_spark.operators.graph import (
        _EDGE_ROWS_PER_PARTITION,
        _MAX_LOOP_PARTITIONS,
    )
    # Same setup discipline as connected components (operators/
    # graph.py): truncate the co-purchase lineage BEFORE iterating and
    # size the loop's parallelism from the measured edge count. Unlike
    # CC (whose loop must ACT each round for its convergence check),
    # the fixed-iteration rank chain stays lazy until the loop ends.
    # The undirected list materializes once (it feeds both union
    # branches AND the degree table).
    # Shared edge cache (optimization r14): resolves to the family's
    # one persisted edge list when warm (degree_distribution runs
    # first in the bench sweep). No extra localCheckpoint of the edge
    # list itself (batch 5): the persist already materializes it, and
    # everything the loop reads is truncated at the edges_deg
    # checkpoint below — the former copy wrote and re-read the full
    # list for nothing.
    und = copurchase_edges_shared(spark, sf_dir)
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # The degree table is |V| rows — checkpointing IT (tiny) lets the
    # node count, the initial rank vector and the edge annotation all
    # read one materialized agg instead of each re-deriving it
    # (batch 5; the former plan ran a full-edge distinct + checkpoint
    # just to enumerate nodes the degree agg already had).
    deg = (edges.groupBy("src").agg(F.count("*").alias("outdeg"))
           .localCheckpoint(eager=True))
    # ONE bounded action over the checkpointed |V|-row degree table
    # yields BOTH the node count and the edge count (Σ outdeg = 2|E|
    # by symmetrization) — the former separate und.count() and
    # deg.count() actions are gone (optimization r15; the deg
    # checkpoint above already materialized the shared edge persist,
    # so nothing else needed the extra pass).
    sizes = deg.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("outdeg").alias("ne")).first()
    n, n_edges = sizes["n"], int(sizes["ne"] or 0)
    parts = max(1, min(_MAX_LOOP_PARTITIONS,
                       -(-n_edges // _EDGE_ROWS_PER_PARTITION)))
    # Checkpoint the edges ALREADY hash-partitioned by src at the
    # loop's partition count: the per-iteration join then reuses this
    # layout and only the (much smaller) rank vector shuffles. A
    # mismatched count here makes every iteration reshuffle the full
    # edge list (measured 25s -> its removal is most of the win).
    edges_deg = (edges.join(deg, "src")
                 .repartition(parts, "src")
                 .localCheckpoint(eager=True))
    base = (1.0 - PAGERANK_DAMPING) / n
    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(1.0 / n).alias("r"))
    # The chain stays lazy across iterations: each rank vector feeds
    # only the next one, so one eager checkpoint after the loop runs
    # every chained stage exactly once. Checkpointing every iteration
    # measured 32 jobs / 15.3 MB shuffle against 20 jobs / 9.6 MB at
    # sf0.01 (local[4]), with the same wall time. No session conf is scoped
    # here: AQE sizes the loop's shuffles (same task count, 3% fewer
    # shuffle bytes than pinning shuffle.partitions to `parts`).
    for _ in range(PAGERANK_ITERS):
        contrib = (edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
                   .select("dst", (F.col("r") / F.col("outdeg")).alias("c")))
        s = contrib.groupBy("dst").agg(_pr_sum(F.col("c")).alias("s"))
        # No nodes-left-join (batch 5): edges are symmetrized, so
        # EVERY node has an in-edge and the contribution sum already
        # holds one row per node — the former left join +
        # coalesce(s, 0.0) was dead weight on a path it never took
        # (values bit-identical: coalesce of a non-null s is s).
        ranks = s.select(F.col("dst").alias("node"),
                         (F.lit(base) + F.lit(PAGERANK_DAMPING) * F.col("s"))
                         .alias("r"))
    ranks = ranks.localCheckpoint(eager=True)
    return (ranks.orderBy(F.desc("r"), F.asc("node"))
            .limit(PAGERANK_TOPK)
            .select(F.col("node").alias("partkey"), "r"))


def _sql_pagerank() -> str:
    d = PAGERANK_DAMPING
    its = [f"""
r0 AS (SELECT node, 1.0 / n AS r FROM nodes, nn)"""]
    for k in range(1, PAGERANK_ITERS + 1):
        its.append(f"""
s{k} AS (
  SELECT dst,
    CAST(CAST(ROUND(SUM(CAST(r / outdeg AS DECIMAL(38,20))), 15)
         AS DECIMAL(16,15)) AS DOUBLE) AS s
  FROM edges JOIN deg USING (src)
  JOIN r{k - 1} ON r{k - 1}.node = edges.src
  GROUP BY dst),
r{k} AS (
  SELECT node, (1.0 - {d}) / n + {d} * COALESCE(s, 0.0) AS r
  FROM nodes CROSS JOIN nn LEFT JOIN s{k} ON s{k}.dst = nodes.node)"""
        )
    return f"""
WITH {_SQL_COPURCHASE_EDGES.strip().rstrip()},
edges AS (SELECT u AS src, v AS dst FROM e
          UNION ALL SELECT v AS src, u AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT COUNT(*) AS n FROM nodes),{",".join(its)}
SELECT node AS partkey, r
FROM r{PAGERANK_ITERS}
ORDER BY r DESC, node ASC
LIMIT {PAGERANK_TOPK}
"""


SQL_PAGERANK_PARTS = _sql_pagerank()


# ---------------------------------------------------------------------------
# Degree distribution of the co-purchase graph — bit-length buckets
# (exact integer log2, no transcendental floor hazards)
# ---------------------------------------------------------------------------

def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram. The bucket is
    length(bin(degree)) = ⌊log2 d⌋+1 — pure integer/string ops, so no
    floor(log2(x)) ulp hazard (log2(8) can evaluate to 2.999…96 and
    floor to the wrong bucket). One groupBy over the node-degree
    table; the skew-profile input for graph-algorithm planning.
    """
    e = copurchase_edges_shared(spark, sf_dir)
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    return (deg.groupBy(F.length(F.bin(F.col("d"))).cast("int")
                        .alias("bucket"))
            .agg(F.count("*").alias("n_nodes"),
                 F.min("d").alias("min_degree"),
                 F.max("d").alias("max_degree")))


SQL_DEGREE_DISTRIBUTION = f"""
WITH {_SQL_COPURCHASE_EDGES},
deg AS (
  SELECT x, COUNT(*) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
  GROUP BY 1)
SELECT CAST(LENGTH(BIN(d)) AS INTEGER) AS bucket,
       COUNT(*) AS n_nodes,
       MIN(d) AS min_degree,
       MAX(d) AS max_degree
FROM deg
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Local clustering coefficient: per-node triangle density — the
# community-structure diagnostic that completes the graph family
# (triangles = global count, degree_distribution = skew profile,
# PageRank = centrality; lcc = how clique-like each neighborhood is,
# the standard spam/boilerplate signal on co-occurrence graphs)
# ---------------------------------------------------------------------------

LCC_TOPK = 50


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-LCC_TOPK parts by local clustering coefficient over the
    co-purchase graph: lcc(x) = 2·t(x) / (d(x)·(d(x)−1)), ties broken
    by part id.

    Per-node triangle counts reuse the DEGREE-ORIENTED, apex-split
    enumeration shared with `q_part_triangles` (`_oriented_triangles`:
    each triangle materialized exactly once at its lowest-(degree, id)
    apex — arboricity-bounded wedge fan-out, hub apexes salted across
    shuffle keys) and then credit all three corners via a
    3-way unpivot union + one count shuffle; the top-k is a
    TakeOrderedAndProject, never a global sort. The lcc double is
    2.0·t exact / an exact integer product, correctly rounded
    identically in both engines, rounded to 6dp per repo convention.

    Oracle: the orientation-free canonical a<b<c 3-join, an
    independent formulation — the gate proves the oriented
    enumeration credits every corner of every triangle exactly once.
    """
    e, tri = _oriented_triangles(spark, sf_dir)
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    # ONE pass over the triangle stream: a 3-way unionAll would
    # re-plan the wedge join per branch (21-exchange plan observed);
    # the explode is map-side and keeps the join single-consumer
    corners = tri.select(
        F.explode(F.array("apex", "lo", "hi")).alias("x"))
    tcnt = corners.groupBy("x").agg(F.count("*").alias("t"))
    lcc = F.when(
        F.col("d") >= 2,
        F.round(F.lit(2.0) * F.col("n_tri")
                / (F.col("d") * (F.col("d") - 1)), 6) + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tcnt, "x", "left")
        .select(F.col("x").alias("part"), F.col("d"),
                F.coalesce(F.col("t"), F.lit(0)).alias("n_tri"))
        .select("part", F.col("d").alias("degree"), "n_tri",
                lcc.alias("lcc"))
        .orderBy(F.desc("lcc"), F.asc("part"))
        .limit(LCC_TOPK)
    )


SQL_CLUSTERING_COEFF = f"""
WITH {_SQL_COPURCHASE_EDGES},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
tcnt AS (
  SELECT x, COUNT(*) AS t
  FROM (SELECT a AS x FROM tri UNION ALL
        SELECT b AS x FROM tri UNION ALL
        SELECT c AS x FROM tri)
  GROUP BY 1),
deg AS (
  SELECT x, COUNT(*) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
  GROUP BY 1)
SELECT deg.x AS part, deg.d AS degree,
       COALESCE(tcnt.t, 0) AS n_tri,
       CASE WHEN deg.d >= 2
            THEN round(2.0 * COALESCE(tcnt.t, 0)
                       / (deg.d * (deg.d - 1)), 6) + 0.0
            ELSE 0.0 END AS lcc
FROM deg LEFT JOIN tcnt ON tcnt.x = deg.x
ORDER BY lcc DESC, part ASC
LIMIT {LCC_TOPK}
"""


# ---------------------------------------------------------------------------
# Per-edge neighborhood Jaccard (round 11): the third aggregation
# granularity over the SAME oriented triangle enumeration — per-graph
# (part_triangles), per-node (clustering_coeff), and now per-EDGE.
# Common-neighbor counts per edge are exactly "triangles through this
# edge", the classic item-item similarity / edge-strength measure
# (recsys neighborhood models, graph denoising: drop edges whose
# endpoints share no context).
# ---------------------------------------------------------------------------

EDGE_JACCARD_TOPK = 50


def q_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-EDGE_JACCARD_TOPK co-purchase edges by neighborhood Jaccard
    J(u,v) = |N(u)∩N(v)| / |(N(u)∪N(v)) \\ {u,v}| = cn/(du+dv−2−cn),
    endpoints excluded from the union (u ∈ N(v) by edge-ness, so the
    endpoint-inclusive form double-counts the edge itself). Ties by
    (u, v).

    Common-neighbor counts reuse the DEGREE-ORIENTED, apex-split
    triangle enumeration shared with `q_part_triangles` /
    `q_clustering_coeff` (`_oriented_triangles`): every triangle
    appears exactly once, and each credits its 3 edges via ONE
    map-side explode of canonical (lo,hi) structs — the same
    single-consumer shape that kept clustering_coeff at one wedge-join
    plan. Edges with no triangles keep J=0 through the left join; the
    top-k is TakeOrderedAndProject, never a global sort. The J double
    is one division of exact bigints, 6dp-rounded per repo convention.

    Oracle: the orientation-free canonical a<b<c 3-join credits edges
    (a,b),(a,c),(b,c) — an independent formulation, so the gate proves
    the oriented enumeration credits every EDGE of every triangle
    exactly once (the corner-credit gate proved nodes).
    """
    e, tri = _oriented_triangles(spark, sf_dir)
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    pair = lambda a, b: F.struct(  # noqa: E731
        F.least(F.col(a), F.col(b)).alias("u"),
        F.greatest(F.col(a), F.col(b)).alias("v"))
    sides = tri.select(F.explode(F.array(
        pair("apex", "lo"), pair("apex", "hi"), pair("lo", "hi"),
    )).alias("s")).select("s.u", "s.v")
    cn = sides.groupBy("u", "v").agg(F.count("*").alias("n_common"))
    denom = F.col("du") + F.col("dv") - 2 - F.col("n_common")
    jac = F.when(denom > 0,
                 F.round(F.col("n_common") / denom.cast("double"), 6)
                 + F.lit(0.0)).otherwise(F.lit(0.0))
    return (
        e.join(cn, ["u", "v"], "left")
        .na.fill({"n_common": 0})
        .join(deg.select(F.col("x").alias("u"),
                         F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"),
                         F.col("d").alias("dv")), "v")
        .select("u", "v", "du", "dv", "n_common",
                jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(EDGE_JACCARD_TOPK)
    )


SQL_EDGE_JACCARD = f"""
WITH {_SQL_COPURCHASE_EDGES},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
cn AS (
  SELECT u, v, COUNT(*) AS n_common
  FROM (SELECT a AS u, b AS v FROM tri UNION ALL
        SELECT a, c FROM tri UNION ALL
        SELECT b, c FROM tri)
  GROUP BY 1, 2),
deg AS (
  SELECT x, COUNT(*) AS d
  FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
  GROUP BY 1)
SELECT e.u, e.v, du.d AS du, dv.d AS dv,
  COALESCE(cn.n_common, 0) AS n_common,
  CASE WHEN du.d + dv.d - 2 - COALESCE(cn.n_common, 0) > 0
       THEN round(COALESCE(cn.n_common, 0)
                  / CAST(du.d + dv.d - 2 - COALESCE(cn.n_common, 0)
                         AS DOUBLE), 6) + 0.0
       ELSE 0.0 END AS jaccard
FROM e
LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
JOIN deg du ON du.x = e.u
JOIN deg dv ON dv.x = e.v
ORDER BY jaccard DESC, e.u ASC, e.v ASC
LIMIT {EDGE_JACCARD_TOPK}
"""


# ---------------------------------------------------------------------------
# Market-basket lift: association strength of co-purchased part pairs
# ---------------------------------------------------------------------------

LIFT_MIN_SUPPORT = 2
LIFT_TOPK = 20


def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by LIFT = P(ab) / (P(a)·P(b)) with minimum
    pair support — the market-basket association measure, entirely in
    integer counting: lift = (cnt_ab · n_orders) / (cnt_a · cnt_b) as
    one double division of exact bigints (all products < 2⁶³ and the
    operands < 2⁵³, so the conversion and division are bit-identical
    cross-engine; rounded to 6 anyway for the display contract).

    Scale shape: pair counts ride the same bounded per-order
    self-join as the co-purchase graph; per-part counts are one
    map-side agg broadcast back onto the (much smaller) pair table;
    top-k is TakeOrderedAndProject, not a global sort.
    """
    pr = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").distinct()
    a, b = pr.alias("a"), pr.alias("b")
    pair_cnt = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("u"),
                 F.col("b.l_partkey").alias("v"))
        .agg(F.count("*").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= LIFT_MIN_SUPPORT))
    part_cnt = pr.groupBy(F.col("l_partkey").alias("x")).agg(
        F.count("*").alias("cnt"))
    n_orders = pr.agg(
        F.countDistinct("l_orderkey").alias("n"))
    lifted = (
        pair_cnt
        .join(part_cnt.select(F.col("x").alias("u"),
                              F.col("cnt").alias("cnt_a")), "u")
        .join(part_cnt.select(F.col("x").alias("v"),
                              F.col("cnt").alias("cnt_b")), "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "u", "v", "cnt_ab",
            (F.round((F.col("cnt_ab") * F.col("n")).cast("double")
                     / (F.col("cnt_a") * F.col("cnt_b")).cast("double"),
                     6) + F.lit(0.0)).alias("lift")))
    return (lifted.orderBy(F.desc("lift"), F.asc("u"), F.asc("v"))
            .limit(LIFT_TOPK))


SQL_BASKET_LIFT_PAIRS = f"""
WITH pr AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair_cnt AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS cnt_ab
  FROM pr a JOIN pr b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {LIFT_MIN_SUPPORT}),
part_cnt AS (SELECT l_partkey AS x, COUNT(*) AS cnt FROM pr GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM pr)
SELECT u, v, cnt_ab,
       round(CAST(cnt_ab * n AS DOUBLE)
             / CAST(ca.cnt * cb.cnt AS DOUBLE), 6) + 0.0 AS lift
FROM pair_cnt
JOIN part_cnt ca ON ca.x = u
JOIN part_cnt cb ON cb.x = v
CROSS JOIN nn
ORDER BY lift DESC, u ASC, v ASC
LIMIT {LIFT_TOPK}
"""


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes trained AND applied as a query — per-source
# token log-probabilities with Laplace smoothing, decimal-exact
# scoring, argmax classification, confusion matrix
# ---------------------------------------------------------------------------

NB_MIN_TOKEN_COUNT = 5


def q_nb_source_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-classification confusion matrix of a multinomial Naive
    Bayes source classifier — model TRAINING as a declarative plan:
    the "fit" is two grouped counts, the "predict" is a broadcast
    join + decimal-exact log-likelihood sum + per-doc argmax. No
    driver-side state, no iterations, no UDFs.

    Determinism: every log-prob is ln of an exact-integer ratio
    ((cnt+1)/(tot+V), identical doubles both engines) rounded to 6;
    per-doc scores sum those in DECIMAL(38,8) (order-independent
    under AQE) and the argmax orders by the DECIMAL score itself with
    a source-name tiebreak, so classification never hinges on a
    float ulp.

    Scale shape: vocab = tokens above a count floor (one map-side
    agg; the floor is the 100 TB guard — the smoothed model table is
    V×S rows, broadcastable because V is capped by the floor, not
    corpus size); scoring fans each token occurrence out by S
    sources map-side against the broadcast model; the only shuffles
    are the (doc, source) score agg and the S²-sized confusion agg.
    """
    from tpg_weather_etl_spark.caching import track
    d = t(spark, sf_dir, "documents")
    counts = token_counts_shared(spark, sf_dir)
    # vocab feeds four consumers (dt, the model grid, V, pair counts)
    # and dt three — persist both reuse points or every branch
    # replans the tokenizer subtree (23 exchanges without). dt is now
    # counts-level (doc_id, tok, tf): occurrence sums become Σ tf·x
    # at each consumer (exact — see token_counts_shared).
    vocab = track(
        counts.groupBy("tok").agg(F.sum("tf").alias("cnt"))
        .filter(F.col("cnt") >= NB_MIN_TOKEN_COUNT)
        .select("tok").persist())
    dt = track(counts.join(F.broadcast(vocab), "tok").persist())
    labeled = dt.join(d.select("doc_id", "source"), "doc_id")

    pair_cnt = labeled.groupBy("source", "tok").agg(
        F.sum("tf").alias("cnt"))
    tot = pair_cnt.groupBy("source").agg(F.sum("cnt").alias("tot"))
    v_size = vocab.agg(F.count("*").alias("v"))
    sources = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    n_total = d.agg(F.count("*").alias("n_all"))

    # smoothed model: every (source, vocab-token) cell, absent = 0
    model = (
        vocab.crossJoin(tot)
        .join(pair_cnt, ["source", "tok"], "left")
        .crossJoin(F.broadcast(v_size))
        .select(
            "source", "tok",
            (F.round(F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
                .cast("double")
                / (F.col("tot") + F.col("v")).cast("double")), 6))
            .alias("lp")))
    prior = (sources.crossJoin(F.broadcast(n_total))
             .select("source",
                     F.round(F.log(F.col("n_docs").cast("double")
                                   / F.col("n_all").cast("double")), 6)
                     .alias("lprior")))

    scores = (
        dt.join(F.broadcast(model), "tok")
        .groupBy("doc_id", "source")
        # Σ over occurrences of the same 6dp lp == tf * lp in exact
        # decimal arithmetic; cast BEFORE the multiply so every
        # addend is the decimal the occurrence-level sum would add.
        .agg(F.sum(F.col("lp").cast("decimal(38,8)") * F.col("tf"))
             .alias("llsum"))
        .join(F.broadcast(prior), "source")
        .select("doc_id", "source",
                (F.col("llsum")
                 + F.col("lprior").cast("decimal(38,8)"))
                .alias("score")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("source"))
    pred = (scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("source").alias("predicted")))
    return (d.select("doc_id", F.col("source").alias("actual"))
            .join(pred, "doc_id")
            .groupBy("actual", "predicted")
            .agg(F.count("*").alias("n_docs")))


SQL_NB_SOURCE_CONFUSION = f"""
WITH {_SQL_TOKENS},
vocab AS (SELECT tok FROM tok GROUP BY tok
          HAVING COUNT(*) >= {NB_MIN_TOKEN_COUNT}),
dt AS (SELECT doc_id, tok.tok FROM tok JOIN vocab USING (tok)),
labeled AS (SELECT dt.doc_id, dt.tok, d.source
            FROM dt JOIN documents d ON d.doc_id = dt.doc_id),
pair_cnt AS (SELECT source, tok, COUNT(*) AS cnt
             FROM labeled GROUP BY 1, 2),
tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot
        FROM pair_cnt GROUP BY 1),
v_size AS (SELECT COUNT(*) AS v FROM vocab),
model AS (
  SELECT tot.source, vocab.tok,
         round(ln(CAST(COALESCE(pair_cnt.cnt, 0) + 1 AS DOUBLE)
                  / CAST(tot.tot + v_size.v AS DOUBLE)), 6) AS lp
  FROM vocab CROSS JOIN tot CROSS JOIN v_size
  LEFT JOIN pair_cnt ON pair_cnt.source = tot.source
                    AND pair_cnt.tok = vocab.tok),
prior AS (
  SELECT source,
         round(ln(CAST(COUNT(*) AS DOUBLE)
                  / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)),
               6) AS lprior
  FROM documents GROUP BY 1),
scores AS (
  SELECT dt.doc_id, model.source,
         SUM(CAST(model.lp AS DECIMAL(38,8)))
           + CAST(ANY_VALUE(prior.lprior) AS DECIMAL(38,8)) AS score
  FROM dt JOIN model USING (tok)
  JOIN prior ON prior.source = model.source
  GROUP BY 1, 2),
pred AS (
  SELECT doc_id, source AS predicted
  FROM (SELECT doc_id, source,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, source ASC) AS rn
        FROM scores)
  WHERE rn = 1)
SELECT d.source AS actual, pred.predicted, COUNT(*) AS n_docs
FROM documents d JOIN pred ON pred.doc_id = d.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Zipf-law fit over the corpus vocabulary: distributed frequency rank
# (no single-partition ROW_NUMBER) + closed-form OLS on log-log
# ---------------------------------------------------------------------------

ZIPF_TOP = 200


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) against ln(rank) over the top-200 terms —
    the Zipf exponent of the corpus (a standard corpus-health
    diagnostic: natural text sits near slope −1; templated/boilerplate
    corpora flatten).

    The frequency rank is row_number() over the WHOLE vocabulary —
    computed with the distributed prefix sum (running count of 1 in
    (−freq, term) order, operators/prefix.py), because a global
    ROW_NUMBER window serializes the vocabulary through one task and
    a 100 TB corpus has a vocabulary that won't fit there. The OLS
    uses the same decimal-exact sufficient-statistic pattern as
    trend_by_type (logs rounded to 6 first, so both engines feed
    identical doubles in).

    Oracle: plain ROW_NUMBER() — fine at oracle SF — proving the
    prefix-rank derivation.
    """
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    tf = (token_counts_shared(spark, sf_dir)
          .groupBy("tok").agg(F.sum("tf").alias("cnt")))
    ranked = global_running_sum(
        tf.withColumn("negf", -F.col("cnt")).withColumn("one", F.lit(1)),
        ["negf", "tok"], "one", out_col="rank")
    b = (ranked.filter(F.col("rank") <= ZIPF_TOP)
         .select(
             (F.round(F.log(F.col("rank").cast("double")), 6)
              + F.lit(0.0)).alias("x"),
             (F.round(F.log(F.col("cnt").cast("double")), 6)
              + F.lit(0.0)).alias("y")))

    def dsum38(col: F.Column) -> F.Column:
        return (F.round(F.sum(col.cast("decimal(38,8)")), 4)
                .cast("decimal(18,4)").cast("double"))

    a = b.agg(
        F.count(F.lit(1)).alias("n"),
        dsum38(F.col("x")).alias("sx"),
        dsum38(F.col("y")).alias("sy"),
        dsum38(F.col("x") * F.col("y")).alias("sxy"),
        dsum38(F.col("x") * F.col("x")).alias("sxx"),
        dsum38(F.col("y") * F.col("y")).alias("syy"))
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = F.nullif(nd * F.col("sxx") - F.col("sx") * F.col("sx"),
                     F.lit(0.0))
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        "n",
        (F.round(cov_n / var_x, 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round((F.col("sy") * F.col("sxx")
                  - F.col("sx") * F.col("sxy")) / var_x, 6)
         + F.lit(0.0)).alias("intercept"),
        (F.round(cov_n * cov_n / F.nullif(
            (nd * F.col("sxx") - F.col("sx") * F.col("sx")) * var_y,
            F.lit(0.0)), 6) + F.lit(0.0)).alias("r2"))


SQL_ZIPF_SLOPE = f"""
WITH {_SQL_TOKENS},
tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
  FROM tf),
b AS (
  SELECT round(ln(CAST(rank AS DOUBLE)), 6) + 0.0 AS x,
         round(ln(CAST(cnt AS DOUBLE)), 6) + 0.0 AS y
  FROM ranked WHERE rank <= {ZIPF_TOP}),
a AS (
  SELECT COUNT(*) AS n,
    CAST(CAST(ROUND(SUM(CAST(x AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sx,
    CAST(CAST(ROUND(SUM(CAST(y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sy,
    CAST(CAST(ROUND(SUM(CAST(x*y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sxy,
    CAST(CAST(ROUND(SUM(CAST(x*x AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sxx,
    CAST(CAST(ROUND(SUM(CAST(y*y AS DECIMAL(38,8))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS syy
  FROM b)
SELECT n,
  round((n::DOUBLE*sxy - sx*sy) / NULLIF(n::DOUBLE*sxx - sx*sx, 0.0), 6)
    + 0.0 AS zipf_slope,
  round((sy*sxx - sx*sxy) / NULLIF(n::DOUBLE*sxx - sx*sx, 0.0), 6)
    + 0.0 AS intercept,
  round((n::DOUBLE*sxy - sx*sy) * (n::DOUBLE*sxy - sx*sy)
        / NULLIF((n::DOUBLE*sxx - sx*sx) * (n::DOUBLE*syy - sy*sy), 0.0), 6)
    + 0.0 AS r2
FROM a
"""


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes — the dedup diagnostic
    that distinguishes a healthy corpus (mostly pairs/triples) from a
    boilerplate mega-cluster problem (mass in one giant component,
    the STRESS_giant scenario) before any keeper policy runs. Derived
    from the same CC labels as dedup_clusters; output is bounded by
    the number of DISTINCT sizes."""
    from tpg_weather_etl_spark.operators.graph import (
        connected_components_min_label,
    )

    labels = connected_components_min_label(_edges(spark, sf_dir),
                                            reuse=True)
    sizes = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"),
             F.sum("cluster_size").alias("n_docs"))
        .orderBy("cluster_size")
    )


def _cluster_size_histogram_oracle() -> str:
    from tpg_weather_etl_spark.queries_text import SQL_MINHASH_PAIRS
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    ctes, prev = _cc_label_ctes(f"SELECT doc_a, doc_b FROM ({inner})")
    return (
        "WITH " + ",\n".join(ctes) + f""",
sizes AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM {prev}, guard WHERE guard.ok = 1 GROUP BY lbl)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""
    )


def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution —
    the concentration diagnostic next to ``zipf_slope``: natural text
    sits high (a few words dominate); a flat Gini flags synthetic or
    templated corpora, a rising one flags boilerplate takeover.

    G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over frequencies x ascending,
    with rank from the distributed prefix sum (operators/prefix.py) —
    no single-partition ROW_NUMBER over the vocabulary. Every sum is
    an exact integer routed through DECIMAL(38,0) (rank·freq products
    overflow a long only past ~10^9·10^9 — decimal holds to 38
    digits); the only doubles are the final two divisions, identical
    in both engines. Oracle uses a plain ROW_NUMBER window, proving
    the prefix-rank derivation (the zipf_slope pattern)."""
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    tf = (token_counts_shared(spark, sf_dir)
          .groupBy("tok").agg(F.sum("tf").alias("cnt")))
    ranked = global_running_sum(
        tf.withColumn("one", F.lit(1)), ["cnt", "tok"], "one",
        out_col="rank")
    a = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("cnt").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("rank").cast("decimal(38,0)")
              * F.col("cnt").cast("decimal(38,0)")).alias("srx"))
    nd = F.col("n_terms").cast("double")
    gini = (2.0 * F.col("srx").cast("double")
            / (nd * F.col("sx").cast("double"))
            - (nd + 1.0) / nd)
    return a.select(
        "n_terms",
        F.col("sx").cast("long").alias("total_tokens"),
        (F.round(gini, 6) + F.lit(0.0)).alias("gini"),
    )


SQL_TOKEN_GINI = f"""
WITH {_SQL_TOKENS},
tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
r AS (SELECT tok, cnt,
        ROW_NUMBER() OVER (ORDER BY cnt, tok) AS rank
      FROM tf),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        SUM(CAST(cnt AS DECIMAL(38,0))) AS sx,
        SUM(CAST(rank AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS srx
      FROM r)
SELECT n_terms, CAST(sx AS BIGINT) AS total_tokens,
  round(2.0 * CAST(srx AS DOUBLE)
        / (CAST(n_terms AS DOUBLE) * CAST(sx AS DOUBLE))
        - (CAST(n_terms AS DOUBLE) + 1.0) / CAST(n_terms AS DOUBLE), 6)
    + 0.0 AS gini
FROM a
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-leakage-safe train/test split: the split unit is the
    MinHash dedup CLUSTER, not the document — every member of a
    near-dup cluster lands on the same side, so no test document has a
    near-duplicate in train (the contamination mode a per-doc split
    like ``train_test_split`` cannot prevent). Singleton docs are
    their own cluster; the 80/20 assignment is the portable LCG on the
    cluster id, so the split is reproducible across engines and
    partitionings."""
    from tpg_weather_etl_spark.operators.graph import (
        connected_components_min_label,
    )
    from tpg_weather_etl_spark.operators.sampling import lcg_bucket

    labels = connected_components_min_label(_edges(spark, sf_dir),
                                            reuse=True)
    d = t(spark, sf_dir, "documents").select("doc_id")
    out = (
        d.join(labels, d.doc_id == labels.doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id"))
            .alias("cluster_id"),
        )
    )
    return out.select(
        "doc_id", "cluster_id",
        F.when(lcg_bucket(F.col("cluster_id")) < 80, "train")
        .otherwise("test").alias("split"),
    ).orderBy("doc_id")


def _cluster_split_oracle() -> str:
    from tpg_weather_etl_spark.operators.sampling import (
        deterministic_sample_sql,
    )
    from tpg_weather_etl_spark.queries_text import SQL_MINHASH_PAIRS
    inner = SQL_MINHASH_PAIRS.strip().rstrip(";")
    ctes, prev = _cc_label_ctes(f"SELECT doc_a, doc_b FROM ({inner})")
    pred = deterministic_sample_sql("cluster_id", 80)
    return (
        "WITH " + ",\n".join(ctes) + f""",
asn AS (
  SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN {prev} l ON l.node = d.doc_id)
SELECT doc_id, cluster_id,
  CASE WHEN {pred} THEN 'train' ELSE 'test' END AS split
FROM asn, guard WHERE guard.ok = 1
ORDER BY doc_id
"""
    )


KL_TOP = 50


def q_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: smoothed KL divergence of each
    source's unigram distribution from the corpus distribution, over
    the top-``KL_TOP`` corpus words — the data-mixing monitor that
    catches a source going off-distribution (template flood, language
    shift, scraper breakage) before it poisons a training mix.

    Restricting to the deterministic top-T corpus vocabulary makes the
    metric well-defined in both engines without summing an unbounded
    unseen-word tail: add-one smoothing inside the T-word simplex,
    P_s(w) = (c_sw+1)/(n_s+T) vs Q(w) = (c_w+1)/(N+T). Scale shape:
    ONE corpus-sized shuffle — the (source, tok) count, persisted as
    the shared reuse point (|S|x|V| rows, far below corpus size) —
    then every consumer (corpus top-T, per-source counts, the source
    dictionary) is a small aggregate over it; the 20x50 grid is a
    bounded dictionary cross. The ln() terms are rounded to 6dp before
    a decimal-routed sum, the house pattern for transcendental parity
    (see q_zipf_slope)."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    d = t(spark, sf_dir, "documents")
    # Shared counts joined to the (doc_id, source) projection replace
    # this query's own corpus explode (opt r14 batch 3): the join
    # moves doc-count rows, the explode moved token occurrences.
    stc = track(
        token_counts_shared(spark, sf_dir)
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source", "tok").agg(F.sum("tf").alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    top = (stc.groupBy("tok").agg(F.sum("c").alias("cw"))
           .orderBy(F.desc("cw"), "tok").limit(KL_TOP))
    tot = top.agg(F.sum("cw").alias("n_corpus"))
    sw = stc.join(F.broadcast(top.select("tok")), "tok")
    grid = (stc.select("source").distinct()
            .crossJoin(F.broadcast(top))
            .join(sw, ["source", "tok"], "left")
            .fillna({"c": 0}))
    ns = grid.groupBy("source").agg(F.sum("c").alias("n_s"))
    p = (F.col("c") + 1.0) / (F.col("n_s") + float(KL_TOP))
    q = (F.col("cw") + 1.0) / (F.col("n_corpus") + float(KL_TOP))
    term = F.round(p * F.log(p / q), 6) + F.lit(0.0)
    return (
        grid.join(ns, "source").crossJoin(F.broadcast(tot))
        .select("source", F.col("c"), term.alias("term"))
        .groupBy("source")
        .agg(F.sum("c").alias("n_top_tokens"),
             (F.round(F.sum(F.col("term").cast("decimal(38,8)")), 6)
              .cast("double") + F.lit(0.0)).alias("kl"))
        .orderBy(F.desc("kl"), "source")
    )


SQL_SOURCE_KL_DRIFT = f"""
WITH toks AS (
  SELECT source,
    unnest(string_split(
      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents),
top AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cw FROM toks
        GROUP BY 1 ORDER BY cw DESC, tok LIMIT {KL_TOP}),
tot AS (SELECT SUM(cw) AS n_corpus FROM top),
sw AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
       FROM toks JOIN top USING (tok) GROUP BY 1, 2),
grid AS (
  SELECT s.source, t.tok, t.cw, COALESCE(sw.c, 0) AS c
  FROM (SELECT DISTINCT source FROM toks) s
  CROSS JOIN top t
  LEFT JOIN sw ON sw.source = s.source AND sw.tok = t.tok),
ns AS (SELECT source, SUM(c) AS n_s FROM grid GROUP BY 1),
terms AS (
  SELECT g.source, g.c,
    round(((g.c + 1.0) / (ns.n_s + {KL_TOP}.0))
          * ln(((g.c + 1.0) / (ns.n_s + {KL_TOP}.0))
               / ((g.cw + 1.0) / (tot.n_corpus + {KL_TOP}.0))), 6) + 0.0
      AS term
  FROM grid g JOIN ns USING (source) CROSS JOIN tot)
SELECT source, CAST(SUM(c) AS BIGINT) AS n_top_tokens,
  CAST(ROUND(SUM(CAST(term AS DECIMAL(38,8))), 6) AS DOUBLE) + 0.0 AS kl
FROM terms GROUP BY source ORDER BY kl DESC, source
"""




# ---------------------------------------------------------------------------
# DSIR-style importance weights: hashed-ngram likelihood ratio of a
# target slice vs the whole corpus (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096
# the "looks like what we want" slice the raw corpus is scored
# against; any doc predicate works — a source set keeps it portable
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")


def _dsir_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, b): every unigram AND bigram occurrence,
    hashed into DSIR_BUCKETS buckets — the fixed-width feature space
    that makes the two n-gram distributions comparable without a
    vocabulary shuffle (the hashing trick of the DSIR paper)."""
    from tpg_weather_etl_spark.functions.text import (
        norm_text,
        stable_hash60,
    )

    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = (d.select("doc_id", "source",
                     F.split(norm_text(F.col("text")), " ").alias("toks"))
            .withColumn("n", F.size("toks")))
    uni = base.select(
        "doc_id", "source", F.explode("toks").alias("feat"))
    bi = (base.filter(F.col("n") >= 2)
          .select("doc_id", "source", "toks",
                  F.explode(F.sequence(F.lit(0), F.col("n") - 2))
                  .alias("i"))
          .select("doc_id", "source", F.concat_ws(
              " ",
              F.element_at("toks", (F.col("i") + 1).cast("int")),
              F.element_at("toks", (F.col("i") + 2).cast("int")),
          ).alias("feat")))
    return uni.unionByName(bi).select(
        "doc_id", "source",
        (stable_hash60(F.col("feat")) % DSIR_BUCKETS).alias("b"))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: log p_target(doc) −
    log p_corpus(doc) under hashed-ngram bag models with add-1
    smoothing — the curation score that RESAMPLES a raw corpus toward
    a target slice instead of hard-filtering it (quality filters keep
    or kill; DSIR re-weights, preserving tail diversity).

    Scale shape (SCALE.md rules 1-2): the feature stream never joins
    itself — it aggregates into two bucket tables bounded at
    DSIR_BUCKETS rows BY CONSTRUCTION (broadcastable regardless of
    corpus size), which then map-join back onto the stream; the
    per-doc score is one map-side-combinable sum. Cross-engine float
    discipline: each bucket's log-ratio term is rounded to 6 decimals
    then summed in DECIMAL(38,8) (exact, order-free), so the gate
    hash cannot drift with partitioning.

    The hashed feature stream is persisted: it feeds BOTH the bucket
    aggregation and the per-doc score join — without materialization
    the corpus is scanned and tokenized twice."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track

    feats = track(_dsir_features(spark, sf_dir)
                  .persist(StorageLevel.MEMORY_AND_DISK))
    is_tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    per_bucket = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(is_tgt.cast("long")).alias("c_tgt"))
    tot = per_bucket.agg(
        F.sum("c_all").alias("n_all"), F.sum("c_tgt").alias("n_tgt"))
    lam = (
        per_bucket.crossJoin(F.broadcast(tot))
        .select("b", F.round(
            F.log(((F.col("c_tgt") + 1.0)
                   / (F.col("n_tgt") + F.lit(float(DSIR_BUCKETS))))
                  / ((F.col("c_all") + 1.0)
                     / (F.col("n_all") + F.lit(float(DSIR_BUCKETS))))),
            6).cast("decimal(38,8)").alias("term"))
    )
    return (
        feats.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            (F.round(F.sum("term"), 6).cast("double") + F.lit(0.0))
            .alias("log_weight"),
        )
        .orderBy("doc_id")
    )


_DSIR_TGT_SQL = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

SQL_DSIR_IMPORTANCE = f"""
WITH d AS (SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS toks
           FROM documents),
feat AS (
  SELECT doc_id, source, unnest(toks) AS feat FROM d
  UNION ALL
  SELECT doc_id, source,
    unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS feat
  FROM d WHERE len(toks) >= 2),
fb AS (SELECT doc_id, source,
         ('0x' || substr(md5(feat), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
       FROM feat),
per_bucket AS (
  SELECT b, COUNT(*) AS c_all,
    SUM(CASE WHEN source IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END) AS c_tgt
  FROM fb GROUP BY b),
tot AS (SELECT SUM(c_all) AS n_all, SUM(c_tgt) AS n_tgt FROM per_bucket),
lam AS (
  SELECT b, CAST(round(ln(((c_tgt + 1.0) / (n_tgt + {DSIR_BUCKETS}.0))
                          / ((c_all + 1.0) / (n_all + {DSIR_BUCKETS}.0))),
                       6) AS DECIMAL(38,8)) AS term
  FROM per_bucket CROSS JOIN tot)
SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_feats,
  CAST(ROUND(SUM(term), 6) AS DOUBLE) + 0.0 AS log_weight
FROM fb JOIN lam USING (b)
GROUP BY doc_id, source ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Quality-filter funnel: per-stage retention of the composed Gopher
# pipeline — the first dashboard of any corpus-cleaning run
# ---------------------------------------------------------------------------

def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many documents survive each Gopher rule APPLIED IN
    SEQUENCE (token bounds → word length → punctuation → repetition):
    per stage, the in-count, out-count, and retention. Composes the
    registry's own q_gopher_quality metrics rather than re-deriving
    them; the funnel itself is ONE aggregation over the per-doc
    metric table and a 4-row unpivot — nothing corpus-sized moves."""
    from tpg_weather_etl_spark.queries_text import (
        GOPHER_MAX_PUNCT,
        GOPHER_MAX_TOP_BIGRAM,
        GOPHER_MAX_TOKENS,
        GOPHER_MAX_WORD_LEN,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_WORD_LEN,
        q_gopher_quality,
    )

    g = q_gopher_quality(spark, sf_dir)
    f1 = F.col("n_tokens").between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    f2 = f1 & F.col("mean_word_len").between(GOPHER_MIN_WORD_LEN,
                                             GOPHER_MAX_WORD_LEN)
    f3 = f2 & (F.col("punct_ratio") < GOPHER_MAX_PUNCT)
    f4 = f3 & (F.col("top_bigram_frac") < GOPHER_MAX_TOP_BIGRAM)
    agg = g.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(f1.cast("long")).alias("n1"),
        F.sum(f2.cast("long")).alias("n2"),
        F.sum(f3.cast("long")).alias("n3"),
        F.sum(f4.cast("long")).alias("n4"))
    stages = F.array(*[
        F.struct(F.lit(i + 1).alias("stage_idx"),
                 F.lit(name).alias("stage"),
                 F.col(f"n{i}").alias("n_in"),
                 F.col(f"n{i + 1}").alias("n_out"))
        for i, name in enumerate(
            ["token_bounds", "word_length", "punctuation", "repetition"])
    ])
    return (
        agg.select(F.explode(stages).alias("s")).select("s.*")
        .select(
            "stage_idx", "stage", "n_in", "n_out",
            (F.round(F.col("n_out")
                     / F.nullif(F.col("n_in").cast("double"), F.lit(0.0)),
                     6) + F.lit(0.0)).alias("retention"),
        )
        .orderBy("stage_idx")
    )


def _sql_quality_filter_funnel() -> str:
    from tpg_weather_etl_spark.queries_text import (
        GOPHER_MAX_PUNCT,
        GOPHER_MAX_TOP_BIGRAM,
        GOPHER_MAX_TOKENS,
        GOPHER_MAX_WORD_LEN,
        GOPHER_MIN_TOKENS,
        GOPHER_MIN_WORD_LEN,
        SQL_GOPHER_QUALITY,
    )
    inner = SQL_GOPHER_QUALITY.strip().rstrip(";")
    return f"""
WITH g AS ({inner}),
f AS (SELECT *,
  (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}) AS f1,
  (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
    AND (mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
         AND {GOPHER_MAX_WORD_LEN}) AS f2,
  (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
    AND (mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
         AND {GOPHER_MAX_WORD_LEN})
    AND (punct_ratio < {GOPHER_MAX_PUNCT}) AS f3,
  (n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS})
    AND (mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
         AND {GOPHER_MAX_WORD_LEN})
    AND (punct_ratio < {GOPHER_MAX_PUNCT})
    AND (top_bigram_frac < {GOPHER_MAX_TOP_BIGRAM}) AS f4
  FROM g),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM f)
SELECT stage_idx, stage, n_in, n_out,
  round(n_out / NULLIF(CAST(n_in AS DOUBLE), 0.0), 6) + 0.0 AS retention
FROM (
  SELECT 1 AS stage_idx, 'token_bounds' AS stage, n0 AS n_in, n1 AS n_out FROM a
  UNION ALL SELECT 2, 'word_length', n1, n2 FROM a
  UNION ALL SELECT 3, 'punctuation', n2, n3 FROM a
  UNION ALL SELECT 4, 'repetition', n3, n4 FROM a)
ORDER BY stage_idx
"""


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing: the alpha-smoothed sampling
# weights of multilingual/multi-source LM training (mT5 and friends)
# ---------------------------------------------------------------------------

# alpha = 0.5 on purpose: IEEE sqrt is CORRECTLY ROUNDED in every
# conforming implementation, so temp-share math is bit-identical
# across engines — a generic pow(x, alpha) is not (libm pow differs
# by ulps between JVM and C), which would make the gate hash flaky.
TEMP_MIX_ALPHA = 0.5


def q_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-scaled sampling weights: target share ∝
    (token share)^alpha — flatter than proportional (upsamples small
    sources) but not uniform. weight = target_share / actual_share is
    what a sampler multiplies into its keep probability
    (q_mixed_sample's contract). Shares sum over a k-row table;
    sqrt terms are rounded to 6 then summed in DECIMAL (order-free),
    same float discipline as q_dsir_importance."""
    from tpg_weather_etl_spark.functions.text import token_count

    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"))
    tot = per_source.agg(F.sum("n_tokens").alias("tot"))
    shared = (per_source.crossJoin(F.broadcast(tot))
              .withColumn("token_share",
                          F.col("n_tokens").cast("double") / F.col("tot"))
              .withColumn("tshare",
                          F.round(F.sqrt(F.col("token_share")), 6)
                          .cast("decimal(38,8)")))
    denom = shared.agg(F.sum("tshare").alias("z"))
    return (
        shared.crossJoin(F.broadcast(denom))
        .select(
            "source", "n_docs", "n_tokens",
            (F.round("token_share", 6) + F.lit(0.0)).alias("token_share"),
            (F.round(F.col("tshare").cast("double")
                     / F.col("z").cast("double"), 6) + F.lit(0.0))
            .alias("temp_share"),
            (F.round((F.col("tshare").cast("double")
                      / F.col("z").cast("double")) / F.col("token_share"),
                     6) + F.lit(0.0)).alias("mix_weight"),
        )
        .orderBy("source")
    )


SQL_TEMPERATURE_MIX_WEIGHTS = """
WITH per_source AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT))
         AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT SUM(n_tokens) AS tot FROM per_source),
shared AS (
  SELECT source, n_docs, n_tokens,
    CAST(n_tokens AS DOUBLE) / tot AS token_share,
    CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / tot), 6)
         AS DECIMAL(38,8)) AS tshare
  FROM per_source CROSS JOIN tot),
denom AS (SELECT SUM(tshare) AS z FROM shared)
SELECT source, n_docs, n_tokens,
  round(token_share, 6) + 0.0 AS token_share,
  round(CAST(tshare AS DOUBLE) / CAST(z AS DOUBLE), 6) + 0.0 AS temp_share,
  round((CAST(tshare AS DOUBLE) / CAST(z AS DOUBLE)) / token_share, 6)
    + 0.0 AS mix_weight
FROM shared CROSS JOIN denom ORDER BY source
"""




# ---------------------------------------------------------------------------
# Perplexity filtering apply-step: keep the docs below the corpus p90
# cross-entropy under the bigram LM — the CCNet-style "drop what the
# LM finds surprising" curation cut, as a full pipeline (model fit →
# score → distributed exact quantile → filter)
# ---------------------------------------------------------------------------

PPLX_KEEP_P = 0.9


def q_perplexity_filter_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of the perplexity cut: documents whose bigram-LM
    cross-entropy (``q_bigram_logprob``) is at or below the exact
    discrete corpus p90. The threshold is computed WITHOUT a
    single-partition window (the decile_stats discipline):
    value-frequency agg → distributed running count
    (operators/prefix.py) → the one boundary value (rank ceil(p·n))
    reduces to a 1-row broadcast. Scoring and filtering stay fully
    distributed; only the 1-row threshold crosses the driver-side
    boundary (as a broadcast, not a collect).

    The scored table is persisted: it feeds the quantile chain AND
    the final filter — unmaterialized, the whole LM scoring pipeline
    would run twice."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    x = track(q_bigram_logprob(spark, sf_dir)
              .persist(StorageLevel.MEMORY_AND_DISK))
    counts = x.groupBy("xent").agg(F.count(F.lit(1)).alias("cnt"))
    run = global_running_sum(counts, ["xent"], "cnt", out_col="cum")
    tot = counts.agg(F.sum("cnt").alias("n"))
    thr = run.join(F.broadcast(tot)).agg(
        F.min(F.when(
            F.col("cum") >= F.ceil(F.col("n") * F.lit(PPLX_KEEP_P)),
            F.col("xent"))).alias("thr"))
    return (
        x.join(F.broadcast(thr))
        .filter(F.col("xent") <= F.col("thr"))
        .select("doc_id", "n_bigrams", "xent",
                (F.round("thr", 6) + F.lit(0.0)).alias("xent_p90"))
        .orderBy("doc_id")
    )


def _sql_perplexity_filter_apply() -> str:
    inner = SQL_BIGRAM_LOGPROB.strip().rstrip(";")
    return f"""
WITH x AS ({inner}),
counts AS (SELECT xent, COUNT(*) AS cnt FROM x GROUP BY 1),
run AS (SELECT xent,
          SUM(cnt) OVER (ORDER BY xent ROWS UNBOUNDED PRECEDING) AS cum
        FROM counts),
tot AS (SELECT SUM(cnt) AS n FROM counts),
thr AS (SELECT MIN(CASE WHEN cum >= CEIL(n * {PPLX_KEEP_P})
                        THEN xent END) AS thr
        FROM run CROSS JOIN tot)
SELECT doc_id, n_bigrams, xent, round(thr, 6) + 0.0 AS xent_p90
FROM x CROSS JOIN thr
WHERE xent <= thr ORDER BY doc_id
"""


SQL_PERPLEXITY_FILTER_APPLY = _sql_perplexity_filter_apply()




# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of all token occurrences
# the top-k most frequent words cover — the tokenizer-design
# diagnostic that decides vocab size before anyone trains a BPE
# ---------------------------------------------------------------------------

COVERAGE_KS = (100, 500, 1000, 5000)


def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each k in COVERAGE_KS: how many token OCCURRENCES the k
    most frequent words cover, as a fraction of the corpus. Frequency
    rank comes from the distributed prefix sum (operators/prefix.py)
    over (cnt desc, tok) — no single-partition ROW_NUMBER over the
    vocabulary (the zipf_slope/token_gini discipline); the coverage
    sums are one broadcast join of the constant-size k table onto the
    ranked vocab plus a map-side-combined aggregate.

    tf is persisted: it feeds the rank chain AND the 1-row totals —
    unmaterialized, the corpus tokenize+count runs twice."""
    from pyspark import StorageLevel

    from tpg_weather_etl_spark.caching import track
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    tf = track(
        token_counts_shared(spark, sf_dir)
        .groupBy("tok").agg(F.sum("tf").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    ranked = global_running_sum(
        tf.withColumn("one", F.lit(1))
        .withColumn("neg_cnt", -F.col("cnt")),
        ["neg_cnt", "tok"], "one", out_col="rank")
    tot = tf.agg(F.sum("cnt").alias("total"),
                 F.count(F.lit(1)).alias("v"))
    ks = spark.createDataFrame([(k,) for k in COVERAGE_KS], "k int")
    cov = (
        ranked.join(F.broadcast(ks), F.col("rank") <= F.col("k"))
        .groupBy("k").agg(F.sum("cnt").alias("covered_tokens"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.least(F.col("k").cast("long"), F.col("v"))
            .alias("n_vocab"),
            "covered_tokens",
            (F.round(F.col("covered_tokens")
                     / F.col("total").cast("double"), 6) + F.lit(0.0))
            .alias("coverage"),
        )
        .orderBy("k")
    )


_COVERAGE_KS_SQL = ", ".join(f"({k})" for k in COVERAGE_KS)

SQL_NGRAM_COVERAGE_CURVE = f"""
WITH {_SQL_TOKENS},
tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
r AS (SELECT tok, cnt,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank
      FROM tf),
tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM tf),
ks(k) AS (VALUES {_COVERAGE_KS_SQL}),
cov AS (SELECT k, SUM(cnt) AS covered_tokens
        FROM r JOIN ks ON r.rank <= ks.k GROUP BY k)
SELECT CAST(k AS INTEGER) AS k,
  CAST(least(k, v) AS BIGINT) AS n_vocab,
  CAST(covered_tokens AS BIGINT) AS covered_tokens,
  round(covered_tokens / CAST(total AS DOUBLE), 6) + 0.0 AS coverage
FROM cov CROSS JOIN tot ORDER BY k
"""


ORACLE_DYNAMIC = {
    "curation_e2e": _curation_e2e_oracle,
    "quality_filter_funnel": _sql_quality_filter_funnel,
    "cluster_split": _cluster_split_oracle,
    "cluster_size_histogram": _cluster_size_histogram_oracle,
    "semantic_dedup_keeper": sql_semantic_dedup_keeper,
    "semantic_dedup_apply": sql_semantic_dedup_apply,
}


QUERIES = {
    "curation_e2e": q_curation_e2e,
    "cluster_split": q_cluster_split,
    "token_gini": q_token_gini,
    "cluster_size_histogram": q_cluster_size_histogram,
    "bigram_logprob": q_bigram_logprob,
    "kn_bigram_logprob": q_kn_bigram_logprob,
    "centroid_shift": q_centroid_shift,
    "source_kl_drift": q_source_kl_drift,
    "source_lang_entropy": q_source_lang_entropy,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bm25_topk": q_bm25_topk,
    "trend_by_type": q_trend_by_type,
    "bigram_topk": q_bigram_topk,
    "repetition_stats": q_repetition_stats,
    "unigram_logprob": q_unigram_logprob,
    "label_centroids": q_label_centroids,
    "embedding_zscore": q_embedding_zscore,
    "array_hof_stats": q_array_hof_stats,
    "vocab_ids": q_vocab_ids,
    "tokenized_docs": q_tokenized_docs,
    "dedup_clusters": q_dedup_clusters,
    "embedding_dedup_clusters": q_embedding_dedup_clusters,
    "dedup_keeper": q_dedup_keeper,
    "dedup_apply": q_dedup_apply,
    "semantic_dedup_keeper": q_semantic_dedup_keeper,
    "semantic_dedup_apply": q_semantic_dedup_apply,
    "part_triangles": q_part_triangles,
    "clustering_coeff": q_clustering_coeff,
    "edge_jaccard": q_edge_jaccard,
    "pagerank_parts": q_pagerank_parts,
    "degree_distribution": q_degree_distribution,
    "zipf_slope": q_zipf_slope,
    "basket_lift_pairs": q_basket_lift_pairs,
    "nb_source_confusion": q_nb_source_confusion,
    "dsir_importance": q_dsir_importance,
    "quality_filter_funnel": q_quality_filter_funnel,
    "temperature_mix_weights": q_temperature_mix_weights,
    "perplexity_filter_apply": q_perplexity_filter_apply,
    "ngram_coverage_curve": q_ngram_coverage_curve,
}

ORACLE = {
    "source_kl_drift": SQL_SOURCE_KL_DRIFT,
    "bigram_logprob": SQL_BIGRAM_LOGPROB,
    "kn_bigram_logprob": SQL_KN_BIGRAM_LOGPROB,
    "centroid_shift": SQL_CENTROID_SHIFT,
    "token_gini": SQL_TOKEN_GINI,
    "part_triangles": SQL_PART_TRIANGLES,
    "clustering_coeff": SQL_CLUSTERING_COEFF,
    "edge_jaccard": SQL_EDGE_JACCARD,
    "pagerank_parts": SQL_PAGERANK_PARTS,
    "degree_distribution": SQL_DEGREE_DISTRIBUTION,
    "zipf_slope": SQL_ZIPF_SLOPE,
    "basket_lift_pairs": SQL_BASKET_LIFT_PAIRS,
    "nb_source_confusion": SQL_NB_SOURCE_CONFUSION,
    "source_lang_entropy": SQL_SOURCE_LANG_ENTROPY,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "bm25_topk": SQL_BM25_TOPK,
    "trend_by_type": SQL_TREND_BY_TYPE,
    "bigram_topk": SQL_BIGRAM_TOPK,
    "repetition_stats": SQL_REPETITION_STATS,
    "unigram_logprob": SQL_UNIGRAM_LOGPROB,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "embedding_zscore": SQL_EMBEDDING_ZSCORE,
    "array_hof_stats": SQL_ARRAY_HOF_STATS,
    "vocab_ids": SQL_VOCAB_IDS,
    "tokenized_docs": SQL_TOKENIZED_DOCS,
    "dedup_clusters": _dedup_clusters_oracle(),
    "embedding_dedup_clusters": _embedding_dedup_clusters_oracle(),
    "dedup_keeper": _dedup_keeper_oracle(),
    "dedup_apply": _dedup_apply_oracle(),
    "dsir_importance": SQL_DSIR_IMPORTANCE,
    "temperature_mix_weights": SQL_TEMPERATURE_MIX_WEIGHTS,
    "perplexity_filter_apply": SQL_PERPLEXITY_FILTER_APPLY,
    "ngram_coverage_curve": SQL_NGRAM_COVERAGE_CURVE,
}
