"""Distributed connected components via min-label propagation with
pointer jumping — the clustering step of near-duplicate deduplication
(cluster = transitive closure of the near-dup pair graph, keep the
min-id member per cluster).

Exact. Each round propagates the min label one hop along edges AND
one hop through the label pointers themselves (path doubling), so the
distance the component minimum has travelled at least doubles per
round: convergence in O(log diameter) rounds, not O(diameter). A
10⁵-node chain converges in ~17 rounds instead of 10⁵ (stress-tested
in tests/test_graph.py). No driver-side graph state: edges and labels
stay distributed, so the operator scales to edge sets that never fit
one machine. Near-dup graphs have tiny diameter in practice (dup
clusters are cliques or short chains), so 1-2 propagation rounds is
typical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge rows per partition for the label-propagation loop. The loop's
# frames are re-partitioned from the MEASURED edge count rather than
# inheriting the parent plan's layout: a few hundred candidate pairs
# at test scale collapse to one partition (a fixed per-round cost of
# ~32-task stage scheduling otherwise dominates wall-clock), while
# billions of edges at 100 TB fan out to thousands of partitions.
# Reduce sides are AQE-coalesced either way; this sizes the cached
# map sides, which AQE cannot touch.
_EDGE_ROWS_PER_PARTITION = 65_536
_MAX_LOOP_PARTITIONS = 65_536


def connected_components_min_label(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    reuse: bool = False,
) -> DataFrame:
    """(doc, cluster) for every node in ``edges``; cluster = min
    reachable node id.

    Each round: (1) neighbor min — join labels across the symmetrized
    edge list, keep the elementwise min; (2) pointer jump — look up
    the label OF the label (l(l(d))) and keep the min again. Jumping
    preserves the invariant that every label is a reachable node id,
    and doubles propagation distance per round. The convergence check
    is folded into the localCheckpoint-ed update (one action per
    round, no second join against the previous labels);
    ``localCheckpoint`` truncates the growing lineage so round N's
    plan doesn't replay rounds 1..N-1.
    """
    # Result-handle reuse (optimization r14, OPT-IN): six gate queries
    # run this loop over the SAME persisted minhash edge list per
    # sweep (dedup_clusters/keeper/apply, cluster_split,
    # cluster_size_histogram, curation_e2e). Spark's CacheManager
    # cannot deduplicate the loop output — every run builds fresh
    # checkpoint lineage, so no two runs ever compare plan-equal —
    # hence the explicit registry in caching.py, keyed on the INPUT
    # edge plan with the same analyzed-plan/semanticHash discipline
    # (and released under the same mark/release_since scoping, so
    # bench repeat samples stay honest). Opt-in because plan equality
    # is only a safe result key for IMMUTABLE inputs: the streaming
    # per-micro-batch callers feed same-shaped plans over different
    # batch data and must never hit a stored handle.
    from tpg_weather_etl_spark.caching import lookup_result, store_result

    tag = f"cc_min_label:{src}:{dst}:{max_iter}"
    if reuse:
        hit = lookup_result(tag, edges)
        if hit is not None:
            return hit
    both = edges.select(F.col(src).alias("doc_a"),
                        F.col(dst).alias("doc_b"))
    both = both.union(
        both.select(F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"))
    )
    # Eagerly checkpoint the symmetrized edges BEFORE the loop: the
    # candidate-pair plan upstream (MinHash/LSH etc.) can be hundreds
    # of operators deep, and without truncation EVERY round's action
    # re-pays its driver-side analysis+planning even when execution
    # hits caches — measured as the dominant CC cost at test scale.
    both = both.localCheckpoint(eager=True)
    # one cheap job over the checkpointed rows sizes the loop's
    # parallelism from the actual edge count
    n_edges = both.count()
    parts = max(1, min(_MAX_LOOP_PARTITIONS,
                       -(-n_edges // _EDGE_ROWS_PER_PARTITION)))
    both = both.repartition(parts, "doc_b").cache()
    labels = (
        both.select(F.col("doc_a").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
    )
    labels, converged = _propagate(both, labels, max_iter)
    both.unpersist()
    if not converged:
        # Under-convergence means labels that LOOK final but are not
        # the component minimum — silently wrong clusters downstream.
        # Fail loudly instead (VERDICT r3 stretch task); callers on a
        # pathological high-diameter graph raise max_iter consciously.
        raise RuntimeError(
            f"connected components did not converge in {max_iter} rounds"
            " — graph diameter exceeds the iteration budget"
        )
    return store_result(tag, edges, labels) if reuse else labels


# Diagnostics: rounds the last connected_components_min_label call
# took (propagation rounds + the final zero-change round). Read by
# the convergence stress tests; not part of the operator contract.
LAST_ROUNDS = 0


def _propagate(both: DataFrame, labels: DataFrame,
               max_iter: int) -> tuple[DataFrame, bool]:
    global LAST_ROUNDS
    converged = False
    LAST_ROUNDS = 0
    for _ in range(max_iter):
        LAST_ROUNDS += 1
        neighbor_min = (
            both.join(labels, both.doc_b == labels.doc)
            .groupBy(both.doc_a.alias("doc"))
            .agg(F.min("cluster").alias("nb_cluster"))
        )
        hop = (
            labels.withColumnRenamed("cluster", "old")
            .join(neighbor_min, "doc", "left")
            .select(
                "doc", "old",
                F.least(
                    F.col("old"),
                    F.coalesce(F.col("nb_cluster"), F.col("old")),
                ).alias("mid"),
            )
        )
        # pointer jump: follow the (always-reachable) label pointer
        # one more step and keep the min. Jumping through the CURRENT
        # post-neighbor-min labels (mid), not the previous round's —
        # strictly stronger per round, and what the DuckDB oracle's
        # unroll does. On path-like graphs this is ~path-halving; on
        # cliques it's a no-op join on label-sized data.
        jump = hop.select(F.col("doc").alias("j_doc"),
                          F.col("mid").alias("j_cluster"))
        # ONE action per round: the lazy localCheckpoint materializes
        # as a side effect of the full (non-short-circuit) convergence
        # count — an eager checkpoint plus a separate count would pay
        # two job launches per round, which dominates wall-clock on
        # small graphs. The full count visits every partition, so the
        # checkpoint is completely stored before the next round reads
        # it; lineage still truncates at each round.
        updated = (
            hop.join(jump, hop.mid == jump.j_doc, "left")
            .select(
                "doc", "old",
                F.least(
                    F.col("mid"),
                    F.coalesce(F.col("j_cluster"), F.col("mid")),
                ).alias("cluster"),
            )
        ).localCheckpoint(eager=False)
        changed = (
            updated.filter(F.col("cluster") < F.col("old")).count()
        )
        labels = updated.select("doc", "cluster")
        if changed == 0:
            converged = True
            break
    return labels, converged


def connected_components_partitioned(
    edges: DataFrame,
    part_col: str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """(doc, cluster) exact connected components for an edge list
    whose edges NEVER cross values of ``part_col``.

    When the candidate generator already confines comparisons to a
    partition — SemDeDup's KMeans cells, where pairs are intra-cell by
    construction — the component graph decomposes per partition, and
    the O(log d) distributed loop (one Spark job per round) is pure
    overhead. This variant is ONE shuffle: group edges by the
    partition key and run union-find (path-halving) over each group in
    an Arrow batch. Memory is bounded by the same budget that already
    bounds the pipeline: a cell's edge list is never bigger than the
    O((n/k)²) pairwise step that produced it, so a group that fits
    that step fits this one.

    Exactness requires the no-cross-partition-edges precondition; it
    is the caller's invariant (here by construction, since every pair
    row carries the single cell both endpoints share). Label = min
    member id, identical to ``connected_components_min_label``.
    """
    import pandas as pd

    cols = edges.select(
        F.col(part_col).alias("__part"),
        F.col(src).alias("doc_a").cast("long"),
        F.col(dst).alias("doc_b").cast("long"),
    )

    def _union_find(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:     # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["doc_a"].to_numpy(),
                        pdf["doc_b"].to_numpy()):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[rb] = ra
        label: dict[int, int] = {}
        for node in parent:
            r = find(node)
            label[r] = min(label.get(r, node), node)
        return pd.DataFrame({
            "doc": list(parent.keys()),
            "cluster": [label[find(n)] for n in parent],
        })

    return cols.groupBy("__part").applyInPandas(
        _union_find, "doc long, cluster long"
    )


MEMBER_SAMPLE_N = 100


def cluster_summary(labels: DataFrame,
                    sample_n: int = MEMBER_SAMPLE_N) -> DataFrame:
    """(cluster_id, cluster_size, members) per connected component.

    ``members`` holds only the ``sample_n`` smallest member ids:
    an unbounded ``collect_list`` turns a boilerplate mega-cluster
    (10⁷ near-identical docs at 100 TB) into one giant row built by
    one task. Ranking first and collecting only rank ≤ N bounds the
    aggregation buffer itself, while ``count(*)`` stays exact over all
    members. The window's hash partitioning on ``cluster`` satisfies
    the groupBy's distribution, so the whole summary is one shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy("doc")
    return (
        labels.withColumn("__rk", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            # collect_list skips NULLs → only the sample_n smallest
            # ids ever enter the buffer
            F.sort_array(F.collect_list(
                F.when(F.col("__rk") <= sample_n, F.col("doc"))
            )).cast("string").alias("members"),
        )
        .select(F.col("cluster").alias("cluster_id"),
                "cluster_size", "members")
    )
