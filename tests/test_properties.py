"""Property-based tests (hypothesis) for the distributed operators
whose correctness claim is "equals the obvious single-node form on any
input" — randomized inputs probe boundary shapes (empty partitions,
ties, single rows, hot keys) that fixture tests miss.

Spark-session-per-example would be prohibitive; each property uses one
shared session and small row counts, with deadline disabled (JVM
first-call JIT skews timing).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=1000),
                  min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=5),
    use_bucket=st.booleans(),
)
@_settings
def test_global_running_sum_equals_single_window(spark, vals, nparts,
                                                 use_bucket):
    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    # bucket path: any monotone bounded expr over the order key
    bucket = (F.col("k") / 10).cast("long") if use_bucket else None
    got = {
        r.k: r.running_sum
        for r in global_running_sum(df, ["k"], "v", num_partitions=nparts,
                                    bucket=bucket).collect()
    }
    acc, want = 0, {}
    for i, v in enumerate(vals):
        acc += v
        want[i] = acc
    assert got == want


@given(
    pts=st.lists(st.integers(min_value=0, max_value=3600),
                 min_size=1, max_size=40),
    ivs=st.lists(
        # width may be zero or NEGATIVE: malformed intervals (end <=
        # start) must contribute zero pairs, exercising the descending-
        # sequence guard in operators/ranges.py
        st.tuples(st.integers(min_value=0, max_value=3600),
                  st.integers(min_value=-900, max_value=900)),
        min_size=1, max_size=10),
    bin_s=st.sampled_from([60, 300, 900]),
)
@_settings
def test_interval_join_equals_theta_join(spark, pts, ivs, bin_s):
    from tpg_weather_etl_spark.operators.ranges import interval_join

    t0 = dt.datetime(2024, 1, 1)
    p_df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(seconds=s)) for i, s in enumerate(pts)],
        "pid long, p_ts timestamp")
    i_df = spark.createDataFrame(
        [(j, t0 + dt.timedelta(seconds=a),
          t0 + dt.timedelta(seconds=a + w)) for j, (a, w) in enumerate(ivs)],
        "wid long, w_start timestamp, w_end timestamp")
    got = sorted(
        (r.pid, r.wid)
        for r in interval_join(p_df, i_df, "p_ts", "w_start", "w_end",
                               bin_seconds=bin_s).collect())
    want = sorted(
        (i, j)
        for i, s in enumerate(pts)
        for j, (a, w) in enumerate(ivs)
        if a <= s < a + w)
    assert got == want


@given(
    lefts=st.lists(st.integers(min_value=0, max_value=1200),
                   min_size=1, max_size=25),
    rights=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2),   # key
                  st.integers(min_value=0, max_value=1200)),  # ts sec
        min_size=1, max_size=25),
    tol_min=st.sampled_from([1, 5, 10]),
)
@_settings
def test_asof_range_equals_python_reference(spark, lefts, rights, tol_min):
    """asof_join (range form) == 'latest right ts <= left ts within
    tolerance, per key' computed naively in Python."""
    from tpg_weather_etl_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    # left rows cycle over the 3 keys; right obs are unique per
    # (key, ts) per the operator's caller contract
    left_rows = [(i, i % 3, t0 + dt.timedelta(seconds=s))
                 for i, s in enumerate(lefts)]
    seen, right_rows = set(), []
    for k, s in rights:
        if (k, s) not in seen:
            seen.add((k, s))
            right_rows.append((k, t0 + dt.timedelta(seconds=s),
                               float(len(seen))))
    l_df = spark.createDataFrame(left_rows, "event_id long, k long, "
                                            "l_ts timestamp")
    r_df = spark.createDataFrame(right_rows, "k long, r_ts timestamp, "
                                             "obs double")
    got = {r.event_id: r.obs
           for r in asof_join(l_df, r_df, "l_ts", "r_ts", on=["k"],
                              tolerance_minutes=tol_min).collect()}
    tol = dt.timedelta(minutes=tol_min)
    for i, k, lts in left_rows:
        in_range = [(rts, obs) for rk, rts, obs in right_rows
                    if rk == k and rts <= lts and rts >= lts - tol]
        want = max(in_range)[1] if in_range else None
        assert got[i] == want, f"event {i}: {got[i]} != {want}"


@given(
    gaps=st.lists(st.integers(min_value=1, max_value=4000),
                  min_size=1, max_size=50),
)
@_settings
def test_sessionize_invariants(spark, gaps):
    from tpg_weather_etl_spark.queries_scalar import SESSION_GAP_SEC

    # one user; event times from cumulative random gaps (seconds)
    ts, acc = [], 0
    for g in gaps:
        acc += g
        ts.append(acc)
    rows = [(1, i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), 1.0)
            for i, s in enumerate(ts)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    # rebuild the same window pipeline q_sessionize uses, inline on
    # the fixture frame
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    d = df.withColumn("tus", tus)
    new_s = F.when(
        F.lag("tus").over(w).isNull()
        | ((F.col("tus") - F.lag("tus").over(w))
           > SESSION_GAP_SEC * 1_000_000), 1).otherwise(0)
    sess = d.withColumn("new_s", new_s).withColumn(
        "seq", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    out = sess.groupBy("seq").agg(
        F.min("tus").alias("t0"), F.max("tus").alias("t1"),
        F.count(F.lit(1)).alias("n")).orderBy("seq").collect()

    # invariants: sessions tile the events; consecutive sessions are
    # separated by > gap; total event count preserved
    assert sum(r.n for r in out) == len(rows)
    for a, b in zip(out, out[1:]):
        assert (b.t0 - a.t1) > SESSION_GAP_SEC * 1_000_000
    # within a session, the max internal gap never exceeds the cutoff:
    # session span < n * gap is implied; check directly per event list
    by_seq = {}
    for r in sess.select("seq", "tus").collect():
        by_seq.setdefault(r.seq, []).append(r.tus)
    for seq, tt in by_seq.items():
        tt.sort()
        for x, y in zip(tt, tt[1:]):
            assert (y - x) <= SESSION_GAP_SEC * 1_000_000


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=40),
        min_size=1, max_size=12),
)
@_settings
def test_chunk_hashing_matches_python_reference(spark, texts):
    import hashlib
    import re

    from tpg_weather_etl_spark.queries_text import (
        CHUNK_TOKENS, q_chunk_dedup,
    )
    from tpg_weather_etl_spark.sources import tables

    # route the gate query's reader at a temp parquet of random docs
    rows = [(i, t_, "en", "srcX", len(t_)) for i, t_ in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: (r.n_chunks, r.n_dup_chunks)
               for r in q_chunk_dedup(spark, d).collect()}

    # python reference: same normalize → chunk → distinct → doc-freq
    def chunks_of(t_):
        norm = re.sub(r"\s+", " ", t_.lower()).strip()
        toks = norm.split(" ")
        return {
            hashlib.md5(
                " ".join(toks[g:g + CHUNK_TOKENS]).encode()
            ).hexdigest()
            for g in range(0, len(toks), CHUNK_TOKENS)
        }

    per_doc = {i: chunks_of(t_) for i, (t_) in enumerate(texts)}
    freq = {}
    for cs in per_doc.values():
        for c in cs:
            freq[c] = freq.get(c, 0) + 1
    for i, cs in per_doc.items():
        want = (len(cs), sum(1 for c in cs if freq[c] >= 2))
        assert got[i] == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=12),
    min_size=2, max_size=10))
def test_prefix_filter_candidates_are_complete(spark, docs):
    """The prefix-filter lemma, pinned mechanically: every pair with
    Jaccard ≥ τ over 3-shingles MUST appear among the prefix-index
    candidate pairs — for arbitrary corpora, not just the oracle's
    fixed testdata. (Exactness is the whole point of the PPJoin path
    vs the df-capped and MinHash variants.)"""
    from pyspark.sql import Window

    from tpg_weather_etl_spark.queries_text import (
        PJ_TAU,
        shingles_from_docs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles_from_docs(d)
    shingle_sets = {}
    for r in sh.collect():
        shingle_sets.setdefault(r.doc_id, set()).add(r.sh_hash)
    want = set()
    ids = sorted(shingle_sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = shingle_sets[ids[i]], shingle_sets[ids[j]]
            if len(a & b) / len(a | b) >= PJ_TAU:
                want.add((ids[i], ids[j]))
    # rebuild the candidate set exactly as q_prefix_jaccard_pairs does
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_ = sh.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("df"))
    ordered = sh.join(df_, "sh_hash").join(counts, "doc_id")
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh_hash"))
    pref = (ordered.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= F.col("n_sh")
                    - F.ceil(F.lit(PJ_TAU) * F.col("n_sh")) + 1)
            .select("doc_id", "sh_hash"))
    pa = pref.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh_hash").alias("sh_p"))
    pb = pref.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh_hash").alias("sh_p"))
    cand = {(r.doc_a, r.doc_b) for r in
            pa.join(pb, ["sh_p"]).filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct().collect()}
    assert want <= cand, (sorted(want - cand), sorted(cand))


def test_trend_by_type_recovers_exact_linear_fit(spark, tmp_path):
    """On synthetic exactly-linear data the grouped OLS must recover
    slope/intercept/r²=1 to rounding precision — a semantic check the
    cross-engine oracle (which would happily agree on a wrong
    formula) cannot provide."""
    import datetime as _dt

    from tpg_weather_etl_spark.queries_ml import (
        TREND_X_ORIGIN,
        q_trend_by_type,
    )

    origin = _dt.datetime.fromisoformat(TREND_X_ORIGIN)
    rows = []
    for i in range(50):
        ts = origin + _dt.timedelta(days=i)
        # y = 2.5 * days + 7  for type 'lin'; constant for 'flat'
        rows.append((i, ts, 1, "lin", 2.5 * i + 7.0, None))
        rows.append((1000 + i, ts, 2, "flat", 42.0, None))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.event_type: r
           for r in q_trend_by_type(spark, str(tmp_path)).collect()}
    lin = got["lin"]
    assert abs(lin.slope - 2.5) < 1e-6
    assert abs(lin.intercept - 7.0) < 1e-6
    assert abs(lin.r2 - 1.0) < 1e-6
    flat = got["flat"]
    # zero variance in y → r2 guard nulls out; slope exactly 0
    assert abs(flat.slope) < 1e-6
    assert flat.r2 is None


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),      # group
                  st.integers(min_value=0, max_value=50)),    # amount
        min_size=1, max_size=50),
    budget=st.integers(min_value=0, max_value=120),
)
@_settings
def test_greedy_budget_fill_equals_python_reference(spark, rows, budget):
    from tpg_weather_etl_spark.operators.budget import greedy_budget_fill

    df = spark.createDataFrame(
        [(i, g, a) for i, (g, a) in enumerate(rows)],
        "row_id long, grp long, amount long")
    got = {
        (r.grp, r.row_id): r.cum_amount
        for r in greedy_budget_fill(
            df, ["grp"], [F.col("amount").desc(), "row_id"], "amount",
            budget).collect()
    }
    # naive reference: per group, sort by (-amount, row_id), admit
    # while the inclusive running total stays within budget
    want = {}
    bygrp: dict[int, list[tuple[int, int]]] = {}
    for i, (g, a) in enumerate(rows):
        bygrp.setdefault(g, []).append((i, a))
    for g, items in bygrp.items():
        acc = 0
        for i, a in sorted(items, key=lambda t: (-t[1], t[0])):
            acc += a
            if acc > budget:
                break
            want[(g, i)] = acc
    assert got == want


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50),
                  min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=5),
    inclusive=st.booleans(),
)
@_settings
def test_global_running_max_equals_single_window(spark, vals, nparts,
                                                 inclusive):
    from tpg_weather_etl_spark.operators.prefix import global_running_max

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.running_max
        for r in global_running_max(df, ["k"], "v", num_partitions=nparts,
                                    inclusive=inclusive).collect()
    }
    want, best = {}, None
    for i, v in enumerate(vals):
        if inclusive:
            best = v if best is None else max(best, v)
            want[i] = best
        else:
            want[i] = best
            best = v if best is None else max(best, v)
    assert got == want


@given(
    pts=st.lists(st.tuples(st.integers(min_value=0, max_value=20),
                           st.integers(min_value=0, max_value=20)),
                 min_size=1, max_size=50),
)
@_settings
def test_skyline_equals_dominance_definition(spark, pts):
    # mirror of q_skyline_parts' derivation on arbitrary points:
    # minimize x, maximize y; survivors = no dominator exists
    from tpg_weather_etl_spark.operators.prefix import global_running_max

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    gm = df.groupBy("x").agg(F.max("y").alias("grp_max"))
    pm = global_running_max(gm, ["x"], "grp_max",
                            out_col="prev_max", inclusive=False)
    got = {
        r.id
        for r in df.join(pm, "x")
        .filter((F.col("y") == F.col("grp_max"))
                & (F.col("prev_max").isNull()
                   | (F.col("prev_max") < F.col("y"))))
        .collect()
    }
    want = {
        i for i, (x, y) in enumerate(pts)
        if not any(
            qx <= x and qy >= y and (qx < x or qy > y)
            for qx, qy in pts)
    }
    assert got == want


@given(
    edges=st.sets(
        st.tuples(st.integers(min_value=0, max_value=12),
                  st.integers(min_value=0, max_value=12)),
        min_size=1, max_size=40),
)
@_settings
def test_oriented_triangle_count_equals_brute_force(spark, edges):
    # same degree-oriented enumeration as q_part_triangles, on an
    # arbitrary graph; brute force counts canonical a<b<c triples
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    e = spark.createDataFrame(sorted(und), "u long, v long")
    deg = (e.select(F.col("u").alias("x"))
           .unionAll(e.select(F.col("v").alias("x")))
           .groupBy("x").agg(F.count("*").alias("d")))
    e2 = (e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")),
                 "u")
          .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")),
                "v"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = e2.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"))
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = (w1.join(w2, (F.col("w1.src") == F.col("w2.src"))
                      & (F.col("w1.dst") < F.col("w2.dst")))
              .select(F.col("w1.dst").alias("lo"),
                      F.col("w2.dst").alias("hi")))
    got = wedges.join(
        e, (wedges["lo"] == e["u"]) & (wedges["hi"] == e["v"])).count()
    nodes = sorted({n for p in und for n in p})
    want = sum(
        1
        for i, a in enumerate(nodes)
        for b in nodes[i + 1:]
        if (a, b) in und
        for c in nodes
        if c > b and (a, c) in und and (b, c) in und)
    assert got == want


@given(
    vals=st.lists(st.integers(min_value=0, max_value=20),
                  min_size=1, max_size=80),
)
@_settings
def test_decile_boundaries_match_rank_definition(spark, vals):
    # same derivation as q_decile_stats (distributed running count →
    # value at 1-based rank ceil(k·n/10)), checked against a plain
    # sorted-list reference on arbitrary multisets (heavy ties, tiny n)
    import math

    from tpg_weather_etl_spark.operators.prefix import global_running_sum

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    counts = df.groupBy("v").agg(F.count("*").alias("cnt"))
    run = global_running_sum(counts, ["v"], "cnt", out_col="cum")
    tot = counts.agg(F.sum("cnt").alias("n"))
    b = run.join(F.broadcast(tot)).agg(*[
        F.min(F.when(
            F.col("cum") >= F.ceil(F.col("n") * F.lit(k) / 10),
            F.col("v"))).alias(f"b{k}")
        for k in range(1, 10)])
    got = b.collect()[0].asDict()
    s = sorted(vals)
    n = len(s)
    want = {f"b{k}": s[math.ceil(n * k / 10) - 1] for k in range(1, 10)}
    assert got == want


@given(
    vals=st.sets(st.integers(min_value=0, max_value=300),
                 min_size=1, max_size=80),
    nparts=st.integers(min_value=1, max_value=6),
)
@_settings
def test_global_lead_equals_single_window(spark, vals, nparts):
    from tpg_weather_etl_spark.operators.prefix import global_lead

    df = spark.createDataFrame([(v,) for v in vals], "k long")
    got = {
        r.k: r.lead_val
        for r in global_lead(df, ["k"], "k",
                             num_partitions=nparts).collect()
    }
    s = sorted(vals)
    want = {v: (s[i + 1] if i + 1 < len(s) else None)
            for i, v in enumerate(s)}
    assert got == want


@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1, max_size=25),
    rounds=st.integers(min_value=1, max_value=4),
)
@_settings
def test_bpe_merge_fold_equals_python_reference(spark, words, rounds):
    """The aggregate() merge fold and the driver-side argmax loop
    reproduce the classic sequential BPE trainer exactly — greedy
    left-to-right non-overlapping application, (count desc, lhs, rhs)
    tie-break — on adversarial two-letter words where every pair
    collides with every other."""
    from collections import Counter

    # python reference on the word multiset
    freq = Counter(words)
    vocab = {w: list(w) for w in freq}
    expected = []
    for _ in range(rounds):
        pc: Counter = Counter()
        for w, f in freq.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (lhs, rhs), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        expected.append((lhs, rhs, lhs + rhs, cnt))
        for w in vocab:
            syms, out = vocab[w], []
            for x in syms:
                if out and out[-1] == lhs and x == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(x)
            vocab[w] = out

    # engine path: same loop over a DataFrame vocab
    df = spark.createDataFrame(
        [(w, int(f)) for w, f in freq.items()], "word string, freq long"
    ).withColumn("syms", F.expr("filter(split(word, ''), x -> x <> '')"))
    got = []
    pair_expr = F.expr(
        "CASE WHEN size(syms) < 2 THEN array() "
        "ELSE transform(sequence(1, size(syms)-1), "
        "i -> struct(element_at(syms, i) AS lhs, "
        "element_at(syms, i+1) AS rhs)) END")
    for _ in range(rounds):
        top = (df.select("freq", F.explode(pair_expr).alias("p"))
               .groupBy("p.lhs", "p.rhs").agg(F.sum("freq").alias("cnt"))
               .orderBy(F.desc("cnt"), "lhs", "rhs").limit(1).collect())
        if not top:
            break
        lhs, rhs, cnt = top[0].lhs, top[0].rhs, int(top[0].cnt)
        got.append((lhs, rhs, lhs + rhs, cnt))
        df = df.withColumn("syms", F.expr(
            f"aggregate(syms, cast(array() as array<string>), "
            f"(acc, x) -> CASE WHEN size(acc) > 0 "
            f"AND element_at(acc, -1) = '{lhs}' AND x = '{rhs}' "
            f"THEN concat(slice(acc, 1, size(acc)-1), "
            f"array('{lhs + rhs}')) "
            f"ELSE concat(acc, array(x)) END)"))
    assert got == expected


@given(
    counts=st.lists(st.integers(min_value=1, max_value=40),
                    min_size=1, max_size=20),
    k=st.integers(min_value=2, max_value=12),
    nparts=st.integers(min_value=1, max_value=6),
)
@_settings
def test_heavy_hitters_exact_on_any_distribution(spark, counts, k,
                                                 nparts):
    """MG candidate pruning + exact recount equals the full GROUP BY
    answer for every distribution and partitioning — including when
    every value is heavy, none is, and k exceeds the domain."""
    from tpg_weather_etl_spark.operators.heavy import heavy_hitters

    rows = [(f"v{i}",) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "v string").repartition(nparts)
    n = len(rows)
    want = {(f"v{i}", c) for i, c in enumerate(counts) if c * k > n}
    got = {(r.value, r.cnt)
           for r in heavy_hitters(df, "v", k).collect()}
    assert got == want


@given(
    n_toks=st.lists(st.integers(min_value=0, max_value=95),
                    min_size=1, max_size=8),
)
@_settings
def test_doc_chunks_equals_python_reference(spark, n_toks):
    """Chunk starts/sizes/text match the obvious sequential chunker
    for every document length around the window boundaries (0, 1,
    exactly one window, one token over, multiple strides)."""
    from tpg_weather_etl_spark.queries_text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q_doc_chunks,
    )

    docs = [(i, " ".join(f"t{j}" for j in range(n)))
            for i, n in enumerate(n_toks)]
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(pa.table({
            "doc_id": pa.array([i for i, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["s"] * len(docs)),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }), f"{d}/documents.parquet")
        got = [(r.doc_id, r.chunk_idx, r.start, r.n_tokens, r.chunk_text)
               for r in q_doc_chunks(spark, d).collect()]

    want = []
    for i, n in enumerate(n_toks):
        toks = [f"t{j}" for j in range(n)]
        # normalization maps the empty doc to [''] (split semantics)
        if n == 0:
            toks = [""]
        for idx, start in enumerate(range(0, len(toks), CHUNK_STRIDE)):
            w = toks[start:start + CHUNK_SIZE]
            want.append((i, idx, start, len(w), " ".join(w)))
    assert sorted(got) == sorted(want)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=100000),
                  min_size=1, max_size=80, unique=True),
    pct=st.integers(min_value=1, max_value=100),
    cap=st.integers(min_value=1, max_value=30),
    nparts=st.integers(min_value=1, max_value=5),
)
@_settings
def test_deterministic_sample_capped_properties(spark, keys, pct, cap,
                                                nparts):
    """The count-capped sampler (round 7, neardup_eval's scale bound)
    must (1) be a subset of the uncapped pct sample, (2) never exceed
    the cap, (3) equal the single-node replay of the same rule —
    smallest LCG values first, key tiebreak — for ANY partitioning."""
    from tpg_weather_etl_spark.operators.sampling import (
        LCG_A,
        LCG_C,
        LCG_M,
        deterministic_sample,
        deterministic_sample_capped,
    )

    df = spark.createDataFrame(
        [(k,) for k in keys], "k long").repartition(nparts)
    got = sorted(r.k for r in
                 deterministic_sample_capped(df, "k", pct, cap).collect())
    uncapped = sorted(r.k for r in
                      deterministic_sample(df, "k", pct).collect())
    assert set(got) <= set(uncapped)
    assert len(got) == min(cap, len(uncapped))
    # single-node replay (high-bit bucket, as lcg_bucket computes)
    lcg = lambda k: (k * LCG_A + LCG_C) % LCG_M  # noqa: E731
    expect = sorted(
        [k for k in keys if (lcg(k) * 100) // LCG_M < pct],
        key=lambda k: (lcg(k), k))[:cap]
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.frozensets(st.integers(min_value=0, max_value=11),
                  min_size=1, max_size=8),
    min_size=2, max_size=8))
# boundary: |A| = 2, B ⊃ A with |B| = 4 gives J = 0.5 exactly, and the
# size-ratio prefilter must keep it (min = tau·max)
@example(docs=[frozenset({0, 1}), frozenset({0, 1, 2, 3})])
def test_pair_jaccard_tau_prefilter_is_sound(spark, docs):
    """The `tau` size-ratio prefilter in `_pair_jaccard` drops only
    pairs that a `jaccard >= tau` filter would drop anyway: on any
    shingle sets, filtered output with and without `tau` is equal."""
    from tpg_weather_etl_spark.queries_text import _pair_jaccard

    sh = spark.createDataFrame(
        [(i, h) for i, s in enumerate(docs) for h in sorted(s)],
        "doc_id long, sh_hash long")
    cand = spark.createDataFrame(
        [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))],
        "doc_a long, doc_b long")

    def kept(tau):
        out = _pair_jaccard(sh, cand=cand, tau=tau)
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.jaccard)
            for r in out.filter(F.col("jaccard") >= 0.5).collect())

    with_tau = kept(0.5)
    assert with_tau == kept(None)
    want = sorted(
        (a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))
        if len(docs[a] & docs[b]) / len(docs[a] | docs[b]) >= 0.5)
    assert [(a, b) for a, b, _, _ in with_tau] == want


_HALF_DAY_US = 12 * 3600 * 1_000_000


@settings(max_examples=100, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=80),  # half-days
                  st.one_of(st.none(),
                            st.integers(min_value=-600, max_value=900))),
        max_size=60),
    days=st.sampled_from((7, 14, 28)),
)
# -3.5 must truncate to -3 (toward zero), not floor or round to -4
@example(events=[(0, -4), (0, -3), (1, None), (2, 5)], days=7)
def test_trailing_medians_equal_brute_force(events, days):
    """training_row's sliding median equals, per row, the median of the
    non-NULL delays in [t - days, t) truncated toward zero (NULL for an
    empty frame): ties on t share a frame, boundaries are [incl, excl)."""
    import statistics

    import numpy as np

    from tpg_weather_etl_spark.features.training_row import trailing_medians

    events = sorted(events, key=lambda e: e[0])
    keys = np.array([t * _HALF_DAY_US for t, _ in events], dtype="int64")
    vals = np.array([np.nan if d is None else d for _, d in events],
                    dtype="float64")
    width = days * 2 * _HALF_DAY_US
    want = []
    for k in keys:
        frame = [d for t, d in zip(keys, (d for _, d in events))
                 if k - width <= t < k and d is not None]
        want.append(int(statistics.median(frame)) if frame else None)
    assert trailing_medians(keys, vals, width) == want
