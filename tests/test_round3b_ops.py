"""Round-3 continuation operators, batch 2: CUSUM drift, per-key OLS
trend, triangle stats on the near-dup graph, prefix-filtered
set-similarity join, the part skyline, and the Gopher-rule quality
flag suite. Each test checks the algorithmic core against an
independent formulation (sequential recursion, numpy, brute force)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from examples_scala_spark.operators.dedup import (
    ngram_jaccard_pairs, minhash_lsh_pairs, setsim_prefix_join)
from examples_scala_spark.operators.graph import triangle_stats
from examples_scala_spark.operators.text import gopher_quality_flags
from examples_scala_spark.operators.timeseries import cusum_flags, ols_trend
from examples_scala_spark.sources.tables import load_table


# ------------------------------------------------------------------ cusum

def test_cusum_closed_form_equals_sequential_recursion(spark):
    rng = np.random.default_rng(7)
    rows = []
    for key in ("a", "b"):
        xs = rng.integers(-50, 60, size=200)
        rows += [(key, int(i), int(x)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, i long, x long")
    out = cusum_flags(df, "k", [F.col("i")], F.col("x"), F.lit(10),
                      slack_units=2, h_units=100)
    got = {(r["k"], r["i"]): (r["cusum_units"], r["drift"])
           for r in out.collect()}
    for key in ("a", "b"):
        s = 0
        for k, i, x in rows:
            if k != key:
                continue
            s = max(0, s + x - 10 - 2)
            assert got[(key, i)] == (s, s > 100), (key, i)


def test_cusum_flags_some_drift_on_shifted_series(spark):
    # in-control around 0, then a +30 shift: drift must fire after it
    rows = [("k", i, 0 if i < 50 else 30) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, i long, x long")
    out = (cusum_flags(df, "k", [F.col("i")], F.col("x"), F.lit(0),
                       slack_units=5, h_units=200)
           .filter("drift").agg(F.min("i")).collect()[0][0])
    assert out == 50 + 200 // 25  # first i where (30-5)*(i-49) > 200


# -------------------------------------------------------------------- ols

def test_ols_trend_matches_numpy_polyfit(spark):
    rng = np.random.default_rng(11)
    rows = []
    for key in ("a", "b", "c"):
        xs = rng.integers(0, 10_000, size=300)
        noise = rng.integers(-500, 500, size=300)
        slope = {"a": 3, "b": -2, "c": 0}[key]
        rows += [(key, int(x), int(slope * x + 1000 + e))
                 for x, e in zip(xs, noise)]
    df = spark.createDataFrame(rows, "k string, x long, y long")
    out = {r["k"]: (r["slope"], r["intercept"])
           for r in ols_trend(df, "k", F.col("x"), F.col("y")).collect()}
    for key in ("a", "b", "c"):
        xs = np.array([x for k, x, _ in rows if k == key], dtype=float)
        ys = np.array([y for k, _, y in rows if k == key], dtype=float)
        m, b = np.polyfit(xs, ys, 1)
        assert abs(out[key][0] - m) < 1e-6, key
        assert abs(out[key][1] - b) < 1e-3, key


def test_ols_trend_degenerate_keys_yield_null(spark):
    df = spark.createDataFrame(
        [("one", 5, 7), ("flat", 3, 1), ("flat", 3, 9)],
        "k string, x long, y long")
    out = {r["k"]: (r["slope"], r["intercept"])
           for r in ols_trend(df, "k", F.col("x"), F.col("y")).collect()}
    assert out["one"] == (None, None)   # a single point
    assert out["flat"] == (None, None)  # zero x-variance


# -------------------------------------------------------------- triangles

def test_triangle_stats_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5-1
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((5, 1))
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r["id"]: (r["degree"], r["triangles"], r["lcc"])
           for r in triangle_stats(nodes, e).collect()}
    assert out[1] == (4, 3, round(2 * 3 / (4 * 3), 6))
    for n in (2, 3, 4):
        assert out[n] == (3, 3, 1.0)
    assert out[5] == (1, 0, 0.0)
    assert out[6] == (0, 0, 0.0)  # isolated node


def test_triangle_stats_orientation_invariant(spark):
    # same graph with reversed/duplicated edges must give same counts
    nodes = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long")
    e2 = spark.createDataFrame(
        [(2, 1), (3, 2), (1, 3), (3, 1)], "src long, dst long")
    r1 = sorted(map(tuple, triangle_stats(nodes, e1).collect()))
    r2 = sorted(map(tuple, triangle_stats(nodes, e2).collect()))
    assert r1 == r2
    assert r1[0][1:] == (2, 1, 1.0)


def test_triangle_total_matches_lsh_graph_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3,
                              threshold=0.5)
    out = triangle_stats(docs.select("doc_id"), edges, id_col="doc_id",
                         src_col="doc_a", dst_col="doc_b")
    total = out.agg(F.sum("triangles")).collect()[0][0]
    es = {(r["doc_a"], r["doc_b"]) for r in edges.collect()}
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(1 for a, b in es for c in adj[a] & adj[b] if c > b)
    assert total == 3 * brute


# ------------------------------------------------------- prefix setsim

def test_setsim_prefix_equals_sparse_equijoin(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    for t_num, t_den in ((1, 2), (7, 10)):
        a = sorted(map(tuple, setsim_prefix_join(
            docs, n=3, t_num=t_num, t_den=t_den).collect()))
        b = sorted(map(tuple, ngram_jaccard_pairs(
            docs, n=3, threshold=t_num / t_den).collect()))
        assert a == b, (t_num, t_den)


def test_setsim_prefix_index_is_smaller_than_full_index(spark, sf_dir):
    # the whole point of the prefix filter: fewer indexed tokens
    docs = load_table(spark, sf_dir, "documents")
    from examples_scala_spark.operators.dedup import word_shingles, base_hash
    full = (word_shingles(docs, n=3, distinct=False)
            .select("doc_id", base_hash(F.col("shingle")).alias("t"))
            .distinct().count())
    # reproduce the operator's prefix and count it
    from pyspark.sql.window import Window
    tok = (word_shingles(docs, n=3, distinct=False)
           .select("doc_id", base_hash(F.col("shingle")).alias("tok"))
           .distinct())
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (tok.join(dfreq, "tok")
              .withColumn("pos", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("df", "tok")))
              .withColumn("sz", F.count("*").over(
                  Window.partitionBy("doc_id"))))
    pref = ranked.filter(
        F.col("pos") <= F.col("sz") - F.expr("(7 * sz + 9) DIV 10") + 1)
    assert pref.count() < 0.5 * full


# ----------------------------------------------------------------- skyline

def test_part_skyline_dominance_properties(spark, sf_dir):
    p = (load_table(spark, sf_dir, "part")
         .select("p_partkey",
                 F.round(F.col("p_retailprice") * 100).cast("long")
                  .alias("price"),
                 F.col("p_size").alias("size")))
    pts = [(r["p_partkey"], r["price"], r["size"]) for r in p.collect()]
    from examples_scala_spark.queries import REGISTRY
    sky = {r["p_partkey"]
           for r in REGISTRY["part_skyline"].fn(spark, sf_dir).collect()}

    def dominated(k, pr, sz):
        return any(q[1] <= pr and q[2] >= sz and (q[1] < pr or q[2] > sz)
                   for q in pts)

    for k, pr, sz in pts:
        assert (k in sky) == (not dominated(k, pr, sz)), k
    assert 0 < len(sky) < len(pts)


# ------------------------------------------------------------ gopher flags

def test_gopher_flags_each_rule_isolated(spark):
    base = "the and of to a " + " ".join(f"word{i}" for i in range(40))  # 45 words
    docs = spark.createDataFrame([
        (1, base),                                     # passes everything
        (2, "the and of to a short doc"),              # < 30 words
        (3, "the and of to a " + " ".join("x" * 20 for _ in range(40))),
        (4, " ".join(f"word{i}" for i in range(45))),  # no stopwords
        (5, base + " spam" * 10),                      # dominance > 10%
        (6, "the and of to a " + "dup dup dup " * 15), # low ttr + dominance
    ], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(docs).collect()}
    assert out[1]["keep"] and out[1]["n_failed"] == 0
    assert not out[2]["flag_word_count"]
    assert not out[3]["flag_mean_word_len"]   # mean word length > 10
    assert not out[4]["flag_stopwords"]
    assert not out[5]["flag_dominance"]
    assert not out[6]["flag_ttr"] and not out[6]["flag_dominance"]
    for d in (2, 3, 4, 5, 6):
        assert not out[d]["keep"]


def test_gopher_flags_thresholds_are_exact_integer_boundaries(spark):
    # 30 words exactly -> passes word_count; 29 fails. ttr boundary:
    # 12 distinct of 30 = 0.4 passes; 11 fails.
    w30 = "the and of to a " + " ".join(f"w{i}" for i in range(25))
    w29 = "the and of to a " + " ".join(f"w{i}" for i in range(24))
    ttr_pass = "the and of to a w1 w2 w3 w4 w5 w6 w7 " + "pad " * 18
    docs = spark.createDataFrame(
        [(1, w30), (2, w29), (3, ttr_pass.strip())],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(docs).collect()}
    assert out[1]["flag_word_count"] and out[1]["n_words"] == 30
    assert not out[2]["flag_word_count"] and out[2]["n_words"] == 29
    assert out[3]["n_words"] == 30 and out[3]["flag_ttr"]


# ------------------------------------------------------- growth accounting

def test_lifecycle_hand_case(spark, tmpdir):
    # user 1: days 1,2,4  user 2: day 2 only; horizon max_day = 4
    rows = [(1, 1), (1, 2), (1, 4), (2, 2)]
    import datetime
    ev = spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, d, 12, 0, 0), 1.0)
         for u, d in rows],
        "user_id long, ts timestamp, value double")
    ev = ev.withColumn("event_id", F.monotonically_increasing_id()) \
           .withColumn("event_type", F.lit("click")) \
           .withColumn("props", F.lit("{}"))
    import examples_scala_spark.queries as Q
    import os
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    out = {r["day"]: (r["n_new"], r["n_retained"], r["n_resurrected"],
                      r["n_churned"])
           for r in Q.REGISTRY["user_lifecycle_states"].fn(spark, d).collect()}
    base = min(out)  # day of 2024-01-01
    assert out[base] == (1, 0, 0, 0)          # u1 new
    assert out[base + 1] == (1, 1, 0, 0)      # u2 new, u1 retained
    assert out[base + 2] == (0, 0, 0, 2)      # both drop out
    assert out[base + 3] == (0, 0, 1, 0)      # u1 resurrects; horizon end


def test_lifecycle_identities_on_corpus(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    rows = {r["day"]: r.asDict() for r in
            REGISTRY["user_lifecycle_states"].fn(spark, sf_dir).collect()}
    dau = {d: v["n_new"] + v["n_retained"] + v["n_resurrected"]
           for d, v in rows.items()}
    for d, v in rows.items():
        if d - 1 in dau:
            # everyone active yesterday either retained or churned today
            assert dau[d - 1] == v["n_retained"] + v["n_churned"], d


# ------------------------------------------------------------------- ab test

def test_ab_zscores_match_numpy(spark, sf_dir):
    import numpy as np
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.operators.dedup import base_hash
    from examples_scala_spark.sources.tables import load_table
    got = {r["event_type"]: r.asDict()
           for r in REGISTRY["ab_test_zscores"].fn(spark, sf_dir).collect()}
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  (base_hash(F.col("user_id").cast("string")) % 2)
                  .alias("b"),
                  F.round(F.col("value") * 100).cast("long").alias("c"))
          .collect())
    types = {r["event_type"] for r in ev}
    for t in types:
        a = np.array([r["c"] for r in ev if r["event_type"] == t and r["b"] == 0], float)
        b = np.array([r["c"] for r in ev if r["event_type"] == t and r["b"] == 1], float)
        z = (a.mean() - b.mean()) / np.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
        assert abs(got[t]["z"] - z) < 1e-4, t
        assert got[t]["n_a"] == len(a) and got[t]["n_b"] == len(b)
        # A/A split: no systematic difference expected
        assert abs(got[t]["z"]) < 5


# ------------------------------------------------------------ inverted index

def test_inverted_index_roundtrip(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.sources.tables import load_table
    out = REGISTRY["inverted_index_postings"].fn(spark, sf_dir).collect()
    # postings parse back; df and total_tf are consistent
    for r in out:
        posts = [p.split(":") for p in r["postings"].split(",")]
        assert len(posts) == r["df"]
        assert sum(int(tf) for _, tf in posts) == r["total_tf"]
        docs = [int(d) for d, _ in posts]
        assert docs == sorted(docs)
    # spot-check one term against a direct count
    docs = load_table(spark, sf_dir, "documents")
    direct = (docs.select(F.explode(F.split(F.trim("text"), r"\s+"))
                          .alias("w"))
              .filter(F.col("w") == "spark").count())
    spark_row = [r for r in out if r["term"] == "spark"]
    assert spark_row and spark_row[0]["total_tf"] == direct


# -------------------------------------------------------------------- mi

def test_mutual_information_is_nonneg_and_zero_when_independent(spark, sf_dir, tmpdir):
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["mutual_information_bands"].fn(spark, sf_dir).collect()
    mi = sum(r["mi_term"] for r in out)
    assert mi > -1e-5  # MI >= 0 up to rounding
    assert abs(sum(r["p_xy"] for r in out) - 1.0) < 1e-3
    # independent synthetic: type = i%3, value = (i//3)%4 -> MI ~ 0
    import datetime
    rows = [(i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
             i % 5, f"t{i % 3}", float((i // 3) % 4) + 0.5, "{}")
            for i in range(1200)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import os
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    ind = REGISTRY["mutual_information_bands"].fn(spark, d).collect()
    assert abs(sum(r["mi_term"] for r in ind)) < 1e-4


# ------------------------------------------------------------- containment

def test_containment_pairs_asymmetric_on_crafted_subset(spark, tmpdir):
    import os
    long = " ".join(f"w{i}" for i in range(40))
    short = " ".join(f"w{i}" for i in range(10, 22))  # contained run
    other = " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, long, "en", "s", len(long)),
         (2, short, "en", "s", len(short)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["doc_containment_pairs"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_b_in_a"] == 1.0      # short fully inside long
    assert r["cont_a_in_b"] < 0.3       # but not vice versa


# ------------------------------------------------------------- stream cusum

def test_stream_cusum_trace_equals_batch_operator(spark, sf_dir):
    """The ordered replay contract: the streamed stateful CUSUM trace
    must be row-identical to the batch window closed form."""
    from examples_scala_spark.queries import REGISTRY
    batch = sorted(map(tuple,
                       REGISTRY["events_cusum_drift"].fn(spark, sf_dir)
                       .collect()))
    stream = sorted(map(tuple,
                        REGISTRY["stream_cusum_drift"].fn(spark, sf_dir)
                        .collect()))
    assert batch == stream


# ---------------------------------------------------------------- logppl

def test_bigram_logppl_hand_computed(spark, tmpdir):
    import math
    import os
    # corpus: "a b" x3 docs and one "a c" doc
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c"), (5, "solo")],
        "doc_id long, text string")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["doc_id"]: r.asDict()
           for r in REGISTRY["doc_bigram_logppl"].fn(spark, d).collect()}
    # p(b|a) = 3/4, p(c|a) = 1/4
    lp_ab = round(math.log(3 / 4) * 1e9)
    lp_ac = round(math.log(1 / 4) * 1e9)
    assert out[1]["avg_neg_logprob"] == round(-lp_ab / 1e9, 6)
    assert out[4]["avg_neg_logprob"] == round(-lp_ac / 1e9, 6)
    assert out[5]["n_bigrams"] == 0 and out[5]["avg_neg_logprob"] is None


def test_bigram_logppl_flags_improbable_docs(spark, sf_dir):
    # docs scoring worst under the corpus LM should exist and be finite
    from examples_scala_spark.queries import REGISTRY
    out = [r for r in REGISTRY["doc_bigram_logppl"].fn(spark, sf_dir)
           .collect() if r["n_bigrams"] > 0]
    scores = [r["avg_neg_logprob"] for r in out]
    assert all(s >= 0 for s in scores)
    assert max(scores) > min(scores)  # the score separates documents


# ------------------------------------------------------------ hll overlap

def test_segment_overlap_exact_and_bounds(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.sources.tables import load_table
    out = REGISTRY["segment_overlap_hll"].fn(spark, sf_dir).collect()
    assert all(r["within_bound"] for r in out)
    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type").distinct().collect()
    users = {}
    for r in ev:
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    for r in out:
        exact = len(users[r["type_a"]] & users[r["type_b"]])
        assert r["n_inter_exact"] == exact
        assert r["n_a_exact"] == len(users[r["type_a"]])


# ------------------------------------------------------------- recommender

def test_item_cosine_hand_computed(spark, tmpdir):
    import math
    import os
    # orders: {1,2} x3, {1,3} x1 -> c12=3, c13=1; c1=4, c2=3, c3=1
    rows = []
    for o, parts in [(10, (1, 2)), (11, (1, 2)), (12, (1, 2)),
                     (13, (1, 3))]:
        for i, p in enumerate(parts):
            rows.append((o, p, 1000 + p, i + 1, 1.0, 10.0, 0.0, 0.0,
                         "N", "O"))
    import datetime
    li = spark.createDataFrame(
        [r + (datetime.datetime(2024, 1, 1),) for r in rows],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp")
    d = tmpdir
    li.write.parquet(os.path.join(d, "lineitem.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {(r["item"], r["neighbor"]): r["cosine"]
           for r in REGISTRY["part_neighbors_cosine"].fn(spark, d).collect()}
    # pair (1,3) has c=1 < min-support 2 -> dropped; (1,2) survives
    assert set(out) == {(1, 2), (2, 1)}
    assert out[(1, 2)] == round(3 / math.sqrt(4 * 3), 6)
    assert out[(1, 2)] == out[(2, 1)]


def test_item_cosine_topk_bounded_and_ranked(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["part_neighbors_cosine"].fn(spark, sf_dir).collect()
    per = {}
    for r in out:
        per.setdefault(r["item"], []).append((r["cosine"], r["neighbor"]))
    for item, ns in per.items():
        assert len(ns) <= 5
        ranked = sorted(ns, key=lambda t: (-t[0], t[1]))
        assert ns == ranked or sorted(ns) == sorted(ranked)


# ----------------------------------------------------------------- entropy

def test_source_entropy_uniform_and_degenerate(spark, tmpdir):
    import math
    import os
    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "uniform", 7),
         (2, "x x x x", "en", "constant", 7),
         (3, "p p q", "en", "skewed", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["source"]: r.asDict()
           for r in REGISTRY["source_token_entropy"].fn(spark, d).collect()}
    assert out["uniform"]["entropy"] == round(math.log(4), 6)
    assert out["uniform"]["norm_entropy"] == 1.0
    assert out["constant"]["entropy"] == 0.0
    assert out["constant"]["norm_entropy"] == 0.0
    h = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    assert abs(out["skewed"]["entropy"] - h) < 1e-5


# ---------------------------------------------------------- decayed counts

def test_decayed_counts_closed_form_equals_recursion(spark, tmpdir):
    import math
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    offsets = [0, 3600, 7200, 50000, 86400, 172800]  # seconds
    rows = [(i, base + datetime.timedelta(seconds=s), i % 3, "t", 1.0, "{}")
            for i, s in enumerate(offsets)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["events_decayed_counts"].fn(spark, d).collect()[0]
    # sequential recursion evaluated at each arrival, decayed to T
    lam = math.log(2) / 86400
    c = 0.0
    prev = None
    for s in offsets:
        if prev is not None:
            c *= math.exp(-lam * (s - prev))
        c += 1.0
        prev = s
    assert abs(out["decayed_count"] - c) < 1e-5
    assert out["n_events"] == len(offsets)


# -------------------------------------------------------------------- psi

def test_psi_zero_for_identical_halves_and_positive_for_shift(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # 'stable': same value cycle in both halves -> PSI 0
    # 'shifted': low values first half, high second -> PSI >> 0
    for i in range(400):
        half = i >= 200
        ts = base + datetime.timedelta(minutes=i)
        rows.append((2 * i, ts, i % 7, "stable", float(10 + (i % 4)), "{}"))
        rows.append((2 * i + 1, ts, i % 7, "shifted",
                     float(200 if half else 10) + (i % 4), "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["event_type"]: r.asDict()
           for r in REGISTRY["events_psi_drift"].fn(spark, d).collect()}
    assert out["stable"]["psi"] == 0.0
    assert out["stable"]["max_band_gap"] == 0.0
    assert out["shifted"]["psi"] > 1.0
    assert out["shifted"]["max_band_gap"] > 0.4


# ----------------------------------------------------------------- benford

def test_benford_audit_shares_and_expectation(spark, sf_dir):
    import math
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["benford_price_audit"].fn(spark, sf_dir).collect()
    digits = {r["digit"] for r in out}
    assert digits <= set(range(1, 10))
    assert abs(sum(r["observed"] for r in out) - 1.0) < 1e-3
    one = [r for r in out if r["digit"] == 1][0]
    assert one["benford"] == round(math.log10(2), 6)
    for r in out:
        # abs_dev is rounded from the UNROUNDED shares, so it can sit
        # one ulp-of-rounding away from recomputing on rounded columns
        assert abs(r["abs_dev"] - round(abs(r["observed"] - r["benford"]), 6)) <= 2e-6


# ------------------------------------------------------------------- paths

def test_top_paths_hand_case(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    seqs = {1: ["view", "click", "purchase", "view"],
            2: ["view", "click", "purchase"],
            3: ["click", "view", "click"]}
    rows = []
    eid = 0
    for u, types in seqs.items():
        for i, t in enumerate(types):
            rows.append((eid, base + datetime.timedelta(minutes=i), u, t,
                         1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["path"]: r["n"]
           for r in REGISTRY["clickstream_top_paths"].fn(spark, d).collect()}
    assert out["view>click>purchase"] == 2
    assert out["click>purchase>view"] == 1
    assert out["click>view>click"] == 1


# -------------------------------------------------------------------- zipf

def test_zipf_slope_exact_power_law(spark, tmpdir):
    import os
    # construct a source whose word frequencies are exactly c/rank
    words = []
    for rank in range(1, 21):
        words += [f"w{rank:02d}"] * (2 ** (20 - rank))  # freq = 2^(20-r)
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "pow", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["source_zipf_slope"].fn(spark, d).collect()[0]
    # ln f = const - r ln2 against ln r is NOT linear; use 2 points?
    # instead assert the fit is strongly negative and vocab correct
    assert out["vocab"] == 20
    assert out["zipf_slope"] < -1.0


def test_zipf_slope_flat_for_uniform_frequencies(spark, tmpdir):
    import os
    words = [f"w{i}" for i in range(30)] * 4  # all freq 4
    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "flat", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["source_zipf_slope"].fn(spark, d).collect()[0]
    assert out["zipf_slope"] == 0.0  # ln f constant -> zero slope


# -------------------------------------------------------------------- ltv

def test_cohort_ltv_identities(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.sources.tables import load_table
    out = REGISTRY["order_cohort_ltv"].fn(spark, sf_dir).collect()
    total = sum(r["revenue_cents"] for r in out)
    direct = (load_table(spark, sf_dir, "orders")
              .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                         .cast("long"))).collect()[0][0])
    assert total == direct
    # cumulative curve is per-cohort monotone and ends at the sum
    by_cohort = {}
    for r in out:
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    for rows in by_cohort.values():
        rows.sort(key=lambda r: r["month_offset"])
        running = 0
        for r in rows:
            running += r["revenue_cents"]
            assert r["cum_revenue_cents"] == running
        assert rows[0]["month_offset"] == 0  # cohort starts at itself


# ---------------------------------------------------------------- abc/xyz

def test_abc_xyz_classes_and_cv(spark, tmpdir):
    import datetime, os
    rows = []
    ln = 0
    # part 1: constant 10/week for 8 weeks, high revenue -> A, X
    # part 2: alternating 1 and 19 -> CV^2 = 81/100 -> Y, low revenue
    # part 3: one massive week out of 8 -> Z
    for wk in range(8):
        ship = datetime.datetime(2024, 1, 1) + datetime.timedelta(weeks=wk)
        rows.append((100 + wk, 1, 1, 1, 10.0, 5000.0, 0.0, 0.0, "N", "O", ship))
        rows.append((200 + wk, 2, 1, 2, 1.0 if wk % 2 == 0 else 19.0,
                     10.0, 0.0, 0.0, "N", "O", ship))
        rows.append((300 + wk, 3, 1, 3, 100.0 if wk == 3 else 1.0,
                     20.0, 0.0, 0.0, "N", "O", ship))
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double, l_returnflag string, "
              "l_linestatus string, l_shipdate timestamp")
    d = tmpdir
    li.write.parquet(os.path.join(d, "lineitem.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["part"]: r.asDict()
           for r in REGISTRY["part_demand_abc_xyz"].fn(spark, d).collect()}
    assert out[1]["xyz_class"] == "X" and out[1]["cv2"] == 0.0
    assert out[2]["xyz_class"] == "Y"
    assert abs(out[2]["cv2"] - 0.81) < 1e-6
    assert out[3]["xyz_class"] == "Z"
    assert out[1]["abc_class"] == "A"      # 40000 of 40400 cents total
    assert out[3]["abc_class"] in ("B", "C")


# ------------------------------------------------------------ curation v3

def test_curation_v3_composition_invariants(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.operators.text import gopher_quality_flags
    from examples_scala_spark.sources.tables import load_table
    kept = REGISTRY["pipeline_curation_v3"].fn(spark, sf_dir).collect()
    kept_ids = {r["doc_id"] for r in kept}
    assert kept_ids  # non-degenerate
    docs = load_table(spark, sf_dir, "documents")
    gk = {r["doc_id"] for r in
          gopher_quality_flags(docs).filter("keep").collect()}
    ppl = {r["doc_id"]: r["avg_neg_logprob"] for r in
           REGISTRY["doc_bigram_logppl"].fn(spark, sf_dir).collect()
           if r["n_bigrams"] > 0}
    import statistics
    med = statistics.median(ppl.values())
    # every kept doc passed both filters
    for r in kept:
        assert r["doc_id"] in gk
        assert ppl[r["doc_id"]] <= med + 1e-9
    # no two kept docs are near-dups of each other
    from examples_scala_spark.operators.dedup import minhash_lsh_pairs
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3,
                              threshold=0.5).collect()
    for p in pairs:
        assert not (p["doc_a"] in kept_ids and p["doc_b"] in kept_ids
                    and p["doc_a"] != p["doc_b"])


# ------------------------------------------------------------------ ivfpq

def test_ivfpq_candidates_come_from_probed_cells_and_recall(spark, sf_dir):
    from examples_scala_spark.operators import similarity as sim
    emb = load_table(spark, sf_dir, "embeddings")

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    ivfpq = sim.ivfpq_topk(emb, k=5, query_mod=10, nprobe=2)
    got = ivfpq.collect()
    assert got, "ivfpq returned nothing"
    # per query at most k neighbors, ranked by adist with id tie-break
    per = {}
    for r in got:
        per.setdefault(r["query_id"], []).append((r["rank"], r["adist"],
                                                  r["neighbor_id"]))
    for q, rows in per.items():
        rows.sort()
        assert len(rows) <= 5
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        ds = [r[1] for r in rows]
        assert ds == sorted(ds)
    # IVF pruning: every neighbor shares a probed cell with its query
    base = sim.with_norm(emb)
    cents = sim.sampled_centroids(base)
    aff = sim.cell_affinity(base, cents)
    from pyspark.sql.window import Window
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id"))
    assign = {r["vec_id"]: r["cent_id"] for r in
              aff.withColumn("r", F.row_number().over(wa))
              .filter("r = 1").collect()}
    probed = {}
    for r in (aff.withColumn("r", F.row_number().over(wa))
              .filter("r <= 2").collect()):
        probed.setdefault(r["vec_id"], set()).add(r["cent_id"])
    for r in got:
        assert assign[r["neighbor_id"]] in probed[r["query_id"]], r
    # recall against brute force is meaningfully nonzero
    exact = pairs(sim.brute_force_topk(emb, k=5, query_mod=10))
    rec = len(pairs(ivfpq) & exact) / len(exact)
    # coarse 8x16 codebooks + nprobe=2 on 500 vectors: recall is low
    # by construction (the compression trade-off); the floor just
    # guards against a broken index returning noise
    assert rec >= 0.1


# ------------------------------------------------------------------ wilson

def test_wilson_bound_ranks_small_samples_below(spark, tmpdir):
    import os, datetime
    rows = []
    # supplier 1: 1 return of 2;  supplier 2: 40 returns of 100
    specs = {1: (2, 1), 2: (100, 40)}
    oid = 0
    for supp, (n, r) in specs.items():
        for i in range(n):
            rows.append((oid, 1, supp, 1, 1.0, 10.0, 0.0, 0.0,
                         "R" if i < r else "N", "O",
                         datetime.datetime(2024, 1, 1)))
            oid += 1
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
              "l_linenumber int, l_quantity double, l_extendedprice double, "
              "l_discount double, l_tax double, l_returnflag string, "
              "l_linestatus string, l_shipdate timestamp")
    d = tmpdir
    li.write.parquet(os.path.join(d, "lineitem.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["supplier"]: r.asDict()
           for r in REGISTRY["supplier_return_wilson"].fn(spark, d).collect()}
    # raw rates say supplier 1 (50%) is worse than 2 (40%) — the
    # Wilson lower bound reverses that (2 observations prove nothing)
    assert out[1]["return_rate"] > out[2]["return_rate"]
    assert out[1]["wilson_lb"] < out[2]["wilson_lb"]
    # hand-check the formula for supplier 2
    import math
    p, n = 0.4, 100
    lb = (p + 1.9208 / n - 1.96 * math.sqrt(p * (1 - p) / n
                                            + 0.9604 / n ** 2)) \
        / (1 + 3.8416 / n)
    assert abs(out[2]["wilson_lb"] - lb) < 1e-6


# ------------------------------------------------------------------ bursts

def test_burst_minutes_exact_threshold(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 60 quiet minutes with 2 events, one minute with 40
    for mi in range(61):
        per = 40 if mi == 30 else 2
        for j in range(per):
            rows.append((eid, base + datetime.timedelta(minutes=mi,
                                                        seconds=j),
                         1, "t", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["events_burst_minutes"].fn(spark, d).collect()
    assert len(out) == 1 and out[0]["cnt"] == 40
    # numpy parity of the threshold on this series
    import numpy as np
    cs = np.array([40 if mi == 30 else 2 for mi in range(61)], float)
    z = (40 - cs.mean()) / cs.std()  # population std, as the operator
    assert z > 3
    assert abs(out[0]["sigma_score"] - z) < 1e-6


# --------------------------------------------------------------------- pca

def test_top_pc_matches_numpy(spark, sf_dir):
    import numpy as np
    from examples_scala_spark.operators.similarity import (
        top_principal_component)
    emb = load_table(spark, sf_dir, "embeddings")
    out = top_principal_component(emb, dim=64, iterations=30).collect()
    v = np.array([r["loading"] for r in sorted(out,
                                               key=lambda r: r["dim_idx"])])
    X = np.array([r["embedding"] for r in emb.collect()], dtype=float)
    Xc = X - X.mean(0)
    cov = Xc.T @ Xc / (len(X) - 1)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    # the test corpus' spectrum is near-degenerate (lambda2/lambda1
    # ~ 0.93), so power iteration converges slowly in DIRECTION; the
    # honest convergence criterion is the Rayleigh quotient, which is
    # second-order-insensitive to the remaining angle
    assert abs(float(np.dot(v, top))) > 0.9
    rayleigh = float(v @ cov @ v)
    assert rayleigh >= 0.98 * evals[-1]
    assert out[0]["eigenvalue"] <= evals[-1] * (1 + 1e-6)
    assert abs(out[0]["eigenvalue"] - rayleigh) / rayleigh < 1e-3
    r = out[0]["explained_ratio"]
    assert abs(r - rayleigh / evals.sum()) < 1e-3
    assert np.isclose(np.linalg.norm(v), 1.0, atol=1e-4)


# ------------------------------------------------------------ equi-depth

def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    out = sorted((r.asDict() for r in
                  REGISTRY["lineitem_quantity_equidepth"].fn(spark, sf_dir)
                  .collect()), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in out] == list(range(len(out)))
    total = sum(r["n"] for r in out)
    # depth balance: no bucket more than 3x the ideal share (quantity
    # has only ~50 distinct values, so ties make buckets lumpy)
    for r in out:
        assert r["n"] <= 3 * total / len(out)
    # ranges are ordered and non-overlapping
    for a, b in zip(out, out[1:]):
        assert a["hi_centi"] <= b["lo_centi"]
        assert a["lo_centi"] <= a["hi_centi"]


# ---------------------------------------------------------- ab guardrail

def test_stream_ab_guardrail_equals_batch(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    batch = sorted(map(tuple, REGISTRY["ab_test_zscores"]
                       .fn(spark, sf_dir).collect()))
    stream = sorted(map(tuple, REGISTRY["stream_ab_guardrail"]
                        .fn(spark, sf_dir).collect()))
    assert batch == stream  # commutative moments: replay order is moot


# ------------------------------------------------------- funnel latency

def test_funnel_latency_hand_case(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    rows = [
        # u1: view at t0, purchase at +10s -> converts in 10s
        (0, base, 1, "view", 1.0, "{}"),
        (1, base + datetime.timedelta(seconds=10), 1, "purchase", 1.0, "{}"),
        # u2: purchase BEFORE any view, view later, no purchase after
        (2, base, 2, "purchase", 1.0, "{}"),
        (3, base + datetime.timedelta(seconds=5), 2, "view", 1.0, "{}"),
        # u3: view only
        (4, base, 3, "view", 1.0, "{}"),
        # u4: view at t0, purchases at +30s and +50s -> first wins
        (5, base, 4, "view", 1.0, "{}"),
        (6, base + datetime.timedelta(seconds=30), 4, "purchase", 1.0, "{}"),
        (7, base + datetime.timedelta(seconds=50), 4, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["funnel_time_percentiles"].fn(spark, d).collect()[0]
    assert out["n_converted"] == 2          # u1 and u4 only
    assert out["p50_s"] == 20.0             # median of {10, 30}
    assert out["max_s"] == 30.0


# ---------------------------------------------------------- band sweep

def test_band_sweep_monotone_in_bands(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    out = sorted((r.asDict() for r in
                  REGISTRY["lsh_band_sweep"].fn(spark, sf_dir).collect()),
                 key=lambda r: r["bands"])
    assert [r["bands"] for r in out] == [2, 4, 8]
    # with a fixed signature, a b-band match implies a 2b-band match:
    # candidates (and hence recall) are monotone in bands
    assert out[0]["n_pred"] <= out[1]["n_pred"] <= out[2]["n_pred"]
    assert out[0]["recall"] <= out[1]["recall"] <= out[2]["recall"]
    assert all(r["n_true"] == out[0]["n_true"] for r in out)
    assert all(r["tp"] <= r["n_pred"] and r["tp"] <= r["n_true"]
               for r in out)


# -------------------------------------------------------------------- chi2

def test_chi2_near_zero_when_independent(spark, tmpdir):
    import datetime, os
    rows = []
    # type = i%3, hour = (i//3)%24 — exactly balanced => chi2 = 0
    for i in range(3 * 24 * 5):
        ts = datetime.datetime(2024, 1, 1, (i // 3) % 24, 0, 0)
        rows.append((i, ts, i % 7, f"t{i % 3}", 1.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = REGISTRY["events_chi2_independence"].fn(spark, d).collect()
    assert all(r["chi2_contrib"] == 0.0 for r in out)
    assert all(r["n_cells"] == 24 for r in out)


def test_chi2_matches_scipy_free_formula(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.sources.tables import load_table
    out = {r["event_type"]: r["chi2_contrib"] for r in
           REGISTRY["events_chi2_independence"].fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events") \
        .select("event_type", F.hour("ts").alias("h")).collect()
    from collections import Counter
    cells = Counter((r["event_type"], r["h"]) for r in ev)
    nx = Counter(r["event_type"] for r in ev)
    ny = Counter(r["h"] for r in ev)
    N = len(ev)
    for t in nx:
        chi = sum((cells[(t, h)] - nx[t] * ny[h] / N) ** 2
                  / (nx[t] * ny[h] / N)
                  for h in ny if (t, h) in cells)
        assert abs(out[t] - chi) < 1e-4, t


# ---------------------------------------------------------- coverage curve

def test_coverage_curve_hand_case_and_monotone(spark, sf_dir, tmpdir):
    import os
    docs = spark.createDataFrame(
        [(1, "a a a a b b c d", "en", "s", 15)],
        "doc_id long, text string, lang string, source string, n_chars long")
    d = tmpdir
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["k"]: r["coverage"]
           for r in REGISTRY["vocab_coverage_curve"].fn(spark, d).collect()}
    assert out[1] == 0.5          # 'a' = 4 of 8
    assert out[2] == 0.75         # + 'b'
    assert out[4] == 1.0 and out[64] == 1.0
    # corpus: monotone non-decreasing in k
    big = sorted((r["k"], r["coverage"]) for r in
                 REGISTRY["vocab_coverage_curve"].fn(spark, sf_dir)
                 .collect())
    cov = [c for _, c in big]
    assert cov == sorted(cov) and cov[-1] == 1.0  # vocab is 31 < 64


# ------------------------------------------------------------ rule overlap

def test_rule_overlap_consistent_with_flags(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.operators.text import gopher_quality_flags
    from examples_scala_spark.sources.tables import load_table
    out = {(r["rule_a"], r["rule_b"]): r["n_docs"] for r in
           REGISTRY["gopher_rule_overlap"].fn(spark, sf_dir).collect()}
    flags = gopher_quality_flags(load_table(spark, sf_dir, "documents")) \
        .collect()
    rules = ["word_count", "mean_word_len", "stopwords", "alpha_words",
             "dominance", "ttr"]
    from collections import Counter
    direct = Counter()
    for r in flags:
        failed = [ru for ru in rules if not r[f"flag_{ru}"]]
        for a in failed:
            for b in failed:
                if a <= b:
                    direct[(a, b)] += 1
    assert out == dict(direct)
    # diagonal dominates any off-diagonal involving the rule
    for (a, b), n in out.items():
        if a != b:
            assert n <= out.get((a, a), 0) and n <= out.get((b, b), 0)


# ------------------------------------------------------------ correlations

def test_quality_corr_matches_numpy(spark, sf_dir):
    import numpy as np
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.operators.text import quality_score_col
    from examples_scala_spark.sources.tables import load_table
    out = REGISTRY["quality_signal_correlation"].fn(spark, sf_dir) \
        .collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    qs = {r["doc_id"]: r["q"] for r in
          docs.select("doc_id",
                      quality_score_col(F.col("text")).alias("q"))
          .collect()}
    ppl = {r["doc_id"]: r["avg_neg_logprob"] for r in
           REGISTRY["doc_bigram_logppl"].fn(spark, sf_dir).collect()
           if r["n_bigrams"] > 0}
    ids = sorted(set(qs) & set(ppl))
    x = np.array([round(qs[i] * 100) for i in ids], float)
    y = np.array([round(ppl[i] * 1e6) for i in ids], float)
    r = np.corrcoef(x, y)[0, 1]
    assert out["n"] == len(ids)
    assert abs(out["pearson_r"] - r) < 1e-5


def test_autocorr_detects_constructed_memory(spark, tmpdir):
    import datetime, os
    rows = []
    base = datetime.datetime(2024, 1, 1)
    # 'trend': strictly increasing -> autocorr ~ 1
    # 'alt': alternating high/low -> autocorr ~ -1
    for i in range(300):
        ts = base + datetime.timedelta(seconds=i)
        rows.append((2 * i, ts, 1, "trend", float(i), "{}"))
        rows.append((2 * i + 1, ts, 1, "alt",
                     100.0 if i % 2 == 0 else 0.0, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["event_type"]: r["lag1_autocorr"]
           for r in REGISTRY["events_value_autocorr"].fn(spark, d)
           .collect()}
    assert out["trend"] > 0.99
    assert out["alt"] < -0.99


# --------------------------------------------------------- stream sketch

def test_stream_hll_equals_batch_sketch(spark, sf_dir):
    """Mergeability: the streamed (4-batch) HLL estimate must equal
    the one-shot batch sketch estimate exactly."""
    from examples_scala_spark.queries import _replay, _run_to_memory
    from examples_scala_spark.sources.tables import load_table
    src = _replay(spark, [load_table(spark, sf_dir, "events").repartition(4)])
    agg = (src.groupBy("event_type")
           .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")))
    state = _run_to_memory(spark, agg, "hll_merge_test", mode="complete")
    streamed = {r["event_type"]: r["est"] for r in state.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est")).collect()}
    batch = {r["event_type"]: r["est"] for r in
             load_table(spark, sf_dir, "events").groupBy("event_type")
             .agg(F.hll_sketch_estimate(
                 F.hll_sketch_agg("user_id", F.lit(14))).alias("est"))
             .collect()}
    assert streamed == batch


# -------------------------------------------------------------------- gini

def test_gini_known_distributions(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)

    def write(name, counts):
        rows = []
        eid = 0
        for u, c in enumerate(counts):
            for _ in range(c):
                rows.append((eid, base, u, "click", 1.0, "{}"))
                eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        d = os.path.join(tmpdir, name)
        ev.write.parquet(os.path.join(d, "events.parquet"))
        return d

    from examples_scala_spark.queries import REGISTRY
    equal = REGISTRY["user_activity_gini"].fn(
        spark, write("equal", [5] * 40)).collect()[0]
    assert equal["gini"] == 0.0
    skewed = REGISTRY["user_activity_gini"].fn(
        spark, write("skewed", [1] * 39 + [961])).collect()[0]
    # closed form for one dominant user: G ~ (n-1)/n * dominant share
    assert skewed["gini"] > 0.9
    # numpy cross-check on the skewed case
    import numpy as np
    x = np.sort(np.array([1] * 39 + [961], float))
    n = len(x)
    g = 2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum()) - (n + 1) / n
    assert abs(skewed["gini"] - g) < 1e-6


# --------------------------------------------------------------- runs test

def test_runs_test_detects_regimes_and_oscillation(spark, tmpdir):
    import datetime, os
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        ts = base + datetime.timedelta(seconds=i)
        # 'sticky': 200 low then 200 high -> 2 runs, z << 0
        rows.append((eid, ts, 1, "sticky",
                     10.0 if i < 200 else 90.0, "{}")); eid += 1
        # 'osc': alternating -> maximal runs, z >> 0
        rows.append((eid, ts, 1, "osc",
                     10.0 if i % 2 == 0 else 90.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = tmpdir
    ev.write.parquet(os.path.join(d, "events.parquet"))
    from examples_scala_spark.queries import REGISTRY
    out = {r["event_type"]: r.asDict()
           for r in REGISTRY["events_runs_test"].fn(spark, d).collect()}
    assert out["sticky"]["runs"] == 2 and out["sticky"]["z"] < -15
    assert out["osc"]["runs"] == 400 and out["osc"]["z"] > 15
    assert out["osc"]["n_above"] == 200 and out["osc"]["n_below"] == 200


# ----------------------------------------------- winnowing fingerprints

def test_winnowing_guarantee_and_edges(spark):
    """The SIGMOD'03 guarantee: two docs sharing a token run of
    length >= w + k - 1 (here 6) select at least one common
    fingerprint — the identical w-hash window exists in both, and its
    minimum is the same value. Disjoint-vocabulary docs share none."""
    from collections import Counter

    from examples_scala_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "one two three " + shared + " four five"),
         (2, shared + " completely different tail words here"),
         (3, "unrelated vocabulary nothing matches at all ever")],
        "doc_id long, text string")
    rows = winnow_fingerprints(docs, k=3, w=4).collect()
    by: dict[int, set] = {}
    for r in rows:
        by.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by[1] & by[2], "guaranteed shared fingerprint missing"
    assert not (by[1] & by[3]) and not (by[2] & by[3])
    # n_fp rides along correctly: equals the distinct-fp row count
    nf = {r["doc_id"]: r["n_fp"] for r in rows}
    assert nf == dict(Counter(r["doc_id"] for r in rows))

    # a doc with fewer than w k-gram hashes still yields its global
    # minimum as the single fingerprint (slice clamps at array end)
    tiny = spark.createDataFrame([(9, "a b c d")],
                                 "doc_id long, text string")
    got = winnow_fingerprints(tiny, k=3, w=4).collect()
    assert len(got) == 1 and got[0]["n_fp"] == 1
    # and one with < k tokens yields nothing at all
    sub = spark.createDataFrame([(10, "a b")], "doc_id long, text string")
    assert winnow_fingerprints(sub, k=3, w=4).count() == 0


# ------------------------------------------- ExactSubstr rewrite

def test_substring_dedup_rewrite_semantics(spark):
    """Hand-built corpus with a known duplicated 30-char block: the
    first occurrence (min doc_id, offset) keeps its characters; every
    other occurrence loses exactly the block; untouched docs and
    sub-L docs pass through byte-identical."""
    from examples_scala_spark.operators.dedup import substring_dedup_rewrite

    block = "0123456789abcdefghijklmnopqrs"  # 29 chars
    assert len(block) == 29
    dup = "X" + block  # 30 chars, the duplicated window
    docs = spark.createDataFrame(
        [(1, "AAAA" + dup + "BBBB"),            # first occurrence — kept
         (2, "CCCC" + dup + "DDDD"),            # later — block removed
         (3, dup + dup),                         # two copies, both removed
         (4, "no duplicated content here, but long enough to window ok"),
         (5, "short")],                          # < L, untouched
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           substring_dedup_rewrite(docs, L=30).collect()}

    assert out[1]["clean_text"] == "AAAA" + dup + "BBBB"
    assert out[1]["n_chars_removed"] == 0 and out[1]["n_dup_spans"] == 0
    # doc 2: every window of dup's 30 chars matches doc 1 -> the whole
    # block goes; the flanks are unique (CCCC/DDDD contexts differ)
    assert out[2]["clean_text"] == "CCCC" + "DDDD"
    assert out[2]["n_chars_removed"] == 30 and out[2]["n_dup_spans"] == 1
    # doc 3: both copies duplicated (doc 1 holds the first occurrence);
    # overlapping windows across the seam merge into ONE removal span
    assert out[3]["clean_text"] == ""
    assert out[3]["n_chars_removed"] == 60 and out[3]["n_dup_spans"] == 1
    # untouched docs pass through byte-identical, short docs too
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d in (4, 5):
        assert out[d]["clean_text"] == src[d]
        assert out[d]["n_chars_removed"] == 0
    # global invariant: removed chars == length delta, every doc
    for d, r in out.items():
        assert len(src[d]) - len(r["clean_text"]) == r["n_chars_removed"]


# ------------------------------------------------- BPE merge training

def test_bpe_train_merges_matches_sennrich_reference(spark):
    """Independent check against a from-scratch Python implementation
    of Sennrich's learn_bpe loop (dict vocab, get_stats, tuple-pair
    merge with greedy left-to-right substitution) on a corpus small
    enough to eyeball — catches tie-break, marker, and substitution
    divergences the SQL oracle (same algorithm, different engine)
    could share only by coincidence."""
    import re
    from collections import Counter

    from examples_scala_spark.operators.text import bpe_train_merges

    texts = ["low lower lowest low low",
             "new newer newest new newer",
             "wide wider widest low new"]

    def ref_merges(texts, k):
        vocab = Counter()
        for t in texts:
            for w in re.findall(r"[a-z0-9]+", t.lower()):
                vocab[tuple(w) + ("_",)] += 1
        out = []
        for rank in range(1, k + 1):
            stats = Counter()
            for sym, c in vocab.items():
                for i in range(len(sym) - 1):
                    stats[(sym[i], sym[i + 1])] += c
            if not stats:
                break
            # max count, ties broken lexicographically on (a, b)
            (a, b), pc = min(stats.items(),
                             key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, pc))
            new_vocab = Counter()
            for sym, c in vocab.items():
                merged, i = [], 0
                while i < len(sym):
                    if (i < len(sym) - 1
                            and sym[i] == a and sym[i + 1] == b):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(sym[i])
                        i += 1
                new_vocab[tuple(merged)] += c
            vocab = new_vocab
        return out

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = [(r["merge_rank"], r["left_sym"], r["right_sym"],
            r["pair_count"])
           for r in bpe_train_merges(docs, k_merges=8)
           .orderBy("merge_rank").collect()]
    assert got == ref_merges(texts, 8)

    # degenerate corpus: single repeated 1-char word exhausts its
    # merges (a + marker, then nothing) — the loop stops early
    tiny = spark.createDataFrame([(0, "a a a")], "doc_id long, text string")
    m = bpe_train_merges(tiny, k_merges=5).collect()
    assert [(r["left_sym"], r["right_sym"]) for r in m] == [("a", "_")]

    # self-pair stress: words that are odd runs of one character force
    # (a, a) merges where the superseded double-replace substitution
    # diverged from greedy merging (runs >= 5 left the stranded middle
    # symbol mis-paired) — the doubled-separator single replace must
    # track the greedy reference through every round
    runs = ["aaaaa aaaaaaa aa", "aaaaa aaaaa b", "aaaaaaa baab"]
    rdocs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(runs)], "doc_id long, text string")
    got_runs = [(r["merge_rank"], r["left_sym"], r["right_sym"],
                 r["pair_count"])
                for r in bpe_train_merges(rdocs, k_merges=6)
                .orderBy("merge_rank").collect()]
    assert got_runs == ref_merges(runs, 6)


# ------------------------------------------------ DSIR importance

def test_dsir_importance_matches_python_recompute(spark):
    """Exact recompute of the hashed-ngram likelihood-ratio weights in
    pure Python (same md5 bucketing, same Laplace smoothing, same
    nano-unit rounding) — and the semantic sanity check that docs
    sharing the target domain's vocabulary outweigh off-domain docs."""
    import hashlib
    import math
    import re
    from collections import Counter

    from examples_scala_spark.operators.sampling import dsir_importance

    rows = [(1, "alpha beta gamma alpha beta", "t"),
            (2, "alpha beta beta gamma gamma alpha", "t"),
            (3, "alpha beta gamma beta", "r"),       # in-domain-looking
            (4, "delta epsilon zeta delta zeta", "r"),  # off-domain
            (5, "", "r")]                               # empty doc
    docs = spark.createDataFrame(rows, "doc_id long, text string, d string")
    out = {r["doc_id"]: r for r in
           dsir_importance(docs, target=F.col("d") == "t",
                           n_buckets=64).collect()}

    B = 64

    def feats(t):
        ws = re.findall(r"[a-z0-9]+", t.lower())
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(feat):
        return int(hashlib.md5(feat.encode()).hexdigest()[:15], 16) % B

    raw, tgt = Counter(), Counter()
    per_doc = {}
    for doc_id, t, d in rows:
        c = Counter(bucket(f) for f in feats(t))
        per_doc[doc_id] = c
        raw.update(c)
        if d == "t":
            tgt.update(c)
    n_r, n_t = sum(raw.values()), sum(tgt.values())
    du = {b: round(math.log((tgt[b] + 1) / (n_t + B)) * 1e9)
          - round(math.log((raw[b] + 1) / (n_r + B)) * 1e9)
          for b in raw}
    for doc_id, c in per_doc.items():
        want = round(sum(n * du[b] for b, n in c.items()) / 1e9, 6)
        assert out[doc_id]["logweight"] == want, doc_id
        assert out[doc_id]["n_feats"] == sum(c.values())
    assert out[3]["logweight"] > out[4]["logweight"]
    assert out[5]["n_feats"] == 0 and out[5]["logweight"] == 0.0


def test_bpe_apply_counts_consistent_with_trainer(spark):
    """Applying the trained tokenizer must conserve mass: summed
    subword occurrences = total chars+markers minus one per merge
    occurrence; and every token must be reachable from the merge
    table (a char, the marker, or a concatenation built by merges)."""
    from examples_scala_spark.operators.text import (
        bpe_apply_token_counts, bpe_train_merges)

    texts = ["low lower lowest low low",
             "new newer newest new newer",
             "wide wider widest low new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    toks = {r["token"]: (r["n_tokens"], r["n_words"])
            for r in bpe_apply_token_counts(docs, k_merges=8).collect()}
    merges = bpe_train_merges(docs, k_merges=8).collect()

    # vocabulary closure: every multi-char token is produced by a
    # recorded merge (left+right), in order
    produced = set("abcdefghijklmnopqrstuvwxyz0123456789_")
    for m in sorted(merges, key=lambda r: r["merge_rank"]):
        assert m["left_sym"] in produced and m["right_sym"] in produced
        produced.add(m["left_sym"] + m["right_sym"])
    assert set(toks) <= produced

    # mass conservation: every word contributes len(word)+1 symbols,
    # minus one per merge APPLICATION; total applications is bounded
    # above by the trainer's pair counts but must leave exactly the
    # token total we observe
    import re
    words = [w for t in texts for w in re.findall(r"[a-z0-9]+", t)]
    base_symbols = sum(len(w) + 1 for w in words)
    total_tokens = sum(n for n, _ in toks.values())
    assert total_tokens < base_symbols
    # words fully segmented: weighted word coverage equals corpus size
    assert sum(1 for _ in words) == sum(
        n for tok, (n, _) in toks.items() if tok.endswith("_")
        or tok == "_")


def test_gumbel_topk_is_deterministic_and_ranked(spark):
    from examples_scala_spark.operators.sampling import gumbel_topk

    w = spark.createDataFrame(
        [(i, float(i % 7) - 3.0) for i in range(500)],
        "doc_id long, logweight double")
    a = [tuple(r) for r in gumbel_topk(w, k=50).collect()]
    b = [tuple(r) for r in gumbel_topk(w, k=50).collect()]
    assert a == b and len(a) == 50
    assert [r[3] for r in a] == list(range(1, 51))
    scores = [r[2] for r in a]
    assert scores == sorted(scores, reverse=True)
    # higher weights must dominate the draw on average
    mean_w = sum(r[1] for r in a) / 50
    assert mean_w > 0.0  # population mean is ~0 over -3..3


def test_bpe_encode_fertility_bounds_and_empty_doc(spark):
    """Fertility is bounded by (1, len+1] per word: every word encodes
    to at least 1 and at most len(word)+1 subwords; an empty doc gets
    zero counts and NULL fertility; total subwords across docs equals
    the apply-view's weighted total."""
    from examples_scala_spark.operators.text import (
        bpe_apply_token_counts, bpe_encode_doc_stats)

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low new"), (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           bpe_encode_doc_stats(docs, k_merges=4).collect()}
    assert out[3]["n_words"] == 0 and out[3]["fertility"] is None
    for d in (1, 2):
        assert 1.0 < out[d]["fertility"] <= 8.0
    total_enc = sum(r["n_subwords"] for r in out.values())
    total_apply = sum(r["n_tokens"] for r in
                      bpe_apply_token_counts(docs, k_merges=4).collect())
    assert total_enc == total_apply


def test_substring_dedup_rewrite_random_corpus_bruteforce(spark):
    """Adversarial check: 40 random docs over a 2-letter alphabet with
    L=5 produce dense, heavily-overlapping duplicated windows (seam
    merges, same-doc repeats, whole-doc wipeouts); the operator must
    match a position-set brute force exactly on every doc."""
    import random

    from examples_scala_spark.operators.dedup import substring_dedup_rewrite

    rng = random.Random(20260814)
    L = 5
    docs = [(i, "".join(rng.choice("ab") for _ in range(rng.randint(3, 40))))
            for i in range(40)]

    occ: dict[str, list] = {}
    for did, t in docs:
        for i in range(len(t) - L + 1):
            occ.setdefault(t[i:i + L], []).append((did, i))
    removed: dict[int, set] = {did: set() for did, _ in docs}
    for lst in occ.values():
        if len(lst) >= 2:
            for did, i in sorted(lst)[1:]:
                removed[did].update(range(i, i + L))
    want = {}
    for did, t in docs:
        dead = removed[did]
        keep = "".join(ch for p, ch in enumerate(t) if p not in dead)
        ps = sorted(dead)
        spans = sum(1 for j, p in enumerate(ps)
                    if j == 0 or p - ps[j - 1] > 1)
        want[did] = (keep, len(ps), spans)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_chars_removed"],
                         r["n_dup_spans"])
           for r in substring_dedup_rewrite(df, L=L).collect()}
    assert got == want


# ------------------------------------------- Cavnar-Trenkle lang ID

def test_langid_ngram_profiles_separable_corpus(spark):
    """Two languages with disjoint character inventories must classify
    perfectly; a doc whose text mixes both but leans to one side lands
    on that side (out-of-place distance is rank-based, not count-
    based)."""
    from examples_scala_spark.operators.text import langid_ngram_confusion

    aa = "abc abd abe acb adb aeb "
    zz = "xyz xyw xyv xzy xwy xvy "
    docs = spark.createDataFrame(
        [(1, aa * 4, "aa"), (2, (aa + "abf ") * 3, "aa"),
         (3, zz * 4, "zz"), (4, (zz + "xyu ") * 3, "zz"),
         (5, aa * 3 + zz, "aa"),     # leans aa
         (6, zz * 3 + aa, "zz")],    # leans zz
        "doc_id long, text string, lang string")
    out = {(r["lang"], r["pred_lang"]): r["n_docs"]
           for r in langid_ngram_confusion(docs, k_lang=50,
                                           k_doc=20).collect()}
    assert out == {("aa", "aa"): 3, ("zz", "zz"): 3}


def test_substring_dedup_incremental_equals_batch_restriction(spark):
    """On the random adversarial corpus, cleaning the second half
    incrementally against the first half must equal the full-corpus
    rewrite restricted to the second half — and a batch window hash
    never seen in history with a unique hash in-batch survives."""
    import random

    from examples_scala_spark.operators.dedup import (
        substring_dedup_incremental, substring_dedup_rewrite)

    rng = random.Random(99)
    docs = [(i, "".join(rng.choice("ab") for _ in range(rng.randint(3, 40))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {r["doc_id"]: tuple(r)[1:] for r in
            substring_dedup_rewrite(df, L=5).collect()
            if r["doc_id"] >= 20}
    inc = {r["doc_id"]: tuple(r)[1:] for r in
           substring_dedup_incremental(
               df.filter("doc_id < 20"), df.filter("doc_id >= 20"),
               L=5).collect()}
    assert inc == full


def test_mixture_waterfill_exact_budget_and_caps(spark, tmpdir):
    """Water-filling invariants on a forced-redistribution corpus:
    tiny sources keep everything (rate 1), big sources share one
    common lambda, and the total allocation hits the budget B = half
    the corpus tokens to within rounding."""
    from examples_scala_spark.queries import REGISTRY
    import os

    rows = []
    did = 0
    for src, words in (("tiny", 10), ("small", 40),
                       ("big1", 400), ("big2", 600)):
        for _ in range(5):
            rows.append((did, " ".join(["w"] * words), "en", src,
                         words * 2))
            did += 1
    d = tmpdir
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in
           REGISTRY["mixture_waterfill_alloc"].fn(spark, d).collect()}
    total = sum(r["n_tokens"] for r in out.values())
    B = total // 2
    assert out["tiny"]["capped"] and out["tiny"]["rate"] == 1.0
    assert out["small"]["capped"]
    assert not out["big1"]["capped"] and not out["big2"]["capped"]
    # uncapped sources share one lambda
    assert out["big1"]["alloc_tokens"] == out["big2"]["alloc_tokens"]
    got = sum(r["alloc_tokens"] for r in out.values())
    assert abs(got - B) < 1e-3


# ---------------------------------------- round-5 session-3 additions

def _write_tbl(spark, d, rows, schema, name):
    import os
    spark.createDataFrame(rows, schema).write.mode("overwrite") \
        .parquet(os.path.join(d, f"{name}.parquet"))
    return d


def test_kanon_risk_audit_class_census(spark, tmpdir):
    """Hand-built QI classes: one k>=5 class, one class of 3, two
    singletons across two segments — the census, singleton, and
    below-k record counts must match exact hand counts."""
    from examples_scala_spark.queries import REGISTRY

    rows = []
    ck = 0
    # segment A / nation 1 / band 0 (bal 100): 6 members (safe class)
    for _ in range(6):
        rows.append((ck, f"c{ck}", 1, 100.0, "A")); ck += 1
    # segment A / nation 2 / band 0: 3 members (below k=5)
    for _ in range(3):
        rows.append((ck, f"c{ck}", 2, 150.0, "A")); ck += 1
    # segment A / nation 2 / band 1 (bal 2500): singleton
    rows.append((ck, f"c{ck}", 2, 2500.0, "A")); ck += 1
    # segment B / nation 3 / band -1 (bal -500): singleton
    rows.append((ck, f"c{ck}", 3, -500.0, "B")); ck += 1
    d = _write_tbl(
        spark, tmpdir, rows,
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string", "customer")
    out = {r["c_mktsegment"]: r for r in
           REGISTRY["kanon_risk_audit"].fn(spark, d).collect()}
    a, b = out["A"], out["B"]
    assert (a["n_customers"], a["n_classes"]) == (10, 3)
    assert a["min_class_size"] == 1
    assert a["n_singletons"] == 1
    assert a["n_below_k"] == 4          # 3-member class + singleton
    assert abs(a["pct_below_k"] - 0.4) < 1e-9
    assert (b["n_customers"], b["n_classes"]) == (1, 1)
    assert b["n_singletons"] == 1 and b["n_below_k"] == 1
    assert b["pct_below_k"] == 1.0


def test_compaction_bin_packing_matches_sequential_packer(spark, tmpdir):
    """The bin assignment must equal a pure-Python sequential
    accumulate-to-target packer over the same (source, file) manifest,
    including an oversized file occupying its own span."""
    from examples_scala_spark.queries import REGISTRY

    # doc_id // 50 = file id; craft three sources with known file
    # sizes incl. one > target (65536)
    sizes = {("s1", 0): 30000, ("s1", 1): 30000, ("s1", 2): 30000,
             ("s1", 3): 70000, ("s1", 4): 10000,
             ("s2", 0): 65536, ("s2", 1): 1,
             ("s3", 0): 5}
    rows = []
    did = 0
    for (src, fid), byts in sorted(sizes.items()):
        # one doc per (source, file): doc_id in [fid*50, fid*50+49]
        # must be unused by other sources -> give each source its own
        # offset within the 50-wide batch
        off = {"s1": 0, "s2": 1, "s3": 2}[src]
        rows.append((fid * 50 + off, "x", "en", src, byts))
        did += 1
    d = _write_tbl(
        spark, tmpdir, rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long", "documents")
    out = {(r["source"], r["bin"]): r for r in
           REGISTRY["compaction_bin_packing"].fn(spark, d).collect()}

    # reference packer
    import collections
    ref = collections.defaultdict(lambda: [0, 0, None, None])
    cum = collections.defaultdict(int)
    for (src, fid), byts in sorted(sizes.items()):
        b = cum[src] // 65536
        e = ref[(src, b)]
        e[0] += 1
        e[1] += byts
        e[2] = fid if e[2] is None else min(e[2], fid)
        e[3] = fid if e[3] is None else max(e[3], fid)
        cum[src] += byts
    assert set(out) == set(ref)
    for key, (nf, bb, f0, f1) in ref.items():
        r = out[key]
        assert (r["n_files"], r["bin_bytes"], r["first_file"],
                r["last_file"]) == (nf, bb, f0, f1), key
    # the oversized s1 file 3 starts bin 1 and pushes file 4 to bin 2
    assert out[("s1", 1)]["first_file"] == 3
    assert out[("s1", 2)]["first_file"] == 4


def test_doc_ngram_novelty_first_occurrence_semantics(spark, tmpdir):
    """doc0 introduces everything (novelty 1), an exact duplicate
    later scores 0, a half-new doc scores its new-shingle fraction,
    and sub-3-word docs are absent from the output."""
    from examples_scala_spark.queries import REGISTRY

    rows = [
        (0, "the quick brown fox jumps", "en", "s", 25),
        (1, "the quick brown fox jumps", "en", "s", 25),   # dup -> 0
        (2, "the quick brown cat sleeps now", "en", "s", 30),
        (3, "too short", "en", "s", 9),                    # no shingles
    ]
    d = _write_tbl(
        spark, tmpdir, rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long", "documents")
    out = {r["doc_id"]: r for r in
           REGISTRY["doc_ngram_novelty"].fn(spark, d).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["n_shingles"] == 3 and out[0]["novelty"] == 1.0
    assert out[1]["n_novel"] == 0 and out[1]["novelty"] == 0.0
    # doc2 shingles: "the quick brown" (seen), "quick brown cat",
    # "brown cat sleeps", "cat sleeps now" (3 new of 4)
    assert out[2]["n_shingles"] == 4 and out[2]["n_novel"] == 3
    assert abs(out[2]["novelty"] - 0.75) < 1e-9


def _pav_isotonic(bands):
    """Reference pool-adjacent-violators over (band, n, pos) rows
    sorted by band: merge adjacent blocks while a block's rate exceeds
    its successor's; return {band: fitted_rate}."""
    blocks = [[[b], n, pos] for b, n, pos in sorted(bands)]
    i = 0
    while i + 1 < len(blocks):
        l, r = blocks[i], blocks[i + 1]
        if l[2] * r[1] > r[2] * l[1]:      # rate_l > rate_r, exact
            blocks[i] = [l[0] + r[0], l[1] + r[1], l[2] + r[2]]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    out = {}
    for members, n, pos in blocks:
        for b in members:
            out[b] = pos / n
    return out


def test_isotonic_calibration_equals_pav_on_crafted_bands(spark, tmpdir):
    """Hand-built corpus with non-monotone per-band high-quality rates
    [1.0, 0.25, 0.5] — the minimax formulation must pool all three
    blocks exactly like pool-adjacent-violators (7/12 everywhere)."""
    from examples_scala_spark.queries import REGISTRY

    good = "the cat sat on the mat with the dog and the bird now"
    # score 1.0: 13 words, mean word len ~3.1, no punct, stopwords
    bad = " ".join(["a!"] * 40)
    # score 0.5: punct ratio 1/3 and mean word len 2 break two rules
    def sized(base, lo):
        s = base
        while len(s) < lo:
            s = s + " " + base
        return s

    rows = []
    did = 0
    # band 0 (<100 chars): 4 good
    for _ in range(4):
        rows.append((did, good, "en", "s", len(good))); did += 1
    # band 1 (100-199): 1 good (doubled sentence), 3 bad
    g1 = sized(good, 100)
    assert 100 <= len(g1) < 200
    b1 = sized(bad, 100)[:119]
    for txt in (g1, b1, b1, b1):
        rows.append((did, txt, "en", "s", len(txt))); did += 1
    # band 2 (200-299): 2 good, 2 bad
    g2 = sized(good, 200)
    b2 = sized(bad, 200)[:239]
    assert 200 <= len(g2) < 300
    for txt in (g2, g2, b2, b2):
        rows.append((did, txt, "en", "s", len(txt))); did += 1
    d = _write_tbl(
        spark, tmpdir, rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long", "documents")
    out = {r["band"]: r for r in
           REGISTRY["quality_calibration_isotonic"].fn(spark, d).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0]["rate"] == 1.0 and out[1]["rate"] == 0.25 \
        and out[2]["rate"] == 0.5
    ref = _pav_isotonic([(b, out[b]["n_docs"], out[b]["n_pos"])
                         for b in out])
    for b in out:
        assert abs(out[b]["calibrated"] - round(ref[b], 6)) < 1e-9, b
    # pooled value is 7/12 for every band
    assert abs(out[1]["calibrated"] - round(7 / 12, 6)) < 1e-9


def test_isotonic_calibration_pav_parity_on_testdata(spark):
    """On the real sf0.001 corpus the minimax fit must equal PAV run
    on the query's own band census, and be non-decreasing in band."""
    from examples_scala_spark.queries import REGISTRY

    rows = REGISTRY["quality_calibration_isotonic"].fn(
        spark, "/root/testdata/sf0.001").collect()
    ref = _pav_isotonic([(r["band"], r["n_docs"], r["n_pos"])
                         for r in rows])
    ordered = sorted(rows, key=lambda r: r["band"])
    for r in ordered:
        assert abs(r["calibrated"] - round(ref[r["band"]], 6)) < 1e-9
    cals = [r["calibrated"] for r in ordered]
    assert cals == sorted(cals)


def test_ann_ndcg_mrr_matches_independent_recompute(spark):
    """nDCG@5 / MRR@5 recomputed in pure Python (math.log2) from the
    two top-k builders' own outputs must match the query's pre-folded
    nano-unit arithmetic at sf0.001."""
    import math

    from examples_scala_spark.operators import similarity
    from examples_scala_spark.queries import REGISTRY, _t

    sf = "/root/testdata/sf0.001"
    emb = _t(spark, sf, "embeddings")
    brute = similarity.brute_force_topk(emb, k=5, query_mod=50).collect()
    lshr = similarity.lsh_topk(emb, k=5, query_mod=50, num_planes=8,
                               dim=64).collect()
    truth = {}
    for r in brute:
        truth[(r["query_id"], r["neighbor_id"])] = r["rank"]
    idcg = {}
    for r in brute:
        idcg[r["query_id"]] = idcg.get(r["query_id"], 0) + round(
            (6 - r["rank"]) / math.log2(r["rank"] + 1) * 1e9)
    stats = {q: {"dcg": 0, "first": None, "n": 0, "hits": 0}
             for q in idcg}
    for r in lshr:
        st = stats[r["query_id"]]
        st["n"] += 1
        t = truth.get((r["query_id"], r["neighbor_id"]))
        if t is not None:
            st["hits"] += 1
            st["dcg"] += round((6 - t) / math.log2(r["rank"] + 1) * 1e9)
            if st["first"] is None or r["rank"] < st["first"]:
                st["first"] = r["rank"]
    out = {r["query_id"]: r for r in
           REGISTRY["ann_ndcg_mrr"].fn(spark, sf).collect()}
    assert set(out) == set(idcg)
    mrr_const = {1: 1.0, 2: 0.5, 3: 0.333333, 4: 0.25, 5: 0.2}
    for q, st in stats.items():
        r = out[q]
        assert r["n_results"] == st["n"] and r["n_hits"] == st["hits"], q
        assert abs(r["ndcg_at_5"] - round(st["dcg"] / idcg[q], 6)) < 1e-9
        want_mrr = mrr_const.get(st["first"], 0.0)
        assert r["mrr_at_5"] == want_mrr, q
        assert 0.0 <= r["ndcg_at_5"] <= 1.0
    # a perfectly-ranked query (if any) must score exactly 1.0
    perfect = [q for q, st in stats.items()
               if st["dcg"] == idcg[q]]
    for q in perfect:
        assert out[q]["ndcg_at_5"] == 1.0


def test_dp_noised_histogram_matches_python_mechanism(spark):
    """Full release recomputed from the raw parquet with hashlib md5 +
    math.log: identical cell set and noisy counts, and no released
    cell below the tau=10 partition-selection threshold."""
    import collections
    import hashlib
    import math

    import pyarrow.parquet as pq

    from examples_scala_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    tb = pq.read_table(f"{sf}/events.parquet",
                       columns=["event_type", "ts"])
    ets = tb.column("event_type").to_pylist()
    # pyarrow surfaces the column as timestamp[us]: int64 = epoch us
    tss = tb.column("ts").cast("int64").to_pylist()
    cells = collections.Counter(
        (e, t // 1_000_000 // 86400) for e, t in zip(ets, tss))

    def half_away(x):
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    ref = {}
    for (e, day), c in cells.items():
        h = hashlib.md5(f"dp:{e}:{day}".encode()).hexdigest()[:13]
        u = (int(h, 16) + 1) / 4503599627370498.0
        s = u - 0.5
        sgn = (s > 0) - (s < 0)
        noise = -sgn * math.log(1.0 - 2 * abs(s))
        nanos = half_away(noise * 1e9)
        noisy = half_away((c + nanos / 1e9) * 1e6) / 1e6
        if noisy >= 10.0:
            ref[(e, day)] = noisy
    out = {(r["event_type"], r["day"]): r["noisy_count"] for r in
           REGISTRY["dp_noised_histogram"].fn(spark, sf).collect()}
    assert out == ref
    assert ref and all(v >= 10.0 for v in out.values())
    # suppression is real: at least one cell fell below tau
    assert len(ref) < len(cells)


def test_rater_agreement_kappa_hand_confusion_matrix(spark, tmpdir):
    """Crafted corpus with a known 2x2 confusion matrix between the
    composite-score rater and the Gopher rater; kappa must equal the
    closed form on exact integer counts."""
    from examples_scala_spark.queries import REGISTRY

    # Rater A (composite >= 0.75) and rater B (all 6 Gopher rules).
    # 30 distinct words (ttr 1.0, dominance 1/30), two stopwords,
    # mean word len 5.8, no punct -> A = 1.0 and all Gopher rules pass
    both = "the and " + " ".join(f"word{i:02d}" for i in range(28))
    a_only = "the quick brown fox jumps over the lazy sleeping dog"
    # A: 10 words, mean len ~4, no punct, stopwords -> 1.0
    # B: fails word_count (<30) -> keep_b = False
    neither = "zz zz zz zz"                       # both reject
    rows = []
    did = 0
    for _ in range(4):
        rows.append((did, both, "en", "s", len(both))); did += 1
    for _ in range(3):
        rows.append((did, a_only, "en", "s", len(a_only))); did += 1
    for _ in range(3):
        rows.append((did, neither, "en", "s", len(neither))); did += 1
    d = _write_tbl(
        spark, tmpdir, rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long", "documents")
    [r] = REGISTRY["rater_agreement_kappa"].fn(spark, d).collect()
    assert (r["n"], r["n11"], r["n10"], r["n01"], r["n00"]) \
        == (10, 4, 3, 0, 3)
    po = 7 / 10
    pe = (7 * 4 + 3 * 6) / 100
    kappa = (po - pe) / (1 - pe)
    assert abs(r["po"] - round(po, 6)) < 1e-9
    assert abs(r["pe"] - round(pe, 6)) < 1e-9
    assert abs(r["kappa"] - round(kappa, 6)) < 1e-9


def test_embedding_int8_quant_matches_numpy(spark):
    """Per-dim scale/minmax and the exact nano-unit error sums must
    match a numpy recompute of the same affine uint8 quantizer on
    sf0.001."""
    import numpy as np
    import pyarrow.parquet as pq

    from examples_scala_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    vs = pq.read_table(f"{sf}/embeddings.parquet",
                       columns=["embedding"]).column("embedding")
    m = np.array(vs.to_pylist(), dtype=np.float64)   # float32 -> exact
    mn, mx = m.min(axis=0), m.max(axis=0)
    scale = (mx - mn) / 255.0
    with np.errstate(invalid="ignore", divide="ignore"):
        q = np.clip(np.round((m - mn) / scale), 0, 255)
    xhat = np.where(scale == 0, mn, mn + q * scale)
    units = np.round((m - xhat) ** 2 * 1e12).astype(np.int64).sum(axis=0)
    out = {r["dim"]: r for r in
           REGISTRY["embedding_int8_quant"].fn(spark, sf).collect()}
    assert set(out) == set(range(m.shape[1]))
    for d in out:
        r = out[d]
        assert r["n_vals"] == m.shape[0]
        assert abs(r["mn"] - round(mn[d], 6)) < 1e-9
        assert abs(r["mx"] - round(mx[d], 6)) < 1e-9
        assert abs(r["scale"] - round(scale[d], 9)) < 1e-12
        assert r["err_units"] == units[d], d
        # quantization error is bounded by (scale/2)^2 per element
        assert r["err_units"] <= m.shape[0] * (scale[d] / 2) ** 2 * 1e12 \
            * 1.000001


def test_bmp_dhash_matches_numpy_recompute(spark):
    """Every (hi, lo) dHash half on sf0.001 must equal an independent
    numpy recompute: synth pixel formula -> integer midpoint resample
    to 9x8 -> r+g+b grayscale -> right-neighbor-brighter bits."""
    import pyarrow.parquet as pq

    from examples_scala_spark.queries import REGISTRY

    ids = pq.read_table("/root/testdata/sf0.001/documents.parquet",
                        columns=["doc_id"]).column("doc_id").to_pylist()

    def ref(d):
        w, h = 8 + d % 9, 5 + d % 7
        X, Y = np.meshgrid(np.arange(w), np.arange(h))
        px = np.stack([(d + 7 * X + 13 * Y) % 256,
                       (2 * d + 3 * X + 5 * Y) % 256,
                       (d + X * Y) % 256], -1)
        sx = ((2 * np.arange(9) + 1) * w) // 18
        sy = ((2 * np.arange(8) + 1) * h) // 16
        g = px[np.ix_(sy, sx)].sum(-1)
        bits = (g[:, 1:] > g[:, :-1]).astype(int)
        lo = sum(int(bits[oy, ox]) << (oy * 8 + ox)
                 for oy in range(4) for ox in range(8))
        hi = sum(int(bits[oy, ox]) << ((oy - 4) * 8 + ox)
                 for oy in range(4, 8) for ox in range(8))
        return hi, lo

    want = {d: ref(int(d)) for d in ids}
    out = {r["doc_id"]: r for r in
           REGISTRY["bmp_dhash_dedup"].fn(
               spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == set(want)
    from collections import Counter, defaultdict
    grp = Counter(want.values())
    canon = defaultdict(lambda: 1 << 62)
    for d, hv in want.items():
        canon[hv] = min(canon[hv], d)
    for d, r in out.items():
        hv = (r["dhash_hi"], r["dhash_lo"])
        assert hv == want[d], d
        assert r["group_n"] == grp[hv]
        assert r["canonical_id"] == canon[hv]
        assert r["is_dup"] == (d != canon[hv])


def test_bmp_dhash_brightness_invariant_on_real_bytes(spark):
    """The perceptual property itself, on REAL encoded payloads (no
    synth formula): a uniform +25-per-channel brightening leaves the
    dHash unchanged, while forcing the gradient between the two
    top-left SAMPLED pixels in either direction pins bit 0 to each
    value (so at least one variant differs from the base)."""
    from examples_scala_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    base = rng.integers(20, 200, size=(12, 17, 3)).astype(np.uint8)
    bright = (base.astype(np.int64) + 25).astype(np.uint8)
    # bit (ox=0, oy=0) for 17x12 compares thumbnail columns 0 and 1,
    # which sample SOURCE x=((2*0+1)*17)//18=0 and x=((2*1+1)*17)//18=2
    # at y=((2*0+1)*12)//16=0 (x=1 is never sampled).
    up, down = base.copy(), base.copy()
    up[0, 0], up[0, 2] = 0, 255      # right sampled neighbor brighter: bit=1
    down[0, 0], down[0, 2] = 255, 0  # right sampled neighbor darker:  bit=0
    rows = [(0, bytearray(mm.encode_bmp(base)), "image/bmp", 0),
            (1, bytearray(mm.encode_bmp(bright)), "image/bmp", 0),
            (2, bytearray(mm.encode_bmp(up)), "image/bmp", 0),
            (3, bytearray(mm.encode_bmp(down)), "image/bmp", 0)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["doc_id"]: (r["dhash_hi"], r["dhash_lo"])
           for r in mm.bmp_dhash(media).collect()}
    assert out[0] == out[1], "uniform brightening changed the dHash"
    assert out[2][1] & 1 == 1, "brighter sampled neighbor must set bit 0"
    assert out[3][1] & 1 == 0, "darker sampled neighbor must clear bit 0"
    assert out[2] != out[3], "opposite gradients must hash differently"


def test_ann_recall_truncated_matches_numpy(spark):
    """Per-query hit counts on sf0.001 must equal a numpy recompute
    of both exact top-5 sets (full 64-dim vs first-32-dim cosine,
    ties broken by id)."""
    import pyarrow.parquet as pq

    from examples_scala_spark.queries import REGISTRY

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet",
                      columns=["vec_id", "embedding"])
    ids = np.array(t.column("vec_id").to_pylist())
    m = np.array(t.column("embedding").to_pylist(), dtype=np.float64)

    def topk(mat):
        norms = np.sqrt((mat * mat).sum(1))
        sets = {}
        for qi in np.where(ids % 50 == 0)[0]:
            cos = mat @ mat[qi] / (norms * norms[qi])
            order = sorted((-(cos[j]), ids[j]) for j in range(len(ids))
                           if ids[j] != ids[qi])
            sets[int(ids[qi])] = {nid for _, nid in order[:5]}
        return sets

    fullk, trunck = topk(m), topk(m[:, :32])
    out = {r["query_id"]: r for r in
           REGISTRY["ann_recall_truncated"].fn(
               spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == set(fullk)
    for q in fullk:
        hits = len(fullk[q] & trunck[q])
        assert out[q]["hits"] == hits, q
        assert abs(out[q]["recall"] - round(hits / 5.0, 6)) < 1e-9
