"""Batch operator unit tests on tiny deterministic fixtures
(FIXTURES.md §5 expectations) plus plan-hygiene assertions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from examples_scala_spark.operators import aggregations as agg
from examples_scala_spark.operators import dedup, joins, similarity, text, transforms
from examples_scala_spark.functions.scalar import fahrenheit_to_celsius_col
from examples_scala_spark.plans.inspect import explain_str
from examples_scala_spark.sources.fixtures import threshold_updates
from examples_scala_spark.sources.tables import sensor_readings
from references import assert_broadcast_join, assert_no_python_in_plan


def test_fahrenheit_to_celsius(spark):
    df = spark.createDataFrame([("s1", 32.0), ("s1", 212.0)], ["id", "temperature"])
    out = df.select(fahrenheit_to_celsius_col("temperature").alias("c"))
    assert [r.c for r in out.collect()] == [0.0, 100.0]


def test_split_ids(spark):
    df = spark.createDataFrame([("sensor_7",)], ["id"])
    out = transforms.split_ids(df).collect()
    assert [r.token for r in out] == ["sensor", "7"]


def test_shuffle_timestamps_disorders_event_time(spark):
    """P6 shifts the epoch-ms `timestamp` the stateful ports read, not
    only `ts`: per sensor it is no longer non-decreasing, every shift
    stays in [0, 7 s), `ts` moves with it, and a different partition
    layout shifts each row the same way."""
    from pyspark.sql import Window

    from examples_scala_spark.sources.sensor import sensor_source_batch

    src = sensor_source_batch(spark, num_rows=2_000).withColumn(
        "t0", F.col("timestamp"))
    out = transforms.shuffle_timestamps(src)
    prev = F.lag("timestamp").over(Window.partitionBy("id").orderBy("t0"))
    row = out.select(
        (F.col("timestamp") < prev).cast("int").alias("inverted"),
        (F.col("timestamp") - F.col("t0")).alias("shift"),
        (F.unix_millis("ts") == F.col("timestamp")).alias("ts_agrees"),
    ).agg(F.sum("inverted"), F.min("shift"), F.max("shift"),
          F.bool_and("ts_agrees")).first()
    assert row[0] > 0
    assert 0 <= row[1] and row[2] < 7_000
    assert row[3]
    again = transforms.shuffle_timestamps(src.repartition(3))
    assert sorted(map(tuple, out.select("t0", "timestamp").collect())) == \
        sorted(map(tuple, again.select("t0", "timestamp").collect()))


def test_latest_rules_drops_deletes(spark):
    latest = joins.latest_rules(threshold_updates(spark)).collect()
    got = {r["id"]: r["threshold"] for r in latest}
    # sensor_1 updated 5.0 -> 1.2; sensor_3 deleted (0.0)
    assert got == {"sensor_1": 1.2, "sensor_2": 0.9}


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05"), (2, "2024-01-01 00:00:15"),
         (3, "2023-12-31 00:00:00")], ["k", "ts_s"]
    ).select("k", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", "A"), ("2024-01-01 00:00:10", "B"),
         ("2024-01-01 00:00:15", "C")], ["ts_s", "v"]
    ).select(F.to_timestamp("ts_s").alias("ts"), "v")
    out = {r["k"]: r["v"] for r in
           joins.asof_join(left, right, ts="ts", right_cols=["v"]).collect()}
    # k=2 at :15 ties with C -> right row at equal ts included
    assert out == {1: "A", 2: "C", 3: None}


def test_enrichment_join_is_broadcast(spark, sf_dir):
    s = sensor_readings(spark, sf_dir)
    dim = spark.createDataFrame([("sensor_1", "r1")], ["sensor", "room"])
    out = joins.enrichment_join(s, dim, on=[s.id == dim.sensor])
    assert_broadcast_join(out)
    assert_no_python_in_plan(out)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from examples_scala_spark.sources.tables import load_table
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") < 24).select("l_quantity", "l_discount")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,24.0)]" in plan
    # column pruning: scan must read only the two referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_discount:double>" in plan


def test_exact_dedup_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], ["doc_id", "text"])
    out = {r["keep_id"]: r["dup_count"] for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_word_shingles(spark):
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    got = {r["shingle"] for r in dedup.word_shingles(docs, n=3).collect()}
    assert got == {"a b c", "b c d"}
    # shorter than n -> no shingles, no crash
    docs2 = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert dedup.word_shingles(docs2, n=3).count() == 0


def test_ngram_jaccard_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "q r s t u")],
        ["doc_id", "text"])
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert len(out) == 1 and out[0]["doc_a"] == 1 and out[0]["doc_b"] == 2
    assert out[0]["jaccard"] == 1.0


def test_minhash_identical_docs_share_signature(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert [(p["doc_a"], p["doc_b"], p["sig_sim"]) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_identical_docs_equal_fp(spark):
    docs = spark.createDataFrame(
        [(1, "hello world foo"), (2, "hello world foo")], ["doc_id", "text"])
    fps = [r["simhash"] for r in dedup.simhash(docs).collect()]
    assert fps[0] == fps[1]


def test_brute_force_topk_self_similarity_excluded(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0]), (50, [1.0, 0.0])],
        ["vec_id", "embedding"])
    out = similarity.brute_force_topk(emb, k=2, query_mod=50)
    rows = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out.collect()]
    # queries are 0 and 50; nearest to 0 is 50 (identical), then 1
    assert (0, 50, 1) in rows and (0, 1, 2) in rows
    assert all(q != n for q, n, _ in rows)


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze ist da"),
         (3, "zzz qqq www")], ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_score_range(spark, sf_dir):
    from examples_scala_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    out = text.quality_score(docs)
    bad = out.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1))
    assert bad.count() == 0
    assert_no_python_in_plan(out)


def test_exact_aggs_stay_jvm_side(spark, sf_dir):
    s = sensor_readings(spark, sf_dir)
    out = s.groupBy("id").agg(agg.exact_sum("temperature", "t"))
    assert_no_python_in_plan(out)


def test_ivf_topk_probing_all_cells_equals_bruteforce(spark, sf_dir):
    """Probing every cell makes IVF exact — catches broken cell
    assignment or candidate routing, which would still produce
    syntactically valid output. Also: recall is monotone in nprobe.
    (A recall *level* test would be meaningless here: the synthetic
    embeddings are i.i.d. random, IVF's adversarial case.)"""
    from examples_scala_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, k=5).collect()}
    ivf_all = {(r.query_id, r.neighbor_id)
               for r in similarity.ivf_topk(emb, k=5, nprobe=10**6).collect()}
    assert ivf_all == exact
    ivf_1 = {(r.query_id, r.neighbor_id)
             for r in similarity.ivf_topk(emb, k=5, nprobe=1).collect()}
    ivf_3 = {(r.query_id, r.neighbor_id)
             for r in similarity.ivf_topk(emb, k=5, nprobe=3).collect()}
    assert len(ivf_1 & exact) <= len(ivf_3 & exact) <= len(exact)
    assert all(q % 50 == 0 for q, _ in ivf_1)


def test_pq_adc_exact_when_codebook_covers_vectors(spark):
    """PQ exact regime: when the sampled codebook contains every
    distinct vector, each vector reconstructs losslessly and ADC
    distances ARE the exact squared-L2 distances — so the PQ top-k must
    equal the exact ranking (ties on neighbor id). Catches broken
    encoding, table building, or the per-partition gather. The
    approximate regime on i.i.d. random embeddings has no meaningful
    recall floor (same rationale as the IVF test above)."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, m = 10, 8, 2
    vecs = rng.normal(size=(n, dim)).round(3)
    ids = [1 + 23 * i for i in range(n)]  # all ids ≡ 1 (mod 23)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>")
    got = similarity.pq_adc_topk(emb, k=3, query_mod=4, m=m, codes=n,
                                 dim=dim, sample_mod=23)
    got_rows = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    assert got_rows, "no query ids divisible by 4 in fixture?"

    by_id = dict(zip(ids, vecs))
    for qid in {q for q, _ in got_rows}:
        d = sorted(
            (float(((by_id[qid] - v) ** 2).sum()), i)
            for i, v in by_id.items() if i != qid)
        for rank, (_, nid) in enumerate(d[:3], start=1):
            assert got_rows[(qid, rank)] == nid, (qid, rank)


def test_pq_adc_query_set_is_bounded(spark, sf_dir):
    """The driver-side query materialization must be hard-capped: even
    with query_mod=1 (every corpus row nominally a query) only
    max_queries queries reach the kernel, chosen as the deterministic
    ordered prefix — the collect cannot grow with the corpus. An
    explicit bounded query DataFrame is honored the same way."""
    from examples_scala_spark.sources.tables import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    got = similarity.pq_adc_topk(emb, k=2, query_mod=1, max_queries=7)
    qids = sorted({r.query_id for r in got.collect()})
    first7 = [r.vec_id for r in
              emb.select("vec_id").orderBy("vec_id").limit(7).collect()]
    assert qids == first7
    explicit = similarity.pq_adc_topk(
        emb, k=2, queries=emb.filter("vec_id % 100 = 1"), max_queries=3)
    eqids = sorted({r.query_id for r in explicit.collect()})
    want = [r.vec_id for r in emb.filter("vec_id % 100 = 1")
            .select("vec_id").orderBy("vec_id").limit(3).collect()]
    assert eqids == want


def test_connected_components_known_graph(spark):
    from examples_scala_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7]], ["id"])
    # chain 1-2-3 (only transitive propagation finds 3 -> 1), pair 5-6,
    # singleton 7; edge orientation deliberately mixed
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 6)], ["src", "dst"])
    got = {r.id: r.component
           for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}


def test_salted_agg_matches_direct(spark):
    from examples_scala_spark.operators.skew import salted_agg_count_sum

    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        ["rid", "k", "v"])
    got = {r.k: (r.cnt, r.total)
           for r in salted_agg_count_sum(df, "k", "v", ["rid"], 16).collect()}
    direct = {r.k: (r["count(1)"], r["sum(v)"]) for r in
              df.groupBy("k").agg(F.count(F.lit(1)), F.sum("v")).collect()}
    assert got == {k: (c, float(s)) for k, (c, s) in direct.items()}


def test_salted_join_matches_plain(spark):
    from examples_scala_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(300)], ["rid", "k", "v"])
    small = spark.createDataFrame([(0, "a"), (1, "b")], ["k", "tag"])
    salted = salted_join(big, small, "k", salt_from=["rid"], buckets=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 200
    got = {(r.rid, r.tag) for r in salted.select("rid", "tag").collect()}
    want = {(r.rid, r.tag) for r in plain.select("rid", "tag").collect()}
    assert got == want


def test_ngram_jaccard_df_cap_prunes_stop_shingles(spark):
    # "x y z" appears in every doc (a stop-phrase); docs 1/2 also share
    # unique content. With df_cap=2 the universal shingle is pruned:
    # docs 3/4 (which ONLY share the stop-phrase) stop pairing, while
    # 1/2 still pair on their unique shingles.
    docs = spark.createDataFrame(
        [(1, "a b c d x y z"), (2, "a b c d x y z"),
         (3, "p q r s x y z"), (4, "t u v w x y z")],
        ["doc_id", "text"])
    uncapped = {(r.doc_a, r.doc_b)
                for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1,
                                                 df_cap=2).collect()}
    assert (3, 4) in uncapped
    assert (3, 4) not in capped
    assert (1, 2) in capped


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_asof_strategies_agree(spark, data):
    """Property: the broadcast-interval as-of (un-keyed path) and the
    union-merge as-of (keyed path, forced with a constant key) give
    identical results on arbitrary inputs — including ties and
    before-first-right-row nulls."""
    l_ts = data.draw(st.lists(st.integers(0, 50), min_size=1, max_size=20,
                              unique=True))
    r_rows = data.draw(st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from(["A", "B", "C"])),
        min_size=0, max_size=8, unique_by=lambda t: t[0]))
    left = spark.createDataFrame([(i, t) for i, t in enumerate(l_ts)],
                                 "k long, ts long")
    right = spark.createDataFrame(r_rows or [(None, None)],
                                  "ts long, v string").filter("ts IS NOT NULL")

    bc = {r.k: r.v for r in joins.asof_join_broadcast(
        left, right, ts="ts", right_cols=["v"]).collect()}
    lk = left.withColumn("g", F.lit(1))
    rk = right.withColumn("g", F.lit(1))
    um = {r.k: r.v for r in joins.asof_join(
        lk, rk, ts="ts", right_cols=["v"], key="g").collect()}
    assert bc == um


def test_clean_text_scrubs_urls_and_emails(spark):
    docs = spark.createDataFrame(
        [(1, "see https://ex.com/a?b=1 or   mail bob@corp.io today"),
         (2, "no contact info\t here")], ["doc_id", "text"])
    out = {r.doc_id: (r.clean_text, r.n_urls, r.n_emails)
           for r in text.clean_text(docs).collect()}
    assert out[1] == ("see <URL> or mail <EMAIL> today", 1, 1)
    assert out[2] == ("no contact info here", 0, 0)


def test_kmeans_training_improves_quantizer(spark, sf_dir):
    """IVF over the id-sampled coarse quantizer becomes exact when
    probing every cell (routing invariance)."""
    from examples_scala_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = similarity.with_norm(emb).select("vec_id", "v", "norm")
    cents = similarity.sampled_centroids(base)

    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in similarity.ivf_topk(
        emb, k=5, nprobe=10**6, centroids=cents).collect()}
    assert ivf == exact


def test_chunk_tokens_windows_and_tail(spark):
    # 7 tokens, window 4, stride 3 -> starts 0,3,6: full chunk, full
    # chunk, then a 1-token tail (never an empty chunk).
    df = spark.createDataFrame([(1, "a b c d e f g"), (2, "x")],
                               ["doc_id", "text"])
    out = text.chunk_tokens(df, window=4, stride=3)
    got = {(r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
           for r in out.collect()}
    assert got == {
        (1, 0, 4, "a b c d"),
        (1, 1, 4, "d e f g"),
        (1, 2, 1, "g"),
        (2, 0, 1, "x"),
    }
    assert_no_python_in_plan(out)


def test_chunk_tokens_zero_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    plan = explain_str(text.chunk_tokens(df))
    assert "Exchange" not in plan


def test_rare_token_stats_integer_rarity_rule(spark):
    # 5 docs; 'zz' appears in exactly 1 doc (df*5 <= 5 -> rare),
    # 'aa' in all 5 (not rare). Doc 1 has 3 tokens, 2 rare occurrences.
    rows = [(1, "aa zz zz"), (2, "aa"), (3, "aa"), (4, "aa"), (5, "aa")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           text.rare_token_stats(df, 1, 5).collect()}
    assert out[1].n_tokens == 3 and out[1].n_rare == 2
    assert out[1].rare_ratio == pytest.approx(2 / 3, abs=1e-6)
    assert out[2].n_rare == 0 and out[2].ttr == 1.0


def test_label_centroids_partition_count_invariant(spark):
    # DECIMAL partials: the centroid must not depend on how rows are
    # split across partitions (double summation would).
    rows = [(i, [0.1 * (i % 7) + 0.01 * d for d in range(4)], i % 3)
            for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    a = similarity.label_centroids(df.repartition(1), dim=4)
    b = similarity.label_centroids(df.repartition(13), dim=4)
    av = {(r.label, r.dim): (r.n, r.centroid) for r in a.collect()}
    bv = {(r.label, r.dim): (r.n, r.centroid) for r in b.collect()}
    assert av == bv


def test_dedup_keep_best_argmax_on_duplicates(spark, tmpdir):
    # two copies of the same text: keep the one with more tokens is
    # impossible (identical), so the doc_id tie-break picks the lower;
    # a third doc with distinct text forms its own group.
    from examples_scala_spark.queries import REGISTRY
    import os
    spark.createDataFrame(
        [(7, "a b c", "en", "s", 5), (3, "a b c", "en", "s", 5),
         (9, "x y", "en", "s", 3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(os.path.join(tmpdir, "documents.parquet"))
    out = {r.keep_id: (r.group_size, r.keep_words)
           for r in REGISTRY["dedup_keep_best"].fn(spark, tmpdir).collect()}
    assert out == {3: (2, 3), 9: (1, 2)}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _py_chunks(text_: str, window: int, stride: int):
    toks = text_.strip().split()
    toks = toks if toks else [""]  # split('\s+') on '' yields ['']
    out = []
    for i, s in enumerate(range(0, max(len(toks) - 1, 0) + 1, stride)):
        piece = toks[s:s + window]
        out.append((i, len(piece), " ".join(piece)))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet=" abcxyz", min_size=1, max_size=60), min_size=1,
    max_size=8))
def test_chunk_tokens_matches_python_reference(spark, texts):
    """Property: the JVM array pipeline (split/sequence/slice) agrees
    with a straightforward Python implementation on arbitrary
    whitespace patterns — leading/trailing/multiple spaces included."""
    from examples_scala_spark.operators.text import chunk_tokens
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in chunk_tokens(df, window=4, stride=3).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.n_chunk_tokens, r.chunk_text))
    for i, t in rows:
        assert sorted(got[i]) == _py_chunks(t, 4, 3), (t, got[i])

def test_pagerank_star_graph_analytic_fixed_point(spark):
    from examples_scala_spark.operators.graph import pagerank

    # undirected star K1,4 + one isolated node: closed-form fixed point
    # (n=5 connected) is center .47568, leaf .13108 when no dangling;
    # with the isolated 6th node every rank shrinks but ordering and
    # stochasticity (sum == 1) must hold.
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], ["src", "dst"])
    got = {r.id: r.rank for r in
           pagerank(nodes, edges, iterations=40).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert abs(got[1] - 0.47568) < 1e-3
    for leaf in (2, 3, 4, 5):
        assert abs(got[leaf] - 0.13108) < 1e-3


def test_pagerank_redistributes_dangling_mass(spark):
    from examples_scala_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], ["src", "dst"])
    got = {r.id: r.rank for r in
           pagerank(nodes, edges, iterations=40).collect()}
    # isolated node keeps only teleport + its share of its own mass,
    # the distribution stays stochastic, center still dominates
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[1] > got[2] > got[6] > 0

def test_length_weighted_sample_is_length_biased_and_on_rate(spark, sf_dir):
    from examples_scala_spark.queries import REGISTRY

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    corpus_mean = docs.agg({"n_chars": "avg"}).first()[0]
    sample = REGISTRY["length_weighted_sample"].fn(spark, sf_dir)
    rows = sample.collect()
    # overall rate ~1/5 and P(keep) proportional to length => the
    # sample must skew long; ht_weight must invert p exactly
    assert 0.1 * n < len(rows) < 0.35 * n
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean
    for r in rows[:10]:
        assert abs(r.p_inclusion * r.ht_weight - 1.0) < 1e-12


def test_scoped_shuffle_partitions_guard(spark):
    """ADVICE r5: the loop clamp must (a) clamp to the volume and
    restore the session value, (b) skip entirely — no raise, no
    mutation — when the session value is non-numeric (e.g. 'auto'),
    and (c) restore on exception."""
    from examples_scala_spark.session import scoped_shuffle_partitions

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        with scoped_shuffle_partitions(spark, rows=1_000_000,
                                       rows_per_partition=500_000):
            assert spark.conf.get(key) == "8"  # floor dominates 2
        assert spark.conf.get(key) == "32"
        # big volume: clamp returns the session setting
        with scoped_shuffle_partitions(spark, rows=500_000_000):
            assert spark.conf.get(key) == "32"
        # non-numeric session value: guard skips the clamp entirely
        # (this Spark build rejects 'auto' at set-time, so exercise
        # the guard through a stub conf as such a runtime would show)
        class _StubConf:
            def __init__(self):
                self.sets = []

            def get(self, k):
                return "auto"

            def set(self, k, v):
                self.sets.append((k, v))

        class _StubSpark:
            conf = _StubConf()

        stub = _StubSpark()
        with scoped_shuffle_partitions(stub, rows=10):
            pass
        assert stub.conf.sets == []  # no mutation, no raise
        # exception inside the scope still restores
        spark.conf.set(key, "32")
        try:
            with scoped_shuffle_partitions(spark, rows=10):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == "32"
    finally:
        spark.conf.set(key, prev)
