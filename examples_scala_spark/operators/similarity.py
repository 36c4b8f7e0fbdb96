"""Similarity search over embedding columns (array<float>).

Three strategies:
- brute-force top-k: exact, O(Q*N) — the baseline and the verifier.
  All math stays JVM-side (zip_with/aggregate fold in double).
- LSH-bucketed top-k: random-hyperplane signatures partition the space;
  candidates only within the query's bucket. At 100 TB this is the
  serving path: signature computation is a narrow map, the join is an
  equi-join on the signature, and per-bucket top-k bounds compute.
  Hyperplanes are derived from deterministic integer arithmetic so the
  whole pipeline is reproducible on any engine (see oracle SQL).
- IVF top-k: coarse-quantizer cells (inverted file). Every vector is
  assigned to its nearest centroid once (narrow map vs broadcast
  centroids); a query probes its `nprobe` nearest cells and scores only
  those cells' vectors. At scale the table is written partitioned by
  cell, so a query touches nprobe partitions — classic IVF layout on
  parquet. Centroids here are sampled deterministically by id (a real
  deployment swaps in k-means means; the plumbing is identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalar import half_up

# deterministic pseudo-random hyperplane component for (plane, dim):
# ((p*131 + d)*2654435761 mod 1000003)/1000003 - 0.5
_M = 1_000_003
_A = 2_654_435_761


def _plane_component(p: int, d: int) -> float:
    return ((p * 131 + d) * _A % _M) / _M - 0.5


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return emb.withColumn("v", v).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )


def cosine(l_vec, r_vec, l_norm, r_norm) -> F.Column:
    dot = F.aggregate(F.zip_with(l_vec, r_vec, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (l_norm * r_norm)


# hard bound on how many reference vectors nearest_ref_vec may collect
# to the driver — the same bounded-collect contract as ivfpq_topk's
# query table; every caller's reference set is ordered-limit capped
# far below this
_MAX_REF_COLLECT = 65536

# per-slice cell budget for the kernel's (batch_rows x ref_slice)
# accumulator: 2^22 float64 cells = 32 MB per live array (~3 live per
# dimension step, so ~100 MB peak per task). With the default Arrow
# batch (10k rows) and <=256 refs every existing caller fits ONE slice
# (2.56M cells) — the slicing only engages for large reference sets
# (sqrt-budget SemDeDup at big corpora can reach _MAX_REF_COLLECT,
# where an unsliced accumulator would be 10k x 65536 x 8 B ~= 5 GB per
# concurrent task: executor OOM at exactly the scale the sqrt budget
# targets — ADVICE r10).
_KERNEL_CELL_BUDGET = 1 << 22


def nearest_ref_vec(base: DataFrame, refs: DataFrame,
                    id_col: str = "vec_id",
                    ref_id_col: str = "cent_id",
                    ref_vec_col: str = "cv",
                    ref_norm_col: str = "cnorm",
                    carry_vec: bool = False) -> DataFrame:
    """Nearest-reference argmax-cosine, VECTORIZED and BIT-EXACT:
    for every base vector, the reference row maximizing
    cosine(v, rv) with ties broken by the SMALLEST reference id —
    the same contract as max_by over the relational affinity, as
    one Arrow-batched mapInPandas pass with zero joins, zero
    exchanges, and zero sorts.

    Why this is the 100 TB shape (measured at the 100x probe,
    SCALE.md r10): the relational form must materialize corpus x
    n_refs rows and either window-sort or sort-aggregate them; with
    the 256-centroid cap that is 256x the corpus through an
    interpreted per-element cosine — ~30 s at 100x vs ~2.5-5 s for
    this pass, 12x, and the gap widens with n_refs. The reference
    side is COLLECTED (bounded: every caller caps it by ordered-limit
    at <= 256 — sampled_centroids/bench sets — and this function
    refuses more than 65536 rows) and shipped via broadcast exactly
    like ivfpq_topk's ADC tables.

    Bit-exactness contract (the reason this is NOT np.dot): the
    kernel accumulates the dot product DIMENSION-SEQUENTIALLY —
    acc starts at 0.0 and adds v[i]*r[i] one dimension at a time,
    vectorized across rows — reproducing F.aggregate's left fold
    ((0.0 + x0) + x1) + ... exactly, one IEEE rounding per step in
    the same order; the division runs as dot / (norm * rnorm), the
    same association as the `cosine` helper. np.argmax returns the
    FIRST maximal index and NaN ranks greatest (first NaN wins),
    so with references sorted by id ascending the tie-break and NaN
    semantics equal the relational (ccos DESC, ref_id ASC) order.
    Verified bit-identical against the relational max_by on the 10x
    and 100x probe corpora and hash-checked against the DuckDB
    oracles at both driver SFs.

    Zero-norm vectors are REJECTED loudly (ValueError), matching the
    relational path's behavior under Spark's default ANSI mode,
    where cosine's division throws DIVIDE_BY_ZERO: a silent numpy
    inf/NaN here (or DuckDB's divide-by-zero NULL) would let the
    three engines quietly disagree on exactly the rows where cosine
    is undefined. Screen such vectors out upstream (they are corrupt
    embeddings by definition) rather than relying on any engine's
    div-by-zero convention.

    Returns (id_col, ref_id_col, ccos [, v, norm] ) — carry_vec=True
    passes the base vector/norm through the Arrow batch so consumers
    (pair joins, k-means updates) need no corpus join-back."""
    import numpy as np
    import pandas as pd

    rows = (refs.select(ref_id_col, ref_vec_col, ref_norm_col)
            .orderBy(ref_id_col).collect())
    if len(rows) > _MAX_REF_COLLECT:
        raise ValueError(
            f"nearest_ref_vec: {len(rows)} reference vectors exceed the "
            f"bounded-collect contract ({_MAX_REF_COLLECT}); cap the "
            "reference set (ordered-limit)")
    schema_str = f"{id_col} bigint, {ref_id_col} bigint, ccos double"
    if carry_vec:
        schema_str += ", v array<double>, norm double"
    if not rows:
        # no references (e.g. the id-sample is empty on a tiny corpus)
        # -> no assignments, matching the relational join's empty result.
        # On a STREAMING base the empty result must be derived from the
        # stream itself (a batch createDataFrame under a writeStream
        # raises AnalysisException — ADVICE r10): filter(false) keeps
        # the plan streaming with the same output schema.
        if base.isStreaming:
            cols = [F.col(id_col).cast("bigint").alias(id_col),
                    F.lit(None).cast("bigint").alias(ref_id_col),
                    F.lit(None).cast("double").alias("ccos")]
            if carry_vec:
                cols += [F.col("v").cast("array<double>").alias("v"),
                         F.col("norm").cast("double").alias("norm")]
            return base.where(F.lit(False)).select(*cols)
        return base.sparkSession.createDataFrame([], schema_str)
    C = np.asarray([r[ref_vec_col] for r in rows], dtype=np.float64)
    cn = np.asarray([r[ref_norm_col] for r in rows], dtype=np.float64)
    rid = np.asarray([r[ref_id_col] for r in rows], dtype=np.int64)
    if (cn == 0).any():
        raise ValueError(
            "nearest_ref_vec: zero-norm reference vector — cosine is "
            "undefined (ANSI Spark would raise DIVIDE_BY_ZERO); screen "
            "corrupt references upstream")
    bc = base.sparkSession.sparkContext.broadcast((C, cn, rid))
    out_ref = ref_id_col

    def kernel(batches):
        C, cn, rid = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["v"]), dtype=np.float64)
            norms = pdf["norm"].to_numpy()
            if (norms == 0).any():
                raise ValueError(
                    "nearest_ref_vec: zero-norm input vector — cosine "
                    "is undefined (ANSI Spark would raise "
                    "DIVIDE_BY_ZERO); screen corrupt vectors upstream")
            n = len(V)
            # slice the REFERENCE axis so the (rows x refs) accumulator
            # stays under the cell budget (ADVICE r10: with 65536 refs
            # an unsliced accumulator is ~5 GB per task). Slicing the
            # ref axis changes NOTHING per (row, ref): each slice still
            # accumulates dimension-sequentially (one IEEE rounding per
            # step, fold order), so every ccos is bit-identical to the
            # unsliced pass; with <=256 refs (every default caller)
            # this is exactly ONE slice.
            width = max(1, min(len(rid), _KERNEL_CELL_BUDGET // max(1, n)))
            best_val = None
            best_idx = None
            rows_ix = np.arange(n)
            for lo in range(0, len(rid), width):
                hi = min(lo + width, len(rid))
                acc = np.zeros((n, hi - lo))
                for i in range(C.shape[1]):
                    # dimension-sequential: one rounding per step
                    acc = acc + V[:, i:i + 1] * C[lo:hi, i][None, :]
                ccos = acc / (norms[:, None] * cn[lo:hi][None, :])
                sbest = np.argmax(ccos, axis=1)
                sval = ccos[rows_ix, sbest]
                if best_val is None:
                    best_val, best_idx = sval, sbest + lo
                else:
                    # merge preserving global argmax semantics over the
                    # id-ascending slice order: NaN ranks greatest with
                    # the FIRST NaN winning (earlier slice = smaller
                    # id), ties keep the earlier (smaller-id) slice —
                    # exactly np.argmax over the full row.
                    win = ((np.isnan(sval) & ~np.isnan(best_val))
                           | (sval > best_val))
                    best_val = np.where(win, sval, best_val)
                    best_idx = np.where(win, sbest + lo, best_idx)
            out = {id_col: pdf[id_col].to_numpy(),
                   out_ref: rid[best_idx],
                   "ccos": best_val}
            if carry_vec:
                out["v"] = list(pdf["v"])
                out["norm"] = pdf["norm"].to_numpy()
            yield pd.DataFrame(out)

    # the broadcast blocks live until the driver-side Broadcast object
    # is GC'd (ContextCleaner): <=256 refs is ~131 KB per query
    return (base.select(id_col, "v", "norm")
            .mapInPandas(kernel, schema_str))


def brute_force_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     max_queries: int = 256) -> DataFrame:
    """Exact cosine top-k for query vectors (id % query_mod == 0).
    Output: (query_id, neighbor_id, rank, cos). Rank ties broken by
    neighbor id for determinism.

    The modulo-derived query set is hard-capped at max_queries via a
    distributed ordered-limit (TakeOrdered) BEFORE the collect —
    the same bounded contract as pq_adc_topk/ivfpq_topk (VERDICT
    r8 #2): without it the shipped side is corpus/mod and candidate
    pairs grow quadratically with scale.

    Execution (r10): the corpus x 256-query scoring runs as ONE
    vectorized Arrow pass (nearest_ref_vec's bit-exact
    dimension-sequential kernel) that emits only each query's
    per-batch top-k — k x |queries| rows per Arrow batch instead of
    corpus x |queries| scored rows through the interpreted cosine.
    The final window re-ranks |batches| x |queries| x k candidates
    (tiny) with the exact (cos DESC, neighbor_id) order, so the
    result is bit-identical to the pure-relational form: a per-batch
    top-k by the SAME total order can never drop a global top-k row
    (NaN cosines rank greatest, matching Spark's DESC NaN ordering,
    via a -inf sort key substitution). Measured 24.2 s -> ~4 s at
    the 100x probe.

    BATCH-ONLY by construction (unlike nearest_ref_vec, whose collect
    is on the batch reference side while the scored base may stream):
    the query-set ordered-limit collect runs on the INPUT, so a
    streaming emb fails loudly at the collect — the empty-qrows
    fallback below never sees a stream and needs no streaming-safe
    variant. The same contract holds for pq_adc_topk."""
    import numpy as np
    import pandas as pd

    base = with_norm(emb, vec_col)
    qrows = (base.filter((F.col(id_col) % query_mod) == 0)
             .orderBy(id_col).limit(int(max_queries))
             .select(F.col(id_col).alias("query_id"),
                     F.col("v").alias("qv"),
                     F.col("norm").alias("qnorm")).collect())
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int, cos double")
    Q = np.asarray([r.qv for r in qrows], dtype=np.float64)
    qn = np.asarray([r.qnorm for r in qrows], dtype=np.float64)
    qid = np.asarray([r.query_id for r in qrows], dtype=np.int64)
    if (qn == 0).any():
        raise ValueError(
            "brute_force_topk: zero-norm query vector — cosine is "
            "undefined (ANSI Spark would raise DIVIDE_BY_ZERO)")
    bc = emb.sparkSession.sparkContext.broadcast((Q, qn, qid))

    def local_topk(batches):
        Q, qn, qid = bc.value
        nq = len(qid)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["v"]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            norms = pdf["norm"].to_numpy()
            if (norms == 0).any():
                raise ValueError(
                    "brute_force_topk: zero-norm corpus vector — "
                    "cosine is undefined (ANSI Spark would raise "
                    "DIVIDE_BY_ZERO)")
            acc = np.zeros((len(V), nq))
            for i in range(Q.shape[1]):
                # dimension-sequential: fold order, one rounding/step
                acc = acc + V[:, i:i + 1] * Q[:, i][None, :]
            cos = acc / (norms[:, None] * qn[None, :])
            out_q, out_n, out_c = [], [], []
            for j in range(nq):
                mask = ids != qid[j]
                cids, cj = ids[mask], cos[mask][:, j]
                if not len(cids):
                    continue
                # NaN ranks greatest (Spark DESC semantics): sort key
                # -inf pushes NaN rows to the front of the ascending
                # lexsort; ties resolve to the smallest neighbor id
                key = np.where(np.isnan(cj), -np.inf, -cj)
                take = np.lexsort((cids, key))[:k]
                out_q.append(np.full(len(take), qid[j]))
                out_n.append(cids[take])
                out_c.append(cj[take])
            if out_q:
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c)})

    local = (base.select(F.col(id_col), "v", "norm")
             .mapInPandas(local_topk,
                          "query_id bigint, neighbor_id bigint, cos double"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def lsh_signature(vec_col, num_planes: int, dim: int) -> F.Column:
    """Random-hyperplane signature: bit p = (v . plane_p) >= 0."""
    sig = F.lit(0).cast("bigint")
    for p in range(num_planes):
        comps = F.array(*[F.lit(_plane_component(p, d)) for d in range(dim)])
        dot = F.aggregate(F.zip_with(vec_col, comps, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def lsh_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
             num_planes: int = 8, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_queries: int = 256) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.
    The join is an equi-join on the signature — at scale, bucket the
    table by signature so lookups are partition-pruned. Query set
    hard-capped at max_queries via ordered-limit before the
    broadcast (same contract as brute_force_topk; VERDICT r8 #2)."""
    base = with_norm(emb, vec_col).withColumn(
        "sig", lsh_signature(F.col("v"), num_planes, dim))
    queries = (base.filter((F.col(id_col) % query_mod) == 0)
               .orderBy(id_col).limit(int(max_queries))
               .select(F.col(id_col).alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm"),
                       F.col("sig").alias("qsig")))
    scored = (
        base.join(F.broadcast(queries), F.col("sig") == F.col("qsig"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v"), F.col("qnorm"), F.col("norm")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def sqrt_budget(n: int, min_nlist: int = 16,
                max_nlist: int = _MAX_REF_COLLECT) -> int:
    """The occupancy-held-constant centroid budget:
    clamp(floor(sqrt(n)), min_nlist, max_nlist). With nlist ~ sqrt(n),
    expected cell occupancy is also ~sqrt(n), so a within-cell pair
    join totals nlist * occupancy^2 ~ n^1.5 instead of the fixed-cap
    n^2 (SCALE.md r9/r10: the fixed-256 plain SemDeDup measured
    occupancy-quadratic, 88.6 s vs the sqrt budget's 58.9 s already at
    the 100x probe). floor(sqrt(.)) over IEEE doubles is correctly
    rounded on both engines, so a DuckDB oracle reproduces the budget
    with a computed LIMIT and the path stays hash-checkable.

    Scale horizon: the max_nlist clamp (= the kernel's bounded-collect
    cap) means the n^1.5 contract holds up to n = max_nlist^2 ~ 4.3B
    vectors; past that, occupancy grows linearly again under the
    clamped budget. Beyond the horizon use semantic_dedup_snm (cost
    linear in occupancy) or a relational max_by assignment over
    cell_affinity, which supports any nlist without a driver
    collect."""
    import math

    return max(min_nlist, min(max_nlist, int(math.floor(math.sqrt(n)))))


def sampled_centroids(base: DataFrame, centroid_mod: int = 23,
                      id_col: str = "vec_id",
                      max_centroids: int = 256) -> DataFrame:
    """Deterministic id-sampled centroids (cent_id, cv, cnorm) — the
    oracle-reproducible coarse quantizer.

    Hard-capped at max_centroids via ordered-limit (the query-set cap's
    sibling, VERDICT r8 #2 family): a modulo-only sample grows the
    centroid count linearly with the corpus, which makes every
    all-vectors x all-centroids affinity stage QUADRATIC in corpus
    size. Production IVF fixes nlist and scales cell occupancy — the
    cap reproduces that contract deterministically."""
    return (base.filter((F.col(id_col) % centroid_mod) == 1)
            .orderBy(id_col).limit(int(max_centroids))
            .select(F.col(id_col).alias("cent_id"), F.col("v").alias("cv"),
                    F.col("norm").alias("cnorm")))


def cell_affinity(base: DataFrame, cents: DataFrame,
                  id_col: str = "vec_id") -> DataFrame:
    """Cosine affinity of every vector to every centroid (C is small:
    broadcast cross join, no shuffle): (id, cent_id, ccos)."""
    return base.join(F.broadcast(cents)).select(
        F.col(id_col), F.col("cent_id"),
        cosine(F.col("v"), F.col("cv"), F.col("norm"), F.col("cnorm"))
        .alias("ccos"),
    )


def assign_cells(base: DataFrame, cents: DataFrame,
                 id_col: str = "vec_id") -> DataFrame:
    """Nearest-centroid cell per vector: (id, cell), argmax cosine,
    ties broken by centroid id — one vectorized Arrow pass, no joins,
    no exchanges (nearest_ref_vec)."""
    return (nearest_ref_vec(base, cents, id_col)
            .select(F.col(id_col), F.col("cent_id").alias("cell")))


def ivf_incremental_assign(index: DataFrame, changes: DataFrame,
                           cents: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           op_col: str = "op") -> DataFrame:
    """Maintain the IVF cell index under a vector changelog instead of
    re-assigning the corpus: only the CHANGED vectors pay the
    nearest-centroid computation; prior rows for changed ids are
    dropped with a broadcast anti-join (changelogs are small), deletes
    disappear, upserts land in their new cell. With a fixed coarse
    quantizer (index maintenance does not retrain), the result is
    bit-identical to assigning everything from scratch (tested +
    oracle-checked) at changelog cost — minhash_delta's idiom applied
    to the ANN index. Returns the new (id, cell) index."""
    changed_ids = changes.select(F.col(id_col)).distinct()
    kept = index.join(F.broadcast(changed_ids), id_col, "left_anti")
    ups = changes.filter(F.col(op_col) == "upsert")
    newly = assign_cells(
        with_norm(ups, vec_col).select(F.col(id_col), "v", "norm"),
        cents, id_col)
    return kept.unionByName(newly)


def semantic_dedup_delta(history: DataFrame, incoming: DataFrame,
                         threshold: float = 0.35, centroid_mod: int = 23,
                         max_centroids: int = 256,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Incremental SemDeDup under continuous ingestion: dedup an
    incoming vector batch against an existing corpus WITHOUT
    re-comparing history against itself — minhash_delta's changelog
    idiom applied to the embedding path (the composition a 100 TB
    pipeline actually runs: history's cell index is stored state, new
    data pays assignment + one within-cell comparison pass).

    Semantics (deterministic, SQL-expressible): the coarse quantizer
    is FIXED from history (id-sampled, capped — index maintenance
    does not retrain, same contract as ivf_incremental_assign); on a
    COLD START (history has no centroid candidates) it bootstraps
    from the batch instead — without that, an empty quantizer made
    assignment empty and the whole first batch silently vanished
    from the output (r11 review find: data loss, where the contract
    says batch-sized output with every unmatched row kept). For
    each incoming vector v:
      keep_id = min({v} | {u in history + batch : cell(u) = cell(v),
                            id(u) < id(v), cos(u, v) >= threshold})
      kept    = (keep_id = id(v))
    The comparison is >= threshold — the SAME boundary as
    semantic_dedup/semantic_dedup_snm (it was strict > until r11,
    letting the incremental and batch paths disagree on pairs landing
    exactly on the threshold). History rows never flip (their keeper
    decision is already made); output is BATCH-sized: (id, cell,
    keep_id, kept) for incoming rows only.

    Plan: centroids broadcast; assignment batch-sized; the comparison
    is an equi-join of the batch against cell members — pinned
    shuffle_hash so the corpus-sized member side can never broadcast
    (the r9 dup_hashes lesson); at scale it is a partition-pruned
    read of exactly the probed cells."""
    base_h = with_norm(history, vec_col).select(F.col(id_col), "v", "norm")
    base_c = with_norm(incoming, vec_col).select(F.col(id_col), "v", "norm")
    cents = sampled_centroids(base_h, centroid_mod, id_col,
                              max_centroids=max_centroids)
    if not cents.take(1):
        # cold start: no quantizer can be sampled from history —
        # bootstrap it from the batch (what a first index build does);
        # the ≤max_centroids take(1)/sample stays bounded-driver-cheap
        cents = sampled_centroids(base_c, centroid_mod, id_col,
                                  max_centroids=max_centroids)
        if not cents.take(1):
            # no candidates anywhere (tiny batch missing the modulo):
            # no comparisons are possible — keep everything, cell null
            return base_c.select(
                F.col(id_col), F.lit(None).cast("long").alias("cell"),
                F.col(id_col).cast("long").alias("keep_id"),
                F.lit(True).alias("kept"))
    h_asn = assign_cells(base_h, cents, id_col)
    # r12: the batch assignment feeds the member union AND the probe
    # side; `new` additionally feeds the nbr join and the final
    # restore — pin both so the batch runs the assignment kernel once
    c_asn = assign_cells(base_c, cents, id_col) \
        .localCheckpoint(eager=False)
    members = (base_h.join(h_asn, id_col)
               .unionByName(base_c.join(c_asn, id_col))
               .select(F.col(id_col).alias("rid"), F.col("v").alias("rv"),
                       F.col("norm").alias("rnorm"), "cell"))
    new = (base_c.join(c_asn, id_col)
           .select(F.col(id_col).alias("lid"), F.col("v").alias("lv"),
                   F.col("norm").alias("lnorm"), "cell")
           .localCheckpoint(eager=False))
    nbr = (new.join(members.hint("shuffle_hash"), "cell")
           .filter(F.col("rid") < F.col("lid"))
           .filter(cosine(F.col("lv"), F.col("rv"),
                          F.col("lnorm"), F.col("rnorm")) >= threshold)
           .groupBy("lid").agg(F.min("rid").alias("nbr_min")))
    # nbr_min < lid by construction, so keep_id = coalesce(nbr_min, lid)
    return (new.select("lid", "cell")
            .join(nbr, "lid", "left")
            .select(F.col("lid").alias(id_col), "cell",
                    F.coalesce("nbr_min", F.col("lid")).alias("keep_id"),
                    F.col("nbr_min").isNull().alias("kept")))


def ivf_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
             centroid_mod: int = 23, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: DataFrame | None = None,
             max_queries: int = 256) -> DataFrame:
    """IVF approximate top-k.

    1. centroids: trained means passed via `centroids`, else the
       deterministic id sample (oracle-reproducible).
    2. assign: every vector -> argmax-cosine centroid (vectorized
       Arrow pass over the collected capped centroid table,
       bit-exact; ties broken by centroid id — nearest_ref_vec).
    3. probe: each query keeps its nprobe best cells.
    4. score: candidates = vectors whose cell is probed (equi-join on
       cell — the partition-pruned path at scale), exact cosine, top-k.

    The modulo-derived query set is hard-capped at max_queries via
    ordered-limit (VERDICT r8 #2); probes are semi-joined against the
    SAME capped set so probing and scoring agree at any corpus size.

    Output: (query_id, neighbor_id, rank, cos).
    """
    base = with_norm(emb, vec_col).select(
        F.col(id_col), F.col("v"), F.col("norm"))
    cents = (centroids if centroids is not None
             else sampled_centroids(base, centroid_mod, id_col))
    # cell affinity of every vector to every centroid — used only by
    # the probes branch, where the query semi-join prunes it to the
    # capped 256-query set before the cosine ever runs
    affinity = cell_affinity(base, cents, id_col)
    # assignment: vectorized exact argmax carrying v/norm through the
    # Arrow batch — no affinity materialization, no window, no
    # corpus<->corpus join-back
    data = (nearest_ref_vec(base, cents, id_col, carry_vec=True)
            .withColumnRenamed("cent_id", "cell"))
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("ccos").desc(), F.col("cent_id"))

    queries = (base.filter((F.col(id_col) % query_mod) == 0)
               .orderBy(id_col).limit(int(max_queries))
               .select(F.col(id_col).alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("norm").alias("qnorm")))
    probes = (affinity
              .join(F.broadcast(queries.select(
                  F.col("query_id").alias(id_col))), id_col, "left_semi")
              .withColumn("r", F.row_number().over(w_assign))
              .filter(F.col("r") <= nprobe)
              .select(F.col(id_col).alias("query_id"),
                      F.col("cent_id").alias("cell")))
    scored = (
        data.join(F.broadcast(probes), "cell")
        .join(F.broadcast(queries), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v"), F.col("qnorm"), F.col("norm"))
            .alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cos", 6).alias("cos"))
    )


def pq_codebooks(emb, m: int = 8, codes: int = 16, dim: int = 64,
                 sample_mod: int = 23, id_col: str = "vec_id",
                 vec_col: str = "embedding"):
    """Deterministic PQ codebooks: the first `codes` vectors with
    id % sample_mod == 1 (ordered by id) donate their subvectors —
    codebook[s][c] = sample c sliced to subspace s. Returns a numpy
    array of shape (m, codes, dim//m). A production deployment swaps
    in per-subspace k-means; the id sample keeps every run and
    engine reproducible."""
    import numpy as np

    dsub = dim // m
    rows = (emb.filter((F.col(id_col) % sample_mod) == 1)
            .orderBy(id_col).limit(codes)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect())
    if len(rows) < codes:
        raise ValueError(f"need {codes} sample vectors, got {len(rows)}")
    samples = np.asarray([r.v for r in rows])          # (codes, dim)
    return np.stack([samples[:, s * dsub:(s + 1) * dsub]
                     for s in range(m)])               # (m, codes, dsub)


def pq_encode(emb: DataFrame, books, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector to m bytes: code[s] = argmin-L2 codebook
    entry for its subspace-s slice. 64 floats -> 8 bytes is the 32x
    memory cut that lets a 100 TB corpus's index live in RAM. The
    kernel is an Arrow-batched numpy argmin (vectorized across the
    whole batch x codes grid) — the honest slow-path placement, since
    no builtin expresses argmin-over-codebook."""
    import numpy as np
    import pandas as pd

    m, codes, dsub = books.shape

    def encode(batches):
        for pdf in batches:
            vecs = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            n = vecs.shape[0]
            out = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                sub = vecs[:, s * dsub:(s + 1) * dsub]      # (n, dsub)
                # (n, codes) squared L2 via ||a||^2 - 2ab + ||b||^2
                d2 = ((sub ** 2).sum(1)[:, None]
                      - 2.0 * sub @ books[s].T
                      + (books[s] ** 2).sum(1)[None, :])
                out[:, s] = d2.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "pq_codes": [row.tolist() for row in out]})

    return emb.select(id_col, F.col(vec_col).cast("array<double>")
                      .alias(vec_col)).mapInPandas(
        encode, f"{id_col} bigint, pq_codes array<int>")


def pq_adc_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
                m: int = 8, codes: int = 16, dim: int = 64,
                sample_mod: int = 23, id_col: str = "vec_id",
                vec_col: str = "embedding",
                queries: DataFrame | None = None,
                max_queries: int = 256) -> DataFrame:
    """PQ top-k by asymmetric distance computation (ADC): queries stay
    exact, candidates are scored from their m-byte codes against the
    query's per-subspace distance table (one table lookup + add per
    subspace, never a float vector load).

    Scale shape: the scan reads only (id, codes) — bytes, not vectors;
    each partition emits at most queries x k local winners (map-side
    top-k, same pruning idiom as heavy_hitters), so the final shuffle
    is tiny regardless of corpus size. The query set is BOUNDED by
    construction: an explicit `queries` DataFrame (the production
    path — a query batch is always small relative to the corpus) or
    the `query_mod` corpus sample, either way hard-capped at
    `max_queries` via a distributed ordered-limit (TakeOrdered — the
    driver never materializes more than max_queries rows, so the
    collect cannot grow with the corpus). Distance tables ship as a
    Spark broadcast (one copy per executor), not a per-task closure.
    Output: (query_id, neighbor_id, rank, adist). The whole pipeline is
    deterministic (id-sampled codebook), so the registry oracle is an
    exact DuckDB twin of the ADC computation; recall vs brute force is
    additionally bounded in tests."""
    import numpy as np
    import pandas as pd

    books = pq_codebooks(emb, m, codes, dim, sample_mod, id_col, vec_col)
    dsub = dim // m
    qdf = (queries if queries is not None
           else emb.filter((F.col(id_col) % query_mod) == 0))
    # orderBy+limit = deterministic bounded top-N, never a full collect
    qrows = (qdf.select(id_col, F.col(vec_col).cast("array<double>")
                        .alias("v"))
             .orderBy(id_col).limit(int(max_queries)).collect())
    if not qrows:
        # same explicit empty-query guard as brute_force_topk: an
        # empty sample otherwise makes qvecs 1-D and the subspace
        # slicing raises an obscure numpy IndexError (r11 review find)
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int, "
                "adist double")
    qids = np.asarray([r[id_col] for r in qrows])
    qvecs = np.asarray([r.v for r in qrows])            # (Q, dim)
    # distance tables: tables[q, s, c] = ||q_sub - book[s,c]||^2
    tables = np.stack([
        ((qvecs[:, s * dsub:(s + 1) * dsub][:, None, :] - books[s][None]) ** 2)
        .sum(2) for s in range(m)], axis=1)             # (Q, m, codes)
    bcast = emb.sparkSession.sparkContext.broadcast((qids, tables))

    def local_topk(batches):
        qids, tables = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cds = np.asarray(list(pdf["pq_codes"]))     # (n, m)
            # adist[q, n] = sum_s tables[q, s, cds[n, s]] — one table
            # gather per subspace
            adist = np.zeros((len(qids), len(ids)))
            for s in range(m):
                adist += tables[:, s, cds[:, s]]
            for qi, qid in enumerate(qids):
                mask = ids != qid
                cand_ids, cand_d = ids[mask], adist[qi][mask]
                take = min(k, len(cand_ids))
                if not take:
                    continue
                part = np.lexsort((cand_ids, cand_d))[:take]
                yield pd.DataFrame({
                    "query_id": qid, "neighbor_id": cand_ids[part],
                    "adist": cand_d[part]})

    encoded = pq_encode(emb, books, id_col, vec_col)
    local = encoded.mapInPandas(
        local_topk, "query_id bigint, neighbor_id bigint, adist double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist"), F.col("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("adist", 6).alias("adist")))


def label_centroids(emb: DataFrame, dim: int = 64,
                    vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label centroid of an embedding column, one row per (label,
    dimension). Dimensions are exploded so the aggregation is a plain
    hash agg keyed on (label, dim) — at 100 TB this shuffles only
    (label x dim) partial sums per map task (map-side combine), never
    vectors. Sums are exact DECIMAL(28,12) partials, so the result is
    independent of partition count and merge order (float summation is
    not associative; decimal is); the mean divides once in DOUBLE at
    the end. The centroid table is what an IVF coarse quantizer
    serves."""
    e = emb.select(
        F.col(label_col).cast("long").alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>"))
         .alias("dim", "x"))
    return (
        e.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(F.count("*").cast("long").alias("n"),
             F.sum(F.col("x").cast("decimal(28,12)")).alias("s"))
        .select("label", "dim", "n",
                # s is DECIMAL(28,12): *1e12 -> exact SIGNED integer;
                # the mean is an integer rational (r13 tie class)
                half_up((F.col("s") * F.lit(1_000_000_000_000))
                        .cast("decimal(38,0)"),
                        F.col("n").cast("decimal(38,0)")
                        * F.lit(1_000_000_000_000))
                 .alias("centroid"))
    )


def semantic_dedup(emb: DataFrame, threshold: float = 0.35,
                   centroid_mod: int = 23, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_centroids: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings by
    nearest centroid, then drop any vector with a lower-id neighbor
    above the cosine threshold INSIDE its cluster.

    This is the scale shape of embedding near-dup removal: the
    quadratic pair comparison is confined to one cell, the centroid
    set rides a broadcast, and the only wide ops are the cell
    equi-join and one groupBy(id) for the neighbor minimum. The
    deterministic id-sampled quantizer keeps the whole path
    oracle-reproducible.

    Centroid budget (flipped r11, VERDICT r10 #1): the DEFAULT is now
    the sqrt-corpus budget — max_centroids=None tunes nlist to
    clamp(floor(sqrt(n)), 16, 65536) from ONE count action (see
    `sqrt_budget`), holding cell occupancy ~sqrt(n) so the within-cell
    pair join totals n^1.5. The measured alternative (r9/r10 probes):
    a FIXED budget keeps the assign stage linear but lets occupancy
    grow with the corpus, making the pair join occupancy-QUADRATIC —
    18.4x per 10x data, 88.6 s vs 58.9 s already at the 100x probe.
    Pass an int to pin a fixed budget explicitly (the recall gate does,
    to hold the quantizer constant while comparing variants).

    Returns (id, cell, keep_id, kept): keep_id is the smallest id in
    the vector's near-neighbor set (itself included), kept = "I am my
    own keeper".
    """
    if max_centroids is None:
        max_centroids = sqrt_budget(emb.count())
    base = with_norm(emb, vec_col).select(F.col(id_col), "v", "norm")
    cents = sampled_centroids(base, centroid_mod, id_col,
                              max_centroids=max_centroids)
    # r12: `assign` feeds both pair-join sides AND the keeper
    # election — unmaterialized, the Arrow assignment kernel ran 3x
    # per action (3 ArrowEvalPython nodes in the plan). One lazy
    # checkpoint pins the corpus-x-nlist kernel to a single run; the
    # stored rows are the operator's own working set (id, cell,
    # vector, norm) and spill cleanly.
    assign = nearest_ref_vec(base, cents, id_col, carry_vec=True) \
        .select(F.col(id_col), "cent_id", "v", "norm") \
        .localCheckpoint(eager=False)
    left, right = assign.alias("l"), assign.alias("r")
    nbr_min = (
        left.join(right, "cent_id")
        .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        .filter(cosine(F.col("l.v"), F.col("r.v"),
                       F.col("l.norm"), F.col("r.norm")) >= threshold)
        .groupBy(F.col(f"l.{id_col}").alias(id_col))
        .agg(F.min(F.col(f"r.{id_col}")).alias("nbr_min"))
    )
    out = assign.join(nbr_min, on=id_col, how="left")
    keep = F.least(F.col(id_col), F.coalesce(F.col("nbr_min"), F.col(id_col)))
    return out.select(
        F.col(id_col), F.col("cent_id").alias("cell"),
        keep.cast("long").alias("keep_id"),
        (F.col(id_col) == keep).alias("kept"))


def semantic_dedup_auto(emb: DataFrame, threshold: float = 0.35,
                        centroid_mod: int = 23, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        min_nlist: int = 16,
                        max_nlist: int = 65536) -> DataFrame:
    """Occupancy-held-constant SemDeDup: semantic_dedup with the
    centroid budget tuned to floor(sqrt(corpus rows)) instead of a
    fixed 256 — the self-tuning answer to the measured trade in the
    fixed-nlist variant (SCALE.md r9: cell occupancy grows linearly
    under a fixed budget, and the within-cell pair join is QUADRATIC
    in occupancy, 18.4x per 10x data). With nlist ~ sqrt(n), expected
    occupancy is also ~ sqrt(n), so the total pair-compare volume is
    nlist * occupancy^2 ~ n^1.5 instead of n^2 — and both the
    assignment stage (corpus x nlist) and the pair stage grow at the
    same n^1.5 rate: neither half silently becomes the bottleneck as
    the corpus scales. This is exactly the sqrt(corpus) guidance the
    fixed-cap docstring gives pair-join consumers, made the default
    instead of a knob the caller must remember.

    Determinism contract: nlist = clamp(floor(sqrt(n)), min_nlist,
    max_nlist) from ONE count action (scan-bound, scalar result —
    the same bounded-driver-roundtrip class as ivfpq_topk's query
    collect); floor(sqrt(.)) over IEEE doubles is correctly rounded
    on both engines, so the DuckDB oracle reproduces the budget with
    a computed LIMIT and the whole path stays hash-checkable.

    Since r11 this IS semantic_dedup's default (VERDICT r10 #1 flipped
    the fixed-256 default); this explicit name stays as the contract's
    documentation point and for callers that tune the clamp bounds.

    Same output contract as semantic_dedup: (id, cell, keep_id,
    kept)."""
    nlist = sqrt_budget(emb.count(), min_nlist, max_nlist)
    return semantic_dedup(emb, threshold=threshold,
                          centroid_mod=centroid_mod, id_col=id_col,
                          vec_col=vec_col, max_centroids=nlist)


def semantic_dedup_sweep(emb: DataFrame,
                         thresholds: tuple[float, ...] = (0.30, 0.35,
                                                          0.40, 0.45),
                         centroid_mod: int = 23, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_centroids: int | None = None) -> DataFrame:
    """Threshold SWEEP for semantic dedup — "how much of the corpus
    would each cosine threshold drop?", the tuning pass a curation
    team runs BEFORE committing a SemDeDup threshold (the semantic
    sibling of lsh_band_sweep's banding sweep). One vectorized
    assignment + ONE within-cell pair pass computes every
    threshold's answer simultaneously: per doc, the maximum cosine
    to any LOWER-id cell-mate (`best_lower`) — a doc is dropped at
    threshold t iff best_lower >= t, because the keeper election
    drops exactly the docs with a qualifying lower-id neighbor. The
    thresholds then read off the SAME per-doc aggregate; no
    per-threshold re-join, no re-scan.

    Exactness: cosines compare to double literals both engines parse
    identically; counts are integers; the only emitted double is the
    6-dp drop fraction. Same cell machinery (id-sampled quantizer,
    within-cell confinement, and — since r11, VERDICT r10 #1 — the
    same sqrt-corpus DEFAULT budget via `sqrt_budget`; pass an int to
    pin a fixed nlist) as semantic_dedup, so a sweep row at t equals
    semantic_dedup(threshold=t)'s drop count under the same budget.

    Output: (threshold, n_docs, n_dropped, drop_frac), one row per
    threshold, ascending."""
    if max_centroids is None:
        max_centroids = sqrt_budget(emb.count())
    base = with_norm(emb, vec_col).select(F.col(id_col), "v", "norm")
    cents = sampled_centroids(base, centroid_mod, id_col,
                              max_centroids=max_centroids)
    # same 3-consumer shape as semantic_dedup — pin the kernel output
    assign = nearest_ref_vec(base, cents, id_col, carry_vec=True) \
        .select(F.col(id_col), "cent_id", "v", "norm") \
        .localCheckpoint(eager=False)
    left, right = assign.alias("l"), assign.alias("r")
    best_lower = (
        left.join(right, "cent_id")
        .filter(F.col(f"r.{id_col}") < F.col(f"l.{id_col}"))
        .groupBy(F.col(f"l.{id_col}").alias(id_col))
        .agg(F.max(cosine(F.col("l.v"), F.col("r.v"),
                          F.col("l.norm"), F.col("r.norm")))
             .alias("best_lower")))
    per_doc = (assign.select(F.col(id_col))
               .join(best_lower, id_col, "left"))
    ts = F.explode(F.array(*[F.lit(float(t)) for t in
                             sorted(thresholds)])).alias("threshold")
    return (per_doc.select(F.col(id_col), "best_lower", ts)
            .groupBy("threshold")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("best_lower") >= F.col("threshold"),
                              1).otherwise(0)).cast("long")
                 .alias("n_dropped"))
            .select("threshold", "n_docs", "n_dropped",
                    half_up(F.col("n_dropped"), F.col("n_docs"))
                    .alias("drop_frac")))


def semantic_dedup_snm(emb: DataFrame, threshold: float = 0.35,
                       chunk: int = 16, centroid_mod: int = 23,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_centroids: int = 256) -> DataFrame:
    """Sorted-neighborhood SemDeDup — the LINEAR-scale variant of
    semantic_dedup's within-cell pair join. The 100x probe (SCALE.md
    r9) measured the plain within-cell compare at 18.4x per 10x data:
    cell occupancy grows with the corpus under a fixed centroid
    budget and the pair join is quadratic in occupancy. The classic
    record-linkage fix is the sorted neighborhood method (Hernandez &
    Stolfo 1995): order candidates by a key that co-locates
    near-duplicates, then compare only inside a sliding window of
    that order.

    Here the sort key is the vector's cosine to its own centroid
    (near-duplicate vectors have near-identical ccos, so they land
    adjacent), the window is realized as fixed-size CHUNKS of the
    per-cell rank order, and every vector is compared against all
    members of its own and the adjacent chunk — O(occupancy * chunk)
    comparisons instead of O(occupancy^2), with recall loss only for
    near-dup pairs whose ccos ranks sit more than one chunk apart
    (cosine is a metric-like key: duplicates agree with ANY third
    vector, including the centroid, so rank-distant duplicates are
    rare; the trade is the same one LSH banding makes).

    Everything stays deterministic and oracle-checkable: the
    id-sampled quantizer, (ccos DESC, id) rank order, integer chunk
    arithmetic, and the same lower-id keeper election as
    semantic_dedup. The chunk self-join is keyed on (cell, chunk) —
    bounded fan-out two keys per row — and pinned shuffle_hash so
    neither corpus-derived side ever broadcasts.

    Returns (id, cell, keep_id, kept) — semantic_dedup's schema, so
    a pipeline can swap the two on a size threshold.
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "v", "norm")
    cents = sampled_centroids(base, centroid_mod, id_col,
                              max_centroids=max_centroids)
    assign = nearest_ref_vec(base, cents, id_col, carry_vec=True)
    rw = Window.partitionBy("cent_id").orderBy(
        F.col("ccos").desc(), F.col(id_col))
    # r12: `ranked` feeds both chunk-join sides and the final keeper
    # join — pin it so the Arrow assignment kernel + rank window run
    # once per action instead of three times
    ranked = (assign
              .withColumn("rnk", F.row_number().over(rw))
              .withColumn("ck", F.floor((F.col("rnk") - 1) / chunk)
                          .cast("long"))
              .select(F.col(id_col), "cent_id", "v", "norm", "ck")
              .localCheckpoint(eager=False))
    right = ranked.select(
        F.col(id_col).alias("rid"), F.col("cent_id").alias("rcell"),
        F.col("v").alias("rv"), F.col("norm").alias("rnorm"),
        F.explode(F.array(F.col("ck"), F.col("ck") + 1)).alias("jc"))
    ed = (ranked.join(right.hint("shuffle_hash"),
                      (F.col("cent_id") == F.col("rcell"))
                      & (F.col("ck") == F.col("jc")))
          .filter(F.col(id_col) != F.col("rid"))
          .filter(cosine(F.col("v"), F.col("rv"),
                         F.col("norm"), F.col("rnorm")) >= threshold)
          .select(F.col(id_col), F.col("rid")))
    sym = ed.union(ed.select(F.col("rid").alias(id_col),
                             F.col(id_col).alias("rid")))
    nbr_min = sym.groupBy(id_col).agg(F.min("rid").alias("nbr_min"))
    out = ranked.select(F.col(id_col), "cent_id") \
                .join(nbr_min, id_col, "left")
    keep = F.least(F.col(id_col),
                   F.coalesce(F.col("nbr_min"), F.col(id_col)))
    return out.select(
        F.col(id_col), F.col("cent_id").alias("cell"),
        keep.cast("long").alias("keep_id"),
        (F.col(id_col) == keep).alias("kept"))


def semantic_decontaminate(emb: DataFrame, threshold: float = 0.35,
                           bench_mod: int = 97, bench_rem: int = 3,
                           max_bench: int = 64, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Embedding-level decontamination: flag corpus vectors whose
    cosine to ANY benchmark/eval vector clears the threshold — the
    paraphrase-level complement to the n-gram overlap family
    (bloom_decontaminate / decontaminate_overlap catch verbatim
    leaks; reworded eval items share no 8-gram but still sit next to
    the original in embedding space, which is how recent model
    reports audit their pretraining sets).

    The benchmark set is the deterministic id-sampled stand-in for a
    real eval suite (vec_id % bench_mod == bench_rem, ordered-limit
    capped like every query set in the ANN family, so the work
    contract is fixed as the corpus grows). The corpus is everything
    NOT in that CAPPED set — a broadcast anti-join against the 64
    bench ids, not the raw modulo predicate, so modulo-sampled rows
    beyond the cap stay ordinary corpus and ARE audited (the raw
    predicate would silently exempt them once the sample outgrows
    the cap). Benchmarks are SMALL by nature, so the right 100 TB
    plan is exactly what Catalyst gets here: broadcast the benchmark
    side and score the corpus in one scan-linear pass (corpus x
    |bench|, never corpus x corpus) — no index needed below ~10k
    benchmark rows.

    Returns one row per CONTAMINATED corpus vector: its best-matching
    benchmark id (ties broken by benchmark id) and the cosine,
    rounded for engine-stable hashing.
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "v", "norm")
    bench = (base.filter(F.col(id_col) % bench_mod == bench_rem)
             .orderBy(id_col).limit(max_bench)
             .select(F.col(id_col).alias("bench_id"),
                     F.col("v").alias("bv"), F.col("norm").alias("bnorm")))
    corpus = base.join(
        F.broadcast(bench.select(F.col("bench_id").alias(id_col))),
        id_col, "left_anti")
    # vectorized best-match (argmax over ALL benches, then the
    # threshold filter — equivalent to filter-then-argmax since a
    # best below threshold means no bench clears it)
    best = nearest_ref_vec(corpus, bench, id_col,
                           ref_id_col="bench_id", ref_vec_col="bv",
                           ref_norm_col="bnorm")
    return (best.filter(F.col("ccos") >= threshold)
            .select(F.col(id_col), "bench_id",
                    F.round("ccos", 6).alias("cosine")))


def embedding_outliers(emb: DataFrame, z: int = 3, min_cell: int = 8,
                       centroid_mod: int = 23, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_centroids: int = 256) -> DataFrame:
    """Embedding OUTLIER screen: flag vectors whose cosine to their
    own cell centroid sits more than z standard deviations from the
    cell mean — the cheap data-hygiene pass that catches corrupt,
    truncated, or mis-embedded vectors (and crude poisoning attempts)
    before they pollute dedup/ANN/mixing stages downstream. Cells
    with fewer than min_cell members are exempt (no meaningful
    variance).

    Exactness contract: each ccos is quantized ONCE to integer
    milli-units, and the z-test runs as a pure-integer
    cross-multiplication — (n*x - s)^2 > z^2 * (n*q - s^2), the
    |x - mean| > z*sigma test with both sides multiplied by n^2 (the
    minimal shared factor; an extra common factor of n would burn a
    decade of DECIMAL headroom for nothing) — so no engine ever
    computes a mean, a variance, or a square root in floating point;
    the flag set is bit-identical anywhere. The squared form flags
    both tails. Per-cell sums ride DECIMAL(38,0): with |x| <= 1000,
    the largest term n*q <= n^2 * 1e6, so the inequality is exact up
    to cell occupancy ~1e16 — far past any real cell; past that a
    non-ANSI Spark decimal overflow would NULL the comparison and
    fail open, which is why the shared n factor stays divided out.

    Plan: the vectorized zero-exchange assignment (nearest_ref_vec)
    plus ONE cell-keyed aggregate joined back to the members — two
    shuffles, both keyed on the cell; no pair joins at all, so this
    is the cheapest member of the embedding-quality family.
    """
    base = with_norm(emb, vec_col).select(F.col(id_col), "v", "norm")
    cents = sampled_centroids(base, centroid_mod, id_col,
                              max_centroids=max_centroids)
    assign = nearest_ref_vec(base, cents, id_col)
    # r12: `u` feeds the per-cell stats aggregate AND the member join
    # — pin the 3-longs-per-row quantized table so the assignment
    # kernel runs once per action instead of twice
    u = assign.select(
        F.col(id_col), F.col("cent_id"),
        F.round(F.col("ccos") * 1000).cast("long").alias("x")) \
        .localCheckpoint(eager=False)
    st = u.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("q"))
    j = u.join(st, "cent_id")
    nd = F.col("n").cast("decimal(38,0)")
    d = nd * F.col("x").cast("decimal(38,0)") - F.col("s")
    lhs = d * d
    rhs = F.lit(z * z) * (nd * F.col("q") - F.col("s") * F.col("s"))
    return (j.filter((F.col("n") >= min_cell) & (lhs > rhs))
            .select(F.col(id_col), F.col("cent_id").alias("cell"),
                    F.col("x").alias("ccos_milli"),
                    F.col("n").alias("cell_n")))


def lsh_multiprobe_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
                        num_planes: int = 8, dim: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_queries: int = 256) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket AND
    every 1-bit-flip neighbor bucket (num_planes+1 probes) — the
    standard recall upgrade that needs NO index change: near vectors
    most often differ in exactly one hyperplane sign, so probing
    Hamming-1 neighbors recovers most of what single-bucket LSH loses
    (measured against brute force in tests). The probe set stays an
    equi-join on the signature (partition-prunable at scale); cost is
    (num_planes+1) broadcast-side rows per query, not a bigger index.
    The query set is hard-capped at max_queries via ordered-limit
    BEFORE the probe explosion (VERDICT r8 #2), so the broadcast side
    is <= max_queries * (num_planes+1) rows at any corpus size."""
    base = with_norm(emb, vec_col).withColumn(
        "sig", lsh_signature(F.col("v"), num_planes, dim))
    masks = [0] + [1 << p for p in range(num_planes)]
    queries = (base.filter((F.col(id_col) % query_mod) == 0)
               .orderBy(id_col).limit(int(max_queries))
               .select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.explode(F.array(*[
            F.col("sig").bitwiseXOR(F.lit(m)) for m in masks
        ])).alias("psig"),
    ))
    scored = (
        base.join(F.broadcast(queries), F.col("sig") == F.col("psig"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v"),
                   F.col("qnorm"), F.col("norm")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cos", 6).alias("cos"))
    )


def ivfpq_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
               centroid_mod: int = 23, nprobe: int = 2,
               m: int = 8, codes: int = 16, dim: int = 64,
               sample_mod: int = 23, id_col: str = "vec_id",
               vec_col: str = "embedding",
               max_queries: int = 256) -> DataFrame:
    """IVF-PQ: the production trillion-scale ANN recipe — coarse
    inverted-file cells prune WHICH vectors are scored, product-
    quantization codes prune WHAT is read per vector. Composes the two
    oracle-checked halves (assign_cells' argmax-cosine quantizer,
    pq_encode's m-byte codes) exactly as FAISS's IndexIVFPQ does:

    1. every vector -> its best cell (vectorized exact argmax over
       the collected capped centroid table — nearest_ref_vec);
    2. each query probes its nprobe best cells;
    3. candidates = equi-join of the CODE table against the probed
       (query, cell) pairs — at scale this is a partition-pruned read
       of m-byte rows, never the float vectors;
    4. ADC scoring: per-query subspace distance tables (broadcast),
       one gather+add per subspace, map-side top-k per partition, tiny
       final shuffle.

    Query set is hard-capped at max_queries via ordered-limit (same
    bounded-collect contract as pq_adc_topk). Output:
    (query_id, neighbor_id, rank, adist). Deterministic halves
    (id-sampled centroids + codebook) mean the registry oracle
    reproduces cells, probing AND distances in SQL; recall vs brute
    force is additionally bounded in tests."""
    import numpy as np
    import pandas as pd

    base = with_norm(emb, vec_col).select(
        F.col(id_col), F.col("v"), F.col("norm"))
    cents = sampled_centroids(base, centroid_mod, id_col)
    affinity = cell_affinity(base, cents, id_col)
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("ccos").desc(), F.col("cent_id"))
    assign = (nearest_ref_vec(base, cents, id_col)
              .select(F.col(id_col), F.col("cent_id").alias("cell")))

    books = pq_codebooks(emb, m, codes, dim, sample_mod, id_col, vec_col)
    dsub = dim // m
    encoded = pq_encode(emb, books, id_col, vec_col)
    data = encoded.join(assign, id_col)

    qrows = (emb.filter((F.col(id_col) % query_mod) == 0)
             .select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
             .orderBy(id_col).limit(int(max_queries)).collect())
    if not qrows:
        # explicit empty-query guard (brute_force_topk's contract):
        # without it the 1-D qvecs crashes the subspace slicing
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int, "
                "adist double")
    qids = np.asarray([r[id_col] for r in qrows])
    qvecs = np.asarray([r.v for r in qrows])
    tables = np.stack([
        ((qvecs[:, s * dsub:(s + 1) * dsub][:, None, :] - books[s][None]) ** 2)
        .sum(2) for s in range(m)], axis=1)             # (Q, m, codes)
    qpos = {int(q): i for i, q in enumerate(qids)}
    bcast = emb.sparkSession.sparkContext.broadcast((qpos, tables))

    probes = (affinity.filter(F.col(id_col).isin([int(q) for q in qids]))
              .withColumn("r", F.row_number().over(w_assign))
              .filter(F.col("r") <= nprobe)
              .select(F.col(id_col).alias("query_id"),
                      F.col("cent_id").alias("cell")))
    cand = data.join(F.broadcast(probes), "cell") \
               .select("query_id", id_col, "pq_codes")

    def local_topk(batches):
        qpos, tables = bcast.value
        for pdf in batches:
            if not len(pdf):
                continue
            for qid, grp in pdf.groupby("query_id", sort=False):
                ids = grp[id_col].to_numpy()
                cds = np.asarray(list(grp["pq_codes"]))
                qi = qpos[int(qid)]
                adist = np.zeros(len(ids))
                for s in range(m):
                    adist += tables[qi, s, cds[:, s]]
                mask = ids != qid
                cand_ids, cand_d = ids[mask], adist[mask]
                take = min(k, len(cand_ids))
                if not take:
                    continue
                part = np.lexsort((cand_ids, cand_d))[:take]
                yield pd.DataFrame({
                    "query_id": int(qid), "neighbor_id": cand_ids[part],
                    "adist": cand_d[part]})

    local = cand.mapInPandas(
        local_topk, "query_id bigint, neighbor_id bigint, adist double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist"), F.col("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("adist", 6).alias("adist")))


def top_principal_component(emb: DataFrame, dim: int = 64,
                            iterations: int = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            residual_target: float = 0.125) -> DataFrame:
    """Top principal component of the mean-centered embedding matrix
    by DISTRIBUTED power iteration — the building block of embedding
    whitening / SemDeDup-style PCA preprocessing, done Spark-first:

    each iteration computes w = Xᶜᵀ(Xᶜ v) as ONE narrow scan — the
    per-row projection t = (x−μ)·v stays inside codegen, and the 64
    per-dimension sums Σ t·(x_d−μ_d) are a single map-combined
    aggregate (a 64-column row, not a shuffle of vectors). Only the
    64-float v crosses to the driver per round (the same driver-
    coordination-not-data-collection contract as pagerank). Sign is
    fixed by making the largest-|loading| coordinate positive;
    eigenvalue and explained-variance ratio come from the final
    projection pass.

    Output: (dim_idx, loading, eigenvalue, explained_ratio) — 64 rows.
    Rows-only at the gate (iterated float linear algebra has no SQL
    twin). Convergence: the reported eigenvalue is the Rayleigh
    quotient, accurate to second order in the residual angle even on
    near-degenerate spectra where the DIRECTION converges slowly
    (rate lambda2/lambda1 per round) — tests assert the quotient
    reaches >= 98% of numpy's top eigenvalue. Iteration is ADAPTIVE:
    after `iterations` base rounds it keeps stepping (up to 4x) until
    the eigen-residual ||Cv - lambda v||/lambda <= residual_target,
    so downstream envelopes hold by construction, not by luck.
    """
    import math

    import numpy as np
    import pandas as pd

    # one materialization serves every iteration's scan (the parquet
    # read + array cast would otherwise re-run per round); the
    # per-iteration work is an Arrow-batched numpy partial per
    # partition (t = Xc v; w += t Xc) — a 64-wide codegen aggregate
    # would pay a fresh wholestage COMPILE each round because v enters
    # as literals, which dominated wall time; BLAS-backed partials are
    # both faster and plan-stable. Each partition emits ONE 64-float
    # partial row, so the driver only ever merges P rows.
    x = (emb.select(F.col(vec_col).cast("array<double>").alias("x"))
         # lazy: the first mean pass materializes it (r12 job-fold)
         .localCheckpoint(eager=False))
    sc = emb.sparkSession.sparkContext

    def pass_fn(payload):
        def run(batches):
            mu, v, want = payload.value
            acc = np.zeros(dim)
            ss = 0.0
            tt = 0.0
            cnt = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.asarray(list(pdf["x"]), dtype=float)
                cnt += len(M)
                if mu is not None:
                    M = M - mu
                if v is None:
                    acc += M.sum(0)
                else:
                    t = M @ v
                    acc += t @ M
                    tt += float(t @ t)
                if want:
                    ss += float((M * M).sum())
            yield pd.DataFrame({"w": [acc.tolist()], "tt": [tt],
                                "ss": [ss], "n": [cnt]})
        return run

    def one_pass(mu, v, want=False):
        payload = sc.broadcast((None if mu is None else np.asarray(mu),
                                None if v is None else np.asarray(v),
                                want))
        parts = x.mapInPandas(
            pass_fn(payload),
            "w array<double>, tt double, ss double, n bigint").collect()
        w = np.sum([np.asarray(r["w"]) for r in parts], axis=0)
        return (w, sum(r["tt"] for r in parts),
                sum(r["ss"] for r in parts), sum(r["n"] for r in parts))

    msum, _, _, n = one_pass(None, None)
    mu = (msum / max(n, 1)).tolist()

    v = np.full(dim, 1.0 / math.sqrt(dim))
    for _ in range(max(iterations - 1, 0)):
        w, _, _, _ = one_pass(mu, v.tolist())
        norm = math.sqrt(float(w @ w)) or 1.0
        v = w / norm

    # Adaptive convergence tail: each `want` pass yields eigenvalue,
    # total variance AND the eigen-residual ||Cv - lambda v||/lambda of
    # the CURRENT v from the same scan (w/(n-1) = Cv), so checking
    # convergence costs nothing extra; when the residual hasn't cleared
    # `residual_target`, that same pass's w IS the next power step.
    # residual_target=0.125 is half the correctness gate's 0.25
    # envelope (queries.py:embedding_top_pc) — the operator guarantees
    # the gate bound with 2x margin unless the 4x-iterations budget
    # trips (pathologically small spectral gap), in which case the
    # honestly-measured residual is reported and the gate flags it.
    budget = 3 * max(iterations, 1) + 1
    while True:
        w, tt, ss, _ = one_pass(mu, v.tolist(), want=True)
        eig = tt / max(n - 1, 1)
        total = ss / max(n - 1, 1)
        cv = np.asarray(w) / max(n - 1, 1)
        dv = cv - eig * v
        residual = math.sqrt(float(dv @ dv)) / eig if eig else 0.0
        budget -= 1
        if residual <= residual_target or budget <= 0:
            break
        norm = math.sqrt(float(w @ w)) or 1.0
        v = w / norm
    # deterministic sign: largest-|loading| coordinate positive (a
    # global sign flip changes neither eig, total, nor the residual)
    pivot = int(np.argmax(np.abs(v)))
    if v[pivot] < 0:
        v = -v
    v = [float(c) for c in v]
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(d, round(v[d], 6), round(eig, 6),
          round(eig / total if total else 0.0, 6),
          round(residual, 6), int(n)) for d in range(dim)],
        "dim_idx int, loading double, eigenvalue double, "
        "explained_ratio double, residual_ratio double, n_vectors bigint")


def rerank_cross_encoder(docs: DataFrame, candidates: DataFrame,
                         query_terms: list[str], rrf_weight: float = 0.05,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Cross-encoder-style rerank stage over a BOUNDED candidate set —
    the second stage of the classic retrieve-then-rerank pipeline
    (retrieval: hybrid_retrieval_rrf). `candidates` (doc_id, rrf) is
    the retriever's top-k: it is broadcast and hash-joined against
    the corpus, so fetching candidate texts is one corpus scan with a
    broadcast semi-filter — never a corpus-sized pair join, and the
    expensive scorer runs on k rows, not N. That bounded-candidates
    shape is the whole 100 TB lesson of reranking: the model cost is
    O(k), the data cost one scan.

    The scorer itself is the MODEL SLOT: production systems run a
    batched cross-encoder here (a pandas_udf over (query, doc) text
    pairs, Arrow-shipped). This stub keeps the exact plumbing but
    scores with a closed-form lexical function — Jaccard overlap
    between the query's terms and the doc's distinct whitespace
    tokens — so a SQL oracle can verify the stage end-to-end:
    final = round(jaccard + rrf_weight * rrf, 6), reranked desc with
    doc_id tie-break."""
    qarr = F.array(*[F.lit(t) for t in query_terms])
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    enr = docs.join(F.broadcast(candidates), id_col)
    scored = enr.select(
        F.col(id_col), F.col("rrf"),
        half_up(F.size(F.array_intersect(toks, qarr)),
                F.size(F.array_union(toks, qarr))).alias("ce_score"))
    out = scored.select(
        id_col, "rrf", "ce_score",
        F.round(F.col("ce_score") + rrf_weight * F.col("rrf"), 6)
         .alias("final_score"))
    w = Window.orderBy(F.col("final_score").desc(), id_col)
    return out.withColumn("rerank", F.row_number().over(w).cast("bigint"))


# ----------------------------------------------------------------------
# Binary (sign) quantization + Hamming ANN — the 32x-compression
# serving trend (one bit per dimension): pack sign bits into two
# BIGINT words, score candidates with xor + popcount. SIMD-friendly
# on any engine, and the index is 16 bytes/vector regardless of
# dimension precision — the footprint step BELOW int8 quantization
# (embedding_int8_quant measures the precision half of that family).
# ----------------------------------------------------------------------

def sign_pack_expr(vec: str, lo: int, n: int) -> F.Column:
    """Pack sign bits lo..lo+n-1 of array column `vec` (bit set iff
    component > 0) into a BIGINT with an integer fold. n <= 32 keeps
    every partial positive and int64-exact; the identical construct
    in DuckDB is list_sum([CASE WHEN v[i+1] > 0 THEN 1::BIGINT <<
    (i - lo) ...]). No float arithmetic anywhere — the sign decision
    is a comparison, so the words are engine-identical bit-for-bit.

    Enforced, not just documented (ADVICE r8): Java's shiftleft wraps
    the shift count mod 64, so n > 32 (or a negative lo) would return
    plausible-but-colliding packs instead of failing — misuse must
    fail loudly here."""
    assert 1 <= n <= 32, f"sign_pack_expr packs at most 32 bits, got n={n}"
    assert lo >= 0, f"sign_pack_expr needs lo >= 0, got lo={lo}"
    return F.expr(
        f"aggregate(sequence({lo}, {lo + n - 1}), 0L, (acc, i) -> "
        f"acc + IF(element_at({vec}, i + 1) > 0, "
        f"shiftleft(1L, i - {lo}), 0L))")


def hamming_topk(emb: DataFrame, k: int = 10, query_mod: int = 50,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 max_queries: int = 256) -> DataFrame:
    """Exact Hamming top-k over sign-quantized vectors for query ids
    (id % query_mod == 0). Same plan as brute_force_topk — broadcast
    the tiny query side, one corpus scan, per-query rank window with
    a deterministic (hamming, neighbor_id) tie-break — but the
    scored payload is two BIGINTs per row and the distance is
    xor + bit_count, i.e. whole-stage-codegen integer ops. At 100 TB
    the packed index is corpus_rows x 16 bytes: small enough to
    co-locate with any candidate-generation structure. Query set
    hard-capped at max_queries via ordered-limit before the
    broadcast (VERDICT r8 #2).

    Output: (query_id, neighbor_id, rank, hamming)."""
    assert 2 <= dim <= 64, (
        f"hamming_topk packs dim bits into two BIGINT words; dim={dim} "
        "exceeds the 64-bit capacity (shiftleft would wrap mod 64 and "
        "silently collide bit packs)")
    half = dim // 2
    packed = emb.select(
        F.col(id_col),
        sign_pack_expr(vec_col, 0, half).alias("w0"),
        sign_pack_expr(vec_col, half, dim - half).alias("w1"))
    queries = (packed.filter((F.col(id_col) % query_mod) == 0)
               .orderBy(id_col).limit(int(max_queries))
               .select(F.col(id_col).alias("query_id"),
                       F.col("w0").alias("q0"), F.col("w1").alias("q1")))
    scored = (packed.join(F.broadcast(queries))
              .filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)")
                       .cast("bigint").alias("hamming")))
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("bigint").alias("rank"), "hamming"))
