"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship windowed-average query at sf0.001 (smoke).
queries()    — every implemented operator from SURVEY.md §2 + the
               LLM-pipeline surface, as (spark, sf_dir) -> DataFrame.
oracle_sql() — DuckDB-equivalent SQL per query (same column names).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from examples_scala_spark.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: chapter-1 windowed average (SURVEY §3.1) on sf0.001."""
    return REGISTRY["w_avg_temp"].fn(spark, "/root/testdata/sf0.001")


# The per-round correctness gate evaluates queries in dict order with a
# bounded budget (~50 per round). Cumulative state after r8: all 260
# registry names driver-evaluated, latest status green, evidence debt
# zero (VERDICT r8). PRIORITY now holds ONLY the same-round head
# (VERDICT r8 #1): names born or semantically changed THIS round, so
# they are gate-proven the round they change. Everything else rotates
# automatically, oldest-latest-evidence-first, derived from the
# recorded CORRECTNESS_r*.json history — so the ~190 tail queries
# whose rows date from their birth rounds refresh through the gate a
# few dozen per round instead of never. tools/verify_local.py still
# checks ALL entries every time — including under the driver-identical
# vanilla session (--vanilla).
PRIORITY = [
    # --- round-13: the engine-exact rounding conversion (the r12
    # VERDICT #3 tie-class pass). Every name below had a displayed
    # ratio moved from round(double, 6) to the exact integer quotient
    # WITH ITS ORACLE CHANGED IN LOCKSTEP (today `half_up` with its
    # twin `half_up_sql`) — the one result-affecting class this
    # round, so the gate re-proves them same-round. All re-proven
    # locally at 3 SFs. Ordered most-delicate-first: signed/decimal-
    # headroom sites, then the operator-shared families, then plain
    # count/count outputs. ---
    "label_centroids", "rater_agreement_kappa", "user_activity_gini",
    "dp_noised_histogram", "doc_trigram_backoff_ppl",
    "softdedup_weights", "pipeline_weighted_mixture",
    "events_value_stats", "embedding_int8_quant",
    "ab_test_zscores", "stream_ab_guardrail", "part_demand_abc_xyz",
    "events_decayed_counts", "events_psi_drift",
    "dsir_importance_weights", "dsir_resample_topk",
    "pipeline_curation_v4", "stream_curation_gate",
    "mixture_epoch_plan", "mixture_waterfill_alloc",
    "dataset_mixture_rates",
    # operator-shared ratio families (jaccard/overlap/fertility/
    # quality): one operator edit feeds several declared queries
    "ngram_jaccard_pairs", "setsim_jaccard_prefix", "minhash_accuracy",
    "lsh_precision_recall", "lsh_tuning_sampled", "lsh_band_sweep",
    "bloom_decontaminate", "decontaminate_overlap",
    "decontamination_by_benchmark", "stream_decontaminate_gate",
    "substring_dup_stats", "dup_ngram_char_fraction",
    "top_ngram_char_fraction", "bpe_fertility_by_lang",
    "bpe_encode_doc_stats", "quality_score",
    "quality_percentile_by_source", "quality_calibration_isotonic",
    "doc_rare_token_stats", "doc_repetition_stats",
    "corpus_stats_by_source", "semantic_dedup_sweep",
    "semantic_dedup_snm_recall", "part_neighbors_cosine",
    "part_cooccurrence_lift", "neardup_triangle_stats",
    "winnow_fingerprint_pairs", "dedup_source_overlap",
    # plain count/count display ratios
    "bigram_cond_prob", "doc_containment_pairs", "doc_passage_dup_ratio",
    "doc_ngram_novelty", "vocab_coverage_curve",
    "mutual_information_bands", "benford_price_audit",
    "kanon_risk_audit", "key_skew_report", "revenue_pareto_abc",
    "event_type_transitions", "funnel_time_percentiles",
    "supplier_return_wilson", "ann_ndcg_mrr", "rerank_cross_encoder",
]


def _gate_history() -> dict[str, tuple[str, int]]:
    """Per-query (outcome, latest round) across every recorded gate run
    (CORRECTNESS_r*.json, written into the repo by the driver each
    round): 'passed' if the latest check hash-matched (or rows-matched
    for rows-only entries), else 'failed'; the int is the round of
    that latest row. Absent = never evaluated."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    status: dict[str, tuple[str, int]] = {}

    def round_no(p: str) -> int:
        # numeric sort: lexicographic glob order would break
        # latest-wins at r10 vs r2 / r100 vs r11
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")),
                       key=round_no):
        rno = round_no(path)
        try:
            rep = json.load(open(path))
        except Exception:
            continue
        for name, res in rep.items():
            ok = bool(res.get("hash_match")
                      or (res.get("err") is None and res.get("rows_match")
                          is not False and res.get("spark_rows") is not None))
            status[name] = ("passed" if ok else "failed", rno)
    return status


def _ordered_names() -> list[str]:
    """Gate evaluation order. The budget covers ~50 queries per round:
    manual PRIORITY head first (this round's new/changed names), then
    never-evaluated queries, then previously-failed (re-prove fixes),
    then previously-passed rotated OLDEST-latest-row-first — so stale
    driver evidence refreshes instead of sitting behind a static fill
    forever (VERDICT r8 #1). Registration order breaks ties, keeping
    the rotation deterministic for a fixed history."""
    head = [n for n in PRIORITY if n in REGISTRY]
    seen = set(head)
    hist = _gate_history()
    reg_idx = {n: i for i, n in enumerate(REGISTRY)}

    def key(n: str) -> tuple[int, int, int]:
        st = hist.get(n)
        if st is None:
            return (0, 0, reg_idx[n])          # never evaluated: first
        outcome, rno = st
        return (1 if outcome == "failed" else 2, rno, reg_idx[n])

    tail = sorted((n for n in REGISTRY if n not in seen), key=key)
    return head + tail


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
