"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All pure SQL expressions (regexp/string built-ins) — codegen'd, scan
bound, embarrassingly parallel; zero Python in the row path. At 100 TB
these run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import half_up
from ..session import scoped_shuffle_partitions

# tiny deterministic stopword lists per language for the n-gram/stopword
# voting heuristic; enough for a synthetic-corpus heuristic and exactly
# reproducible in the oracle.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}

STOPWORDS = LANG_MARKERS["en"]


def _word_regex(word: str) -> str:
    return rf"\b{word}\b"


def lang_marker_counts(text_col) -> dict[str, F.Column]:
    return {
        lang: sum(F.regexp_count(text_col, F.lit(_word_regex(w))) for w in words)
        for lang, words in LANG_MARKERS.items()
    }


def lang_id_col(text_col) -> F.Column:
    """Column form of the language-ID heuristic (for narrow, join-free
    composition): marker-stopword voting, argmax with deterministic
    tie-break (count desc, lang asc), 'und' when no marker hits."""
    lower = F.lower(text_col)
    counts = lang_marker_counts(lower)
    pairs = F.array(*[
        F.struct(counts[lang].alias("cnt"), F.lit(lang).alias("lang"))
        for lang in sorted(LANG_MARKERS)
    ])
    best = F.array_sort(
        pairs, lambda a, b: F.when(a["cnt"] > b["cnt"], -1)
        .when(a["cnt"] < b["cnt"], 1)
        .when(a["lang"] < b["lang"], -1).when(a["lang"] > b["lang"], 1)
        .otherwise(0)
    )[0]
    return F.when(best["cnt"] > 0, best["lang"]).otherwise("und")


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Language-ID heuristic: count language-marker stopwords, argmax
    with deterministic tie-break (count desc, lang asc), 'und'
    (undetermined) when no marker hits."""
    return docs.select(
        F.col(id_col),
        lang_id_col(F.col(text_col)).alias("pred_lang"),
    )


def token_count(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (words + punctuation marks counted separately, ~GPT-style
    len/4 char heuristic as a third column)."""
    t = F.trim(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(F.split(t, r"\s+")).alias("n_words"),
        F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).alias("n_punct"),
        (F.length(F.col(text_col)) / F.lit(4)).cast("long").alias("n_tokens_est"),
    )


def quality_score_col(text_col) -> F.Column:
    """Column form of the composite quality score (rounded to 2 dp) —
    for narrow, join-free composition in pipelines."""
    t = text_col
    n_chars = F.length(t)
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_stop = sum(F.regexp_count(F.lower(t), F.lit(_word_regex(w))) for w in STOPWORDS)
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_words
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.25).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.25).otherwise(0.0)
        + F.when(stop_ratio > 0.01, 0.25).otherwise(0.0)
    )
    return F.round(score, 2)


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score:
    length, word count, mean word length, punctuation ratio, digit
    ratio, stopword ratio. Deterministic arithmetic only."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_digit = F.regexp_count(t, F.lit(r"[0-9]"))
    n_stop = sum(F.regexp_count(F.lower(t), F.lit(_word_regex(w))) for w in STOPWORDS)
    mean_word_len = (n_chars - (n_words - 1)) / n_words
    punct_ratio = n_punct / n_chars
    digit_ratio = n_digit / n_chars
    stop_ratio = n_stop / n_words
    score = (
        F.when((n_words >= 10) & (n_words <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.25).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.25).otherwise(0.0)
        + F.when(stop_ratio > 0.01, 0.25).otherwise(0.0)
    )
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars_m"),
        n_words.alias("n_words"),
        # count/count ratios: exact half-up at 6 dp (r13 tie class);
        # the score itself is an exact multiple of 0.25 (binary-exact,
        # round(.,2) is the identity) and stays on F.round
        half_up(n_chars - (n_words - 1), n_words).alias("mean_word_len"),
        half_up(n_punct, n_chars).alias("punct_ratio"),
        half_up(n_digit, n_chars).alias("digit_ratio"),
        half_up(n_stop, n_words).alias("stop_ratio"),
        F.round(score, 2).alias("quality_score"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized, lowercased
    text — the canonical near-exact-dup key (case/spacing-invariant)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select(F.col(id_col), F.md5(normalized).alias("fp"))


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    w-hash window over the hash sequence, keep each window's minimum —
    the selected subset is position-insensitive and guarantees that
    any shared token run of length >= w + k - 1 contributes at least
    one common fingerprint, while storing only ~2/(w+1) of the k-gram
    hashes. The rolling-hash fingerprinting scheme the brief's text-
    analysis list names, one level up from the single whole-doc md5 of
    `fingerprint`.

    Entirely narrow per-row higher-order functions — tokenize, k-gram
    hash (60-bit md5 prefix, the same construction the MinHash oracle
    uses), window minima, distinct — so fingerprint selection runs
    inside the scan stage with ZERO shuffles; only the exploded
    (doc_id, fp, n_fp) longs ever reach an exchange. Returns one row
    per distinct selected fingerprint with the doc's distinct-
    fingerprint count alongside (so downstream pair joins never
    re-aggregate per-doc sizes).
    """
    grams_hash = F.expr(
        f"transform(sequence(1, size(wd) - {k} + 1), "
        f"i -> cast(conv(substring(md5(concat_ws(' ', "
        f"slice(wd, i, {k}))), 1, 15), 16, 10) as bigint))")
    # slice() clamps at the array end, so docs with fewer than w
    # hashes still yield one (global-min) fingerprint
    select_mins = F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(size(hs) - {w} + 1, 1)), "
        f"j -> array_min(slice(hs, j, {w}))))")
    # per-gram md5 + window minima are CPU far above the cost of one
    # text shuffle — don't inherit a single small file's one task
    # (same note as substring_dup_stats)
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
         .alias("wd"))
    hashes = (toks.filter(F.size("wd") >= k)
              .select(F.col(id_col), grams_hash.alias("hs")))
    fps = hashes.select(F.col(id_col), select_mins.alias("fps"))
    return fps.select(
        F.col(id_col),
        F.size("fps").cast("long").alias("n_fp"),
        F.explode("fps").alias("fp"))


def bpe_train_merges(docs: DataFrame, k_merges: int = 12,
                     text_col: str = "text",
                     marker: str = "_") -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units") —
    the actual trainer behind the brief's "BPE-ish" token surface:
    learn the first `k_merges` merge rules from the corpus' own word
    frequencies. Words are char sequences plus an end-of-word marker;
    each round counts every adjacent symbol pair (overlapping counts,
    exactly Sennrich's get_stats), merges the most frequent pair
    (ties: lexicographic on (left, right)), and rewrites the vocab.

    Returns (merge_rank, left_sym, right_sym, pair_count) — the
    ordered merge table a tokenizer would load.

    Scale shape: the ONLY corpus-sized stage is the initial word
    count (the canonical explode + groupBy wordcount — map-side
    partial agg, shuffles one row per distinct word). All K rounds
    run on the vocab table, whose size is the distinct-word count
    (millions at 100 TB — cluster-trivial), kept hot via
    localCheckpoint so round k never re-scans the corpus or replays
    rounds 1..k-1. Per round exactly ONE driver collect of exactly
    ONE row (the argmax pair) — bounded by construction.

    Merge substitution is ONE string replace per round on a
    DOUBLE-space-joined symbol string: with tokens separated by two
    spaces, the pattern ' a  b ' consumes the inner delimiter fully
    but only ONE space of each outer delimiter, so the scan resumes
    with the neighbour's delimiter intact and back-to-back
    occurrences (including self-pair runs ' a  a  a  a  a ') merge
    exactly greedily left-to-right — Sennrich's substitution
    semantics, with no lookaround (so the DuckDB oracle's RE2-free
    replace() mirrors it verbatim). A single-space join needs two
    passes and STILL mis-merges self-pair runs of length >= 5 (the
    second pass re-pairs the stranded middle symbol with the wrong
    neighbour) — caught by hypothesis in
    tests/test_properties.py::test_bpe_single_replace_equals_greedy_merge,
    which now proves the doubled-separator form equal to greedy
    merging over all small symbol strings.
    """
    merges, _ = _bpe_loop(docs, k_merges, text_col, marker)
    return docs.sparkSession.createDataFrame(
        merges,
        "merge_rank bigint, left_sym string, right_sym string, "
        "pair_count bigint")


def _bpe_loop(docs: DataFrame, k_merges: int, text_col: str,
              marker: str) -> tuple[list, DataFrame]:
    """Shared trainer loop: returns (merge list, final vocab DF with
    (w, c, sym) where sym is the space-joined post-merge symbols) —
    the final vocab IS the trained tokenizer applied to every distinct
    word, which bpe_apply_token_counts explodes."""
    words = docs.select(F.explode(F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"))
        .alias("w"))
    vocab = (words.groupBy("w")
             .agg(F.count("*").cast("long").alias("c"))
             .select("w", "c",
                     F.concat(F.lit("  "),
                              F.regexp_replace("w", "(.)", "$1  "),
                              F.lit(marker + "  ")).alias("sym"))
             # lazy: the n_vocab count below materializes it —
             # one Spark job instead of two (r12 job-fold)
             .localCheckpoint(eager=False))
    pair_expr = F.expr(
        "CASE WHEN size(s) >= 2 THEN transform(sequence(1, size(s) - 1), "
        "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b)) "
        "ELSE CAST(array() AS array<struct<a: string, b: string>>) END")
    merges: list[tuple[int, str, str, int]] = []
    # size the K rounds' shuffles to the VOCAB volume, not the session
    # default (same principle as the connected-components loop): every
    # round's pair aggregate moves vocab-sized data, and at test scale
    # 32-partition shuffles x 12 rounds is task-scheduling overhead.
    # The vocab-row clamp restores the session setting at real scale.
    spark = docs.sparkSession
    n_vocab = vocab.count()  # materializes the lazy checkpoint
    with scoped_shuffle_partitions(spark, n_vocab,
                                   rows_per_partition=100_000):
        for rank in range(1, k_merges + 1):
            top = (vocab
                   .select("c", F.split(F.trim("sym"), "  ").alias("s"))
                   .select("c", F.explode(pair_expr).alias("p"))
                   .groupBy("p.a", "p.b")
                   .agg(F.sum("c").cast("long").alias("pc"))
                   .orderBy(F.desc("pc"), "a", "b")
                   .limit(1).collect())
            if not top:
                break
            a, b, pc = top[0]["a"], top[0]["b"], top[0]["pc"]
            merges.append((rank, a, b, pc))
            pat, rep = F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            vocab = vocab.withColumn("sym", F.replace("sym", pat, rep))
            # r12: checkpoint every 4th round, not every round — the
            # lineage between checkpoints is at most 4 single-string
            # replaces over the vocab table (re-evaluated by the next
            # round's argmax anyway), while each eager checkpoint is a
            # full job: 12 jobs -> 3 for the standard trainer. Plan
            # depth stays bounded at any K. Lazy since r12: the NEXT
            # round's argmax (or the caller's consumption of the
            # final vocab) materializes it — zero dedicated jobs.
            if rank % 4 == 0:
                vocab = vocab.localCheckpoint(eager=False)
    return merges, vocab


def bpe_apply_token_counts(docs: DataFrame, k_merges: int = 12,
                           text_col: str = "text",
                           marker: str = "_") -> DataFrame:
    """Apply the k-merge BPE tokenizer the corpus itself trains
    (bpe_train_merges) and return the resulting subword vocabulary
    with usage stats: (token, n_tokens = corpus occurrences,
    n_words = distinct words containing it). The post-training vocab
    table already holds every distinct word's merged segmentation —
    applying the tokenizer corpus-wide is ONE explode of that
    vocab-sized table weighted by word counts; the corpus itself is
    touched only by the initial wordcount. This is the table you'd
    inspect for subword fertility / coverage before freezing a
    tokenizer."""
    _, vocab = _bpe_loop(docs, k_merges, text_col, marker)
    return (vocab
            .select("w", "c",
                    F.explode(F.split(F.trim("sym"), "  ")).alias("token"))
            .groupBy("token")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count_distinct("w").cast("long").alias("n_words")))


def bpe_encode_doc_stats(docs: DataFrame, k_merges: int = 12,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         marker: str = "_") -> DataFrame:
    """Encode every document with the corpus' self-trained BPE
    tokenizer and report per-doc tokenization stats: (doc_id, n_words,
    n_subwords, fertility = subwords per word) — the per-document
    counterpart of bpe_apply_token_counts' global vocabulary view, and
    the number that actually prices a doc in a token budget.

    Scale shape: encoding at corpus scale is a WORD-level equi-join —
    each doc's words join the trained (word -> segment count) map via
    a pinned shuffle_hash join. The map is distinct-word-vocab-sized,
    and `[a-z0-9]+` tokenization of web text inflates that far past
    dictionary size (ids, hashes, typos — plausibly billions of rows
    at 100 TB), so it must NOT broadcast; the corpus side pays one
    word-key exchange, which is the honest price of an unbounded
    build side. No per-doc re-segmentation: the trainer's final
    vocab state already IS every distinct word's segmentation."""
    _, vocab = _bpe_loop(docs, k_merges, text_col, marker)
    seg = vocab.select(
        "w", F.size(F.split(F.trim("sym"), "  ")).cast("long")
             .alias("n_sub"))
    dw = docs.select(
        F.col(id_col),
        F.explode(F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"))
         .alias("w"))
    per = (dw.join(seg.hint("shuffle_hash"), "w")
           .groupBy(id_col)
           .agg(F.count("*").cast("long").alias("n_words"),
                F.sum("n_sub").cast("long").alias("n_subwords")))
    return (docs.select(id_col).join(per, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_words", F.lit(0)).cast("bigint")
                     .alias("n_words"),
                    F.coalesce("n_subwords", F.lit(0)).cast("bigint")
                     .alias("n_subwords"),
                    # count/count ratio: exact half-up (r13 tie class)
                    half_up(F.col("n_subwords"), F.col("n_words"))
                     .alias("fertility")))


def langid_ngram_confusion(docs: DataFrame, k_lang: int = 100,
                           k_doc: int = 30, penalty: int = 100,
                           text_col: str = "text",
                           lang_col: str = "lang",
                           id_col: str = "doc_id") -> DataFrame:
    """TRAINED language identification (Cavnar & Trenkle 1994,
    "N-Gram-Based Text Categorization" — the classic rank-profile
    method behind textcat/langid): build each language's top-k_lang
    char-3-gram rank profile from the corpus' own labels, classify
    every doc by out-of-place distance from its top-k_doc profile
    (missing gram = `penalty`), and emit the confusion matrix
    (lang, pred_lang, n_docs). The trained upgrade of the marker-word
    heuristic `lang_id` — all ranks and distances are integers, so
    the result is engine-exact with deterministic (count DESC, gram)
    tie-breaks throughout.

    Scale shape: one corpus-sized explode -> (doc, gram) count ->
    per-doc rank window (partitioned by doc, top-30 kept). The
    language profiles are a languages x k_lang table (tiny) that
    BROADCASTS into the scoring join; scoring fans each doc's 30
    grams out by |langs| (bounded constant), aggregates per
    (doc, lang), and argmins with min(struct). No all-corpus window,
    no driver collect."""
    # same scan-parallelism note as substring_dup_stats: per-char
    # 3-gram slicing is CPU far above the cost of shipping the text
    # once — don't let one small parquet file serialize the explode
    par = docs.sparkSession.sparkContext.defaultParallelism
    # hoist lower() out of the per-gram lambda: inside transform() it
    # would re-lowercase the whole doc once PER GRAM (~500x per doc —
    # the same duplicated-computed-expression trap the
    # InferFiltersFromGenerate exclusion exists for)
    grams = (docs.repartition(par)
             .select(F.col(id_col), F.col(lang_col).alias("true_lang"),
                     F.lower(F.col(text_col)).alias("__lt"))
             .select(F.col(id_col), "true_lang",
                     F.explode(F.expr(
                         "CASE WHEN length(__lt) >= 3 THEN "
                         "transform(sequence(1, length(__lt) - 2), "
                         "i -> substring(__lt, i, 3)) "
                         "ELSE CAST(array() AS array<string>) END"))
                      .alias("g")))
    doc_cnt = grams.groupBy(id_col, "true_lang", "g").agg(
        F.count("*").alias("c")).localCheckpoint(eager=False)
    wd = Window.partitionBy(id_col).orderBy(F.desc("c"), "g")
    doc_prof = (doc_cnt
                .withColumn("doc_rank", F.row_number().over(wd))
                .filter(F.col("doc_rank") <= k_doc)
                .select(id_col, "true_lang", "g", "doc_rank"))
    # the language models re-aggregate the (doc, gram) counts — the
    # expensive explode+count runs ONCE and feeds both profiles
    lang_cnt = doc_cnt.groupBy(F.col("true_lang").alias("lang"), "g").agg(
        F.sum("c").alias("c"))
    wl = Window.partitionBy("lang").orderBy(F.desc("c"), "g")
    lang_prof = (lang_cnt
                 .withColumn("lang_rank", F.row_number().over(wl))
                 .filter(F.col("lang_rank") <= k_lang)
                 .select("lang", "g", "lang_rank"))
    langs = lang_prof.select("lang").distinct()
    dist = (doc_prof.crossJoin(F.broadcast(langs))
            .join(F.broadcast(lang_prof), ["lang", "g"], "left")
            .groupBy(id_col, "true_lang", "lang")
            .agg(F.sum(F.coalesce(
                F.abs(F.col("doc_rank") - F.col("lang_rank")),
                F.lit(penalty))).cast("long").alias("d")))
    pred = (dist.groupBy(id_col, "true_lang")
            .agg(F.min(F.struct(F.col("d"), F.col("lang"))).alias("m"))
            .select(id_col, "true_lang", F.col("m.lang").alias("pred_lang")))
    base = docs.select(F.col(id_col), F.col(lang_col).alias("true_lang"))
    return (base.join(pred.select(id_col, "pred_lang"), id_col, "left")
            .groupBy(F.col("true_lang").alias("lang"), "pred_lang")
            .agg(F.count("*").cast("long").alias("n_docs")))


URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def clean_text(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               url_token: str = "<URL>",
               email_token: str = "<EMAIL>") -> DataFrame:
    """Training-data scrubbing: replace URLs and email addresses with
    placeholder tokens, collapse whitespace, trim. Pure regexp_replace
    chain — codegen'd, zero shuffle, scales with scan bandwidth. The
    patterns are RE2-safe so the DuckDB oracle evaluates identically.
    Emits the cleaned text plus how many substitutions were made
    (rows with replacements are the audit trail)."""
    t = F.col(text_col)
    n_urls = F.size(
        F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0))).cast("long")
    n_emails = F.size(
        F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).cast("long")
    cleaned = F.regexp_replace(t, URL_RE, url_token)
    cleaned = F.regexp_replace(cleaned, EMAIL_RE, email_token)
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return docs.select(
        F.col(id_col),
        cleaned.alias("clean_text"),
        n_urls.alias("n_urls"),
        n_emails.alias("n_emails"),
    )


def chunk_tokens(docs: DataFrame, window: int = 16, stride: int = 12,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Overlapping token-window chunking (RAG / context-length prep):
    split on whitespace, emit one chunk per `stride` starting position
    covering up to `window` tokens. Everything is JVM-side array
    functions (split / sequence / explode / slice / array_join) — no
    Python in the loop, no shuffle at all: chunking is embarrassingly
    parallel and scales with scan bandwidth. Chunk ids are dense per
    doc so downstream repartition can key on (doc_id, chunk_id)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride))
    return (
        docs.select(F.col(id_col), toks.alias("toks"))
        .select(F.col(id_col), "toks", F.explode(starts).alias("start"))
        .select(
            F.col(id_col),
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.least(F.lit(window), F.size("toks") - F.col("start"))
             .cast("long").alias("n_chunk_tokens"),
            F.array_join(F.slice("toks", F.col("start") + 1, F.lit(window)),
                         " ").alias("chunk_text"),
        )
    )


def rare_token_stats(docs: DataFrame, rare_df_num: int = 1,
                     rare_df_den: int = 5, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document rare-token quality signal: a token is 'rare' when
    its corpus document-frequency is <= rare_df_num/rare_df_den of the
    corpus size (default: appears in <=20% of documents). Emits token
    totals, distinct-term count, type-token ratio, and the fraction of
    token occurrences that are rare — a Zipf-tail quality filter for
    training corpora. All comparisons are integer arithmetic (df *
    den <= N * num), so the oracle matches bit-for-bit; the only
    floating-point ops are two final single divisions.

    Shuffle budget: two hash aggregations (doc,term / term) + one
    shuffle_hash equi-join on term + one final doc aggregation. The
    df table is distinct-term-vocab-sized — under `[a-z0-9]+`
    tokenization of web text that is NOT dictionary-sized (ids,
    hashes, typos push it toward corpus scale), so it is pinned
    shuffle_hash rather than broadcast: the (doc,term) side pays one
    term-key exchange, the bounded price of an unbounded build
    side."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"))
        .alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    is_rare = (F.col("df") * rare_df_den) <= (F.col("n_docs") * rare_df_num)
    return (
        tf.join(dfreq.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_terms"),
            F.sum(F.when(is_rare, F.col("tf")).otherwise(0))
             .cast("long").alias("n_rare"),
        )
        .select(
            F.col(id_col),
            "n_tokens", "n_terms", "n_rare",
            half_up(F.col("n_terms"), F.col("n_tokens")).alias("ttr"),
            half_up(F.col("n_rare"), F.col("n_tokens"))
             .alias("rare_ratio"),
        )
    )


def bm25_topk(docs: DataFrame, terms: list[str], k1: float = 1.2,
              b: float = 0.75, topk: int = 20, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set;
    returns the global top-k as (doc_id, bm25).

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))        (Robertson)
    score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: the term filter lands immediately after the explode,
    so only (doc, query-term) hits shuffle — selectivity |terms|/|vocab|.
    Doc length rides along with the exploded tokens (no corpus-sized
    dl join), and N/avgdl are one scalar map-side aggregate broadcast
    back via a 1-row cross join. df(t) is |terms| rows — bounded by
    the FIXED query-term list (the isin filter precedes the
    aggregate), not by the corpus vocabulary — so unlike the
    rare_token_stats df table this broadcast is structurally safe at
    any corpus scale.
    Top-k compiles to TakeOrderedAndProject — no global sort. Ordering
    ties break on the ROUNDED score then doc_id, so the cut is
    engine-deterministic.
    """
    words = docs.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"))
    stats = words.agg(
        F.count("*").cast("double").alias("N"),
        F.avg(F.size("__w")).alias("avgdl"))
    tok = (words.select(F.col(id_col), F.size("__w").alias("dl"),
                        F.explode("__w").alias("term"))
           .filter(F.col("term").isin(terms)))
    tf = tok.groupBy(id_col, "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0)
                + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (idf * (F.col("tf") * (k1 + 1))
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum(contrib), 6).alias("bm25"))
    return (per_doc.orderBy(F.col("bm25").desc(), F.col(id_col))
            .limit(topk))

def gopher_quality_flags(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Gopher-style per-rule quality filter suite (Rae et al. 2021,
    §A1.1), as per-rule boolean FLAGS rather than the composite score
    of quality_score — the diagnostic view a curation pipeline needs
    to tune each rule before a 100 TB run. Six rules, thresholds
    calibrated to this corpus' synthetic distributions:

      word_count    30 <= n_words <= 100000
      mean_word_len 3 <= mean <= 10 characters
      stopwords     >= 2 occurrences of the English stopword set
      alpha_words   >= 80% of words contain an alphabetic character
      dominance     most frequent word <= 10% of all words
      ttr           type-token ratio (distinct/total) >= 0.4

    Every threshold compares exact integers (counts cross-multiplied
    against rational bounds — e.g. ttr >= 2/5 tests 5*distinct >=
    2*total), so no float ever decides a flag and the booleans hash
    identically on any engine.

    Plan shape: one explode + a two-level aggregate — (doc, word)
    counts first (map-side combined), then per-doc moments — so the
    only shuffles are keyed on doc_id and word frequencies never
    leave their partition unaggregated. Text itself is dropped at the
    explode. Returns one row per doc with the flags, n_failed, and
    keep = (n_failed == 0).
    """
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
    cnts = (tok.groupBy(id_col, "w")
            .agg(F.count("*").alias("cnt")))
    per = cnts.groupBy(id_col).agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
        F.sum(F.length("w") * F.col("cnt")).cast("bigint").alias("n_chars"),
        F.sum(F.when(F.col("w").isin(*STOPWORDS), F.col("cnt"))
              .otherwise(F.lit(0))).cast("bigint").alias("stop_cnt"),
        F.sum(F.when(F.col("w").rlike("[a-zA-Z]"), F.col("cnt"))
              .otherwise(F.lit(0))).cast("bigint").alias("alpha_cnt"))
    flags = {
        "flag_word_count": (F.col("n_words") >= 30)
                           & (F.col("n_words") <= 100000),
        "flag_mean_word_len": (F.col("n_chars") >= 3 * F.col("n_words"))
                              & (F.col("n_chars") <= 10 * F.col("n_words")),
        "flag_stopwords": F.col("stop_cnt") >= 2,
        "flag_alpha_words": 5 * F.col("alpha_cnt") >= 4 * F.col("n_words"),
        "flag_dominance": 10 * F.col("top_cnt") <= F.col("n_words"),
        "flag_ttr": 5 * F.col("n_distinct") >= 2 * F.col("n_words"),
    }
    out = per.select(F.col(id_col), F.col("n_words"),
                     *[v.alias(k) for k, v in flags.items()])
    n_failed = sum(F.when(~F.col(k), 1).otherwise(0) for k in flags)
    return (out.withColumn("n_failed", n_failed.cast("int"))
            .withColumn("keep", F.col("n_failed") == 0))


# ----------------------------------------------------------------------
# PII detection / redaction — the standard scrub stage of web-corpus
# curation (C4 removed pages by blocklist; Dolma/RefinedWeb-style
# pipelines regex-redact emails, phone numbers and IP addresses before
# training). Patterns are written WITHOUT backslash escapes
# ([.] / [+] / [0-9] classes only) so the exact same pattern string is
# valid and IDENTICAL in meaning under Java regex (Spark) and RE2
# (DuckDB oracle) — no lookarounds, no shorthand classes, both engines
# match leftmost-first.
# ----------------------------------------------------------------------

# (kind, pattern, replacement token) — redaction applies in list order;
# tokens contain no digits/dots/@ so an earlier replacement can never
# create a later match.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone", "[+]1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
     "<IP>"),
]


def pii_redact(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII counts + redacted text, fully JVM-side (regexp
    built-ins, zero Python in the row path, no shuffle — runs at
    parquet-scan speed at any corpus size). Counts are taken on the
    ORIGINAL text per pattern; redaction chains the patterns in
    PII_PATTERNS order (email before ipv4, so a dotted mail domain is
    consumed as part of the email match, never double-redacted).

    Count-vs-token caveat (ADVICE r8, pinned by unit test): because
    counts read the ORIGINAL text while redaction chains, n_<kind>s
    is "matches of this pattern in the raw doc", NOT "occurrences of
    the <KIND> token in `redacted`". A dotted quad embedded inside an
    email's domain (u@mail.1.2.3.44.com) increments n_ipv4s but is
    consumed whole by the earlier <EMAIL> replacement, so n_ipv4s can
    exceed the <IP> token count. Relatedly the naive C4-style IPv4
    pattern matches out-of-range quads (999.999.999.999) and
    sub-quads of longer dotted runs — standard for corpus scrubs, but
    do not treat n_ipv4s as a precision signal.

    NULL text is coalesced to '' at entry so null-doc behavior is
    defined (all counts 0, redacted = '') and engine-identical —
    without it regexp on NULL yields NULL counts in Spark while a
    SQL twin may differ (ADVICE r8).

    Returns (id_col, n_emails, n_phones, n_ipv4s, redacted,
    redacted_len).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        F.size(F.regexp_extract_all(txt, F.lit(pat), F.lit(0)))
         .cast("bigint").alias(f"n_{kind}s")
        for kind, pat, _ in PII_PATTERNS]
    red = txt
    for _, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)
    return docs.select(
        F.col(id_col), *counts, red.alias("redacted"),
        F.length(red).cast("bigint").alias("redacted_len"))


def dup_ngram_char_fraction(docs: DataFrame, n: int = 5,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Gopher's within-doc repetition signal (Rae et al. 2021, Table
    A1: "fraction of characters in duplicate n-grams"): the fraction
    of word characters covered by the UNION of all word n-grams that
    occur >= 2 times inside the document. Coverage-union semantics —
    overlapping duplicate grams count each position once — which is
    what makes this a character-budget signal rather than a gram
    count (doc_repetition_stats carries the dup-word and top-bigram
    siblings; this adds the n-gram family member).

    Plan: every stage is keyed by doc_id (gram counting via a
    (doc, gram) window, coverage-union via a (doc, pos) distinct,
    char lookup via a (doc, pos) join) — no cross-doc state, no pair
    joins; at 100 TB the widest payload is one row per word
    position, and partial aggregation collapses everything map-side.

    NULL text is coalesced to '' at entry (ADVICE r8) so a null doc
    behaves exactly like an empty one — split(trim('')) yields a
    single zero-length word, so n_words = 1 with word_chars = 0 and
    frac 0.0 — instead of silently dropping out of the gram stages.

    Output: (doc_id, n_words, word_chars, dup_ngram_chars,
    dup_char_frac)."""
    words = docs.select(
        F.col(id_col),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
         .alias("__w"))
    # r12: `toks` feeds the coverage join AND the per-doc totals — pin
    # it so the split + posexplode runs once per action, not twice
    toks = words.select(
        F.col(id_col), F.posexplode("__w").alias("pos", "w")) \
        .localCheckpoint(eager=False)
    grams = words.select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN size(__w) >= {n} THEN "
            f"transform(sequence(0, size(__w) - {n}), "
            f"i -> struct(i AS s, array_join(slice(__w, i + 1, {n}), ' ') "
            f"AS g)) "
            f"ELSE CAST(array() AS array<struct<s:int,g:string>>) END"
        )).alias("sg"))
    wg = Window.partitionBy(id_col, "sg.g")
    dup_starts = (grams.withColumn("c", F.count("*").over(wg))
                  .filter(F.col("c") >= 2))
    cov = (dup_starts
           .select(F.col(id_col),
                   F.explode(F.expr(f"sequence(sg.s, sg.s + {n - 1})"))
                    .alias("pos"))
           .distinct())
    dup_chars = (cov.join(toks, [id_col, "pos"])
                 .groupBy(id_col)
                 .agg(F.sum(F.length("w")).cast("bigint")
                      .alias("dup_ngram_chars")))
    totals = toks.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.length("w")).cast("bigint").alias("word_chars"))
    out = totals.join(dup_chars, id_col, "left")
    dc = F.coalesce("dup_ngram_chars", F.lit(0)).cast("bigint")
    return out.select(
        F.col(id_col), "n_words", "word_chars",
        dc.alias("dup_ngram_chars"),
        F.when(F.col("word_chars") == 0, F.lit(0.0))
         .otherwise(half_up(dc, F.col("word_chars")))
         .alias("dup_char_frac"))


def softdedup_weights(docs: DataFrame, n: int = 4,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """SoftDeDup-style reweighting (He et al. 2024, "SoftDedup: an
    Efficient Data Reweighting Method for Speeding Up Language Model
    Pretraining"): instead of REMOVING near-duplicates, DOWN-WEIGHT
    documents whose content is common in the corpus, so oversampled
    boilerplate trains with a lower sampling weight while rare
    content keeps full weight — the reweight-not-remove alternative
    to the hard-dedup family (dedup_exact / minhash / SimHash /
    semantic).

    Data commonness here = the mean log-probability of the document's
    word n-grams (n=4) under the corpus' own n-gram unigram
    distribution P(g) = count(g) / total_grams — the self-trained
    stand-in for the paper's n-gram LM. The weight is a min-max
    normalized inverse with a 0.5 floor:

        w_i = 1 - 0.5 * (m_i - min_m) / (max_m - min_m)

    so the most common document gets 0.5, the rarest 1.0, docs with
    no n-grams (shorter than n words) a full 1.0.

    Determinism (the doc_bigram_logppl trick): each gram's ln P(g) is
    rounded ONCE to integer nano-units so per-doc accumulation is an
    exact integer sum on any engine; the per-doc mean is rounded to
    6 dp BEFORE the min-max normalization so the normalization
    itself consumes engine-identical inputs.

    Plan shape: one (doc, gram) aggregate off the explode (map-side
    combined), the gram LM is a vocab-sized aggregate whose total is
    a broadcast scalar, scoring is a shuffle_hash equi-join on the
    gram key (the LM side is the distinct-4-gram table — at web
    scale most 4-grams are unique, so it is near-corpus-sized and
    must NEVER broadcast; both sides are already gram-keyed from
    their aggregates so the exchange is the minimum possible), and
    the corpus min/max is a second broadcast scalar — the corpus
    text shuffles once (the gram explode); no pair joins, no per-doc
    state beyond two BIGINTs.
    """
    words = docs.select(
        F.col(id_col),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
         .alias("__w"))
    grams = words.select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN size(__w) >= {n} THEN "
            f"transform(sequence(1, size(__w) - {n} + 1), "
            f"i -> array_join(slice(__w, i, {n}), ' ')) "
            f"ELSE CAST(array() AS array<string>) END")).alias("gram"))
    # r12: dgc feeds the LM aggregate AND the scoring join; lm feeds
    # its own total AND the log-prob projection; m feeds the min-max
    # scalar AND the final join. Unmaterialized, the gram explode +
    # (doc, gram) aggregate executed 4x per action (7 parquet scans in
    # the plan). Three lazy checkpoints pin each stage to one
    # computation — the corpus text is now exploded exactly once, the
    # plan shape the docstring promises.
    dgc = grams.groupBy(id_col, "gram").agg(
        F.count("*").cast("long").alias("cnt")) \
        .localCheckpoint(eager=False)
    lm = dgc.groupBy("gram").agg(F.sum("cnt").cast("long").alias("cg")) \
        .localCheckpoint(eager=False)
    total = lm.agg(F.sum("cg").cast("long").alias("__t"))
    lp = (lm.crossJoin(F.broadcast(total))
          .select("gram",
                  F.round(F.log(F.col("cg").cast("double")
                                / F.col("__t").cast("double"))
                          * F.lit(1_000_000_000)).cast("long")
                  .alias("lp_units")))
    sc = (dgc.join(lp.hint("shuffle_hash"), "gram")
          .groupBy(id_col)
          .agg(F.sum("cnt").cast("long").alias("n_grams"),
               F.sum(F.col("cnt") * F.col("lp_units")).cast("long")
               .alias("units")))
    # NOTE: `m` is intentionally NOT checkpointed — the min-max scalar
    # and the final join each re-run the (cheap, checkpoint-fed)
    # scoring join, keeping the pinned ShuffledHashJoin visible in the
    # final plan (the r10 no-broadcast-LM contract is plan-asserted;
    # a checkpoint here would hide the join inside RDD lineage).
    m = sc.select(
        F.col(id_col), "n_grams",
        # signed nano-units over n_grams*1e9: exact half-away, DECIMAL
        # headroom (r13 tie class)
        half_up(F.col("units"),
                F.col("n_grams").cast("decimal(38,0)")
                * F.lit(1_000_000_000)).alias("mean_logp"))
    st = m.agg(F.min("mean_logp").alias("__mn"),
               F.max("mean_logp").alias("__mx"))
    out = (docs.select(F.col(id_col))
           .join(m, id_col, "left")
           .crossJoin(F.broadcast(st)))
    # mean_logp/mn/mx are exact 6-dp micro-units by construction, so
    # 1 - (m - mn)/(2*(mx - mn)) is an integer rational (r13 tie class)
    am = F.round(F.col("mean_logp") * 1e6).cast("long")
    amn = F.round(F.col("__mn") * 1e6).cast("long")
    amx = F.round(F.col("__mx") * 1e6).cast("long")
    w = (F.when(F.col("n_grams").isNull(), F.lit(1.0))
         .when(F.col("__mx") == F.col("__mn"), F.lit(1.0))
         .otherwise(half_up(2 * (amx - amn) - (am - amn),
                            2 * (amx - amn))))
    return out.select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.col("mean_logp"),
        w.alias("softdedup_weight"))


def top_ngram_char_fraction(docs: DataFrame, ns: tuple[int, ...] = (2, 3, 4),
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Gopher's OTHER repetition family (Rae et al. 2021, Table A1:
    "fraction of characters in the most frequent n-gram", n = 2..4 —
    the count-weighted sibling of dup_ngram_char_fraction's
    coverage-union for n = 5..10): per doc and per n, the single most
    frequent word n-gram, its occurrence count, and
    count * gram_word_chars / total_word_chars. Occurrences multiply
    (no overlap union) — that is the paper's definition for the
    top-gram family; the dup family is where union semantics apply.

    ZERO shuffles (the doc_repetition_stats trick generalized): the
    most frequent gram's multiplicity is the longest equal-run in the
    doc's SORTED gram array, and carrying the run's gram through the
    fold also yields WHICH gram — the lexicographically smallest
    among count ties, matching the oracle's (count DESC, gram ASC)
    argmax. One narrow projection + explode over the n values; rows
    never leave the scan task, so at 100 TB this runs at
    parquet-scan speed like every per-doc signal here.

    Tokens are lowercased [a-z0-9]+ runs (the doc_repetition_stats
    tokenizer). Docs with fewer than n tokens emit no row for that n.
    NULL text coalesces to '' at entry (no tokens -> no rows).

    Output: (doc_id, n, top_gram, top_count, top_char_frac)."""
    toks = docs.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower(coalesce({text_col}, '')), "
               f"'[a-z0-9]+', 0)").alias("w"))

    def fold(n: int) -> str:
        # (prev, run, best, bg): longest equal-run + its gram over the
        # sorted gram array; first gram reaching the best run is the
        # lexicographic minimum among maxima (runs appear ascending)
        return f"""CASE WHEN size(w) >= {n} THEN aggregate(
          array_sort(transform(sequence(1, size(w) - {n} + 1),
            i -> array_join(slice(w, i, {n}), ' '))),
          named_struct('prev', cast(null as string),
                       'run', cast(0 as bigint),
                       'best', cast(0 as bigint),
                       'bg', cast(null as string)),
          (acc, x) -> named_struct(
            'prev', x,
            'run', IF(x <=> acc.prev, acc.run + 1, cast(1 as bigint)),
            'best', greatest(acc.best,
                    IF(x <=> acc.prev, acc.run + 1, cast(1 as bigint))),
            'bg', CASE WHEN IF(x <=> acc.prev, acc.run + 1,
                               cast(1 as bigint)) > acc.best
                       THEN x ELSE acc.bg END),
          acc -> named_struct('cnt', acc.best, 'gram', acc.bg))
        ELSE named_struct('cnt', cast(0 as bigint),
                          'gram', cast(null as string)) END"""

    per_n = F.array(*[
        F.expr(f"named_struct('n', cast({n} as bigint), "
               f"'r', {fold(n)})") for n in ns])
    wc = F.expr("aggregate(w, cast(0 as bigint), "
                "(a, x) -> a + length(x))")
    rows = (toks
            .select(F.col(id_col), wc.alias("wc"),
                    F.explode(per_n).alias("e"))
            .filter(F.col("e.r.cnt") > 0)
            .select(F.col(id_col), F.col("e.n").alias("n"),
                    F.col("e.r.gram").alias("top_gram"),
                    F.col("e.r.cnt").alias("top_count"),
                    half_up(F.col("e.r.cnt")
                            * (F.length("e.r.gram") - (F.col("e.n") - 1)),
                            F.col("wc")).alias("top_char_frac")))
    return rows
