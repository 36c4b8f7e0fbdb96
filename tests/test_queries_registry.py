"""Registry-level checks: every query runs at sf0.001 and a sampled
subset hash-matches its DuckDB oracle (the full gate runs in
tools/verify_local.py / the driver)."""

from __future__ import annotations

import ast

import duckdb
import pytest

from examples_scala_spark.queries import REGISTRY

import sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from verify_local import TABLES, value_hash  # noqa: E402

# fast, structurally diverse sample for the pytest loop; the driver
# and verify_local cover all of them
SAMPLE = [
    "w_avg_temp", "rolling_max_by", "alert_temp_delta", "asof_smoke_alert",
    "late_window_updates", "q1_pricing_summary", "q5_local_supplier",
    "dedup_exact", "minhash_lsh_pairs", "ann_topk_bruteforce",
    "quality_score", "media_meta",
    # round-2 representatives
    "doc_sequence_packing", "weighted_reservoir_sample",
    "quality_model_scores", "data_quality_checks", "user_hll_rollup",
    # round-3 representatives
    "bm25_topk", "bloom_decontaminate", "corpus_budget_selection",
    "zorder_clustered_scan",
    # round-4: the five upgraded-oracle entries (exact ADC twins,
    # closed-form early-firing replay, envelope bounds)
    "ann_topk_pq", "ann_topk_ivfpq", "stream_early_firing",
    "doc_compression_ratio", "embedding_top_pc",
    # round-5 continuation representatives: the ExactSubstr rewrite
    # (fold-vs-charwise oracle), the BPE trainer (iterative argmax),
    # and DSIR (nano-unit LLR sums)
    "substring_dedup_rewrite", "bpe_train_merges",
    "dsir_importance_weights",
    # round-7: the two previously-missing window families (session /
    # sliding — VERDICT r6 #1) and the paper-exact ExactSubstr
    "w_session_stats", "w_sliding_avg", "substring_dedup_suffix",
    "rerank_cross_encoder", "value_quantile_kll", "stream_session_stats",
    "substring_dedup_scrub", "w_session_dynamic_gap",
    "stream_sliding_avg",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# declared rows-only (non-SQL-expressible / algorithm-specific) queries
# — round 4 closed the last five: ann_topk_pq / ann_topk_ivfpq got
# exact DuckDB twins of the deterministic ADC pipeline,
# stream_early_firing's fire set has a closed form under the
# single-batch availableNow replay, and doc_compression_ratio /
# embedding_top_pc emit checkable envelopes (zlib compressBound;
# unit-norm + eigen-residual). Every registry entry now has an oracle.
ROWS_ONLY: set[str] = set()


def test_all_queries_have_oracles():
    missing = [n for n, s in REGISTRY.items() if s.oracle is None]
    assert set(missing) == ROWS_ONLY


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    odf = duck.sql(spec.oracle).df()
    assert len(sdf) == len(odf)
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert value_hash(sdf) == value_hash(odf)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    rows = e.entry(spark).limit(5).collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_media_oracle_ascii_invariant(duck):
    """media_chunks / media_dedup_by_chunks oracles chunk TEXT by
    characters while the Spark side chunks the UTF-8 binary by bytes;
    equality requires an all-ASCII corpus (ADVICE r5). Assert it here
    so a non-ASCII fixture fails loudly at test time, not as a
    confusing gate hash mismatch."""
    bad = duck.sql("SELECT count(*) FROM documents "
                   "WHERE octet_length(encode(text)) != length(text)"
                   ).fetchone()[0]
    assert bad == 0, (
        f"{bad} non-ASCII documents: the media_* byte-vs-char oracle "
        f"invariant no longer holds — switch the oracles to "
        f"encode()+byte substring")


def test_gate_ordering_invariants():
    """__spark_entry__ ordering: PRIORITY names must exist, the full
    ordering must cover the registry exactly once, and never-checked
    queries must precede previously-passed ones in the tail."""
    import __spark_entry__ as e

    # PRIORITY may exceed the ~50-query budget (the overflow is
    # auto-rotated next round) but must stay duplicate-free and valid
    assert len(e.PRIORITY) == len(set(e.PRIORITY))
    assert all(n in REGISTRY for n in e.PRIORITY)
    names = list(e.queries())
    assert sorted(names) == sorted(REGISTRY)
    assert names[:len(e.PRIORITY)] == e.PRIORITY
    # round 7: the registry is unfrozen under the same-round-PRIORITY
    # rule (VERDICT r6 #1) — every never-driver-evaluated query (the
    # r7 additions, per the recorded CORRECTNESS history) must sit
    # inside the ~50 budget AND lead the PRIORITY head, so new names
    # are gate-proven the round they are born
    hist = e._gate_history()
    never = [n for n in REGISTRY if n not in hist]
    for n in never:
        assert names.index(n) < 50, f"never-evaluated {n} outside budget"
    # never-evaluated names must lead PRIORITY (same-round rule);
    # changed-semantics re-proves may follow them inside PRIORITY
    head_new = [n for n in e.PRIORITY[:len(never)]]
    assert sorted(head_new) == sorted(never), (
        f"PRIORITY head {head_new} != never-evaluated set {never}")
    # round 9 (VERDICT r8 #1): the tail rotates automatically —
    # never-evaluated first, then failed, then passed ordered by
    # OLDEST latest driver row first, so stale evidence refreshes
    tail = names[len(e.PRIORITY):]
    rank = []
    for n in tail:
        st = hist.get(n)
        if st is None:
            rank.append((0, 0))
        else:
            outcome, rno = st
            rank.append((1 if outcome == "failed" else 2, rno))
    assert rank == sorted(rank), "tail not oldest-evidence-first"



# Package modules that no query, program, benchmark or tool imports,
# each with the reason it stays.
UNREACHED_MODULES = {
    "examples_scala_spark.sources.connectors":
        "Kafka, Delta and JDBC jars are absent here; the tests pin "
        "their unavailable-error paths",
    "examples_scala_spark.streaming.monitor":
        "ROADMAP direction 4 attaches it to queries._run_replay",
}


def _imports(modules, path, package):
    """(module, name, bound name) for each name the file at `path`
    imports from a package module; `package` anchors relative
    imports."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out += [(a.name, None, None) for a in node.names
                    if a.name in modules]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = package.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            for a in node.names:
                sub = f"{base}.{a.name}"
                if sub in modules:
                    out.append((sub, None, a.asname or a.name))
                elif base in modules:
                    out.append((base, a.name, a.asname or a.name))
    return out


def test_every_package_module_runs_outside_the_tests():
    """Walk the import graph from the driver entry, the registry, the
    programs, the benchmarks and the tools: every package module is
    reached, except those named in UNREACHED_MODULES. Importing a
    package reaches only the names taken from its `__init__`."""
    root = Path(__file__).resolve().parents[1]
    modules, packages = {}, {}
    for path in (root / "examples_scala_spark").rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
            packages[".".join(parts)] = path
        modules[".".join(parts)] = path

    def resolve(mod, name):
        # a package passes a name on to the module it re-exports from
        if mod not in packages:
            return mod
        return next((resolve(m, n) for m, n, bound
                     in _imports(modules, packages[mod], mod)
                     if name is not None and bound == name), None)

    todo = [("examples_scala_spark.queries", None, None),
            ("examples_scala_spark.programs", None, None)]
    for path in [root / "__spark_entry__.py", root / "bench.py",
                 *(root / "perfbench").glob("*.py"),
                 *(root / "tools").glob("*.py")]:
        todo += _imports(modules, path, "")
    reached = set()
    while todo:
        mod, name, _ = todo.pop()
        mod = resolve(mod, name)
        if mod is not None and mod not in reached:
            reached.add(mod)
            todo += _imports(modules, modules[mod],
                             mod.rpartition(".")[0])
    unreached = set(modules) - set(packages) - reached
    assert unreached == set(UNREACHED_MODULES)
