"""Registry-level checks: every query runs at sf0.001 and a sampled
subset hash-matches its DuckDB oracle (the full gate runs in
tools/verify_local.py / the driver)."""

from __future__ import annotations

import ast
import re

import duckdb
import pytest

from examples_scala_spark.queries import REGISTRY
from examples_scala_spark.sources.tables import TABLES

import sys
from pathlib import Path
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from verify_local import value_hash  # noqa: E402

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
    # the capped-bench decontamination and the sqrt-budget SemDeDup
    "semantic_decontaminate", "semantic_dedup_auto",
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


# Oracle fragments that several registry oracles share, each as a
# regex over queries.py's source with the number of times it may
# appear there: once, or not at all for the sensor mapping, which
# lives in sources/tables.py.
ORACLE_FRAGMENTS = {
    "embedding CTE e": (r"embedding::DOUBLE\[\] AS v FROM embeddings", 1),
    "norm CTE n": (r"sqrt\(list_dot_product\(v, v\)\) AS norm FROM e\)",
                   1),
    "centroid sample c": (r"FROM n WHERE vec_id % 23 = 1 ORDER BY vec_id\s",
                          1),
    "nearest-centroid argmax": (r"PARTITION BY n\.vec_id\s+ORDER BY", 1),
    "IVF affinity": (r"FROM n, c\)", 1),
    "ANN query set": (r"WHERE vec_id % 50 = 0\s+ORDER BY vec_id LIMIT 256",
                      1),
    "cosine top-5 tail": (r"ORDER BY cos DESC, neighbor_id\) AS rank", 1),
    "word split w": (
        r"string_split_regex\(trim\(text\), '\\{1,2}s\+'\) AS words", 1),
    "word n-gram unnest": (r"list_slice\(words, i, i \+", 1),
    "md5 shingle hash": (r"substr\(md5\(g\), 1, 15\)", 1),
    "pair-to-edge union": (r"SELECT doc_b AS src, doc_a AS dst FROM pairs",
                           1),
    "integer cents": (r"CAST\(round\(value \* 100\) AS BIGINT\)", 1),
    "quality score": (r"n_stop / n_words > 0\.01", 1),
    "stopword count": (r"for w in text\.STOPWORDS", 1),
    "Gopher word stats": (r"sum\(len\(w\) \* cnt\)", 1),
    "BMP dimensions": (r"8 \+ doc_id % 9 AS w", 1),
    "sqrt centroid budget": (
        r"CAST\(floor\(sqrt\(count\(\*\)\)\) AS BIGINT\)", 1),
    "SemDeDup keeper": (
        r"COALESCE\(nbr_min, a\.vec_id\)\)::BIGINT AS keep_id", 1),
    "LSH planes": (r"_plane_component\(p, d\)", 1),
    "sensor mapping, Spark": (r'F\.lit\("sensor_"\)', 0),
    "sensor mapping, SQL": (r"'sensor_' \|\| \(\(user_id % 10\) \+ 1\)", 0),
}


def test_oracle_fragments_written_once():
    """Each shared oracle fragment has one definition in queries.py,
    and no two registrations spell out the same oracle: a stream twin
    whose result is its batch twin's points at that oracle."""
    root = Path(__file__).resolve().parents[1]
    src = (root / "examples_scala_spark" / "queries.py").read_text()
    found = {name: len(re.findall(rx, src))
             for name, (rx, _) in ORACLE_FRAGMENTS.items()}
    repeated = {name: k for name, k in found.items()
                if k != ORACLE_FRAGMENTS[name][1]}

    def literal(node):
        if isinstance(node, ast.BinOp):
            return literal(node.left) or literal(node.right)
        return isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str))

    by_text = {}
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id == "register" and literal(node.args[1])):
            name = node.args[0].value
            text = " ".join(REGISTRY[name].oracle.split())
            by_text.setdefault(text, []).append(name)
    twins = [names for names in by_text.values() if len(names) > 1]
    assert (repeated, twins) == ({}, [])


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



# Package names that no query, program, benchmark or tool refers to,
# each with the reason it stays. A module may go unimported only when
# every name in it is listed here.
UNREFERENCED = {
    "examples_scala_spark.streaming.monitor.MetricsCollector":
        "ROADMAP direction 4 attaches it to queries._run_replay",
}


def _imports(modules, tree, package):
    """(module, name, bound name) for each name the parsed file imports
    from a package module; `package` anchors relative imports."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(a.name, None, a.asname) for a in node.names
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


def _resolve(modules, packages, mod, name):
    """(module, name) defining `name` as imported from `mod`: a package
    passes a name on to the module it re-exports from. A module itself
    resolves to (module, None)."""
    if mod in packages and name is not None:
        for m, n, bound in _imports(modules, modules[mod], mod):
            if bound == name:
                return _resolve(modules, packages, m, n)
    return mod, name


def _definitions(tree):
    """Top-level functions, classes and assigned names (no dunders),
    each with its defining statement."""
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            out.update((t.id, node) for t in targets
                       if isinstance(t, ast.Name))
    return {k: v for k, v in out.items() if not k.startswith("__")}


def _registered(node):
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id in ("register", "program")
               for d in getattr(node, "decorator_list", ()))


def _references(modules, packages, tree, package, own=None):
    """(module, name) pairs the parsed file refers to: names it imports
    (a package's re-exports excepted), attributes it reads off an
    imported module and, for package module `own`, its own top-level
    names used outside their own definitions."""
    refs, aliases = set(), {}
    for mod, name, bound in _imports(modules, tree, package):
        mod, name = _resolve(modules, packages, mod, name)
        if name is None:
            aliases[bound] = mod
        elif own not in packages:
            refs.add((mod, name))
    defs = _definitions(tree) if own else {}
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases):
                refs.add(_resolve(modules, packages,
                                  aliases[node.value.id], node.attr))
            elif (isinstance(node, ast.Name)
                    and isinstance(node.ctx, ast.Load)
                    and defs.get(node.id, top) is not top):
                refs.add((own, node.id))
    return refs


def test_every_package_module_runs_outside_the_tests():
    """Every package module is imported, and every top-level function,
    class or constant is registered or referred to, by the driver
    entry, the registry, the programs, the benchmarks or the tools —
    not only by the tests. UNREFERENCED lists the exceptions.
    Importing a package reaches only the names taken from its
    `__init__`."""
    root = Path(__file__).resolve().parents[1]
    modules, packages = {}, set()
    for path in (root / "examples_scala_spark").rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
            packages.add(".".join(parts))
        modules[".".join(parts)] = ast.parse(path.read_text())
    outside = [ast.parse(p.read_text()) for p in [
        root / "__spark_entry__.py", root / "bench.py",
        *(root / "perfbench").glob("*.py"), *(root / "tools").glob("*.py")]]

    def anchor(mod):
        return mod if mod in packages else mod.rpartition(".")[0]

    todo = [("examples_scala_spark.queries", None),
            ("examples_scala_spark.programs", None)]
    for tree in outside:
        todo += [(m, n) for m, n, _ in _imports(modules, tree, "")]
    reached = set()
    while todo:
        mod, _ = _resolve(modules, packages, *todo.pop())
        if mod not in reached:
            reached.add(mod)
            todo += [(m, n) for m, n, _
                     in _imports(modules, modules[mod], anchor(mod))]
    unreached = set(modules) - packages - reached

    refs = set()
    for mod, tree in modules.items():
        refs |= _references(modules, packages, tree, anchor(mod), own=mod)
    for tree in outside:
        refs |= _references(modules, packages, tree, "")
    unreferenced = {f"{mod}.{name}" for mod, tree in modules.items()
                    for name, node in _definitions(tree).items()
                    if (mod, name) not in refs and not _registered(node)}
    assert sorted(unreferenced) == sorted(UNREFERENCED)
    assert unreached == {n.rpartition(".")[0] for n in UNREFERENCED}
