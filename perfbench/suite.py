"""The queries layer: the 16 headline registry queries over seeded
tables, each built and collected once per pass, in an order the seed
permutes, with results checked against each query's DuckDB oracle from
the registry. `run` is the `batch_headline` workload; `query_phase` is
the single pass that traced sensor_window runs end with."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import random
import time
from statistics import geometric_mean, median

import tables
from harness import SETUP_REPEATS
from sparkprobe import executor_totals, group_jobs, job_shape

# the 16 headline registry queries that bench.py times
HEADLINE = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
            "q6_forecast_revenue", "q10_returned_items",
            "q18_large_volume_customer", "w_avg_temp", "rolling_max_by",
            "alert_temp_delta", "minhash_lsh_pairs", "ngram_jaccard_pairs",
            "ann_topk_bruteforce", "token_count", "media_meta",
            "pipeline_training_data", "dedup_clusters")


def _norm(v):
    if isinstance(v, float):
        return repr(v + 0.0)  # -0.0 and 0.0 hash alike
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.md5("\x1f".join(sorted(columns)).encode())
    for r in sorted("\x1f".join(_norm(row[i]) for i in order) for row in rows):
        h.update(r.encode() + b"\x1e")
    return h.hexdigest()


def _oracle_hashes(spec_of, names: list[str], table_dir) -> dict[str, str | None]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    out = {}
    for q in names:
        sql = spec_of[q].oracle
        if sql is None:
            out[q] = None
            continue
        rel = con.sql(sql)
        out[q] = value_hash(rel.columns, rel.fetchall())
    return out


def _execute(spark, fn, table_dir: str, group: str | None) -> dict:
    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group, group)
    t0 = time.time()
    df = fn(spark, table_dir)
    t1 = time.time()
    rows = df.collect()
    t2 = time.time()
    out = {"build_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3,
           "start": t0, "mid": t1, "end": t2,
           "hash": value_hash(df.columns, rows), "rows": len(rows)}
    if group:
        out["shape"] = job_shape(sc, group_jobs(sc, group))
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def query_pass(spark, ctx, names: list[str], table_dir, k: int,
               runs: dict[str, list[dict]], errors: dict[str, str]) -> float:
    """Build and collect each query once, appending to `runs`; return
    the pass's wall time. A query that raises is recorded in `errors`."""
    from examples_scala_spark.queries import REGISTRY

    tracer = ctx.tracer
    p0 = time.time()
    with tracer.span("suite.pass", f"pass-{k}"):
        for q in names:
            with tracer.span(f"queries.{q}", f"pass-{k}") as sid:
                try:
                    r = _execute(spark, REGISTRY[q].fn, str(table_dir),
                                 f"perfbench-{q}-{k}" if ctx.trace else None)
                except Exception as e:  # one failed query must not end the run
                    errors.setdefault(q, repr(e)[:300])
                    continue
                tracer.add(f"queries.{q}.build", f"pass-{k}", r["start"],
                           r["mid"], parent=sid)
                tracer.add(f"queries.{q}.exec", f"pass-{k}", r["mid"],
                           r["end"], parent=sid)
                runs.setdefault(q, []).append(r)
    return time.time() - p0


def check(names: list[str], runs: dict[str, list[dict]], table_dir,
          errors: dict[str, str]) -> dict:
    """Each query's result hash must repeat across passes and equal its
    registry oracle's over the same tables."""
    from examples_scala_spark.queries import REGISTRY

    oracle = _oracle_hashes(REGISTRY, names, table_dir)
    bad = {q for q in names
           if not runs.get(q) or len({r["hash"] for r in runs[q]}) != 1
           or (oracle[q] is not None and runs[q][0]["hash"] != oracle[q])}
    return {"ok": not bad, "queries": len(names),
            "with_oracle": sum(v is not None for v in oracle.values()),
            "mismatched": sorted(bad), "errors": errors}


def query_layers(runs: dict[str, list[dict]], pass_s: list[float] = ()) -> dict:
    """Per-query medians over passes; zeros for a run without queries."""
    out = {}
    for q in HEADLINE:
        rs = runs.get(q) or [{"build_ms": 0, "exec_ms": 0, "shape": (0, 0, 0)}]
        out[f"queries.{q}.build_ms"] = median([r["build_ms"] for r in rs])
        out[f"queries.{q}.exec_ms"] = median([r["exec_ms"] for r in rs])
        for i, key in enumerate(("jobs", "stages", "tasks")):
            out[f"queries.{q}.{key}"] = median([r.get("shape", (0, 0, 0))[i] for r in rs])
    per_q = _per_query_s(runs)
    out["queries.pass_s"] = median(pass_s) if pass_s else 0.0
    out["queries.geomean_s"] = geometric_mean(per_q.values()) if per_q else 0.0
    return out


def _per_query_s(runs: dict[str, list[dict]]) -> dict[str, float]:
    return {q: median([r["build_ms"] + r["exec_ms"] for r in rs]) / 1e3
            for q, rs in runs.items() if rs}


def query_phase(spark, ctx, scale: float) -> dict:
    """The queries layer inside a streaming run: tables at `scale`, one
    pass over the headline queries, checked against the oracles."""
    names = list(HEADLINE)
    random.Random(ctx.seed).shuffle(names)
    table_dir = ctx.work / "tables"
    tables.write(table_dir, scale, ctx.seed)
    runs, errors = {}, {}
    pass_s = query_pass(spark, ctx, names, table_dir, 0, runs, errors)
    result = check(names, runs, table_dir, errors)
    result["pass_s"] = pass_s
    return {"layers": query_layers(runs, [pass_s]), "check": result,
            "attempted": len(names), "failed": len(result["mismatched"])}


def run(ctx) -> dict:
    from examples_scala_spark.queries import REGISTRY
    from examples_scala_spark.session import get_spark

    w, tracer = ctx.cfg["workloads"]["batch_headline"], ctx.tracer
    names = list(HEADLINE)
    random.Random(ctx.seed).shuffle(names)

    # -- set-up, repeated: session, table generation, first query once
    setups, get_spark_s, stage_s = [], [], []
    spark = None
    for rep in range(SETUP_REPEATS):
        t0 = time.time()
        with tracer.span("setup", f"setup-{rep}"):
            with tracer.span("session.get_spark", f"setup-{rep}"):
                if spark is not None:
                    spark.stop()
                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            get_spark_s.append(time.time() - t0)
            t1 = time.time()
            table_dir = ctx.work / f"tables-{rep}"
            with tracer.span("sources.stage", f"setup-{rep}"):
                stage_bytes = tables.write(table_dir, w["scale"], ctx.seed)
            stage_s.append(time.time() - t1)
            with tracer.span("engine.warmup", f"setup-{rep}"):
                _execute(spark, REGISTRY[names[0]].fn, str(table_dir), None)
        setups.append(time.time() - t0)

    # -- one untimed pass over other tables, so the measured passes run
    # on warm JIT and Python workers without seeing their own inputs
    warm_s = 0.0
    if w["warmup_pass"]:
        t0 = time.time()
        warm_dir = ctx.work / "tables-warmup"
        tables.write(warm_dir, w["scale"], ctx.seed + 1)
        for q in names:
            _execute(spark, REGISTRY[q].fn, str(warm_dir), None)
        warm_s = time.time() - t0

    # -- measured passes: at least one, until --seconds have elapsed
    cpu0, t_meas0 = ctx.proc.cpu_s(), time.time()
    runs: dict[str, list[dict]] = {}
    pass_s, errors = [], {}
    while not pass_s or time.time() - t_meas0 < ctx.seconds:
        pass_s.append(query_pass(spark, ctx, names, table_dir, len(pass_s),
                                 runs, errors))
    cpu_s, t_meas1 = ctx.proc.cpu_s() - cpu0, time.time()
    spark.stop()

    # -- output check against the registry oracles, outside the timing
    result = check(names, runs, table_dir, errors)
    bad = set(result["mismatched"])
    attempted = len(pass_s) * len(names)
    failed = len(pass_s) * len(bad)

    per_q = _per_query_s(runs)
    e2e = {"setup_s": median(setups), "suite_s": median(pass_s),
           "query_geomean_s": geometric_mean(per_q.values()) if per_q else 0.0,
           "cpu_s": cpu_s / len(pass_s),
           "peak_rss_mb": ctx.proc.peak_rss / 2**20}
    layers = {"session.get_spark_s": median(get_spark_s),
              "sources.stage_s": median(stage_s),
              "sources.stage_bytes": stage_bytes,
              "failed_frac": failed / attempted}
    if ctx.trace:
        layers.update(query_layers(runs, pass_s))
        ex = executor_totals(ctx.eventlog, t_meas0, t_meas1)
        layers.update({
            "executor.run_s": ex["run_s"], "executor.cpu_s": ex["cpu_s"],
            "executor.gc_s": ex["gc_s"],
            "exchange.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exchange.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exchange.spill_bytes": ex["spill_bytes"]})
    return {
        "e2e": e2e, "layers": layers, "correct": not bad,
        "attempted": attempted, "failed": failed,
        "details": {
            "check": result, "order": names, "passes_s": pass_s,
            "setups_s": setups, "warmup_pass_s": warm_s,
            "rows": {q: rs[0]["rows"] for q, rs in runs.items()},
            "query_s": per_q,
        },
    }
