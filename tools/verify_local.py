"""Local twin of the driver's t2 correctness gate: run every registry
query on Spark AND its DuckDB oracle, compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/verify_local.py [--vanilla] [--gate-order]
           [--head N] [sf_dir] [query ...]

--vanilla     use the driver-identical default SparkSession
--gate-order  evaluate in __spark_entry__.queries() order (the
              driver's order) instead of registration order
--head N      only the first N of that order — with --gate-order and
              --vanilla this is an exact dress-rehearsal of the
              driver's per-round correctness gate (budget ~50)

Every OK (and no-oracle `rows`) line ends with the Spark value hash,
so two checkouts can be compared result-for-result, not only
engine-against-engine: the oracles change with the Spark code, so
agreement alone cannot show a result is unchanged. Compare with
  diff <(grep -E '^(OK|rows)' a.log | awk '{print $2, $NF}') \
       <(grep -E '^(OK|rows)' b.log | awk '{print $2, $NF}')
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from examples_scala_spark.queries import REGISTRY  # noqa: E402
from examples_scala_spark.session import get_spark  # noqa: E402
from examples_scala_spark.sources.tables import TABLES  # noqa: E402


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, then rows by all values."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        tuple(repr(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    # --vanilla: build the DEFAULT SparkSession the driver uses (no
    # repo tuning at session level — each query still calls tune()
    # internally, which is the contract being verified)
    vanilla = "--vanilla" in args
    gate_order = "--gate-order" in args
    head = None
    if "--head" in args:
        i = args.index("--head")
        if i + 1 >= len(args):
            print("--head requires a value", file=sys.stderr)
            return 2
        head = int(args[i + 1])
        del args[i:i + 2]
    args = [a for a in args if a not in ("--vanilla", "--gate-order",
                                         "--head")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if args[1:]:
        names = args[1:]
    elif gate_order:
        import __spark_entry__ as entry
        names = list(entry.queries())
    else:
        names = list(REGISTRY)
    if head is not None:
        names = names[:head]

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    if vanilla:
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("verify-local")
    failures = []
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} spark error: {str(e)[:300]}")
            continue
        t1 = time.time()
        if spec.oracle is None:
            print(f"rows  {name:28s} {len(sdf):>8} rows (no oracle) "
                  f"[spark {t1 - t0:.1f}s] {value_hash(sdf)}")
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} duckdb error: {str(e)[:300]}")
            continue
        t2 = time.time()
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name:28s} {'; '.join(problems)} "
                  f"[spark {t1 - t0:.1f}s duck {t2 - t1:.1f}s]")
            # show a small diff sample
            try:
                sk = sdf.reindex(sorted(sdf.columns), axis=1)
                ok = odf.reindex(sorted(odf.columns), axis=1)
                print("  spark:", sk.head(3).to_dict("records"))
                print("  duck :", ok.head(3).to_dict("records"))
            except Exception:
                pass
        else:
            print(f"OK    {name:28s} {len(sdf):>8} rows "
                  f"[spark {t1 - t0:.1f}s duck {t2 - t1:.1f}s] {hs}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
