"""Reference implementations the tests compare package code against.
None of these runs in a query, program or tool."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from examples_scala_spark.plans.inspect import explain_str


def argmax_by(df: DataFrame, part_col: str, ord_col: str, tie_col: str,
              keep: tuple[str, ...]) -> DataFrame:
    """Relational per-group argmax, the independent form the
    vectorized `similarity.nearest_ref_vec` kernel is checked against:
    for each `part_col` group, the `keep` columns of the row
    maximizing (`ord_col` DESC, `tie_col` ASC) — exactly the row
    `row_number().over(Window.partitionBy(part).orderBy(ord desc,
    tie)) == 1` selects, expressed as `max_by` over the ordering
    struct (ord, -tie) so ties still resolve to the SMALLEST tie_col,
    as one hash aggregate with map-side partial combine.

    `tie_col` must be numeric (it is negated) and (ord_col, tie_col)
    unique per group."""
    m = F.max_by(
        F.struct(*[F.col(c).alias(c) for c in keep]),
        F.struct(F.col(ord_col).alias("o"), (-F.col(tie_col)).alias("t")))
    return (df.groupBy(part_col).agg(m.alias("__m"))
            .select(F.col(part_col),
                    *[F.col(f"__m.{c}").alias(c) for c in keep]))


# every physical node that ships rows across the JVM<->Python boundary
# — matching only BatchEvalPython let vectorized Python (ArrowEval,
# MapInPandas, ...) slip past the "no accidental Python" assertion
_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
                 "PythonMapInArrow", "MapInArrow", "EvalPython",
                 "TransformWithStateInPandas", "BatchEvalPythonUDTF")


def assert_no_python_in_plan(df: DataFrame) -> None:
    """Hot relational paths must stay FULLY JVM-side: no row-wise UDF
    nodes AND no Arrow-vectorized Python stages."""
    plan = explain_str(df, "simple")
    hits = [n for n in _PYTHON_NODES if n in plan]
    assert not hits, f"Python stage(s) {hits} in plan:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"expected broadcast join; plan:\n{plan}"
    )
