"""Collection-typed aggregation inputs.

- Map columns (aggregator/row/MapColumnAggregator.scala): an input
  ``Map[String, V]`` aggregates each key independently, yielding
  ``Map[String, agg(V)]`` — realized as explode → groupBy(keys, map_key)
  → re-roll with map_from_entries.
- Vector auto-explode (ColumnAggregator.scala:79-116): an input
  ``List[scalar]`` aggregates over all elements of all lists.
- elementWise (aggregator/row/ElementWiseAggregator.scala, api.thrift:
  229-234): list inputs aggregate position-wise → list output (e.g. the
  mean embedding) — posexplode → groupBy(keys, pos) → ordered re-assembly.

All shapes are single extra shuffles of the exploded frame; at scale the
explode multiplies rows by list/map size, which Catalyst pipelines
map-side (no materialization before the partial aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronon_spark.api.types import AggregationPart, Operation
from chronon_spark.functions.aggregations import DIRECT_NEEDS_FINALIZE, _let_sql, spec_for


def pos_map_to_array_sized(map_expr: str, size_expr: str) -> str:
    """Map[str(position) → value] ⇒ dense array null-padded to the
    OBSERVED tensor size (max in-window/in-group array length, threaded
    through the machinery as a parallel MAX aggregate of position+1).
    Matches the reference's null-initialized result list
    (ElementWiseAggregator / ColumnAggregator.scala elementWise): a
    TRAILING position whose aggregate finalizes to NULL (e.g. an all-null
    last element) stays in the output as null instead of being dropped.
    ``size_expr`` NULL ⇒ the window saw no arrays ⇒ NULL output (the
    empty-window contract)."""
    body = (
        "CASE WHEN __sz IS NOT NULL AND __sz > 0 THEN "
        "transform(sequence(0, CAST(__sz AS INT) - 1), "
        "i -> element_at(__m, CAST(i AS STRING))) END"
    )
    return _let_sql(map_expr, "__m", _let_sql(size_expr, "__sz", body))


def _direct(op: Operation, input_expr: str, arg_map: dict | None = None):
    part = AggregationPart(input_expr, op, arg_map or {}, None, None)
    col = spec_for(op).direct(input_expr, part)
    fin = DIRECT_NEEDS_FINALIZE.get(op)
    return col, fin, part


def aggregate_map_column(
    df: DataFrame,
    keys: list[str],
    map_col: str,
    op: Operation,
    arg_map: dict | None = None,
    output_col: str | None = None,
) -> DataFrame:
    """Map[String, V] input ⇒ Map[String, op(V)] per key group."""
    out_name = output_col or f"{map_col}_{op.value}"
    exploded = df.select(*keys, F.explode_outer(F.col(map_col)).alias("__mk", "__mv"))
    col, fin, part = _direct(op, "__mv", arg_map)
    per_key = exploded.groupBy(*keys, "__mk").agg(col.alias("__agg"))
    if fin is not None:
        per_key = per_key.withColumn("__agg", fin("__agg", part))
    rolled = per_key.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.expr("CASE WHEN __agg IS NOT NULL THEN struct(__mk, __agg) END"))
        ).alias(out_name)
    )
    return rolled.withColumn(
        out_name, F.expr(f"CASE WHEN size({out_name}) > 0 THEN {out_name} END")
    )


def aggregate_vector_column(
    df: DataFrame,
    keys: list[str],
    list_col: str,
    op: Operation,
    arg_map: dict | None = None,
    output_col: str | None = None,
) -> DataFrame:
    """List[scalar] input ⇒ op over all elements of all lists per key."""
    out_name = output_col or f"{list_col}_{op.value}"
    # explode_outer keeps keys whose lists are empty/null (they aggregate to null)
    exploded = df.select(*keys, F.explode_outer(F.col(list_col)).alias("__v"))
    col, fin, part = _direct(op, "__v", arg_map)
    out = exploded.groupBy(*keys).agg(col.alias(out_name))
    if fin is not None:
        out = out.withColumn(out_name, fin(out_name, part))
    return out


def aggregate_elementwise(
    df: DataFrame,
    keys: list[str],
    list_col: str,
    op: Operation,
    arg_map: dict | None = None,
    output_col: str | None = None,
) -> DataFrame:
    """Fixed-length list input ⇒ position-wise op ⇒ list output."""
    out_name = output_col or f"{list_col}_{op.value}_elementwise"
    exploded = df.select(*keys, F.posexplode_outer(F.col(list_col)).alias("__pos", "__v"))
    col, fin, part = _direct(op, "__v", arg_map)
    per_pos = exploded.groupBy(*keys, "__pos").agg(col.alias("__agg"))
    if fin is not None:
        per_pos = per_pos.withColumn("__agg", fin("__agg", part))
    return per_pos.groupBy(*keys).agg(
        F.expr(
            "transform(array_sort(collect_list(CASE WHEN __pos IS NOT NULL THEN struct(__pos, __agg) END)), s -> s.__agg)"
        ).alias(out_name)
    )
