"""Wide-frame profiling path: O(1) plan size in the number of columns.

The narrow path plans ~13 aggregate expressions per column; at 1000s of
columns the driver pays O(ms) per expression in py4j construction and
Catalyst analysis, and generated aggregate code blows the JVM's 64 KB
method limit (the reference hits the same wall and batches wide frames at
1024 columns — python/whylogs/api/pyspark/experimental/profiler.py:80-112).

Here the frame is unpivoted per TYPE CLASS — ``posexplode`` a primitive
``array(col, col, ...)`` built from the row — and the class's exploded
``val`` column is planned ONCE by the planner's ``plan_column``, the same
metric program the narrow path runs per column, aggregated in one
``groupBy(segment..., column-id)`` per class:

    scan -> generate(posexplode) -> partial agg by int column id
         -> tiny shuffle -> final agg -> ncols rows collected

Plan size: one column plan per class regardless of width. Per-cell cost
is a hash-probe into an ncols-entry hash table instead of a vectorized
per-column accumulator — a constant-factor tax that buys plan-size
freedom; the crossover favors this path up to ~1M rows x 400 cols and the
narrow path beyond (its plan cost amortizes over data volume). Both run
the same plan, so both emit the same long-form profile rows.

Unpivot shape matters: an earlier variant exploded
``array(struct(colname_string, views...))``; grouping on the string
column name made every partial-agg update pay a string hash + compare,
and the struct array's generated code is several times the size of a
primitive array's. ``posexplode`` of a flat typed array with an integer
``pos + chunk_offset`` group key measured 1.7x faster end-to-end on a
380-column frame (the id->name mapping is applied driver-side to the
ncols collected rows).

Stacked types: a class stacks in ONE Spark type — long, double, boolean,
string or timestamp — and each member is cast to it exactly as the
plan's own views cast a column of the member's type (byte/short/int to
long, float/decimal to double, date/timestamp_ntz to timestamp), so the
class plan sees the values a per-column plan would. Integral classes
stack as long, never double: an int64 above 2^53 must not round on its
way into a distinct-count or min/max. Tensor and object columns stack a
non-null indicator; their plan (counts and types) reads only nullness.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .configs import MetricConfig
from .datatypes import ValueType, value_type_of
from .planner import SketchPlan, _AliasGen, plan_column, plan_sketches, qcol
from .util import run_concurrently

# type class -> the Spark type its members stack in
_STACKED = {
    ValueType.INTEGRAL: T.LongType(),
    ValueType.FRACTIONAL: T.DoubleType(),
    ValueType.BOOLEAN: T.BooleanType(),
    ValueType.STRING: T.StringType(),
    ValueType.TEMPORAL: T.TimestampType(),
}

# Chunk the posexplode array: a single CreateArray of hundreds of
# elements is ONE generated expression, and past a few hundred columns
# its code blows the JVM's 64KB method limit ("Code grows beyond 64 KB")
# — whole-stage codegen then silently falls back to interpreted
# evaluation for the entire rows x width stage. Exploding <=64-element
# chunks and UNIONing keeps every branch codegen'd; each branch's scan
# prunes to its own disjoint column subset, so total I/O equals one full
# read no matter the chunk count, and the single groupBy above the union
# still partial-aggregates per branch before the one tiny cid shuffle.
_CHUNK = 64


def _profiled(schema: T.StructType, columns: Optional[List[str]],
              segment_cols: List[str]) -> List[T.StructField]:
    return [f for f in schema.fields
            if f.name not in segment_cols
            and (columns is None or f.name in columns)]


def plan_wide_sketches(
    schema: T.StructType,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> List[SketchPlan]:
    """The KLL/FI sketch projections (2 exprs/col — unavoidable and cheap;
    the mapInArrow sketch pass is already width-scalable)."""
    gen = _AliasGen()
    return [p for f in _profiled(schema, columns, segment_cols)
            for p in plan_sketches(f.name, f.dataType, cfg, gen)]


def _segment_keys(segment_cols: List[str]) -> List[str]:
    return [f"__s_{i}" for i in range(len(segment_cols))]


def class_frame(
    df: DataFrame,
    members: List[Tuple[str, T.DataType]],
    segment_cols: List[str],
    cfg: MetricConfig,
) -> tuple:
    """One type class as the ``(df, aggs, aggregate, keys)`` arguments
    of the profiler's tier runner (``_tier_frame`` / ``_run_tier``).

    Every member column is exploded into ONE ``val`` column beside the
    segment keys (``_segment_keys``) and the integer column id ``cid``
    (the member's index); ``val`` is planned once with ``plan_column``,
    and the plan aggregates grouped by ``(segment keys..., cid)``.
    """
    from .profiler import _NULL_SENTINEL  # lazy: avoid import cycle

    stacked_type = _STACKED.get(value_type_of(members[0][1]))

    def stack(name):
        if stacked_type is None:
            return F.when(qcol(name).isNotNull(), F.lit(True))
        return qcol(name).cast(stacked_type)

    # cast JVM-side so the python-built segment JSON only ever sees
    # Spark-rendered strings ("true", "1.0E-7"), byte-identical to the
    # narrow path's _segment_json_col and the sketch pass (_sketch_long)
    seg_names = _segment_keys(segment_cols)
    seg_sel = [F.coalesce(qcol(s).cast("string"), F.lit(_NULL_SENTINEL))
               .alias(k) for s, k in zip(segment_cols, seg_names)]
    names = [name for name, _ in members]
    parts = [
        df.select(*seg_sel, F.posexplode(F.array(
            *[stack(c) for c in names[i:i + _CHUNK]])).alias("pos", "val"))
        .select(*seg_names, (F.col("pos") + F.lit(i)).alias("cid"), "val")
        for i in range(0, len(names), _CHUNK)
    ]
    aggs, _ = plan_column("val", stacked_type or members[0][1], cfg,
                          _AliasGen())
    keys = [*seg_names, "cid"]
    return (reduce(DataFrame.unionByName, parts), aggs,
            lambda s, e: s.groupBy(*keys).agg(*e), [F.col(k) for k in keys])


def wide_native_rows(
    df: DataFrame,
    columns: Optional[List[str]],
    segment_cols: List[str],
    cfg: MetricConfig,
    collect_limit: int = 200_000,
) -> List[tuple]:
    """Run the per-class unpivoted aggregations; return long-form profile
    rows (segment, column, metric, component, n, d, s, b)."""
    from .profiler import (  # lazy: avoid import cycle
        _long_rows, _run_tier, _segment_json_py,
    )

    by_class: Dict[ValueType, List[Tuple[str, T.DataType]]] = {}
    for f in _profiled(df.schema, columns, segment_cols):
        by_class.setdefault(value_type_of(f.dataType), []).append(
            (f.name, f.dataType))
    seg_names = _segment_keys(segment_cols)

    def run_class(members):
        def label(rd):
            seg = _segment_json_py(segment_cols, [rd[k] for k in seg_names])
            return None, seg, members[rd["cid"]][0]

        out = _run_tier(*class_frame(df, members, segment_cols, cfg),
                        label, collect_limit)
        if out is None:
            raise ValueError(
                "wide profile: segment x column row count exceeds "
                f"{collect_limit}; reduce segmentation cardinality")
        return out

    return _long_rows(run_concurrently(
        df.sparkSession,
        [partial(run_class, members) for members in by_class.values()]))
