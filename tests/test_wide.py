"""Wide-frame profiling path (core/wide.py): the unpivot-per-type-class
plan must emit the same long-form profile rows as the narrow per-column
path (reference batches wide frames instead —
python/whylogs/api/pyspark/experimental/profiler.py:80-112; we switch
plan shape)."""

import math

import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp

NARROW = wsp.MetricConfig(quantile_impl="native",
                          frequent_items_impl="none",
                          cardinality_impl="hll",
                          wide_column_threshold=10_000)
WIDE = wsp.MetricConfig(quantile_impl="native",
                        frequent_items_impl="none",
                        cardinality_impl="hll",
                        wide_column_threshold=1)

EXCLUDE = {"kll", "mg", "items", "hll", "_q_arr"}  # sketch blobs
QUANTS = {"median"} | {f"q_{i:02d}" for i in range(100)}


@pytest.fixture(scope="module")
def frame(spark):
    base = spark.range(0, 4000, 1, 8)
    cols = []
    for i in range(12):
        cols.append((F.col("id") * (i + 1) % 1009).alias(f"i{i}"))
    for i in range(12):
        c = (F.col("id") * 1.5 + i).cast("double")
        c = F.when(F.col("id") % 97 == 0, None).otherwise(c)
        if i == 0:  # one column with NaN and Inf
            c = (F.when(F.col("id") % 101 == 0, float("nan"))
                 .when(F.col("id") % 103 == 0, float("inf"))
                 .otherwise(c))
        cols.append(c.alias(f"f{i}"))
    for i in range(6):
        cols.append(
            F.concat(F.lit(f"s{i}_"), (F.col("id") % (50 + i))
                     .cast("string")).alias(f"s{i}"))
    for i in range(3):
        cols.append((F.col("id") % (2 + i) == 0).alias(f"b{i}"))
    cols.append(F.timestamp_seconds(F.col("id") * 3600).alias("t0"))
    cols.append(F.array(F.col("id").cast("double")).alias("arr0"))
    # class mixing: each column below shares a type class with a column
    # above but not its Spark type, so it stacks through a cast
    for t in ("byte", "short", "int"):
        cols.append((F.col("id") % 127 - 60).cast(t).alias(f"n_{t}"))
    cols.append(F.date_add(F.lit("2020-01-01").cast("date"),
                           (F.col("id") % 400).cast("int")).alias("d0"))
    cols.append(F.timestamp_seconds(F.col("id") * 977)
                .cast("timestamp_ntz").alias("tntz0"))
    cols.append(F.when(F.col("id") % 89 == 0, None)
                .otherwise(F.col("id") / 7).cast("decimal(12,3)")
                .alias("dec0"))
    cols.append(F.when(F.col("id") % 5 == 0, None)
                .otherwise(F.col("id") % 3 == 0).alias("bnull0"))
    return base.select(*cols)


def _rows(view):
    import pandas as pd

    df = view.df.toPandas()
    df = df[~df["component"].isin(EXCLUDE)]

    def norm(v, f):
        return None if pd.isna(v) else f(v)

    return {
        (r["segment"], r["column"], r["metric"], r["component"]):
        (norm(r["n"], int), norm(r["d"], float))
        for _, r in df.iterrows()
    }


def _compare(a, b):
    assert set(a) == set(b), (
        f"row keys differ: only-narrow={set(a) - set(b)} "
        f"only-wide={set(b) - set(a)}")
    for k, (n1, d1) in a.items():
        n2, d2 = b[k]
        comp = k[3]
        if comp in QUANTS:
            continue  # both GK-approx; merge order may differ
        if n1 is not None or n2 is not None:
            assert n1 == n2, (k, n1, n2)
        if d1 is not None or d2 is not None:
            if d1 is None or d2 is None:
                assert d1 == d2, (k, d1, d2)
            elif math.isinf(d1) or math.isinf(d2):
                assert d1 == d2, (k, d1, d2)
            else:
                assert d1 == pytest.approx(d2, rel=1e-9, abs=1e-9), (
                    k, d1, d2)


def test_wide_matches_narrow(spark, frame):
    a = _rows(wsp.profile(frame, config=NARROW))
    b = _rows(wsp.profile(frame, config=WIDE))
    _compare(a, b)


def test_wide_matches_narrow_segmented(spark, frame):
    seg = frame.withColumn("grp", (F.col("id0") if False else
                                   F.col("i0") % 3).cast("string"))
    a = _rows(wsp.profile(seg, segment_by=["grp"], config=NARROW))
    b = _rows(wsp.profile(seg, segment_by=["grp"], config=WIDE))
    _compare(a, b)


def test_wide_sketch_pass_kll_fi(spark, frame):
    cfg = wsp.MetricConfig(wide_column_threshold=1)
    v = wsp.profile(frame, columns=["i0", "s0", "f1"], config=cfg)
    # KLL quantiles present for numerics, FI items for int/string
    assert v.get_component("i0", "distribution", "median") is not None
    assert v.get_component("f1", "distribution", "q_95") is not None
    assert v.get_component("i0", "frequent_items", "items") is not None
    assert v.get_component("s0", "frequent_items", "items") is not None
    # exact parity spot-checks against the data
    exact = frame.selectExpr(
        "count(i0) n", "min(i0) mn", "max(i0) mx").first()
    assert v.get_component("i0", "counts", "n") == 4000
    assert v.get_component("i0", "ints", "min") == exact.mn
    assert v.get_component("i0", "ints", "max") == exact.mx


def test_wide_tensor_column_counts_only(spark, frame):
    v = wsp.profile(frame, columns=["arr0", "i0"],
                    config=wsp.MetricConfig(wide_column_threshold=1))
    assert v.get_component("arr0", "counts", "n") == 4000
    assert v.get_component("arr0", "types", "tensor") == 4000
    assert v.get_component("arr0", "cardinality", "est") is None
