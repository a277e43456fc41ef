"""Segmentation parity (reference: python/tests/api/logger/test_segments.py).

Per-segment profiles must equal the profile of the filtered whole table,
and ⊕ over segments must equal the unsegmented profile.
"""

import json

import pytest
from pyspark.sql import functions as F

import whylogs_spark as wsp


@pytest.fixture(scope="module")
def seg_view(lineitem):
    return wsp.profile(
        lineitem, segment_by=["l_returnflag"], columns=["l_quantity"]
    ).cache()


def test_segment_counts_match_filtered(seg_view, lineitem):
    rows = seg_view.df.filter(
        (F.col("metric") == "counts") & (F.col("component") == "n")
    ).collect()
    for r in rows:
        seg = json.loads(r["segment"])
        flag = seg["l_returnflag"]
        expected = lineitem.filter(F.col("l_returnflag") == flag).count()
        assert r["n"] == expected, (flag, r["n"], expected)


def test_segment_mean_matches_filtered(seg_view, lineitem):
    rows = seg_view.df.filter(
        (F.col("metric") == "distribution") & (F.col("component") == "mean")
    ).collect()
    assert len(rows) == 3
    for r in rows:
        flag = json.loads(r["segment"])["l_returnflag"]
        expected = (
            lineitem.filter(F.col("l_returnflag") == flag)
            .agg(F.avg("l_quantity"))
            .collect()[0][0]
        )
        assert r["d"] == pytest.approx(expected, rel=1e-9)


def test_segment_quantiles_present_per_segment(seg_view):
    rows = seg_view.df.filter(F.col("component") == "median").collect()
    segs = {json.loads(r["segment"])["l_returnflag"] for r in rows}
    assert segs == {"A", "N", "R"}


def test_null_segment_key(spark):
    df = spark.createDataFrame(
        [(1.0, "x"), (2.0, "x"), (3.0, None)], ["v", "k"]
    )
    view = wsp.profile(df, segment_by=["k"])
    rows = view.df.filter(
        (F.col("column") == "v")
        & (F.col("metric") == "counts")
        & (F.col("component") == "n")
    ).collect()
    by_seg = {json.loads(r["segment"])["k"]: r["n"] for r in rows}
    assert by_seg == {"x": 2, "None": 1}


def test_profile_partitions_single_pass_matches_separate(lineitem):
    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    parts = {"by_flag": ["l_returnflag"],
             "by_both": ["l_returnflag", "l_linestatus"]}
    multi = wsp.profile_partitions(
        lineitem, parts, columns=["l_quantity"], config=cfg)
    for name, cols in parts.items():
        ref = wsp.profile(lineitem, segment_by=cols,
                          columns=["l_quantity"], config=cfg)
        a = {(r["segment"], r["column"], r["metric"], r["component"]):
             (r["n"], r["d"]) for r in multi[name].df.collect()}
        b = {(r["segment"], r["column"], r["metric"], r["component"]):
             (r["n"], r["d"]) for r in ref.df.collect()}
        assert a == b


def test_segment_filter(lineitem):
    import whylogs_spark as wsp

    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    v = wsp.profile(lineitem, segment_by=["l_returnflag"],
                    columns=["l_quantity"], config=cfg,
                    segment_filter="l_quantity > 25")
    expect = lineitem.filter("l_quantity > 25").count()
    total = sum(
        r["n"] for r in v.df.filter(
            "metric='counts' and component='n'").collect())
    assert total == expect


def test_explicit_segment_key_values(spark, lineitem):
    """Constant segment keys appended sorted by name (reference:
    segment_processing.py:70-72)."""
    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none",
                           cardinality_impl="approx")
    v = wsp.profile(lineitem, segment_by=["l_returnflag"],
                    columns=["l_quantity"],
                    segment_key_values={"env": "prod", "batch": "b7"},
                    config=cfg)
    segs = [r["segment"] for r in
            v.df.select("segment").distinct().collect()]
    import json
    for s in segs:
        d = json.loads(s)
        assert d["env"] == "prod" and d["batch"] == "b7"
        assert "l_returnflag" in d
    assert len(segs) == 3  # key-values add no extra groups


def test_segment_key_rendering_parity_across_paths(spark):
    """Boolean/float segment values must render Spark-style ("true",
    "1.0E-7") in every path — narrow (_segment_json_col), sketch pass,
    wide, and grouping-sets — so counts/types rows and kll/fi rows of
    one profile never land under different segment keys."""
    from whylogs_spark.core.profiler import profile_partitions

    df = spark.createDataFrame(
        [(True, 1e-7, 1.0), (True, 1e-7, 2.0), (False, 0.5, 3.0)],
        ["flag", "rate", "x"])

    def keys(view):
        return {r["segment"]
                for r in view.df.select("segment").distinct().collect()}

    narrow = wsp.profile(df, segment_by=["flag", "rate"], columns=["x"])
    wide = wsp.profile(
        df, segment_by=["flag", "rate"], columns=["x"],
        config=wsp.MetricConfig(wide_column_threshold=1))
    parts = profile_partitions(df, {"p": ["flag", "rate"]}, columns=["x"])

    kn, kw, kp = keys(narrow), keys(wide), keys(parts["p"])
    assert kn == kw == kp, (kn, kw, kp)
    assert len(kn) == 2
    # Spark string rendering, not python's (True/1e-07)
    assert any('"true"' in k for k in kn), kn
    assert all("True" not in k and "1e-07" not in k for k in kn), kn
    # within each profile, native rows and sketch rows share keys
    for v in (narrow, wide):
        native = {r["segment"] for r in v.df.filter(
            "metric='counts'").select("segment").distinct().collect()}
        sketch = {r["segment"] for r in v.df.filter(
            "component='kll'").select("segment").distinct().collect()}
        assert sketch <= native, (native, sketch)


def test_distributed_fallback_matches_collected(spark, monkeypatch):
    """Past ``_SEGMENT_COLLECT_LIMIT`` segments the segmented profile
    falls back to the distributed explode path (``_native_long``); its
    exact components must equal those of the collected path."""
    from whylogs_spark.core import profiler

    df = spark.range(0, 600, 1, 4).selectExpr(
        "cast(id % 4 AS string) AS g", "id % 37 AS i", "id / 3.0 AS f",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('s', id % 9) END AS s",
        "id % 2 = 0 AS b",
        "timestamp_seconds(id * 3600) AS t")
    cfg = wsp.MetricConfig(quantile_impl="none", frequent_items_impl="none")

    def rows():
        view = wsp.profile(df, segment_by=["g"], config=cfg)
        return {(r["segment"], r["column"], r["metric"], r["component"]):
                (r["n"], r["d"]) for r in view.df.collect()}

    collected = rows()
    taken = []
    native_long = profiler._native_long
    monkeypatch.setattr(profiler, "_SEGMENT_COLLECT_LIMIT", 1)
    monkeypatch.setattr(profiler, "_native_long",
                        lambda *a: taken.append(1) or native_long(*a))
    distributed = rows()

    assert taken, "the distributed fallback was not taken"
    assert set(distributed) == set(collected)
    assert len({k[0] for k in collected}) == 4
    for key, (n, d) in collected.items():
        n2, d2 = distributed[key]
        assert n2 == n, key
        if d is None:
            assert d2 is None, key
        else:
            assert d2 == pytest.approx(d, rel=1e-9), key


def test_profile_partitions_rejects_duplicate_grouping_sets(spark):
    """Two partitions over the same key set are one grouping set, and
    Spark would emit each of its groups twice: the call is refused
    instead of answered with duplicated profile rows."""
    from whylogs_spark.core.profiler import profile_partitions

    df = spark.range(4).selectExpr("CAST(id % 2 AS STRING) AS g", "id AS x")
    with pytest.raises(ValueError, match="same columns"):
        profile_partitions(df, {"a": ["g"], "b": ["g"]}, columns=["x"])
