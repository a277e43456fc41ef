"""Plan shaping in ``core.util``: adaptive ensure_parallelism width,
the ``checkpoint`` lineage-cut policy (derived profile inputs,
IRLS-style iteration bases, the MinHash pair index), and
``run_concurrently``'s job-tag inheritance and failure reporting."""

import re
import time
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from whylogs_spark.core import util
from whylogs_spark.core.util import (
    MIN_ADAPTIVE_SLICES,
    _has_expensive_node,
    checkpoint,
    ensure_parallelism,
    plan_size_estimate,
    run_concurrently,
)

ROOT = Path(__file__).resolve().parents[1]


def test_plan_size_estimate_scan_vs_unknown(spark, lineitem):
    est = plan_size_estimate(lineitem)
    assert est is not None and est > 0
    # a stream-less empty RDD-backed frame has no honest estimate path
    # worth trusting; absurd sentinels must map to None
    assert plan_size_estimate(lineitem) < (1 << 50)


def test_expensive_node_detection(spark, lineitem):
    assert not _has_expensive_node(lineitem)
    assert not _has_expensive_node(
        lineitem.select("l_quantity").filter(F.col("l_quantity") > 0))
    assert _has_expensive_node(lineitem.offset(10).limit(10))
    assert _has_expensive_node(
        lineitem.groupBy("l_returnflag").count())
    assert _has_expensive_node(
        lineitem.join(lineitem.select("l_orderkey").distinct(),
                      "l_orderkey"))


def test_expensive_node_skips_cache_build_plan(spark, lineitem):
    cached = lineitem.repartition(4).cache()
    try:
        cached.count()
        # the cache's BUILD plan contains a Repartition exchange, but
        # replaying the cache costs a block read — must not be flagged
        assert not _has_expensive_node(cached.select("l_quantity"))
    finally:
        cached.unpersist()


def test_cut_derived_lineage_noop_on_scan(spark, lineitem):
    out = checkpoint(lineitem, derived=True)
    assert out is lineitem


def test_cut_derived_lineage_skips_unbounded(spark, lineitem, monkeypatch):
    # a row-EXPANDING derived plan (10x crossJoin replication) has an
    # expensive node but an unbounded estimate: materializing it costs
    # more than the column-pruned re-scans it would save — must NOT cut
    # (r13: profile_scale_10x went 50 -> 1855 task-sec when it did)
    li10 = lineitem.crossJoin(
        spark.range(10).select(F.col("id").alias("__rep"))).drop("__rep")
    est = plan_size_estimate(li10)
    if est is not None and est > 256 * 1024 * 1024:
        assert checkpoint(li10, derived=True) is li10
    # and the cap is the module constant: shrink it so even a small
    # derived frame is refused
    small = lineitem.select("l_orderkey").offset(10).limit(10)
    with monkeypatch.context() as m:
        m.setattr(util, "CHECKPOINT_MAX_BYTES", 0)
        assert checkpoint(small, derived=True) is small
    assert checkpoint(small, derived=True) is not small
    # caller-asserted bounded inputs bypass the gate
    with monkeypatch.context() as m:
        m.setattr(util, "CHECKPOINT_MAX_BYTES", 0)
        assert checkpoint(small, derived=True, bounded=True) is not small


def test_cut_derived_lineage_values_identical(spark, lineitem):
    sl = lineitem.select("l_orderkey", "l_quantity").offset(100).limit(50)
    cut = checkpoint(sl, derived=True)
    assert cut is not sl
    a = sorted(r["l_orderkey"] for r in sl.collect())
    b = sorted(r["l_orderkey"] for r in cut.collect())
    assert a == b


def test_ensure_parallelism_adaptive_width(spark, lineitem):
    # single-partition small input: width derives from the size
    # estimate, floored at MIN_ADAPTIVE_SLICES, capped at
    # defaultParallelism — not blindly one task per core
    one = lineitem.select("l_quantity").coalesce(1)
    out = ensure_parallelism(one)
    n = out.rdd.getNumPartitions()
    cores = spark.sparkContext.defaultParallelism
    assert 1 <= n <= cores
    if cores > MIN_ADAPTIVE_SLICES:
        assert n >= min(MIN_ADAPTIVE_SLICES, cores)
    # unknown estimate falls back to the full width
    est_none = ensure_parallelism(one, est_bytes=None)
    assert est_none.rdd.getNumPartitions() <= cores
    # a huge claimed estimate uses every core
    wide = ensure_parallelism(one, est_bytes=10 << 30)
    assert wide.rdd.getNumPartitions() == cores


def test_ensure_parallelism_noop_when_partitioned(spark, lineitem):
    well = lineitem.repartition(spark.sparkContext.defaultParallelism)
    out = ensure_parallelism(well)
    assert out is well


def test_iteration_base_right_sizes_and_cuts(spark, orders):
    base = orders.select(
        (F.col("o_totalprice") / 1000.0).alias("__y"),
        (F.col("o_custkey") % 10).cast("double").alias("__x0"),
    ).repartition(4)
    ck = checkpoint(base, eager=False)
    # a few hundred KB of doubles must coalesce below the input width
    assert ck.rdd.getNumPartitions() <= 4
    # lineage is cut: the checkpointed plan has no shuffle left
    assert "Exchange" not in ck._jdf.queryExecution().executedPlan().toString()
    # values identical
    assert ck.count() == base.count()
    got = ck.agg(F.sum("__y"), F.sum("__x0")).collect()[0]
    want = base.agg(F.sum("__y"), F.sum("__x0")).collect()[0]
    assert got[0] == pytest.approx(want[0], rel=1e-12)
    assert got[1] == pytest.approx(want[1], rel=1e-12)


def test_irls_fits_unchanged_by_base_cut(spark, orders):
    # fit_logistic / fit_poisson results must be identical whether the
    # input arrives as a scan or a derived (checkpoint-triggering) plan
    from whylogs_spark.ops.causal import fit_logistic
    from whylogs_spark.ops.glm import fit_poisson

    df = orders.select(
        ((F.col("o_orderkey") % 97).cast("double") / 97.0).alias("x"),
        ((F.col("o_orderkey") % 3) == 0).cast("double").alias("yb"),
        (F.col("o_orderkey") % 5).cast("double").alias("yc"),
    )
    m1 = fit_logistic(df, "yb", ["x"])
    m2 = fit_logistic(df.offset(0), "yb", ["x"])
    assert m1["coef"]["x"] == pytest.approx(m2["coef"]["x"], rel=1e-9)
    p1 = fit_poisson(df, "yc", ["x"])
    assert p1["n"] == m1["n"]
    assert p1["converged"]


def test_minhash_lsh_pairs_reads_one_materialized_index(spark):
    """The banding side and both verify joins of ``minhash_lsh_pairs``
    read one checkpointed MinHash index, so the kernel runs once and the
    optimized plan holds no Arrow pass. With cuts off, the same one
    kernel (signatures and shingles together) appears at each read."""
    from whylogs_spark.ops import dedup

    df = spark.createDataFrame(
        [(i, f"doc {i % 5} about near duplicate text number {i}")
         for i in range(40)], "doc_id long, text string")

    def arrow_passes(d):
        plan = d._jdf.queryExecution().optimizedPlan().toString()
        return [re.sub(r"#\d+L?", "", m)
                for m in re.findall(r"MapInArrow[^\n]*", plan)]

    assert arrow_passes(dedup.minhash_lsh_pairs(df)) == []
    spark.conf.set("spark.whylogs.cutLineage", "false")
    try:
        uncut = arrow_passes(dedup.minhash_lsh_pairs(df))
    finally:
        spark.conf.unset("spark.whylogs.cutLineage")
    assert len(uncut) == 3 and len(set(uncut)) == 1, uncut
    assert "minhash_sig" in uncut[0] and "shingles" in uncut[0]


def _jobs_newest_first(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None)


def _jobs_since(spark, first_id):
    """{job id: job tags} of every job with id >= ``first_id``."""
    jobs = _jobs_newest_first(spark)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() < first_id:
            break
        tags = job.jobTags()
        out[job.jobId()] = [tags.apply(k) for k in range(tags.size())]
    return out


@pytest.mark.parametrize(
    "path", ["unsegmented", "segmented", "wide", "two_model_uplift"])
def test_threaded_jobs_carry_caller_tag(spark, lineitem, path):
    """Jobs launched from the profiler's, core/wide's and the uplift
    fit's driver threads carry the caller's job tag, so they can be
    attributed to (and cancelled with) the caller."""
    from whylogs_spark.core.configs import MetricConfig
    from whylogs_spark.core.profiler import profile
    from whylogs_spark.ops.uplift import two_model_uplift

    df = lineitem.select("l_quantity", "l_discount", "l_returnflag",
                         "l_linestatus")
    run = {
        "unsegmented": lambda: profile(df),
        "segmented": lambda: profile(df, segment_by=["l_returnflag"]),
        "wide": lambda: profile(
            df, config=MetricConfig(wide_column_threshold=1)),
        "two_model_uplift": lambda: two_model_uplift(
            lineitem.select(
                (F.col("l_orderkey") % 2).alias("t"),
                (F.col("l_returnflag") == "R").cast("double").alias("y"),
                (F.col("l_quantity") / 50.0).alias("x")),
            "t", "y", ["x"], max_iter=3),
    }[path]
    tag = f"wsp-test-{path}"
    newest = _jobs_newest_first(spark)
    first = newest.apply(0).jobId() + 1 if newest.size() else 0
    spark.addTag(tag)
    try:
        run()
    finally:
        spark.removeTag(tag)
    jobs = _jobs_since(spark, first)
    assert len(jobs) >= 2
    untagged = [j for j, tags in jobs.items()
                if not any(t.endswith(f"-{tag}") for t in tags)]
    assert untagged == []


def test_run_concurrently_surfaces_every_failure(spark):
    def fail(exc):
        def thunk():
            raise exc
        return thunk

    done = []

    def slow():
        time.sleep(0.3)
        done.append(1)
        return 1

    # several failures: one group holding all of them, raised only
    # after every thunk has finished
    with pytest.raises(ExceptionGroup) as ei:
        run_concurrently(
            spark, [fail(ValueError("a")), slow, fail(KeyError("b"))])
    assert [type(e) for e in ei.value.exceptions] == [ValueError, KeyError]
    assert done == [1]
    # a single failure re-raises the thunk's own exception
    with pytest.raises(ValueError, match="only one"):
        run_concurrently(spark, [slow, fail(ValueError("only one"))])
    assert done == [1, 1]
    assert run_concurrently(
        spark, [lambda: 1, lambda: 2, lambda: 3], max_workers=2) == [1, 2, 3]
    assert run_concurrently(spark, []) == []


def test_plan_shaping_lives_in_util_only():
    """Lineage cuts, task width, thread pools and ``spark.whylogs.*``
    confs are decided in core/util.py only; the helpers it replaced
    are gone everywhere."""
    lib = ROOT / "whylogs_spark"
    removed = re.compile(r"\b_?(cut_lineage|cut_derived_lineage|"
                         r"iteration_base|rightsize_width)\b")
    files = [*lib.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"),
             *(ROOT / "tests").rglob("*.py"), ROOT / "bench.py"]
    for path in files:
        if path in (lib / "core" / "util.py", Path(__file__).resolve()):
            continue
        text = path.read_text()
        rel = path.relative_to(ROOT)
        if path.is_relative_to(lib) or path.name == "bench.py":
            assert "ThreadPoolExecutor(" not in text, rel
        if path.is_relative_to(lib):
            assert "spark.whylogs." not in text, rel
        assert not removed.search(text), (rel, removed.search(text)[0])
