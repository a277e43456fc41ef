"""Capture .explain('formatted') before/after evidence for the r13
optimization units (run once per code state):

    python scripts/r13_plan_captures.py plans/r13 <suffix>

Captures, for the current tree:
  * irls_agg_<suffix>.txt      -- the per-iteration gradient/Hessian
                                  aggregate plan of fit_logistic (what
                                  each of <=25 Newton steps executes)
  * incremental_minhash_<suffix>.txt -- the full incremental near-dup
                                  plan (batch index consumed by 5
                                  branches)
  * profile_sketch_slice_<suffix>.txt -- the profiler's sketch-pass
                                  plan over a derived (offset/limit)
                                  input, the store.quantile_series
                                  write path
"""

import io
import sys
from contextlib import redirect_stdout

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(outdir: str, suffix: str) -> None:
    from whylogs_spark.io.tables import load_table

    spark = (SparkSession.builder.master("local[8]")
             .appName("r13-plan-captures")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"

    # 1. IRLS per-iteration aggregate (fit_logistic internals, spelled
    # out the way the loop builds it: projected base + one agg)
    orders = load_table(spark, sf, "orders")
    df = orders.select(
        ((F.col("o_orderkey") % 97).cast("double") / 97.0).alias("x"),
        ((F.col("o_orderkey") % 3) == 0).cast("double").alias("y"))
    y = F.col("y").cast("double")
    ok = y.isNotNull() & ~F.isnan(y)
    xc = F.col("x").cast("double")
    ok = ok & xc.isNotNull() & ~F.isnan(xc)
    base = df.filter(ok).select(y.alias("__y"), xc.alias("__x0"))
    try:
        from whylogs_spark.core.util import checkpoint
        base = checkpoint(base, eager=False)
    except ImportError:
        pass  # pre-r13 tree: loop aggregates hit the raw plan
    eta = F.lit(0.0) + F.lit(0.0) * F.col("__x0")
    mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    agg = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.col("__y") - mu) * F.col("__x0")).alias("__g1"),
        F.sum(mu * (1 - mu) * F.col("__x0") * F.col("__x0"))
        .alias("__h11"))
    with open(f"{outdir}/irls_agg_{suffix}.txt", "w") as f:
        f.write(explain_str(agg))

    # 2. incremental minhash dedup full plan
    from whylogs_spark.ops.dedup import incremental_minhash_dedup
    docs = load_table(spark, sf, "documents")
    out = incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        jaccard_threshold=0.8)
    with open(f"{outdir}/incremental_minhash_{suffix}.txt", "w") as f:
        f.write(explain_str(out))

    # 3. profiler sketch pass over a derived offset/limit input (the
    # store.quantile_series per-day write path)
    from whylogs_spark.core.configs import DEFAULT_CONFIG
    from whylogs_spark.core.planner import plan_dataframe
    from whylogs_spark.core.profiler import _sketch_long

    li = load_table(spark, sf, "lineitem") \
        .select("l_quantity", "l_extendedprice")
    sl = li.offset(60000).limit(60000)
    try:
        from whylogs_spark.core.util import checkpoint
        sl = checkpoint(sl, derived=True)
    except ImportError:
        pass  # pre-r13 tree: the sketch pass re-executes the funnel
    _, sketches = plan_dataframe(sl.schema, None, [], DEFAULT_CONFIG)
    sk = _sketch_long(sl, sketches, [], DEFAULT_CONFIG)
    with open(f"{outdir}/profile_sketch_slice_{suffix}.txt", "w") as f:
        f.write(explain_str(sk))

    spark.stop()
    print("captured", suffix)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
