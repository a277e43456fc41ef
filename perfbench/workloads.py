"""The benchmark's workloads: inputs, one op, and the op's correctness check.

Every input is generated here from fixed data seeds, so the rows are the
same on every run and host; the workload seed only sets the row-to-
partition assignment and the day order of ``monitor_window``.  Expected
values are computed in setup with exact pandas/numpy over the generated
rows, never by the code under test.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
import string
from typing import Dict, List

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import whylogs_spark as wsp
from whylogs_spark.core.constraints import Constraints, generate_constraints
from whylogs_spark.core.drift import calculate_drift_scores
from whylogs_spark.io.store import ProfileStore
from whylogs_spark.io.why1 import read_why1, write_why1
from whylogs_spark.ops import dedup, quality

DATA_SEED = 42
LINEITEM_ROWS = 600_000
LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate"]
NUMERIC_COLUMNS = LINEITEM_COLUMNS[:8]
# KLL k=256 normalized rank error (whylogs_spark/core/configs.py) and the
# 3-sigma relative error of an HLL with lg_k=12.
KLL_RANK_EPS = 0.0165
HLL_REL_3SIGMA = 3 * 1.04 / np.sqrt(2 ** 12)


def _uniform(k: int):
    """Deterministic U[0,1) per (row id, k): the same rows on any layout."""
    bits = F.xxhash64(F.col("id"), F.lit(k), F.lit(DATA_SEED)).bitwiseAND(
        F.lit((1 << 53) - 1))
    return bits.cast("double") / float(1 << 53)


def lineitem(spark: SparkSession, seed: int, cores: int,
             with_day: bool = False) -> DataFrame:
    """TPC-H-shaped lineitem (11 columns), generated JVM-side.

    Nulls in ``l_discount`` (1%) and ``l_linestatus`` (0.5%) give the null
    counters something to count; ``l_returnflag`` is skewed like TPC-H
    (N about half) so its mode is unambiguous.
    """
    qty = F.floor(_uniform(3) * 50) + 1
    cols = [
        (F.floor(F.col("id") / 4) + 1).cast("long").alias("l_orderkey"),
        (F.floor(_uniform(1) * 20000) + 1).cast("long").alias("l_partkey"),
        (F.floor(_uniform(2) * 1000) + 1).cast("long").alias("l_suppkey"),
        (F.col("id") % 7 + 1).cast("int").alias("l_linenumber"),
        qty.cast("double").alias("l_quantity"),
        F.round(qty * (900 + F.floor(_uniform(4) * 100000) / 100), 2)
        .alias("l_extendedprice"),
        F.when(_uniform(5) < 0.01, F.lit(None).cast("double"))
        .otherwise(F.floor(_uniform(6) * 11) / 100).alias("l_discount"),
        (F.floor(_uniform(7) * 9) / 100).alias("l_tax"),
        F.when(_uniform(8) < 0.25, "A").when(_uniform(8) < 0.5, "R")
        .otherwise("N").alias("l_returnflag"),
        F.when(_uniform(9) < 0.005, F.lit(None).cast("string"))
        .when(_uniform(10) < 0.5, "O").otherwise("F").alias("l_linestatus"),
        F.timestamp_seconds(
            (F.lit(694224000) + F.floor(_uniform(11) * 2526) * 86400)
            .cast("long")).alias("l_shipdate"),
    ]
    if with_day:
        cols.append(F.floor(_uniform(12) * 30).cast("int").alias("day"))
    return (spark.range(LINEITEM_ROWS, numPartitions=cores)
            .repartition(cores, F.xxhash64(F.col("id"), F.lit(seed)))
            .select(*cols))


def _summary_value(row, key):
    v = row.get(key)
    return None if v is None or (isinstance(v, float) and np.isnan(v)) else v


class Workload:
    """One op at a time, closed loop.  Subclasses set ``rows_per_op``."""

    rows_per_op = 0

    def __init__(self, spark: SparkSession, seed: int, cores: int,
                 tmpdir: str, tracer) -> None:
        self.spark, self.seed, self.cores = spark, seed, cores
        self.tmpdir, self.tracer = tmpdir, tracer

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def op_rows(self, i: int) -> int:
        """Input rows op ``i`` ingests."""
        return self.rows_per_op

    def check(self, result) -> bool:
        raise NotImplementedError


class ProfileBatch(Workload):
    """Unsegmented default-config profile of lineitem + its summary."""

    rows_per_op = LINEITEM_ROWS

    def setup(self) -> None:
        self.df = lineitem(self.spark, self.seed, self.cores).cache()
        pdf = self.df.toPandas()
        exp = {}
        for c in LINEITEM_COLUMNS:
            s = pdf[c].dropna()
            e = {"null": int(pdf[c].isna().sum()), "distinct": s.nunique()}
            if c in NUMERIC_COLUMNS:
                v = np.sort(s.to_numpy(dtype=float))
                lo = int(np.floor((0.5 - KLL_RANK_EPS) * len(v)))
                hi = int(np.ceil((0.5 + KLL_RANK_EPS) * len(v))) - 1
                e["median_lo"], e["median_hi"] = v[lo], v[hi]
            exp[c] = e
        self.mode_returnflag = pdf["l_returnflag"].mode().iloc[0]
        self.expected = exp

    def op(self, i: int):
        with self.tracer.span("core.profiler.profile"):
            view = wsp.profile(self.df)
        with self.tracer.span("core.profiler.to_pandas"):
            return view.to_pandas()

    def check(self, summary) -> bool:
        rows = {r["column"]: r for r in summary.to_dict("records")}
        if sorted(rows) != sorted(LINEITEM_COLUMNS):
            return False
        for c, e in self.expected.items():
            r = rows[c]
            if r["counts/n"] != LINEITEM_ROWS or r["counts/null"] != e["null"]:
                return False
            est = _summary_value(r, "cardinality/est")
            if est is None or abs(est - e["distinct"]) > \
                    HLL_REL_3SIGMA * e["distinct"]:
                return False
            if "median_lo" in e:
                med = _summary_value(r, "distribution/median")
                if med is None or not e["median_lo"] <= med <= e["median_hi"]:
                    return False
        items = json.loads(rows["l_returnflag"]["frequent_items/items"])
        top = max(items, key=lambda it: it["est"])["value"]
        return top == self.mode_returnflag


class MonitorWindow(Workload):
    """One monitoring day: profile, store, read a 7-day window, merge,
    drift, constraints and a WHY1 round-trip."""

    SEGMENTS = ["l_returnflag", "l_linestatus"]
    PROFILED = LINEITEM_COLUMNS[:8] + LINEITEM_COLUMNS[10:]
    WINDOW = 7
    DAYS = 30
    BASE = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    # compared between the written and the WHY1-read-back summary
    ROUNDTRIP_KEYS = ["counts/n", "counts/null", "distribution/mean",
                      "distribution/stddev", "distribution/min",
                      "distribution/max", "distribution/median",
                      "cardinality/est"]

    def setup(self) -> None:
        li = lineitem(self.spark, self.seed, self.cores, with_day=True)
        self.df = li.cache()
        counts = {r["day"]: r["count"] for r in
                  self.df.groupBy("day").count().collect()}
        order = random.Random(self.seed).sample(range(self.DAYS), self.DAYS)
        ref_days, history = order[:self.WINDOW], order[self.WINDOW]
        self.op_days = order[self.WINDOW + 1:]
        self.rows_of_day = counts
        self.store = ProfileStore(os.path.join(self.tmpdir, "store"))
        self.reference = wsp.profile(self.slice(ref_days),
                                     columns=self.PROFILED).cache()
        self.ref_constraints = generate_constraints(self.reference)
        # One profiled history day stored under the WINDOW-1 dates before
        # the first op: every op reads WINDOW full-size profiles, and
        # setup pays one fixture profile instead of six.
        view = wsp.profile(self.slice([history]),
                           segment_by=self.SEGMENTS).cache()
        for idx in range(self.WINDOW - 1):
            self.store.write(view, "lineitem", self.date(idx))
        view.df.unpersist()
        # date index -> generated day, so every window's row count is known
        self.day_of_date: Dict[int, int] = dict.fromkeys(
            range(self.WINDOW - 1), history)

    def slice(self, days: List[int]) -> DataFrame:
        return self.df.filter(F.col("day").isin(days)).drop("day")

    def op_rows(self, i: int) -> int:
        return self.rows_of_day[self.op_days[i % len(self.op_days)]]

    def date(self, idx: int) -> _dt.datetime:
        return self.BASE + _dt.timedelta(days=idx)

    def op(self, i: int):
        idx = self.WINDOW - 1 + i
        day = self.op_days[i % len(self.op_days)]
        self.day_of_date[idx] = day
        tr = self.tracer
        with tr.span("core.profiler.profile"):
            view = wsp.profile(self.slice([day]), segment_by=self.SEGMENTS)
        with tr.span("io.store.write"):
            self.store.write(view, "lineitem", self.date(idx))
        cached = []  # released whatever happens, or they pile up per op
        try:
            with tr.span("io.store.get"):
                window = self.store.get(
                    self.spark, "lineitem",
                    self.date(idx - self.WINDOW + 1).date().isoformat(),
                    self.date(idx).date().isoformat()).cache()
                cached.append(window)
                window.df.count()
            with tr.span("core.profiler.merge"):
                merged = wsp.merge_segments(window).cache()
                cached.append(merged)
                merged.df.count()
            with tr.span("core.profiler.to_pandas"):
                summary = merged.to_pandas()
            with tr.span("core.drift.scores"):
                scores = calculate_drift_scores(merged, self.reference)
            with tr.span("core.constraints.report"):
                report = Constraints(merged, self.ref_constraints).report()
            path = os.path.join(self.tmpdir, f"window-{idx}.bin")
            with tr.span("io.why1.write"):
                write_why1(merged, path)
            tr.count("io.why1.bytes", os.path.getsize(path))
            with tr.span("io.why1.read"):
                back = read_why1(self.spark, path).to_pandas()
        finally:
            for view in cached:
                view.df.unpersist()
        expected_rows = sum(self.rows_of_day[self.day_of_date[d]]
                            for d in range(idx - self.WINDOW + 1, idx + 1))
        return {"summary": summary, "scores": scores, "report": report,
                "back": back, "expected_rows": expected_rows}

    def check(self, res) -> bool:
        summary, back = res["summary"], res["back"]
        if sorted(summary["column"]) != sorted(self.PROFILED) or \
                (summary["counts/n"] != res["expected_rows"]).any():
            return False
        if not res["scores"] or any(p != 1 for _, p, _ in res["report"]):
            return False
        a = summary.set_index("column")[self.ROUNDTRIP_KEYS].astype(float)
        b = back.set_index("column").reindex(a.index)[self.ROUNDTRIP_KEYS] \
            .astype(float)
        return bool(np.allclose(a.to_numpy(), b.to_numpy(), rtol=1e-9,
                                equal_nan=True))


class Curation(Workload):
    """Near-dup removal, line dedup and the Gopher quality filter over a
    5k-document corpus."""

    rows_per_op = 5000
    BOILERPLATE = ["subscribe to our newsletter for weekly updates",
                   "all rights reserved", "click here to accept cookies"]

    def setup(self) -> None:
        rnd = random.Random(DATA_SEED)
        vocab = ["".join(rnd.choices(string.ascii_lowercase,
                                     k=rnd.randint(2, 9)))
                 for _ in range(3000)]
        texts: List[str] = []
        for _ in range(self.rows_per_op):
            if texts and rnd.random() < 0.1:
                # near-duplicate of an earlier document: one word swapped
                words = rnd.choice(texts).split(" ")
                words[rnd.randrange(len(words))] = rnd.choice(vocab)
                texts.append(" ".join(words))
                continue
            lines = [" ".join(rnd.choices(vocab, k=rnd.randint(6, 16)))
                     for _ in range(rnd.randint(2, 9))]
            if rnd.random() < 0.3:
                lines.insert(rnd.randrange(len(lines) + 1),
                             rnd.choice(self.BOILERPLATE))
            if rnd.random() < 0.05:
                lines = lines[:1] * 6  # repetitive page, fails Gopher
            texts.append("\n".join(lines))
        self.distinct_texts = len(set(texts))
        self.distinct_lines = len({ln for t in texts for ln in t.split("\n")})
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType())])
        docs = self.spark.createDataFrame(list(enumerate(texts)), schema)
        self.docs = docs.repartition(
            self.cores, F.xxhash64(F.col("doc_id"), F.lit(self.seed))).cache()
        self.docs.count()
        self.first = None

    def op(self, i: int):
        tr = self.tracer
        with tr.span("ops.dedup.minhash"):
            kept = dedup.minhash_dedup(self.docs,
                                       jaccard_threshold=0.8).count()
        with tr.span("ops.dedup.line_dedup"):
            lines = dedup.line_dedup(self.docs).agg(F.sum("n_kept")).first()[0]
        with tr.span("ops.quality.gopher"):
            passed = quality.gopher_filter(self.docs) \
                .filter(F.col("gopher_pass")).count()
        return kept, lines, passed

    def check(self, res) -> bool:
        kept, lines, passed = res
        if self.first is None:
            self.first = res
        return (res == self.first and 0 < kept <= self.distinct_texts
                and lines == self.distinct_lines
                and 0 < passed < self.rows_per_op)


WORKLOADS = {
    "profile_batch": ProfileBatch,
    "monitor_window": MonitorWindow,
    "curation": Curation,
}
