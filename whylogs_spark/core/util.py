"""Plan shaping: lineage cuts, task width and driver-side concurrency.

This module is the only place that makes these decisions; operators
call :func:`checkpoint`, :func:`ensure_parallelism` and
:func:`run_concurrently` and never read a ``spark.whylogs.*`` conf or
build a thread pool themselves.

**Lineage cuts.**  :func:`checkpoint` right-sizes a frame's width and
then cuts its lineage with ``localCheckpoint``, so that the consumers
downstream (the two branches of a prefix walk, the chunk jobs and
sketch pass of the profiler, every step of an IRLS/Newton loop) replay
materialized blocks instead of re-executing the upstream plan.  A
chain of prefix walks without the cut doubles the upstream subtree per
pass: ``cumulative_incidence`` at sf0.1 planned 220 Exchange nodes and
spent 52 s collecting serialized broadcast rebuilds in one cold run.

* ``localCheckpoint`` and not ``persist``: the cache manager keys
  entries by canonical plan, so a persisted intermediate would be
  silently reused by the next identical call in the session (and
  benchmark reps would measure cache hits).  A local checkpoint is a
  fresh RDD per call; nothing is shared across calls.  The trade is
  lineage: an executor lost while the blocks are live fails the job
  instead of recomputing them.
* Eager by default: AQE materializes a plan's shuffle and broadcast
  stages concurrently, and with a lazy checkpoint every concurrent
  first consumer recomputes or blocks on the same un-materialized
  blocks (BlockInfoManager write-lock waits).  Flipping eager alone
  took ``outlier_bins_lineitem`` from 26.1 to 14.6 s wall (284 -> 186
  stage-seconds) and ``schema_quality_survival`` from 12.2 to 9.7 s on
  the 32-core bench host.  Iteration bases stay lazy (``eager=False``):
  their first consumer is a single aggregate, which materializes the
  blocks without an extra job.
* ``derived=True`` cuts only inputs that carry re-execution-expensive
  work (``_EXPENSIVE_NODES`` outside a cache) and that Catalyst bounds
  by ``CHECKPOINT_MAX_BYTES``.  One materialization pays against N
  re-executions only when the intermediate is bounded: when the cut
  fired on a crossJoin-replicated 6M-row frame, ``profile_scale_10x``
  took 37x the task-seconds (50 -> 1855).  An unknown estimate counts
  as unbounded.  ``bounded=True`` skips the size check for inputs
  bounded by contract: linear in a scanned input and never replicated
  (the MinHash index holds a fixed-width signature and one hash per
  distinct gram of each document).
* ``spark.whylogs.cutLineage=false`` turns every cut off for the
  session.  The plan audit (``scripts/explain_audit.py``) uses it:
  ``explain()`` below a cut shows only ``Scan ExistingRDD``, so the
  audit captures the uncut plan to assert scan pushdown end to end.

**Task width.**  One size-to-width rule, :func:`_size_width`: one task
per ``TASK_TARGET_BYTES`` of Catalyst's size estimate, at least
``MIN_ADAPTIVE_SLICES``.  A Python-stage task carries ~0.3 s of fixed
worker cost, so width beyond the data is pure overhead.  A cut only
ever narrows (shuffle-free ``coalesce``) and keeps at least a quarter
of the cores: iteration aggregates do real CPU work per byte, and a
purely size-derived width of 2 slices cost +60% wall on the
golden-section NLL loop even as task-seconds fell 64%; ``cores/4``
keeps wall flat and still cuts task launches 4x on 32 slots.
:func:`ensure_parallelism` only ever widens an under-partitioned
source, to the same rule capped at the core count.

**Concurrency.**  :func:`run_concurrently` runs independent jobs on
fresh driver threads wrapped in ``inheritable_thread_target``, so the
jobs carry the caller's tags, job group and description (a plain pool
thread sees none of them) and can be attributed or cancelled with the
caller.  A fresh pool per call keeps tags from leaking between callers
and lets calls nest without deadlock.
"""

from __future__ import annotations

import re
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Callable, List, Optional, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

#: In-memory bytes of input one task should own: ~2 MB of rows is a
#: couple of seconds of Arrow sketch work, enough that the fixed
#: per-task Python-worker cost stays a minority share.
TASK_TARGET_BYTES = 2 * 1024 * 1024

#: Floor of the adaptive width: a wrong-small optimizer estimate costs
#: at most a (true_size / 4)-way serialization, never a single task.
MIN_ADAPTIVE_SLICES = 4

#: Largest size estimate a ``derived=True`` cut will materialize.
CHECKPOINT_MAX_BYTES = 256 * 1024 * 1024

#: Logical-plan node names whose re-execution is expensive (shuffles,
#: global funnels, python stages).
_EXPENSIVE_NODES = frozenset((
    "Join", "Aggregate", "Window", "Generate", "Expand", "Offset",
    "GlobalLimit", "LocalLimit", "Sort", "Distinct", "Deduplicate",
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Sample", "Intersect", "Except", "MapInArrow", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "CoGroup", "MapGroups", "MapElements",
))

_NODE_RE = re.compile(r"([A-Za-z]+)")


def plan_size_estimate(df: DataFrame) -> Optional[int]:
    """Catalyst's in-memory size estimate of ``df`` in bytes, or
    ``None`` when the optimizer doesn't know (non-positive, or the
    "unknown" sentinel of ~8 EB that defaultSizeInBytes produces)."""
    try:
        sz = int(str(df._jdf.queryExecution().optimizedPlan()
                     .stats().sizeInBytes()))
    except Exception:
        return None
    if sz <= 0 or sz >= (1 << 50):
        return None
    return sz


def _has_expensive_node(df: DataFrame) -> bool:
    """True when the optimized logical plan contains a node from
    ``_EXPENSIVE_NODES`` OUTSIDE any InMemoryRelation subtree (a cached
    input replays from block storage — its build plan is history, not
    per-consumer cost)."""
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return False
    skip_indent = -1
    for line in tree.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        if skip_indent >= 0:
            if indent > skip_indent:
                continue
            skip_indent = -1
        if stripped.startswith("InMemoryRelation"):
            skip_indent = indent
            continue
        m = _NODE_RE.match(stripped)
        if m and m.group(1) in _EXPENSIVE_NODES:
            return True
    return False


def _size_width(est_bytes: int) -> int:
    """Task count for ``est_bytes`` of input (the module's one
    size-to-width rule)."""
    return max(MIN_ADAPTIVE_SLICES, -(-est_bytes // TASK_TARGET_BYTES))


def checkpoint(df: DataFrame, eager: bool = True, derived: bool = False,
               bounded: bool = False) -> DataFrame:
    """Right-size ``df``'s width, then cut its lineage with
    ``localCheckpoint(eager)``.  With ``derived=True`` the cut fires
    only on an expensive plan whose size estimate is at most
    ``CHECKPOINT_MAX_BYTES`` (``bounded=True`` drops the size check).
    Returns ``df`` unchanged when no cut is made."""
    try:
        spark = df.sparkSession
        if str(spark.conf.get("spark.whylogs.cutLineage",
                              "true")).lower() == "false":
            return df
        if derived and not _has_expensive_node(df):
            return df
        est = plan_size_estimate(df)
        if derived and not bounded and (
                est is None or est > CHECKPOINT_MAX_BYTES):
            return df
        sized = df
        if est is not None:
            cores = spark.sparkContext.defaultParallelism
            target = max(_size_width(est), cores // 4)
            if target < df.rdd.getNumPartitions():
                sized = df.coalesce(target)
        return sized.localCheckpoint(eager=eager)
    except Exception:
        return df


def ensure_parallelism(df: DataFrame,
                       est_bytes: Optional[int] = None) -> DataFrame:
    """Round-robin repartition when the source has far fewer partitions
    than the cluster has slots (e.g. one small parquet file locally),
    to ``_size_width`` of the size estimate capped at the core count
    (the full core count when the estimate is unknown).  A no-op on
    inputs that already arrive well-partitioned."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if nparts * 2 > target:
        return df
    if est_bytes is None:
        est_bytes = plan_size_estimate(df)
    if est_bytes is not None:
        target = min(target, _size_width(est_bytes))
    if nparts * 2 <= target:
        return df.repartition(target)
    return df


def run_concurrently(spark, thunks: Sequence[Callable[[], object]],
                     max_workers: Optional[int] = None) -> List[object]:
    """Run independent ``thunks`` on fresh driver threads that inherit
    the caller's job tags and local properties; return their results in
    order.  Every thunk runs to completion.  A single failure is
    re-raised as is; several raise one ``ExceptionGroup`` holding all
    of them."""
    thunks = list(thunks)
    if not thunks:
        return []
    inherit = inheritable_thread_target(spark)
    if not callable(inherit):
        # PYSPARK_PIN_THREAD=false: pyspark hands the session back, and
        # JVM threads hold no per-thread state to inherit
        inherit = None
    workers = min(max_workers or len(thunks), len(thunks))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [pool.submit(inherit(th) if inherit else th)
                for th in thunks]
    errors = [e for e in map(Future.exception, futs) if e is not None]
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise BaseExceptionGroup(
            f"{len(errors)} of {len(thunks)} concurrent jobs failed",
            errors)
    return [f.result() for f in futs]
