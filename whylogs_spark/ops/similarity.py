"""Vector similarity search over embedding columns (array<float/double>).

Two tiers, mirroring how a 100 TB pipeline actually uses ANN:

* ``cosine_topk`` — brute-force scan vs one query vector: one narrow
  Arrow pass (a numpy matrix-vector product and a top-k per partition),
  then ``ORDER BY ... LIMIT k``, which Spark executes as
  TakeOrderedAndProject — no full sort.
* ``lsh_bucketed_topk`` — random-hyperplane LSH (Charikar 2002): sign
  signatures per vector, bucketed candidate retrieval, exact re-rank of
  candidates only. Hyperplanes are derived deterministically from
  xxhash64(dim, plane) so workers need no broadcast state at all.
* ``knn_join`` — all-pairs k-NN between two embedding tables via LSH
  bucketing (for small-to-medium dims); exact verify in-bucket.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T



def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL in BOTH ANSI and
    # legacy mode (plain `/` throws DIVIDE_BY_ZERO under ANSI);
    # callers filter/sort nulls explicitly
    da = a.cast("array<double>")
    db = b.cast("array<double>")
    return F.try_divide(_dot(da, db), _norm(da) * _norm(db))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector: highest cosine
    first, ties by id. A row whose cosine is undefined (null or zero
    vector, a null or non-finite element, a length other than the
    query's, or a zero query) gets a NULL cosine, as in
    :func:`cosine_similarity`, and ranks after every scored row.

    One numpy matrix-vector product per Arrow batch and a per-PARTITION
    top-k, so the final TakeOrderedAndProject sees at most
    k x partitions candidate rows regardless of input size.
    """
    qv = np.asarray(list(query), dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))
    dim = qv.size
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("cosine", T.DoubleType())])

    def top(ids: list, sims: np.ndarray):
        # scored rows by (-cosine, id), then the NULL rows by id
        neg = np.where(np.isnan(sims), np.inf, -sims)
        order = sorted(range(len(ids)), key=lambda i: (neg[i], ids[i]))[:k]
        return [ids[i] for i in order], sims[order]

    def gen(batches):
        best_ids: list = []
        best_sims = np.empty(0)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            arr = tbl.column(vec_col).combine_chunks()
            ok = np.asarray(pc.fill_null(pc.equal(
                pc.list_value_length(arr), dim), False))
            sims = np.full(len(arr), np.nan)
            if ok.any() and qn > 0.0:
                mat = np.asarray(
                    arr.filter(pa.array(ok)).flatten()
                    .to_numpy(zero_copy_only=False),
                    dtype=np.float64).reshape(-1, dim)
                norms = np.sqrt((mat * mat).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (mat @ qv) / (norms * qn)
                cos[~np.isfinite(cos)] = np.nan
                sims[ok] = cos
            best_ids.extend(tbl.column(id_col).to_pylist())
            best_sims = np.concatenate([best_sims, sims])
            if len(best_ids) > 8 * k:
                best_ids, best_sims = top(best_ids, best_sims)
        if best_ids:
            best_ids, best_sims = top(best_ids, best_sims)
            yield pa.RecordBatch.from_arrays(
                [pa.array(best_ids),
                 pa.array(best_sims, pa.float64(),
                          mask=np.isnan(best_sims))],
                names=[id_col, "cosine"])

    part = df.select(id_col, vec_col).mapInArrow(gen, out_schema)
    return part.orderBy(F.col("cosine").desc_nulls_last(),
                        F.col(id_col).asc()).limit(k)


# (n_planes, dim) -> hyperplane constant matrix, fetched once per
# process.  h[plane][d] = xxhash64(d, plane)/2^63 — the SAME family the
# in-plan expression form used, so buckets are bit-identical to every
# previously pinned detection set.
_HYPERPLANE_CACHE: dict = {}
_LSH_EXPR_CACHE: dict = {}


def _hyperplane_consts(spark, n_planes: int, dim: int):
    """Fetch the pseudo-random hyperplane matrix with ONE tiny Spark
    job (n_planes x dim ROWS through a single xxhash64 expression —
    a 4096-expression constant projection takes Catalyst ~25 s to
    fold, the row form ~0.2 s warm) and cache it per process.

    Evaluating xxhash64 per ROW of the corpus (the old expression
    form) cost tables*planes*dim hash evals per row — 6x the whole
    signature stage at 64 hyperplanes x 64 dims."""
    key = (n_planes, dim)
    got = _HYPERPLANE_CACHE.get(key)
    if got is None:
        rows = (
            spark.range(n_planes)
            .select(F.col("id").cast("int").alias("tp"),
                    F.explode(F.sequence(
                        F.lit(0), F.lit(dim - 1))).alias("d"))
            .select("tp", "d",
                    (F.xxhash64(F.col("d"), F.col("tp"))
                     .cast("double") / F.lit(float(2 ** 63)))
                    .alias("h"))
            .collect())
        got = [[0.0] * dim for _ in range(n_planes)]
        for r in rows:
            got[r["tp"]][r["d"]] = r["h"]
        _HYPERPLANE_CACHE[key] = got
    return got


def _lsh_buckets_expr(vec_col: str, tables: int, planes: int,
                      hconsts) -> Column:
    """The full ``lsh_buckets`` array as ONE parsed SQL expression.

    Per table: ``planes`` sign bits of <v, h_plane>, each hyperplane a
    LITERAL double array (constants hoisted out of the per-row plan by
    :func:`_hyperplane_consts`).  Built as a SQL string because the
    Column-API equivalent costs ~100 ms of py4j/lambda-conversion per
    sign (64 signs -> ~7 s of DRIVER time per call, more than the
    stage's executor time); one parse of the generated string is
    ~0.4 s.  The zip_with + left-fold aggregate is the same Catalyst
    tree as the old expression form, so the sums — and therefore the
    signs and buckets — are bit-identical.  repr() double literals
    round-trip exactly (shortest-repr <-> Double.parseDouble).

    The parsed Column is cached per (vec_col, tables, planes, dim):
    an unresolved expression binds at analysis, so one Column object
    serves every frame, and repeat calls (e.g. both sides of a
    knn_join) skip the ~0.4 s parse entirely."""
    key = (vec_col, tables, planes, len(hconsts), len(hconsts[0]))
    cached = _LSH_EXPR_CACHE.get(key)
    if cached is not None:
        return cached
    vec = f"CAST(`{vec_col}` AS array<double>)"

    def sign(tp: int) -> str:
        arr = "array(" + ",".join(
            repr(x) + "D" for x in hconsts[tp]) + ")"
        return (f"CAST(aggregate(zip_with({vec}, {arr}, "
                "(x, hh) -> x * hh), 0.0D, "
                "(acc, v) -> acc + v) >= 0 AS INT)")

    def bucket(t: int) -> str:
        return " + ".join(
            f"{sign(t * planes + p)} * {2 ** p}"
            for p in range(planes))

    col = F.expr(
        "array(" + ", ".join(bucket(t) for t in range(tables)) + ")")
    _LSH_EXPR_CACHE[key] = col
    return col


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    tables: int = 8,
    planes: int = 6,
    dim: Optional[int] = None,
) -> DataFrame:
    """Adds ``lsh_buckets``: array<int>, one sign-bucket per hash table.

    Multi-table random-hyperplane LSH: a vector is a candidate for a query
    if ANY table agrees — recall grows as 1-(1-p^planes)^tables.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    hconsts = _hyperplane_consts(df.sparkSession, tables * planes, dim)
    return df.withColumn(
        "lsh_buckets",
        _lsh_buckets_expr(vec_col, tables, planes, hconsts))


def lsh_bucketed_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    tables: int = 8,
    planes: int = 6,
) -> DataFrame:
    """ANN top-k: prune to rows sharing a bucket with the query in at
    least one table, then exact cosine re-rank of the survivors only.
    The bucket filter is a codegen'd projection — no shuffle, no UDF.
    """
    dim = len(query)
    qv = np.asarray(query, dtype=np.float64)
    # The query's buckets use the same in-plan hash family, so compute
    # them with a 1-row Spark job (cheap, once) rather than reimplementing
    # xxhash64 in Python.
    spark = df.sparkSession
    qdf = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in qv]).alias(vec_col))
    qb = with_lsh_buckets(qdf, vec_col, tables, planes, dim).first()[
        "lsh_buckets"]

    bucketed = with_lsh_buckets(df, vec_col, tables, planes, dim)
    cond = None
    for t in range(tables):
        c = F.col("lsh_buckets")[t] == F.lit(int(qb[t]))
        cond = c if cond is None else (cond | c)
    cand = bucketed.filter(cond)
    return cosine_topk(cand, list(qv), vec_col, id_col, k)


# ---------------------------------------------------------------------- IVF
def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    seed: int = 42,
    sample_fraction: Optional[float] = None,
    max_train_rows: int = 1_000_000,
):
    """IVF-flat index: KMeans-partition vectors into ``n_lists`` inverted
    lists. Returns (assigned_df with ``ivf_list`` column, centroids).

    Scale path: KMeans FITS on a bounded sample — by default at most
    ``max_train_rows`` rows (fraction derived from a metadata-cheap
    count), or an explicit ``sample_fraction``. Fitting on the full
    table would re-scan 100 TB once per KMeans iteration; centroid
    quality saturates long before 1M training points. Assignment is
    still one full pass (MLlib transform = broadcast centroids +
    codegen'd argmin). At query time only ``nprobe/n_lists`` of the data
    is scanned; storing ``assigned`` partitioned by ``ivf_list`` makes
    the probe a partition-pruned read.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("__feat", array_to_vector(F.col(vec_col)))
    if sample_fraction is None and max_train_rows is not None:
        # parquet count() resolves from footer metadata — one cheap job,
        # not a data scan
        n_rows = df.count()
        if n_rows > max_train_rows:
            sample_fraction = max_train_rows / n_rows
    train = (
        src.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction else src
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__feat",
                predictionCol="ivf_list")
    model = km.fit(train)
    assigned = model.transform(src).drop("__feat")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: List[List[float]],
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k over an IVF index: probe the ``nprobe`` centroids nearest
    to the query (driver-side — centroid count is tiny), scan only those
    inverted lists, exact cosine re-rank of survivors.
    """
    qv = np.asarray(query, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1) * np.linalg.norm(qv)
    norms[norms == 0] = 1.0
    sims = cents @ qv / norms
    probes = [int(i) for i in np.argsort(-sims)[:nprobe]]
    cand = assigned.filter(F.col("ivf_list").isin(probes))
    return cosine_topk(cand, list(qv), vec_col, id_col, k)


def _drop_big_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop every (tbl, bkt) group larger than ``max_bucket`` — the
    degenerate-bucket policy shared with the MinHash/SimHash families:
    an undersized ``planes`` at corpus scale would otherwise make the
    band join quadratic in the bucket size. The sizes frame is bounded
    by tables x 2^planes rows and broadcasts."""
    sizes = (banded.groupBy("tbl", "bkt")
             .agg(F.count(F.lit(1)).alias("__bn"))
             .filter(F.col("__bn") <= F.lit(int(max_bucket)))
             .select("tbl", "bkt"))
    return banded.join(F.broadcast(sizes), ["tbl", "bkt"],
                       "left_semi")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    k: int = 5,
    planes: int = 6,
    tables: int = 4,
    exclude_self: bool = False,
    max_bucket: int = None,
) -> DataFrame:
    """Approximate k-NN join via multi-table LSH (OR-construction): both
    sides explode to (table_idx, bucket) keys, join on the composite key
    (shuffle = rows × tables small-int rows), candidate pairs dedup, one
    exact cosine per distinct pair, window top-k per left row.

    A single hash table silently loses recall near the decision
    boundary; with ``tables`` independent tables a pair is a candidate
    if ANY table agrees — recall 1-(1-p^planes)^tables. Returns
    (left_id, right_id, cosine, rank).

    Pick ``planes`` ~ log2(n / desired_bucket): too few planes at
    corpus scale makes buckets huge and the band join quadratic.
    ``max_bucket`` (optional) enforces that by dropping oversized
    LEFT-side buckets outright — members they would have matched
    almost surely co-occur in another table's smaller bucket, the
    same degenerate-bucket policy the MinHash/SimHash families carry.
    """
    dim = len(left.select(vec_col).first()[0])

    def banded(d: DataFrame, idc: str, vname: str) -> DataFrame:
        b = with_lsh_buckets(d, vec_col, tables, planes, dim)
        keys = F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     F.col("lsh_buckets")[t].alias("bkt"))
            for t in range(tables)
        ])
        return b.select(
            F.col(idc).alias("__" + vname + "id"),
            F.col(vec_col).alias("__" + vname + "v"),
            F.explode(keys).alias("kk"),
        ).select("__" + vname + "id", "__" + vname + "v",
                 F.col("kk.tbl").alias("tbl"), F.col("kk.bkt").alias("bkt"))

    lb = banded(left, left_id, "l")
    rb = banded(right, right_id, "r")
    if max_bucket is not None:
        lb = _drop_big_buckets(lb, max_bucket)
    # Cosine BEFORE the pair dedup: the bucket join's output stage
    # scores each candidate in-map, so the dedup exchange carries only
    # (lid, rid, cosine) — ~24 bytes — instead of two dim-sized double
    # arrays per pair (a 40x shuffle-volume cut at dim=64).  A pair
    # colliding in several tables is scored up to `tables` times, but
    # that is map-side multiply-adds vs shuffled vector bytes — the
    # right trade at any scale.  The groupBy/first dedup partial-aggs
    # in-partition duplicates before the exchange.
    scored = lb.join(rb, ["tbl", "bkt"])
    if exclude_self:
        # self-join mode (e.g. outlier scoring): a row is not its own
        # neighbor
        scored = scored.filter(F.col("__lid") != F.col("__rid"))
    # Top-k via ONE grouped aggregation instead of pair-dedup +
    # window: collect_set of (negated cosine, rid) structs dedups the
    # cross-table collisions (same pair -> bit-identical cosine ->
    # one set member) with map-side partial aggregation, array_sort
    # gives (cosine desc, rid asc), slice caps the state at k.  One
    # exchange on __lid, no window sort — the old shape paid a second
    # exchange for the window after the (lid, rid) dedup exchange.
    pair = F.struct((-F.col("cosine")).alias("negcos"),
                    F.col("__rid").alias("rid"))
    agg = (
        scored.select(
            "__lid", "__rid",
            cosine_similarity(F.col("__lv"), F.col("__rv"))
            .alias("cosine"))
        # a zero-norm vector yields a NULL cosine (non-ANSI 0/0), and
        # null struct fields sort FIRST in array_sort — unfiltered they
        # would displace real neighbors from ranks 1..k
        .filter(F.col("cosine").isNotNull())
        .groupBy("__lid")
        .agg(F.slice(F.array_sort(F.collect_set(pair)),
                     1, k).alias("__top"))
    )
    return (
        agg.select("__lid", F.posexplode("__top").alias("__p", "__s"))
        .select(
            F.col("__lid").alias(left_id + "_left"),
            F.col("__s.rid").alias(right_id + "_right"),
            (-F.col("__s.negcos")).alias("cosine"),
            (F.col("__p") + 1).cast("int").alias("rank"))
    )


# --------------------------------------------- embedding preparation

def truncate_embeddings(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    renormalize: bool = True,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``dim`` components
    (MRL-trained embedding families put the information head-first, so
    prefix truncation trades recall for memory/compute linearly), then
    L2-renormalize so downstream cosine math stays valid.

    Pure higher-order-function projection — zero shuffle; a zero
    vector stays zero rather than dividing by 0. Replaces ``vec_col``
    unless ``out_col`` names a new column.
    """
    target = out_col or vec_col
    v = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    if renormalize:
        nrm = F.sqrt(F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x * x))
        v = F.when(nrm > 0,
                   F.transform(v, lambda x: x / nrm)).otherwise(v)
    return df.withColumn(target, v)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v| / 127``
    and ``q_i = floor(v_i / scale + 0.5)`` (explicit half-up floor —
    bit-reproducible across engines, unlike library round modes).
    Cuts vector memory/IO 4x vs float32 (8x vs float64) at ~1e-2
    relative dot-product error on unit vectors — the standard first
    rung of ANN compression before PQ/OPQ.

    Adds ``q`` (array<int>, values in [-127, 127]) and ``q_scale``
    (double). All-zero vectors get scale 0 and an all-zero ``q``.
    Pure projection, zero shuffle. ``dequantize_embeddings`` inverts.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(
        v, F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.floor(x / scale + 0.5).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q",
    scale_col: str = "q_scale",
    out_col: str = "embedding_dq",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: ``v_i ~= q_i * scale``."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col),
                    lambda x: x.cast("double") * F.col(scale_col)))


# ------------------------------------------------- MMR diverse selection

def mmr_select(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lambda_mult: float = 0.5,
    candidates: int = 200,
) -> List:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): pick
    ``k`` items that are RELEVANT to the query but DIVERSE among
    themselves — ``argmax lambda*sim(d,q) - (1-lambda)*max_{s in S}
    sim(d,s)``. The standard re-rank behind RAG context building and
    eval-set curation.

    Scale shape: one distributed top-``candidates`` pass (the existing
    ``cosine_topk`` — TakeOrderedAndProject) prunes the corpus to a
    driver-sized candidate pool; the greedy k-step loop then runs on
    the driver over that pool (numpy, O(candidates * k) dot products).
    This is the honest structure: the greedy argmax is inherently
    sequential in k, so the distributed win is the candidate pruning,
    not the loop. Returns the selected rows as a list of
    (id, relevance) tuples in selection order.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    lam = float(lambda_mult)
    pool_df = cosine_topk(df, list(query), vec_col, id_col,
                          k=max(candidates, k))
    ids = [r[id_col] for r in pool_df.collect()]
    vec_rows = (
        df.filter(F.col(id_col).isin(ids))
        .select(id_col, F.col(vec_col).cast("array<double>"))
        .collect()
    )
    by_id = {r[0]: np.asarray(r[1], dtype=np.float64) for r in vec_rows}
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0
    pool = [(i, by_id[i]) for i in ids if i in by_id]
    norms = {i: (np.linalg.norm(v) or 1.0) for i, v in pool}
    rel = {i: float(v @ q / (norms[i] * qn)) for i, v in pool}
    selected: List = []
    chosen_vecs: List[np.ndarray] = []
    remaining = dict(pool)
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for i, v in remaining.items():
            div = max((float(v @ s / (norms[i] * ns))
                       for s, ns in chosen_vecs), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * div
            if best_score is None or score > best_score or (
                    score == best_score and i < best_id):
                best_id, best_score = i, score
        selected.append((best_id, rel[best_id]))
        chosen_vecs.append((remaining[best_id],
                            norms[best_id]))
        del remaining[best_id]
    return selected


def ann_recall_estimate(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    planes: int = 6,
    tables: int = 4,
    n_queries: int = 50,
) -> DataFrame:
    """Empirical recall@k of the LSH ``knn_join`` path against exact
    brute-force ground truth, on a deterministic query sample — the
    embedding-space twin of ``dedup.minhash_recall_estimate``.

    At corpus scale the exact k-NN of every row is unaffordable, so
    (planes, tables) are normally chosen from the OR-construction
    formula ``1-(1-p^planes)^tables`` alone; this measures the real
    recall on THIS corpus's geometry (clustered embeddings violate the
    uniform-angle assumption in both directions).

    Returns one row per sampled query: ``(query_id, n_exact, n_hit,
    recall)``; aggregate the frame for a headline number. Both sides
    rank by ``(cosine desc, id asc)`` so boundary ties resolve
    identically and never show up as false misses.

    Scale shape: the corpus is scanned once for ground truth — a
    single Arrow pass computes all ``n_queries`` dot products per row
    (one matrix-matrix product per batch) and keeps a per-partition
    top-k per query, so the final rank window sees only
    partitions × n_queries × k candidate rows. The LSH side is the
    production ``knn_join`` plan itself. Queries are hash-sampled
    in-plan and capped by TakeOrderedAndProject.
    """
    if k < 1 or n_queries < 1:
        raise ValueError("k and n_queries must be >= 1")
    hsh = F.abs(F.xxhash64(F.col(id_col).cast("string"), F.lit(9127)))
    qrows = (df.filter(F.col(vec_col).isNotNull())
             .orderBy(hsh).limit(n_queries)
             .select(id_col, vec_col).collect())
    if not qrows:
        raise ValueError("no vectors to sample queries from")
    qids = [r[0] for r in qrows]
    Q = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qn[qn == 0.0] = 1.0
    dim = Q.shape[1]

    from pyspark.sql.pandas.types import to_arrow_type

    id_field = df.schema[id_col]
    _id_arrow_type = to_arrow_type(id_field.dataType)
    out_schema = T.StructType(
        [T.StructField("__qidx", T.IntegerType()), id_field,
         T.StructField("cosine", T.DoubleType())])

    def gen(batches):
        import heapq

        best = [[] for _ in range(len(qids))]  # per-query (−cos, id)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            arr = tbl.column(vec_col).combine_chunks()
            try:
                vals = np.asarray(arr.values, dtype=np.float64)
                mat = vals.reshape(len(arr), dim)
            except Exception:
                mat = np.array(
                    [r if r is not None else [0.0] * dim
                     for r in arr.to_pylist()], dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            norms[norms == 0.0] = 1.0
            sims = (mat @ Q.T) / norms[:, None] / qn[None, :]
            ids = tbl.column(id_col).to_pylist()
            for qi in range(len(qids)):
                col = sims[:, qi]
                # per-batch preselect before the heap keeps Python
                # work ~O(k log n) instead of O(rows). Tie-safe: take
                # EVERY row at or above the (k+1)-th cosine, so equal-
                # cosine rows with smaller ids are never dropped here
                # (the heap's (-cos, id) order settles them)
                take = min(k + 1, len(ids))
                thresh = np.partition(-col, take - 1)[take - 1]
                idxs = np.nonzero(-col <= thresh)[0]
                for i in idxs:
                    heapq.heappush(best[qi],
                                   (-float(col[i]), ids[i]))
            for qi in range(len(qids)):
                if len(best[qi]) > 4 * (k + 1):
                    best[qi] = heapq.nsmallest(k + 1, best[qi])
                    heapq.heapify(best[qi])
        out_q, out_id, out_c = [], [], []
        for qi in range(len(qids)):
            for negc, i in heapq.nsmallest(k + 1, best[qi]):
                out_q.append(qi)
                out_id.append(i)
                out_c.append(-negc)
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q, pa.int32()),
                 # declare the id type: inference would widen e.g. an
                 # IntegerType id to int64 and break the Arrow schema
                 pa.array(out_id, _id_arrow_type),
                 pa.array(out_c, pa.float64())],
                names=["__qidx", id_col, "cosine"])

    # null vectors must not enter the ground truth: the kernel's
    # ragged fallback would zero-fill them (cosine 0) while the LSH
    # side drops them — guaranteed false misses
    cand = df.filter(F.col(vec_col).isNotNull()) \
        .select(id_col, vec_col).mapInArrow(gen, out_schema)
    spark = df.sparkSession
    qmap = spark.createDataFrame(
        [(i, qids[i]) for i in range(len(qids))],
        T.StructType([T.StructField("__qidx", T.IntegerType()),
                      T.StructField("query_id", id_field.dataType)]))
    w = Window.partitionBy("__qidx").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    exact = (
        cand.join(F.broadcast(qmap), "__qidx")
        .filter(F.col(id_col) != F.col("query_id"))  # drop self-match
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )

    queries = df.filter(F.col(id_col).isin(qids)) \
        .select(F.col(id_col).alias("query_id"), vec_col)
    approx_raw = knn_join(
        queries, df, vec_col=vec_col, left_id="query_id",
        right_id=id_col, k=k + 1, planes=planes, tables=tables)
    wa = Window.partitionBy("query_id_left").orderBy(
        F.col("cosine").desc(), F.col(id_col + "_right").asc())
    approx = (
        approx_raw.filter(
            F.col(id_col + "_right") != F.col("query_id_left"))
        .withColumn("__r", F.row_number().over(wa))
        .filter(F.col("__r") <= k)
        .select(F.col("query_id_left").alias("query_id"),
                F.col(id_col + "_right").alias("neighbor_id"),
                F.lit(True).alias("__found"))
    )
    per_q = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"),
             F.sum(F.coalesce(F.col("__found"), F.lit(False))
                   .cast("long")).alias("n_hit"))
        .withColumn("recall",
                    F.col("n_hit").cast("double") / F.col("n_exact"))
    )
    return per_q


# ------------------------------------- contamination / outlier scoring

def embedding_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    benchmark_id: str = "vec_id",
    threshold: float = 0.9,
    planes: int = 4,
    tables: int = 8,
    max_bucket: int = 4096,
) -> DataFrame:
    """(corpus_id, benchmark_id, cosine) pairs with cosine >=
    ``threshold`` — the embedding-space sibling of
    ``decontam.ngram_decontaminate`` (paraphrased eval leakage that
    shares no n-gram still lands next to its benchmark item in
    embedding space).

    Candidates come from the multi-table LSH band join (same
    OR-construction as :func:`knn_join`: recall 1-(1-p^planes)^tables,
    so few planes + many tables for the high thresholds decontam
    uses), each candidate verified by exact cosine. Shuffle = rows x
    tables small-int keys on BOTH sides; the benchmark side is tiny
    and broadcast by AQE. Pick ``planes`` ~ log2(n_corpus /
    desired_bucket); corpus-side buckets larger than ``max_bucket``
    are dropped whole (the shared degenerate-bucket policy — an
    undersized ``planes`` would otherwise cross every corpus row with
    every benchmark row sharing the bucket).
    """
    dim = len(corpus.select(vec_col).first()[0])

    def banded(d: DataFrame, idc: str, tag: str) -> DataFrame:
        b = with_lsh_buckets(d, vec_col, tables, planes, dim)
        keys = F.array(*[
            F.struct(F.lit(t).alias("tbl"),
                     F.col("lsh_buckets")[t].alias("bkt"))
            for t in range(tables)
        ])
        return b.select(
            F.col(idc).alias(f"__{tag}id"),
            F.col(vec_col).alias(f"__{tag}v"),
            F.explode(keys).alias("kk"),
        ).select(f"__{tag}id", f"__{tag}v",
                 F.col("kk.tbl").alias("tbl"),
                 F.col("kk.bkt").alias("bkt"))

    cb = banded(corpus, corpus_id, "c")
    bb = banded(benchmark, benchmark_id, "b")
    if max_bucket is not None:
        cb = _drop_big_buckets(cb, max_bucket)
    # cosine + threshold filter BEFORE the pair dedup: both run in-map
    # in the bucket join's output stage, so the dedup exchange carries
    # only the surviving (cid, bid, cosine) triples — at decontam
    # thresholds that is a tiny fraction of the candidates, vs
    # shuffling two dim-sized double arrays per candidate pair
    return (
        cb.join(bb, ["tbl", "bkt"])
        .select(
            "__cid", "__bid",
            cosine_similarity(F.col("__cv"), F.col("__bv"))
            .alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .groupBy("__cid", "__bid")
        .agg(F.first("cosine").alias("cosine"))
        .select(F.col("__cid").alias(corpus_id + "_corpus"),
                F.col("__bid").alias(benchmark_id + "_benchmark"),
                "cosine")
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
    benchmark_id: str = "vec_id",
    threshold: float = 0.9,
    planes: int = 4,
    tables: int = 8,
    max_bucket: int = 4096,
) -> DataFrame:
    """Drop every corpus row whose embedding is >= ``threshold``
    cosine to ANY benchmark row (see
    :func:`embedding_contamination_pairs`). The flagged-id set is
    orders of magnitude smaller than the corpus; the removal is one
    left_anti join on the id."""
    flagged = embedding_contamination_pairs(
        corpus, benchmark, vec_col, corpus_id, benchmark_id,
        threshold, planes, tables, max_bucket,
    ).select(F.col(corpus_id + "_corpus").alias(corpus_id)).distinct()
    return corpus.join(flagged, corpus_id, "left_anti")


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    planes: Optional[int] = None,
    tables: int = 8,
    max_bucket: int = 4096,
) -> DataFrame:
    """kth-nearest-neighbor outlier score per embedding row — the
    classic kNN-distance outlier signal (a row far from even its kth
    neighbor is isolated; embedding-space junk, OCR noise, or
    off-distribution content in a curation pipeline).

    Built on the multi-table LSH self-join (:func:`knn_join` with
    ``exclude_self``): per row, the kth-best candidate cosine (or the
    worst found, when LSH surfaces fewer than k — ``n_neighbors``
    says which). ``outlier_score = 1 - kth_cosine``.

    Null-score rows carry two DISTINCT meanings, told apart by
    ``n_neighbors``:

    * ``n_neighbors = 0`` — every bucket the row landed in contained
      no other member: a genuine isolation signal.
    * ``n_neighbors = -1`` — every bucket the row landed in was over
      ``max_bucket`` and was DROPPED by the degenerate-bucket cap:
      the row sits in the densest regions (the least isolated), the
      opposite of a signal.  Conflating the two inverted the score's
      meaning on large corpora.

    ``planes`` defaults to corpus-scaled ``ceil(log2(n / 256))``
    (min 1, from a metadata-cheap count) so default buckets hold
    ~256 rows at any corpus size — a FIXED small default plus the
    bucket cap used to drop every bucket once n >> 2^planes *
    max_bucket.  Few planes + many tables: for outlier DETECTION the
    failure mode is a missed near neighbor inflating a score, so
    recall is tuned high exactly like the decontamination path.
    """
    if planes is None:
        n = df.count()
        planes = max(1, math.ceil(math.log2(max(n, 2) / 256.0)))
    nn = knn_join(df, df, vec_col, id_col, id_col, k, planes,
                  tables, exclude_self=True, max_bucket=max_bucket)
    per = nn.groupBy(F.col(id_col + "_left").alias(id_col)).agg(
        F.max("rank").cast("int").alias("n_neighbors"),
        F.min("cosine").alias("kth_cosine"),
    )
    # candidate-less diagnosis: which rows kept at least one bucket
    # under the cap (same signature family, ids only — no vectors)
    dim = len(df.select(vec_col).first()[0])
    b = with_lsh_buckets(df.select(id_col, vec_col), vec_col,
                         tables, planes, dim)
    keys = F.array(*[F.struct(F.lit(t).alias("tbl"),
                              F.col("lsh_buckets")[t].alias("bkt"))
                     for t in range(tables)])
    banded_ids = b.select(
        F.col(id_col), F.explode(keys).alias("kk")
    ).select(id_col, F.col("kk.tbl").alias("tbl"),
             F.col("kk.bkt").alias("bkt"))
    surv = (_drop_big_buckets(banded_ids, max_bucket)
            .select(id_col).distinct()
            .withColumn("__kept", F.lit(True)))
    base = df.select(F.col(id_col)).join(surv, id_col, "left")
    out = base.join(per, id_col, "left")
    return out.select(
        id_col,
        F.coalesce(
            F.col("n_neighbors"),
            F.when(F.col("__kept").isNull(), F.lit(-1))
            .otherwise(F.lit(0))).alias("n_neighbors"),
        "kth_cosine",
        (F.lit(1.0) - F.col("kth_cosine")).alias("outlier_score"),
    )
