"""Embedding-space k-means (Lloyd's algorithm) over ``array<float>``.

Extension operator: the reference's flagship is categorical k-medoids
(Cluster.java, see operators.clustering); a training-data pipeline also
needs the mean-centroid variant over dense embeddings -- for corpus
clustering, IVF index construction, and diversity sampling.

Spark-first physical shape (same doctrine as k-medoids):

* **Assignment** is k literal squared-L2 expression columns over one
  columnar scan -- centroids live on the driver (k x d floats), folded
  in as ``F.array`` literals.  No join node, no shuffle, whole-stage
  codegen.  One narrow pass per iteration at any scale.
* **Update** is ``posexplode(vec)`` -> ``groupBy(cluster, pos).avg``:
  the exchange carries HashAggregate *partial* rows -- k x d rows per
  map partition, never the vectors themselves.  The final aggregate is
  k x d rows total, collected to the driver (a few KB).
* **Convergence** on the driver: max centroid L2 displacement <= tol.
* At 100 TB: per iteration = 1 narrow scan + 1 partial-aggregated
  shuffle whose payload is O(k * d * partitions), independent of row
  count.  Persist the input once; iterations re-read the cache.

The initial centroids are a deterministic LCG draw (same constants as
operators.sampling.seed_hash), so a single assignment step is fully
replayable in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce6240project_spark.session import checkpoint, unpin


def sq_l2_to_literal(vec_col: str | Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid as a fold over
    ``zip_with`` -- left-to-right accumulation from 0.0, which the SQL
    oracle mirrors term by term (identical float addition order)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd assignment step: nearest centroid by squared L2,
    first-minimum argmin (ties -> lowest cluster index, matching
    ``array_position(arr, array_min(arr))``).  Adds ``cluster INT`` and
    ``sq_dist DOUBLE``."""
    dists = F.array(*[sq_l2_to_literal(vec_col, c) for c in centroids])
    return (
        embeddings.withColumn("_d", dists)
        .withColumn(
            "cluster", (F.array_position("_d", F.array_min("_d")) - 1).cast("int")
        )
        .withColumn("sq_dist", F.element_at("_d", F.col("cluster") + 1))
        .drop("_d")
    )


def initial_centroids(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic seed pick: the k vectors with the lowest LCG hash of
    their id (ties -> lowest id).  Replayable in SQL; no RNG state."""
    from mapreduce6240project_spark.operators.sampling import seed_hash

    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(seed_hash(id_col), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


@dataclass
class KMeansResult:
    assignments: DataFrame  # input cols + cluster + sq_dist
    centroids: list[list[float]]
    iterations: int = 0
    converged: bool = False
    history: list[float] = field(default_factory=list)  # max shift per iter


#: vector count below which the Lloyd loop runs driver-side.  100k x
#: 64-dim float64 is ~50 MB -- trivial driver state; above it the
#: distributed loop takes over.  Same adaptive doctrine as
#: operators.clustering.kmedoids (DRIVER_COMBO_THRESHOLD).
DRIVER_VECTOR_THRESHOLD = 100_000


def _iterate_lloyd_local(mat, centroids, max_iter, tol, result) -> list[list[float]]:
    """Driver-local Lloyd iterations over an n x d float64 matrix.

    Same math as the distributed loop (squared-L2 argmin with
    first-minimum ties, member-mean update, empty clusters keep their
    centroid, max-L2-displacement convergence); float summation order
    differs (numpy pairwise vs fold), which only matters for exact-tie
    assignments -- the operator's oracle is rows-only for that reason.
    Distances use the ||x||^2 - 2x.c + ||c||^2 expansion so the temp is
    an n x k matmul, never an n x k x d broadcast."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    x_sq = (mat * mat).sum(axis=1)[:, None]  # n x 1, reused every iter
    for it in range(1, max_iter + 1):
        result.iterations = it
        d = x_sq - 2.0 * (mat @ c.T) + (c * c).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)  # first minimum on ties, like the SQL
        new_c = c.copy()
        for ci in range(c.shape[0]):
            members = mat[assign == ci]
            if len(members):  # empty clusters keep their old centroid
                new_c[ci] = members.mean(axis=0)
        shift = float(np.sqrt(((new_c - c) ** 2).sum(axis=1)).max())
        result.history.append(shift)
        c = new_c
        if shift <= tol:
            result.converged = True
            break
    return [[float(v) for v in row] for row in c]


def kmeans_embeddings(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    driver_vector_threshold: int | None = None,
) -> KMeansResult:
    """Full Lloyd's loop.  Driver holds only the k x d centroid matrix;
    everything data-sized stays distributed (cf. Cluster.java's
    config-string medoid broadcast, SURVEY.md section 1.4).

    Adaptive physical strategy (mirrors kmedoids): when the corpus fits
    comfortably on the driver (< ``driver_vector_threshold`` vectors,
    all components non-null) the iterations run in local numpy -- the
    per-iteration cost is then a matmul instead of re-analyzing a k x d
    literal expression tree and scheduling two Spark jobs, which
    dominates wall-clock at small n.  The *final* assignment is always
    the distributed plan, so downstream consumers get the same lazy
    DataFrame either way; at scale the distributed loop takes over."""
    from mapreduce6240project_spark.config import adaptive_threshold

    driver_vector_threshold = adaptive_threshold(
        driver_vector_threshold, DRIVER_VECTOR_THRESHOLD
    )
    data = embeddings.select(id_col, vec_col).persist()
    n = data.count()  # materializes the iteration cache
    centroids = initial_centroids(data, k, id_col, vec_col)
    result = KMeansResult(assignments=data, centroids=centroids)

    if n <= driver_vector_threshold:
        import numpy as np

        vecs = [r[vec_col] for r in data.select(vec_col).collect()]
        if vecs and all(v is not None and all(x is not None for x in v) for v in vecs):
            mat = np.asarray([[float(x) for x in v] for v in vecs], dtype=np.float64)
            centroids = _iterate_lloyd_local(mat, centroids, max_iter, tol, result)
            data.unpersist(blocking=False)
            result.assignments = kmeans_assign(
                embeddings.select(id_col, vec_col), centroids, id_col, vec_col
            )
            result.centroids = centroids
            return result
        # nulls present: fall through to the null-tolerant distributed loop

    for it in range(1, max_iter + 1):
        result.iterations = it
        assigned = kmeans_assign(data, centroids, id_col, vec_col)
        # update: mean per (cluster, dimension); partial agg on the map
        # side means the exchange carries k*d rows per partition
        rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            .collect()
        )
        # empty clusters keep their old centroid; so does any (cluster,
        # pos) whose mean is NULL (all-null embedding components) --
        # seeding from the old centroid means a null never reaches the
        # float arithmetic below
        new_centroids = [list(c) for c in centroids]
        means: dict[int, list[float]] = {}
        for r in rows:
            if r["mean"] is not None:
                means.setdefault(r["cluster"], list(centroids[r["cluster"]]))[
                    r["pos"]
                ] = r["mean"]
        for ci, vec in means.items():
            new_centroids[ci] = vec
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for old, new in zip(centroids, new_centroids)
        )
        result.history.append(shift)
        centroids = new_centroids
        if shift <= tol:
            result.converged = True
            break

    # iteration cache released before returning (same discipline as
    # clustering.py / graph.py); the final lazy assignment recomputes
    # one scan from source, which downstream consumers pay once
    data.unpersist(blocking=False)
    result.assignments = kmeans_assign(embeddings.select(id_col, vec_col), centroids, id_col, vec_col)
    result.centroids = centroids
    return result


def kmeans_summary(result: KMeansResult) -> DataFrame:
    """Per-cluster size + inertia (sum of squared distances)."""
    return result.assignments.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("sq_dist"), 4).alias("inertia"),
    )


def cosine_range_search(
    embeddings: DataFrame,
    query_vec: list[float],
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Threshold similarity search: all vectors with cosine >= threshold
    to a literal query.  One narrow projection + filter -- the filter is
    on a computed column, so the scan still prunes via column projection
    (only id + vec read).  Complements top-k: radius queries are the
    primitive behind near-dup candidate pulls and retrieval sweeps."""
    from mapreduce6240project_spark.operators.similarity import cosine

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.withColumn("sim", cosine(vec_col, q))
        .filter(F.col("sim") >= threshold)
        .select(id_col, F.round("sim", 4).alias("sim"))
    )


def embedding_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact d x d covariance numerator of the embedding matrix (the
    PCA / whitening input): upper-triangle rows ``(i, j, cov_num)``
    with ``cov_num = n * S_ij - S_i * S_j`` over components quantized
    to 6-decimal fixed point -- all-integer arithmetic, so the result
    is bit-identical at any partitioning and replayable in SQL.
    (Divide by n^2 -- or n*(n-1) for the sample estimator -- to get the
    covariance; the integer numerator is the exact, order-free part.)

    Scale shape: the naive plan is a per-row d^2 explode (a 4096x row
    blow-up before the shuffle).  Instead ``mapInPandas`` computes one
    integer Gram matrix per Arrow batch -- numpy int64 matmul over the
    quantized batch, emitting d*(d+1)/2 partial rows per ~10k-row
    batch, a ~5000x reduction of shuffle input -- and a final
    partial-aggregated sum in DECIMAL(38,0) (int64 is safe within a
    batch: |q| <= ~2^21 for unit-scale components, so a batch's S_ij
    <= 2^56; the unbounded cross-batch sum is where decimal takes
    over).  Component sums S_i ride in the same batch pass as the
    j = i diagonal's companion column.  This is the production shape
    for covariance/Gram jobs at 100 TB: O(d^2) state per task,
    one tiny shuffle, no row blow-up.
    """
    import pandas as pd

    d_probe = embeddings.select(F.size(vec_col).alias("d")).first()
    if d_probe is None:  # empty input: covariance undefined, empty result
        return embeddings.sparkSession.createDataFrame(
            [], schema="i int, j int, cov_num string"
        )
    d = d_probe.d
    iu = [(i, j) for i in range(d) for j in range(i, d)]

    def gram_batches(batches):
        import numpy as np

        iarr = np.array([p[0] for p in iu], dtype=np.int32)
        jarr = np.array([p[1] for p in iu], dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["v"].to_numpy())  # (b, d) float64
            q = np.floor(mat * 1_000_000 + 0.5).astype(np.int64)
            g = q.T @ q  # (d, d) int64, exact within a batch
            s = q.sum(axis=0)  # (d,) component sums
            n = np.int64(q.shape[0])
            yield pd.DataFrame(
                {
                    "i": iarr,
                    "j": jarr,
                    "s_ij": g[iarr, jarr],
                    "s_i": np.where(iarr == jarr, s[iarr], np.int64(0)),
                    "n": np.where((iarr == 0) & (jarr == 0), n, np.int64(0)),
                }
            )

    partials = embeddings.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).mapInPandas(
        gram_batches, schema="i int, j int, s_ij long, s_i long, n long"
    )
    sums = checkpoint(  # d*(d+1)/2 rows; reused thrice below
        partials.groupBy("i", "j").agg(
            F.sum(F.col("s_ij").cast("decimal(38,0)")).alias("S_ij"),
            F.sum(F.col("s_i").cast("decimal(38,0)")).alias("S_marg"),
            F.sum("n").alias("n_part"),
        )
    )
    # marginals: S_i lives on the diagonal row (i, i); broadcast-join it
    # back onto every (i, j) pair twice (for i and for j).  n is a
    # driver scalar (one row) folded in as a literal.
    diag = sums.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("k"), F.col("S_marg").alias("S_k")
    )
    n_row = sums.agg(F.sum("n_part").cast("decimal(38,0)").alias("n")).collect()[0]
    n_lit = F.lit(str(n_row.n)).cast("decimal(38,0)")
    return (
        sums.join(F.broadcast(diag.withColumnRenamed("k", "i").withColumnRenamed("S_k", "S_a")), "i")
        .join(F.broadcast(diag.withColumnRenamed("k", "j").withColumnRenamed("S_k", "S_b")), "j")
        .select(
            "i",
            "j",
            # exact integer rendered as text -- the value leaves BIGINT
            # range near n ~ 3000 unit-scale vectors, and a decimal
            # column would round-trip through float in the oracle's
            # pandas frame; digits compare exactly at any magnitude
            (n_lit * F.col("S_ij") - F.col("S_a") * F.col("S_b"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("cov_num"),
        )
    )


def _int_sq_dist(qv_col: str, center: list[int]) -> Column:
    """Exact integer squared L2 between a quantized vector column and a
    literal quantized center -- bigint fold, associative, engine-free."""
    c = F.array(*[F.lit(int(x)).cast("bigint") for x in center])
    return F.aggregate(
        F.zip_with(F.col(qv_col), c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def kcenter_select(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (Gonzalez 1985, farthest-point traversal):
    pick a deterministic seed, then repeatedly add the vector FARTHEST
    from the chosen set.  Returns ``(round, vec_id, radius_sq)`` --
    the selected ids in pick order with the max-min squared distance at
    the moment of selection (the 2-approximate coverage radius, in
    micro^2 units; round 1's is 0 by convention).

    This is diversity / coreset selection for training data: the k
    picks cover the embedding space with provable radius, the opposite
    bias of density-proportional sampling.  All distances are exact
    integer squared L2 over 6-decimal-quantized components, so the
    greedy trajectory is bit-identical in any engine and partitioning.

    Scale shape: one quantization pass, then per round ONE narrow
    map (min of the running distance and the distance to the newest
    center -- a literal vector folded into codegen, no join) plus a
    ``TakeOrderedAndProject`` argmax (per-partition top-1, k-row
    driver merge).  Driver state is k quantized vectors; rounds are
    lineage-truncated via localCheckpoint.  O(n*k*d) work total, the
    algorithm's lower bound, with k scheduler round-trips -- the same
    iterate-with-tiny-driver-state doctrine as kmedoids
    (Cluster.java:310-386).
    """
    spark = embeddings.sparkSession
    from mapreduce6240project_spark.operators.sampling import seed_hash

    q = embeddings.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qv"),
    )
    first = q.orderBy(seed_hash(id_col), F.col(id_col)).limit(1).collect()
    if not first:
        return spark.createDataFrame(
            [], schema=f"round int, {id_col} bigint, radius_sq bigint"
        )
    center = [int(x) for x in first[0].qv]
    picks = [(1, first[0][id_col], 0)]
    state = checkpoint(q.withColumn("mind", _int_sq_dist("qv", center)))
    for r in range(2, k + 1):
        far = state.orderBy(F.desc("mind"), F.col(id_col)).limit(1).collect()
        if not far or far[0].mind == 0:
            break  # fewer than k distinct points: stop at full coverage
        picks.append((r, far[0][id_col], int(far[0].mind)))
        center = [int(x) for x in far[0].qv]
        done, state = state, checkpoint(
            state.withColumn(
                "mind", F.least(F.col("mind"), _int_sq_dist("qv", center))
            )
        )
        unpin(done)
    # the picks are driver state; nothing returned reads the distances
    unpin(state)
    return spark.createDataFrame(
        picks, schema=f"round int, {id_col} bigint, radius_sq bigint"
    )


def pca_power_top(
    embeddings: DataFrame,
    iterations: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Dominant principal direction by ``iterations`` rounds of power
    iteration over the EXACT integer covariance numerator, in pure
    integer arithmetic: ``(i, v_i)`` with v scaled to max-abs = 1e6.

    Math pinned for cross-engine replay: start from the unit basis
    vector e_0 (scaled 1e6); each round computes ``u = C v`` in exact
    (unbounded) integers and renormalizes by the max absolute
    component with floor-on-magnitude division
    ``sign(u_i) * (|u_i| * 1e6 // max|u|)`` -- non-negative operands
    only, so trunc-vs-floor division semantics can never diverge
    between engines.  The output is DEFINED as the vector after
    exactly ``iterations`` rounds (convergence rate depends on the
    spectral gap; the fixed-round form is what an oracle can replay).

    Scale shape: the data-sized work is :func:`embedding_covariance`
    (one Arrow-batched Gram pass); the iteration then runs driver-side
    over d^2 integers -- bounded state exactly like the kmedoids
    medoid list, NOT a data-sized collect.  At 100 TB you compute the
    covariance once and the eigen-iteration cost is unchanged.
    """
    spark = embeddings.sparkSession
    cov = embedding_covariance(embeddings, vec_col=vec_col).collect()
    if not cov:
        return spark.createDataFrame([], schema="i int, v bigint")
    c: dict[tuple[int, int], int] = {}
    d = 0
    for r in cov:
        val = int(r.cov_num)
        c[(r.i, r.j)] = val
        c[(r.j, r.i)] = val
        d = max(d, r.j + 1)
    v = [10**6] + [0] * (d - 1)
    for _ in range(iterations):
        u = [sum(c.get((i, j), 0) * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        if m == 0:
            break
        v = [(1 if x >= 0 else -1) * (abs(x) * 10**6 // m) for x in u]
    return spark.createDataFrame(
        [(i, int(x)) for i, x in enumerate(v)], schema="i int, v bigint"
    )


def label_scatter_ratio(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Fisher-style between/within scatter of labeled embeddings, in
    exact integer arithmetic: vectors are micro-quantized, per-label and
    global means are truncating integer divisions, and the output row is
    ``(n_labels, between, within, ratio_micro = between * 1e6 div
    within)``, computed divide-first (between div (within div 1e6))
    so no intermediate ever exceeds the operand magnitudes.  The audit that says whether a label column actually
    separates in embedding space -- run before trusting the labels for
    stratified sampling or contrastive pair mining.

    Plan: one posexplode pass -> (label, dim) sums/counts (the only
    data-sized shuffle, keyed on n_labels * d groups), means derived in
    place, a second pass joining each vector's components to its label
    mean for the within-scatter, and a d-bounded aggregate for the
    between-scatter.  Nothing driver-sized; the mean table is
    (labels x dims) rows.
    """
    q = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast(
                    "bigint"
                ),
            )
        ).alias("d", "qx"),
    )
    lbl_stats = q.groupBy("lbl", "d").agg(
        F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n")
    )
    lbl_mean = lbl_stats.select(
        "lbl", "d", F.expr("s div n").alias("mu_l"), "n"
    )
    g_mean = (
        lbl_stats.groupBy("d")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select("d", F.expr("s div n").alias("mu_g"))
    )
    within = (
        q.join(lbl_mean.select("lbl", "d", "mu_l"), ["lbl", "d"])
        .select(F.expr("(qx - mu_l) * (qx - mu_l)").alias("w2"))
        .agg(F.sum("w2").alias("within"))
    )
    between = (
        lbl_mean.join(g_mean, "d")
        .select(F.expr("n * (mu_l - mu_g) * (mu_l - mu_g)").alias("b2"))
        .agg(F.sum("b2").alias("between"))
    )
    n_labels = embeddings.select(label_col).distinct().agg(
        F.count(F.lit(1)).alias("n_labels")
    )
    return (
        n_labels.crossJoin(F.broadcast(between))
        .crossJoin(F.broadcast(within))
        .select(
            "n_labels",
            "between",
            "within",
            F.expr(
                "between div greatest(within div 1000000, 1)"
            ).alias("ratio_micro"),
        )
    )
