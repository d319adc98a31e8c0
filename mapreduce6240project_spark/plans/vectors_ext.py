"""embedding clustering, diversity selection, spectral iteration, isotropy/label-affinity audits.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 3: Round-2 coverage wave: embedding k-means (Lloyd's), cosine range
* wave 10: Round-3 coverage wave 10: embedding-index validation and semantic
* wave 33: Round-3 coverage wave 33: diversity selection and quantile-sketch
* wave 34: Round-3 coverage wave 34: spectral iteration and join-size
* wave 41: Round-3 coverage wave 41: decayed trending and an embedding-label
* wave 70: Round-3 coverage wave 70: embedding isotropy and bounce rate.
* wave 87: Round-3 coverage wave 87: calendar densification, label-centroid
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.functions.numeric import stable_sum_micros
from mapreduce6240project_spark.operators import vectors as V
from mapreduce6240project_spark.plans.extensions import _query_vec
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.session import checkpoint
from mapreduce6240project_spark.sources.tables import load_table
from mapreduce6240project_spark.operators import similarity as S
from mapreduce6240project_spark.plans.extensions import _ivf_cells_sql, _query_vec
from mapreduce6240project_spark.operators.sketch import (
    cms_inner_product,
    cms_inner_product_oracle_sql,
)
from mapreduce6240project_spark.operators.analytics import (
    DECAY_MICRO,
    trending_scores,
)
from mapreduce6240project_spark.operators.vectors import label_scatter_ratio
from pyspark.sql import DataFrame, SparkSession, Window

# =========================================================================
# wave 3
# Round-2 coverage wave: embedding k-means (Lloyd's), cosine range
# search, and the remaining classic relational shapes the engine should
# answer (conditional-aggregate ratios, correlated-average subqueries,
# HAVING-filtered join-backs, disjunctive predicate pushdown, scalar
# subquery + anti join).
#
# Every query except the iterative k-means loop carries a full DuckDB
# oracle; the k-means *assignment step* is deterministic (LCG centroid
# draw, first-min argmin) so the whole step replays in ANSI SQL the same
# way the IVF index does in plans/extensions.py.
# =========================================================================

_KMEANS_ASSIGN_CTE = """
WITH ranked AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
         ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648 AS h
  FROM embeddings
),
cents AS (
  SELECT cv, row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
  FROM ranked ORDER BY h, vec_id LIMIT 8
),
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
dists AS (
  SELECT v.vec_id, c.cell,
         list_sum(list_transform(list_zip(v.ev, c.cv),
                                 s -> power(s[1] - s[2], 2))) AS d
  FROM vecs v CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cell, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
  FROM dists
)"""


@_register(
    "kmeans_assign_embeddings",
    # inertia sums per-row distances in 6-decimal fixed point: integer
    # sums are associative, so the total is identical under any
    # partial-aggregation order (a raw double sum rounded to 4 digits
    # can flip its last digit with partition count).
    _KMEANS_ASSIGN_CTE
    + """
SELECT CAST(cell AS INT) AS cluster, count(*) AS n_vectors,
       round(sum(CAST(floor(d * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS inertia
FROM assign WHERE rn = 1 GROUP BY cell""",
    ref="extension: Lloyd assignment step (literal-centroid squared-L2 argmin)",
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = V.initial_centroids(emb, k=8)
    micro = F.floor(F.col("sq_dist") * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        V.kmeans_assign(emb, cents)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum(micro) / 1000000.0, 4).alias("inertia"),
        )
    )


@_register(
    "kmeans_embeddings",
    None,  # rows-only: float centroid means compound across iterations
    # (sum-order-sensitive), unlike the discrete medoid trajectory that
    # lets kmedoids_k3 unroll into an exact SQL replay -- the
    # hash-checkable verdict lives in kmeans_quality_ci below
    ref="extension: full Lloyd's k-means over the embedding corpus",
)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = V.kmeans_embeddings(emb, k=8, max_iter=10, tol=1e-3)
    return V.kmeans_summary(res)


@_register(
    "kmeans_quality_ci",
    """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       TRUE AS all_assigned,
       TRUE AS clusters_within_k,
       TRUE AS inertia_nonincreasing
FROM embeddings""",
    ref="extension: external verdict for Lloyd's k-means (r7 verdict "
    "item 3, bernoulli_sample_ci pattern): the float centroid "
    "trajectory is not value-hashable, but the algorithm's invariants "
    "ARE -- every vector assigned exactly once, cluster ids in "
    "[0, k-1], and final inertia <= initial-assignment inertia "
    "(Lloyd's monotone-descent guarantee; both inertias are "
    "micro-quantized per row BEFORE the integer sum, so the comparison "
    "is immune to float aggregation order).  The oracle pins all three "
    "booleans TRUE; a broken assign/update step flips one and fails "
    "the external hash",
)
def q_kmeans_quality_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    res = V.kmeans_embeddings(emb, k=k, max_iter=10, tol=1e-3)
    # same deterministic LCG seed pick the loop itself started from
    init_cents = V.initial_centroids(emb, k=k)
    micro = F.floor(F.col("sq_dist") * 1000000 + F.lit(0.5)).cast("bigint")
    init = (
        V.kmeans_assign(emb, init_cents)
        .agg(F.sum(micro).alias("init_inertia_micro"))
    )
    fin = res.assignments.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.count("cluster").alias("n_clustered"),
        F.min("cluster").alias("c_min"),
        F.max("cluster").alias("c_max"),
        F.sum(micro).alias("fin_inertia_micro"),
    )
    tot = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return (
        tot.crossJoin(F.broadcast(fin))
        .crossJoin(F.broadcast(init))
        .select(
            "n_vectors",
            (
                (F.col("n_assigned") == F.col("n_vectors"))
                & (F.col("n_clustered") == F.col("n_vectors"))
            ).alias("all_assigned"),
            (
                (F.col("c_min") >= F.lit(0)) & (F.col("c_max") < F.lit(k))
            ).alias("clusters_within_k"),
            (
                F.col("fin_inertia_micro") <= F.col("init_inertia_micro")
            ).alias("inertia_nonincreasing"),
        )
    )


@_register(
    "embedding_range_search",
    """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) AS sim_raw
  FROM embeddings, q
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
)
SELECT vec_id, round(sim_raw, 4) AS sim FROM sims WHERE sim_raw >= 0.25""",
    ref="extension: threshold (radius) similarity search, narrow filter",
)
def q_embedding_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return V.cosine_range_search(emb, _query_vec(spark, sf_dir), threshold=0.25)


# ---------------------------------------------------------------------------
# relational shapes: Q14 / Q17 / Q18 / Q19 / Q22 patterns
# ---------------------------------------------------------------------------


@_register(
    "promo_revenue_ratio",
    """
SELECT round(100.0 * sum(CAST(floor((CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4)
         AS promo_revenue,
       round(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""",
    ref="conditional-aggregate ratio (TPC-H Q14 shape); broadcast dim join",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.floor(
                        F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0) * 1000000
                        + F.lit(0.5)
                    ).cast("bigint")
                )
                / 1000000.0,
                4,
            ).alias("promo_revenue"),
            stable_sum_micros(rev).alias("total_revenue"),
        )
    )


@_register(
    "small_qty_revenue",
    """
SELECT round(sum(CAST(floor((l.l_extendedprice) * 1000000 + 0.5) AS BIGINT)) / 1000000.0 / 7.0, 4) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (SELECT l_partkey, 0.5 * avg(l_quantity) AS qty_cap
      FROM lineitem GROUP BY l_partkey) t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4' AND l.l_quantity < t.qty_cap""",
    ref="correlated-average subquery (TPC-H Q17 shape) as agg + re-join",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    caps = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#4")),
            li.l_partkey == p.p_partkey,
        )
        .join(caps.withColumnRenamed("l_partkey", "_ck"), li.l_partkey == F.col("_ck"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * 1000000 + F.lit(0.5)).cast(
                        "bigint"
                    )
                )
                / 1000000.0
                / 7.0,
                4,
            ).alias("avg_yearly")
        )
    )


@_register(
    "large_orders",
    """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 4) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice""",
    ref="HAVING-filtered semi join-back (TPC-H Q18 shape)",
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


@_register(
    "disjunctive_parts_revenue",
    """
SELECT round(sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)""",
    ref="disjunctive multi-attribute predicate (TPC-H Q19 shape)",
)
def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#16")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(cond).agg(
        stable_sum_micros(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


@_register(
    "idle_rich_customers",
    """
WITH cutoff AS (
  SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT c.c_mktsegment, count(*) AS n_custs,
       round(sum(CAST(floor((c.c_acctbal) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS total_acctbal
FROM customer c, cutoff
WHERE c.c_acctbal > cutoff.a
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c.c_mktsegment""",
    ref="scalar subquery + anti join (TPC-H Q22 shape)",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cutoff = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            stable_sum_micros("c_acctbal").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# round-3 curation wave: per-source caps, deterministic training shards,
# corpus-statistics quality scoring
# ---------------------------------------------------------------------------

#: SQL fragment: normalized text (mirror of operators.dedup.normalize_text)
_NORM3 = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
#: SQL fragment: the LCG draw shared with operators.sampling.seed_hash
_LCG = "((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648"


@_register(
    "source_cap_50",
    f"""
SELECT doc_id, source, source_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {_LCG}, doc_id)
           AS source_rank
  FROM documents) WHERE source_rank <= 50""",
    ref="extension: per-source document cap (web-curation domain quota)",
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.curation import source_cap

    docs = load_table(spark, sf_dir, "documents")
    return source_cap(docs, max_per_source=50).select(
        "doc_id", "source", "source_rank"
    )


@_register(
    "training_shards",
    f"""
SELECT doc_id, CAST(h % 16 AS INT) AS shard,
       row_number() OVER (
         PARTITION BY h % 16
         ORDER BY ((h % 2147483648) * 1103515245 + 12345) % 2147483648, doc_id)
         AS pos
FROM (SELECT doc_id, {_LCG} AS h FROM documents)""",
    ref="extension: deterministic shuffle + sharding for training output",
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.curation import training_shards

    return training_shards(load_table(spark, sf_dir, "documents"), n_shards=16)


@_register(
    "token_frequency_score",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split({_NORM3}, ' ')) AS t FROM documents),
freqs AS (SELECT t, count(*) AS freq FROM tok GROUP BY t)
SELECT doc_id, count(*) AS n_tokens,
       round(sum(freq)::DOUBLE / count(*), 4) AS mean_token_freq,
       round(sum(CASE WHEN freq <= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
         AS rare_ratio
FROM tok JOIN freqs USING (t) GROUP BY doc_id""",
    ref="extension: corpus-frequency quality proxy (integer-exact unigram score)",
)
def q_token_frequency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import token_frequency_score

    return token_frequency_score(load_table(spark, sf_dir, "documents"))


# =========================================================================
# wave 10
# Round-3 coverage wave 10: embedding-index validation and semantic
# deduplication.
#
# - ``semantic_dedup``: SemDeDup-style pruning (cluster embeddings into
#   IVF k-means cells, drop every vector with a lower-id within-cell
#   neighbor above the cosine threshold).  The LLM-curation counterpart
#   of the text-side MinHash/SimHash dedup family, operating purely in
#   embedding space.
# - ``ann_recall_at10``: measured recall@10 of the IVF approximate top-k
#   against the exact brute-force top-k -- the validation query you run
#   on a sample before trusting an approximate index at full scale.
#   Registered as a first-class query so the driver's oracle replays the
#   whole IVF pipeline *and* its quality metric.
#
# Both oracles reuse the unrolled integer-k-means CTE chain
# (``_ivf_cells_sql``) that makes the IVF pipeline bit-exact in ANSI SQL.
#
# Reference parity note: the reference has no vector surface; this wave
# belongs to the LLM-data-pipeline extension mandated alongside SURVEY.md
# section 2.
# =========================================================================

@_register(
    "semantic_dedup",
    _ivf_cells_sql()
    + """
, un AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(ev, ev) = 0 THEN NULL
              ELSE list_transform(ev, v -> v / sqrt(list_dot_product(ev, ev)))
         END AS uv
  FROM vecs
),
dominated AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN un ua ON ua.vec_id = a.vec_id
  JOIN un ub ON ub.vec_id = b.vec_id
  WHERE round(list_dot_product(ua.uv, ub.uv), 4) >= 0.35
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dominated)""",
    ref="extension: SemDeDup-style semantic dedup (IVF cells + within-cell "
    "cosine pruning, keep-lowest-id); embedding-space counterpart of the "
    "MinHash/SimHash text dedup family",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, threshold=0.35).select("vec_id", "label")


@_register(
    "ann_recall_at10",
    _ivf_cells_sql()
    + """
, qi AS (SELECT unnest(q) AS x, unnest(generate_series(1, len(q))) AS d
       FROM iv WHERE vec_id = 0),
pd AS (SELECT c.cell, sum((c.cx - t.x) * (c.cx - t.x)) AS dist
       FROM c2 c JOIN qi t ON c.d = t.d GROUP BY 1),
probe AS (SELECT cell FROM (
       SELECT cell, row_number() OVER (ORDER BY dist, cell) AS rn FROM pd)
       WHERE rn <= 4),
asims AS (
  SELECT a.vec_id,
         list_dot_product(v.ev, qv)
         / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(qv, qv))) AS sim_raw
  FROM af a JOIN vecs v USING (vec_id), q
  WHERE a.cell IN (SELECT cell FROM probe)
),
approx AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY sim_raw DESC, vec_id) AS rn
  FROM asims WHERE sim_raw IS NOT NULL) WHERE rn <= 10),
esims AS (
  SELECT v.vec_id,
         list_dot_product(v.ev, qv)
         / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(qv, qv))) AS sim_raw
  FROM vecs v, q
),
exact AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY sim_raw DESC, vec_id) AS rn
  FROM esims WHERE sim_raw IS NOT NULL) WHERE rn <= 10)
SELECT 10 AS k, CAST(count(*) AS BIGINT) AS hits,
       round(count(*) / 10.0, 4) AS recall
FROM exact JOIN approx USING (vec_id)""",
    ref="extension: recall@10 of the IVF index vs the exact top-k -- "
    "index-quality validation as a first-class, oracle-replayed query",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_recall(emb, _query_vec(spark, sf_dir), k=10, n_probe=4)


@_register(
    "dedup_paragraphs",
    r"""
WITH norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(tk) AS tok,
         unnest(generate_series(1, len(tk))) - 1 AS pos
  FROM norm
),
chunks AS (
  SELECT doc_id, CAST(floor(pos / 10) AS INT) AS cpos,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM toks GROUP BY doc_id, CAST(floor(pos / 10) AS INT)
),
kept AS (
  SELECT doc_id, cpos, chunk,
         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, cpos) AS rk
  FROM chunks
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_chunks,
       string_agg(chunk, ' ' ORDER BY cpos) AS dedup_text
FROM kept WHERE rk = 1 GROUP BY doc_id""",
    ref="extension: C4/Dolma paragraph-granular dedup with document "
    "reassembly (span-level survivor selection, not whole-doc): "
    "operators/dedup.py dedup_paragraphs",
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import dedup_paragraphs

    return dedup_paragraphs(load_table(spark, sf_dir, "documents"))


@_register(
    "impute_props_k",
    """
WITH parsed AS (
  SELECT event_id, event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(sum(k) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           AS mean_micros
  FROM parsed WHERE k >= 10 GROUP BY event_type
)
SELECT p.event_id,
       CASE WHEN p.k < 10 THEN s.mean_micros ELSE p.k * 1000000 END
         AS k_micros_filled,
       p.k < 10 AS was_imputed
FROM parsed p JOIN stats s ON p.event_type = s.event_type""",
    ref="extension: missing-value imputation by per-group mean.  The "
    "'missing' mask is deterministic (k < 10 stands in for NULL; the "
    "driver corpus has no real nulls) and the imputed mean is exact "
    "integer micros (sum*1e6 div count -- associative, replayable), "
    "joined back as a broadcast of the tiny per-type stats table",
)
def q_impute_props_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    stats = (
        parsed.filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.expr("sum(k) * 1000000 div count(*)").alias("mean_micros")
        )
    )
    return (
        parsed.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            F.when(F.col("k") < 10, F.col("mean_micros"))
            .otherwise(F.col("k") * 1000000)
            .alias("k_micros_filled"),
            (F.col("k") < 10).alias("was_imputed"),
        )
    )


@_register(
    "streaming_enrich_static",
    """
SELECT e.event_id, f.first_seen_us
FROM events e
JOIN (SELECT user_id, min(epoch_us(ts)) AS first_seen_us
      FROM events GROUP BY user_id) f USING (user_id)""",
    ref="extension: stream-static broadcast enrichment (stateless join of "
    "the event stream against a batch-computed profile dim; batch twin is "
    "the oracle): streaming/jobs.py streaming_enrich_static",
)
def q_streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_enrich_static

    return streaming_enrich_static(spark, sf_dir)


# =========================================================================
# wave 33
# Round-3 coverage wave 33: diversity selection and quantile-sketch
# rollup.
#
# - ``kcenter_select_8``: greedy k-center / farthest-point traversal
#   (Gonzalez 1985) over the embeddings -- coreset/diversity selection
#   with a 2-approximate coverage radius.  Exact integer squared-L2 over
#   micro-quantized components makes the greedy trajectory bit-identical
#   across engines; the oracle unrolls the 8 selection rounds as
#   MATERIALIZED CTEs over the long-format (vec_id, i, qx) table.
# - ``qsketch_grain_rollup``: per-day p50/p90 of event value AND the
#   all-time quantiles, the total derived by MERGING the per-day
#   log-bucket sketches (adding counts) -- the quantile twin of
#   ``hll_mergeable_rollup``: one raw scan, any coarser grain is a
#   ~512-row bucket merge, never a rescan.
# =========================================================================

_K_CENTERS = 8

#: SQL twin of operators.sampling.seed_hash
_SEED_HASH = "((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648"


def _kcenter_oracle_sql(k: int) -> str:
    """Unrolled farthest-point traversal.  ``d{r}`` holds every
    vector's min squared distance to the first r centers; ``c{r+1}``
    is its argmax.  All MATERIALIZED: each round references the
    long-format table and its predecessor multiply."""
    parts = [
        f"""
WITH q AS MATERIALIZED (
  SELECT e.vec_id, CAST(t.i AS INT) AS i,
         CAST(floor(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000
                    + 0.5) AS BIGINT) AS qx
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
),
c1 AS MATERIALIZED (
  SELECT vec_id FROM embeddings ORDER BY {_SEED_HASH}, vec_id LIMIT 1),
d1 AS MATERIALIZED (
  SELECT q.vec_id,
         CAST(sum((q.qx - c.qx) * (q.qx - c.qx)) AS BIGINT) AS mind
  FROM q JOIN (SELECT i, qx FROM q
               WHERE vec_id = (SELECT vec_id FROM c1)) c USING (i)
  GROUP BY q.vec_id)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
c{r} AS MATERIALIZED (
  SELECT vec_id, mind FROM d{r - 1} ORDER BY mind DESC, vec_id LIMIT 1),
d{r} AS MATERIALIZED (
  SELECT d.vec_id, least(d.mind, dn.dist) AS mind
  FROM d{r - 1} d JOIN (
    SELECT q.vec_id,
           CAST(sum((q.qx - c.qx) * (q.qx - c.qx)) AS BIGINT) AS dist
    FROM q JOIN (SELECT i, qx FROM q
                 WHERE vec_id = (SELECT vec_id FROM c{r})) c USING (i)
    GROUP BY q.vec_id) dn USING (vec_id))"""
        )
    rounds = " UNION ALL ".join(
        f"SELECT {r} AS round, vec_id, CAST(mind AS BIGINT) AS radius_sq FROM c{r}"
        for r in range(2, k + 1)
    )
    parts.append(
        f"""
SELECT 1 AS round, (SELECT vec_id FROM c1) AS vec_id,
       CAST(0 AS BIGINT) AS radius_sq
UNION ALL {rounds}"""
    )
    return "".join(parts)


@_register(
    "kcenter_select_8",
    _kcenter_oracle_sql(_K_CENTERS),
    ref="extension: greedy k-center diversity/coreset selection "
    "(Gonzalez 1985 farthest-point, 2-approx radius) -- per round one "
    "literal-center narrow map + TakeOrderedAndProject argmax, k-vector "
    "driver state (Cluster.java:310-386 iterate doctrine); exact "
    "integer distances, bit-identical trajectory",
)
def q_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.vectors import kcenter_select

    return kcenter_select(
        load_table(spark, sf_dir, "embeddings"), k=_K_CENTERS
    )


def _qsketch_rollup_sql() -> str:
    from mapreduce6240project_spark.operators.sketch import (
        QSKETCH_BID_SQL,
        QSKETCH_REP_SQL,
    )

    bid = QSKETCH_BID_SQL.format(m="m")
    rep = QSKETCH_REP_SQL.format(b="bid")
    return f"""
WITH mm AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS m
  FROM events
),
day_b AS MATERIALIZED (
  SELECT day, {bid} AS bid, CAST(count(*) AS BIGINT) AS n
  FROM mm WHERE m >= 0 GROUP BY 1, 2
),
tot_b AS (SELECT bid, CAST(sum(n) AS BIGINT) AS n FROM day_b GROUP BY bid),
g AS (
  SELECT day AS grain_key, bid, n FROM day_b
  UNION ALL
  SELECT 'all' AS grain_key, bid, n FROM tot_b
),
c AS (
  SELECT grain_key, bid, n,
         CAST(sum(n) OVER (PARTITION BY grain_key ORDER BY bid) AS BIGINT)
           AS cum,
         CAST(sum(n) OVER (PARTITION BY grain_key) AS BIGINT) AS total
  FROM g
),
q AS (SELECT unnest(['p50', 'p90']) AS label, unnest([5000, 9000]) AS q10k),
sel AS (
  SELECT grain_key, label, min(bid) AS bid, max(total) AS n_total
  FROM c, q WHERE cum >= (q10k * total + 9999) // 10000
  GROUP BY grain_key, label
)
SELECT grain_key, label, {rep} AS est_micros,
       CAST(n_total AS BIGINT) AS n_total
FROM sel"""


@_register(
    "qsketch_grain_rollup",
    _qsketch_rollup_sql(),
    ref="extension: mergeable quantile-sketch rollup (per-day log-bucket "
    "sketches summed into the all-time sketch; one raw scan, coarser "
    "grains are ~512-row bucket merges) -- the quantile twin of "
    "hll_mergeable_rollup",
)
def q_qsketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sketch import (
        quantile_sketch_estimate_grouped,
        quantile_sketch_grouped,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    # checkpointed once for both grains (same discipline as
    # hll_mergeable_rollup)
    day_b = checkpoint(quantile_sketch_grouped(ev, "value", group_cols=("day",)))
    tot_b = day_b.groupBy("bid").agg(F.sum("n").cast("bigint").alias("n"))
    g = day_b.select(F.col("day").alias("grain_key"), "bid", "n").unionByName(
        tot_b.select(F.lit("all").alias("grain_key"), "bid", "n")
    )
    quantiles = {"p50": 0.5, "p90": 0.9}
    return quantile_sketch_estimate_grouped(
        g, quantiles, group_cols=("grain_key",)
    )


# =========================================================================
# wave 34
# Round-3 coverage wave 34: spectral iteration and join-size
# estimation.
#
# - ``pca_power_top``: dominant principal direction by 40 rounds of
#   power iteration over the EXACT integer covariance numerator (the
#   synthetic embeddings' eigengap is small -- lambda2/lambda1 ~ 0.93
#   -- so convergence is genuinely slow; rounds are driver-side integer
#   matvecs and 64-row oracle CTEs, both cheap) -- all
#   integer arithmetic (max-abs renormalization with floor-on-magnitude
#   division), so the whole trajectory replays bit-for-bit in SQL.  The
#   data-sized work is the covariance (Arrow-batched Gram partials);
#   the iteration itself is d^2-bounded driver state, like the kmedoids
#   medoid list.
# - ``join_size_cms``: equi-join cardinality estimated WITHOUT running
#   the join, via the Count-Min/AMS sketch inner product
#   ``min_i sum_p cmsL[i][p] * cmsR[i][p]`` -- what a cost-based
#   optimizer consults before choosing broadcast vs shuffle.  Exact
#   size computed alongside for calibration; the estimator never
#   underestimates.
# =========================================================================

_PCA_ITERS = 40


def _pca_oracle_sql(iters: int) -> str:
    """Unrolled integer power iteration.  MATERIALIZED throughout: the
    covariance CTE is referenced every round, and each v{r} references
    u{r} (which references v{r-1}) multiply."""
    parts = [
        """
WITH q AS MATERIALIZED (
  SELECT e.vec_id, CAST(t.i AS INT) - 1 AS i,
         CAST(floor(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000
                    + 0.5) AS BIGINT) AS qx
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
),
n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
s AS MATERIALIZED (
  SELECT i, CAST(sum(qx) AS HUGEINT) AS s_i FROM q GROUP BY i),
g AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS HUGEINT) AS s_ij
  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
c AS MATERIALIZED (
  SELECT g.i, g.j,
         (SELECT n FROM n) * g.s_ij - sa.s_i * sb.s_i AS cv
  FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i),
v0 AS MATERIALIZED (
  SELECT i, CAST(CASE WHEN i = 0 THEN 1000000 ELSE 0 END AS HUGEINT) AS v
  FROM s)"""
    ]
    for r in range(1, iters + 1):
        parts.append(
            f""",
u{r} AS MATERIALIZED (
  SELECT c.i, sum(c.cv * v.v) AS u
  FROM c JOIN v{r - 1} v ON c.j = v.i GROUP BY c.i),
m{r} AS MATERIALIZED (SELECT max(abs(u)) AS m FROM u{r}),
v{r} AS MATERIALIZED (
  SELECT u.i,
         CASE WHEN (SELECT m FROM m{r}) = 0 THEN pv.v
              ELSE (CASE WHEN u.u >= 0 THEN 1 ELSE -1 END)
                   * (abs(u.u) * 1000000 // (SELECT m FROM m{r})) END AS v
  FROM u{r} u JOIN v{r - 1} pv ON u.i = pv.i)"""
        )
    parts.append(f"\nSELECT i, CAST(v AS BIGINT) AS v FROM v{iters}")
    return "".join(parts)


@_register(
    "pca_power_top",
    _pca_oracle_sql(_PCA_ITERS),
    ref="extension: dominant principal direction via integer power "
    "iteration on the exact covariance numerator (max-abs "
    "renormalization, floor-on-magnitude division -- trunc-vs-floor "
    "cannot diverge); data-sized work = one Gram pass, iteration = "
    "d^2-bounded driver state (Cluster.java:310-386 doctrine)",
)
def q_pca_power_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.vectors import pca_power_top

    return pca_power_top(
        load_table(spark, sf_dir, "embeddings"), iterations=_PCA_ITERS
    )


_L_CTE = (
    "SELECT CAST(user_id AS VARCHAR) AS uid FROM events "
    "WHERE event_type = 'click'"
)
_R_CTE = (
    "SELECT CAST(user_id AS VARCHAR) AS uid FROM events "
    "WHERE event_type = 'purchase'"
)


@_register(
    "join_size_cms",
    cms_inner_product_oracle_sql(_L_CTE, _R_CTE, "uid"),
    ref="extension: join-cardinality estimation by CMS/AMS sketch inner "
    "product (Alon-Matias-Szegedy) -- two d*w-bounded sketch passes + "
    "a broadcast-sized counter join estimate |clicks JOIN purchases| "
    "without running the join; exact size alongside for calibration",
)
def q_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").cast("string").alias("uid")
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("uid")
    )
    return cms_inner_product(left, right, "uid")


# =========================================================================
# wave 41
# Round-3 coverage wave 41: decayed trending and an embedding-label
# separability audit.
#
# - ``trending_event_types``: exponentially time-decayed counts per event
#   type (decay 0.9/day) -- the "trending now" ranking.  The decay curve
#   is a 64-row table of Python-precomputed integer literals embedded in
#   BOTH the Spark plan and the SQL oracle, so neither engine calls
#   pow()/exp() and libm last-ulp differences cannot flip a value.
# - ``label_scatter_ratio``: Fisher-style between/within scatter over the
#   labeled embeddings in exact milli-quantized integer arithmetic -- the
#   audit that says whether the label column separates in embedding space
#   before it is trusted for stratified sampling or contrastive mining.
# =========================================================================

_AGES = ", ".join(str(a) for a in range(len(DECAY_MICRO)))
_DECAYS = ", ".join(str(d) for d in DECAY_MICRO)


@_register(
    "trending_event_types",
    f"""
WITH by_day AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
),
mx AS (SELECT max(day) AS maxd FROM by_day),
decay AS (SELECT unnest([{_AGES}]) AS age, unnest([{_DECAYS}]) AS decay_micro)
SELECT b.event_type, CAST(sum(b.n * d.decay_micro) AS BIGINT) AS score_micro
FROM by_day b, mx
JOIN decay d ON d.age = least(mx.maxd - b.day, {len(DECAY_MICRO) - 1})
GROUP BY 1
ORDER BY score_micro DESC, event_type""",
    ref="extension: exponentially decayed trending scores -- (type, day) "
    "counts joined to a 64-row literal integer decay table; no libm on "
    "either engine",
)
def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trending_scores(load_table(spark, sf_dir, "events"))


@_register(
    "label_scatter_ratio",
    """
WITH q AS (
  SELECT e.label AS lbl, CAST(t.i AS INT) - 1 AS d,
         CAST(floor(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000
                    + 0.5) AS BIGINT) AS qx
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
),
ls AS (SELECT lbl, d, sum(qx) AS s, count(*) AS n FROM q GROUP BY 1, 2),
lm AS (SELECT lbl, d, s // n AS mu_l, n FROM ls),
gm AS (SELECT d, sum(s) // sum(n) AS mu_g FROM ls GROUP BY 1),
w AS (
  SELECT CAST(sum((q.qx - lm.mu_l) * (q.qx - lm.mu_l)) AS BIGINT) AS within
  FROM q JOIN lm ON q.lbl = lm.lbl AND q.d = lm.d
),
b AS (
  SELECT CAST(sum(lm.n * (lm.mu_l - gm.mu_g) * (lm.mu_l - gm.mu_g)) AS BIGINT)
           AS between
  FROM lm JOIN gm ON lm.d = gm.d
),
nl AS (SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_labels FROM embeddings)
SELECT nl.n_labels, b.between, w.within,
       CAST(b.between // greatest(w.within // 1000000, 1) AS BIGINT) AS ratio_micro
FROM nl, b, w""",
    ref="extension: Fisher between/within scatter of labeled embeddings "
    "in exact milli-quantized integer arithmetic -- (label x dim) mean "
    "table, two explode passes, d-bounded aggregates",
)
def q_label_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_scatter_ratio(load_table(spark, sf_dir, "embeddings"))


# =========================================================================
# wave 70
# Round-3 coverage wave 70: embedding isotropy and bounce rate.
#
# - ``embedding_isotropy_audit``: anisotropy check -- the mean cosine
#   between each vector and the corpus centroid.  Transformer embeddings
#   famously collapse into a narrow cone (mean cosine near 1), which
#   wrecks cosine-based retrieval; this is the audit that detects it.
#   One d-bounded centroid aggregate + one narrow cosine pass; the mean
#   is micro-quantized per row before summation so the aggregate is
#   order-independent.
# - ``session_bounce_rate``: fraction of 30-minute-gap sessions with
#   exactly one event -- the bounce metric of product analytics, on the
#   same session CTE family as session_window / session_path_top10.
# =========================================================================

@_register(
    "embedding_isotropy_audit",
    """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (
  -- centroid in 6-decimal fixed point: integer sum + truncating div,
  -- so mu is bit-exact under any aggregation order / engine (a float
  -- avg here could shift a boundary cosine across the quantization
  -- step -- round-3 advice)
  SELECT CAST(t.i AS INT) AS i,
         sum(CAST(floor(v[CAST(t.i AS INT)] * 1000000 + 0.5) AS BIGINT))
           // count(*) AS mu_micro
  FROM vecs, unnest(range(1, len(v) + 1)) AS t(i)
  GROUP BY 1
),
cent AS (
  SELECT list(CAST(mu_micro AS DOUBLE) / 1000000 ORDER BY i) AS c FROM dims
),
cos AS (
  SELECT CAST(floor(
           list_dot_product(v, c)
           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)))
           * 1000000 + 0.5) AS BIGINT) AS cos_micro
  FROM vecs, cent
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(cos_micro) // count(*) AS BIGINT) AS mean_cos_micro,
       CAST(sum(CASE WHEN cos_micro > 500000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_cone
FROM cos""",
    ref="extension: embedding isotropy/anisotropy audit -- mean cosine "
    "to the corpus centroid (cone-collapse detector); d-bounded "
    "centroid + micro-quantized per-row cosines",
)
def q_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # centroid components as integer micro-sums + truncating div: the
    # mean is associative/order-free, so the centroid literal below is
    # bit-identical to the oracle's (a float avg could flip a boundary
    # cosine after quantization -- round-3 advice)
    dv = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
                    "bigint"
                ),
            )
        ).alias("i", "qx")
    )
    dims = (
        dv.groupBy("i")
        .agg(F.expr("sum(qx) div count(*)").alias("mu_micro"))
        .orderBy("i")
    )
    centroid = [r.mu_micro / 1_000_000 for r in dims.collect()]  # d-bounded
    c = F.array(*[F.lit(x) for x in centroid])
    from mapreduce6240project_spark.operators.similarity import cosine

    cos = emb.select(
        F.floor(cosine("embedding", c) * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("cos_micro")
    )
    return cos.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("sum(cos_micro) div count(*)").cast("bigint").alias(
            "mean_cos_micro"
        ),
        F.sum(F.when(F.col("cos_micro") > 500_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_in_cone"),
    )


@_register(
    "session_bounce_rate",
    """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS session
  FROM flagged
),
sizes AS (SELECT user_id, session, count(*) AS n FROM sess GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS bounce_permyriad
FROM sizes""",
    ref="extension: session bounce rate -- single-event sessions over "
    "the 30-min gaps-and-islands CTE; product-analytics KPI",
)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    flagged = ev.select(
        "user_id",
        "us",
        "event_id",
        F.expr(
            "CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us,"
            " event_id) IS NULL OR us - lag(us) OVER (PARTITION BY user_id"
            " ORDER BY us, event_id) >= 1800000000 THEN 1 ELSE 0 END"
        ).alias("new_s"),
    )
    sess = flagged.select(
        "user_id",
        F.expr(
            "sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id)"
        ).alias("session"),
    )
    sizes = sess.groupBy("user_id", "session").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.expr(
            "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000 div count(*)"
        )
        .cast("bigint")
        .alias("bounce_permyriad"),
    )


# =========================================================================
# wave 87
# Round-3 coverage wave 87: calendar densification, label-centroid
# affinity, cohort LTV.
#
# - ``calendar_fill_daily``: zero-filled continuous daily revenue series
#   -- the calendar densification every BI/forecast consumer needs
#   before differencing or window math (a missing day silently skews
#   moving averages; ``gapfill_locf`` carries values forward, this one
#   makes gaps EXPLICIT zeros).  The full day range is generated with
#   ``sequence`` + ``explode`` from the 1-row min/max aggregate (no
#   driver loop, no external calendar table) and left-joined to the
#   day aggregate.  Day arithmetic on integer epoch-day indices.
# - ``label_centroid_affinity``: pairwise cosine similarity between the
#   per-label embedding centroids -- the class-confusability matrix (two
#   labels whose centroids sit close will confuse any classifier;
#   the between-class companion to ``label_scatter_ratio``).  Centroids
#   are exact integer fixed-point means (posexplode -> truncating
#   per-(label, pos) mean, the ``kmeans_embeddings`` convention); the
#   pairwise cosine runs over the tiny label x dim table and is rounded
#   to micro units in double (identical expression both engines).
# - ``cohort_ltv_curve``: weekly-cohort cumulative-value (LTV) curve --
#   users cohorted by first-active ISO week, value summed per (cohort,
#   age-in-weeks) and accumulated along age: the table behind every
#   "payback by cohort" chart, the value-weighted companion to
#   ``retention_cohorts`` (which counts presence only).  Two user-keyed
#   shuffles plus a cumulative window over the bounded (cohort, age)
#   grid.
#
# Scale: sequence explode is driver-free generation; centroids reduce
# embeddings to labels x dims before any pairwise step; LTV windows run
# on the bounded cohort-age grid.
# =========================================================================

@_register(
    "calendar_fill_daily",
    """
WITH d AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_idx,
         count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_c
  FROM events GROUP BY 1
), bounds AS (
  SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM d
), cal AS (
  SELECT unnest(generate_series(lo, hi)) AS day_idx FROM bounds
)
SELECT CAST(cal.day_idx AS BIGINT) AS day_idx,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
       CAST(coalesce(d.v_c, 0) AS BIGINT) AS value_c
FROM cal LEFT JOIN d ON cal.day_idx = d.day_idx""",
    ref="extension: calendar densification -- sequence-generated full "
    "day range left-joined to the daily aggregate, explicit zeros for "
    "missing days; the densify step before any window math",
)
def q_calendar_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day_idx"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
        )
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_c").alias("v_c"))
    )
    cal = (
        d.agg(F.min("day_idx").alias("lo"), F.max("day_idx").alias("hi"))
        .select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day_idx")
        )
    )
    return cal.join(d, "day_idx", "left").select(
        F.col("day_idx").cast("bigint").alias("day_idx"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce(F.col("v_c"), F.lit(0)).cast("bigint").alias("value_c"),
    )


@_register(
    "label_centroid_affinity",
    """
WITH comp AS (
  SELECT label, CAST(t.i AS INT) - 1 AS pos,
         CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000)
              AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), cent AS (
  SELECT label, pos, CAST(sum(q) // count(*) AS BIGINT) AS c
  FROM comp GROUP BY 1, 2
), pair AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST(a.c AS HUGEINT) * b.c) AS dot,
         sum(CAST(a.c AS HUGEINT) * a.c) AS na,
         sum(CAST(b.c AS HUGEINT) * b.c) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS cos_micro
FROM pair""",
    ref="extension: pairwise cosine between per-label embedding "
    "centroids (class confusability) -- exact fixed-point centroid "
    "means (kmeans_embeddings convention), tiny label x dim pair join",
)
def q_label_centroid_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.expr("CAST(floor(x * 1000000) AS BIGINT)").alias("q"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.expr("CAST(sum(q) div count(*) AS BIGINT)").alias("c")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dec = lambda s: F.expr(s).cast("decimal(38,0)")  # noqa: E731
    pair = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(dec("a.c") * dec("b.c")).alias("dot"),
            F.sum(dec("a.c") * dec("a.c")).alias("na"),
            F.sum(dec("b.c") * dec("b.c")).alias("nb"),
        )
    )
    return pair.select(
        F.col("label_a").cast("bigint").alias("label_a"),
        F.col("label_b").cast("bigint").alias("label_b"),
        F.expr(
            "CAST(floor(CAST(dot AS DOUBLE)"
            " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("cos_micro"),
    )


@_register(
    "cohort_ltv_curve",
    """
WITH uw AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('week', ts) AS DATE)) AS wk,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c
  FROM events
), cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1
), cell AS (
  SELECT c.cohort_wk, (u.wk - c.cohort_wk) // 7 AS age_wk,
         count(DISTINCT u.user_id) AS n_users, sum(u.v_c) AS v_c
  FROM uw u JOIN cohort c ON u.user_id = c.user_id
  GROUP BY 1, 2
)
SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
       CAST(age_wk AS BIGINT) AS age_wk,
       CAST(n_users AS BIGINT) AS n_active_users,
       CAST(sum(v_c) OVER (PARTITION BY cohort_wk ORDER BY age_wk)
            AS BIGINT) AS cum_value_c
FROM cell""",
    ref="extension: weekly-cohort cumulative LTV curve -- first-active "
    "week cohorts, value per (cohort, age) cell, cumulative window "
    "over the bounded cohort-age grid; value-weighted "
    "retention_cohorts",
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("week", F.col("ts")).cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("wk"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    cell = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            F.expr("(wk - cohort_wk) div 7").alias("age_wk"),
        )
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.sum("v_c").alias("v_c"),
        )
    )
    w = Window.partitionBy("cohort_wk").orderBy("age_wk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cell.select(
        F.col("cohort_wk").cast("bigint").alias("cohort_wk"),
        F.col("age_wk").cast("bigint").alias("age_wk"),
        F.col("n_users").cast("bigint").alias("n_active_users"),
        F.sum("v_c").over(w).cast("bigint").alias("cum_value_c"),
    )


# =========================================================================
# round 7: binary-embedding ANN (sign binarization + Hamming ranking)
#
# - ``binary_hamming_topk``: 1-bit-per-dimension vector search -- the
#   cheap first stage of a binary-quantized retrieval cascade (rank by
#   sign-pattern disagreements, refine survivors with exact cosine).
#   The score is INTEGER-exact on both engines: no IEEE arithmetic
#   anywhere in the ranking, so the oracle needs no micro-rounding.
#   Same no-shuffle TakeOrderedAndProject plan as embedding_topk; at
#   100 TB the 64-bit signatures are 32x smaller than the float rows
#   and scan-bound, with exact re-ranking touching only the k
#   survivors.
# =========================================================================


@_register(
    "binary_hamming_topk",
    """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
h AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, 64),
           i -> CASE WHEN (embedding[i] >= 0) = (qv[i] >= 0)
                THEN 0 ELSE 1 END)) AS hamming
  FROM embeddings, q
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
    AND len(embedding) = 64
)
SELECT vec_id, CAST(hamming AS INT) AS hamming
FROM h ORDER BY hamming, vec_id LIMIT 10""",
    ref="extension: binary-quantized ANN first stage (sign bits + "
    "Hamming top-k, integer-exact ranking)",
)
def q_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hamming_topk(emb, _query_vec(spark, sf_dir), k=10)
