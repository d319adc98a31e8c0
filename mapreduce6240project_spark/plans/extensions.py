"""Extension queries (dedup / similarity / text analysis / multimodal /
windows / streaming) registered into the shared REGISTRY.

Oracle philosophy: everything whose kernel is reproducible in ANSI SQL
gets a full DuckDB oracle (exact dedup via md5, relational n-gram
Jaccard, cosine top-k in explicit double arithmetic, the full IVF
pipeline -- LCG centroid draw, argmax cell assignment, probe & search --
window/session analytics in epoch seconds).  The probabilistic dedup
methods are oracle-backed through hash-independent contracts:
``dedup_minhash_lsh`` exact-verifies its LSH candidates against the
n-gram Jaccard ground truth (so its output equals the relational
oracle whenever band recall is complete, which tests/test_dedup.py
asserts on the planted duplicates), and ``dedup_simhash`` runs the
md5-hash variant whose 60-bit fingerprint any SQL engine reproduces
bit-for-bit (the xxhash64 variant stays the production default).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce6240project_spark.operators import dedup as D
from mapreduce6240project_spark.operators import multimodal as M
from mapreduce6240project_spark.operators import similarity as S
from mapreduce6240project_spark.operators import textstats as TX
from mapreduce6240project_spark.operators import windows as W
from mapreduce6240project_spark.operators.sketch import cms_oracle_sql
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.sources.tables import load_table

#: SQL fragment: normalized text (mirror of operators.dedup.normalize_text)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
#: SQL fragment: whitespace token count of normalized text
_NTOK = f"len(string_split({_NORM}, ' '))"


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact",
    f"""
SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents GROUP BY 1""",
    ref="extension: exact dedup (hash-groupBy); cf. random.java's distinct draw",
    headline=True,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def _ngram_jaccard_sql(threshold: float) -> str:
    """Exact word-3-gram Jaccard pairs >= threshold (the relational
    ground truth the probabilistic dedup methods approximate)."""
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= 3 THEN list_transform(
                    generate_series(1, len(w) - 2),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                  ELSE [concat_ws(' ', w)] END) AS s
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}"""


def _simhash_md5_sql(max_hamming: int) -> str:
    """All-pairs Hamming <= max_hamming over the md5-variant 60-bit
    SimHash -- a bit-for-bit replica of operators.dedup.simhash with
    token_hash="md5" (hex-to-int on md5's first 15 nibbles, majority
    vote per bit).  The Spark side restricts candidates to pairs sharing
    a 15-bit chunk, which by pigeonhole loses nothing at Hamming <= 3,
    so no chunk condition is needed here."""
    bit_sums = ",\n         ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(60)
    )
    fp = " + ".join(f"CASE WHEN 2*b{b} > n THEN {1 << b} ELSE 0 END" for b in range(60))
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents)
),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, count(*) AS n,
         {bit_sums}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


@_register(
    "dedup_ngram_jaccard",
    _ngram_jaccard_sql(0.1),
    ref="extension: exact n-gram-set Jaccard (relational ground truth for LSH)",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.1
    )


@_register(
    "dedup_minhash_lsh",
    # candidate generation (MinHash bands) is xxhash64-based, but the
    # exact-verify stage makes the *output* hash-independent: LSH pairs
    # whose true n-gram Jaccard >= 0.5, i.e. the relational ground
    # truth whenever band recall is complete (asserted on the planted
    # duplicates in tests/test_dedup.py).
    _ngram_jaccard_sql(0.5),
    ref="extension: MinHash(64) + 16-band LSH candidates, exact-verified",
    headline=True,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # raw banded candidates (no est-Jaccard scoring pass: the exact
    # verify subsumes it, and skipping it keeps the signature arrays
    # out of the pair join)
    cand = D.minhash_candidate_pairs(docs)
    return D.jaccard_verified_pairs(docs, cand, threshold=0.5)


@_register(
    "dedup_simhash",
    _simhash_md5_sql(3),
    ref="extension: SimHash + chunked Hamming near-dup pairs (md5 variant)",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        max_hamming=3,
        token_hash="md5",
    )


@_register(
    "doc_fingerprint",
    f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
    ref="extension: document fingerprinting (md5 of normalized text)",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.doc_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


#: session-scoped memo of the benchmark query vector: a 64-float
#: CONSTANT of the (immutable) data directory.  A real deployment holds
#: the query vector as a request parameter; re-running the point-lookup
#: job on every call charged the ANN queries a fixed ~0.3 s
#: driver-latency tax that has nothing to do with the search itself.
#: Weak session keys drop the memo with its session, as in
#: sources.tables._TABLE_CACHE.
_QUERY_VEC_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, list[float]]]" = (
    weakref.WeakKeyDictionary()
)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    per_session = _QUERY_VEC_MEMO.setdefault(spark, {})
    memo = per_session.get(sf_dir)
    if memo is not None:
        return memo
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    vec = [float(x) for x in row.embedding]
    per_session[sf_dir] = vec
    return vec


@_register(
    "embedding_topk",
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
SELECT vec_id, round(sim_raw, 4) AS sim
FROM sims WHERE sim_raw IS NOT NULL
ORDER BY sim_raw DESC, vec_id LIMIT 10""",
    ref="extension: brute-force cosine top-k (exact ANN baseline)",
    headline=True,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


# The IVF pipeline is fully deterministic (LCG seed draw -> integer
# Lloyd refinement -> integer-L2 cell assignment -> probe/search), so
# the *whole* approximate index is SQL-expressible.  The k-means runs
# in 6-decimal fixed-point integer arithmetic (operators.similarity):
# integer sums are associative, so the oracle reproduces every
# centroid, assignment, and probe bit-for-bit regardless of engine or
# partitioning; only the final within-cell cosine runs in doubles
# (identical left-to-right 64-element folds on both sides).


def _ivf_cells_sql(iters: int = 2) -> str:
    """CTE chain replicating operators.similarity.ivf_centroids +
    ivf_assign: quantize, seed by lowest LCG hash, ``iters`` unrolled
    integer-Lloyd rounds (assign by integer L2, tie -> lowest cell;
    truncating integer mean; empty cells keep their centroid), final
    assignment ``af`` and double-typed vectors ``vecs``/``q``.

    Null contract (matches operators.similarity.ivf_assign /
    ivf_centroids): vectors that are NULL or contain NULL elements are
    excluded from seeding, assignment, and the ``vecs`` cosine scan --
    ``iv``/``vecs`` carry the filter, and the seed draw ``sr`` reads
    from the filtered ``iv`` exactly like Spark's ``valid`` frame.
    ``nc`` keeps counting the FULL table (Spark sizes n_cells from
    the eager embeddings row count before filtering)."""
    ctes = [
        """
WITH iv AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
vl AS (SELECT vec_id, unnest(q) AS x, unnest(generate_series(1, len(q))) AS d FROM iv),
nc AS (SELECT CAST(least(4096, greatest(4, ceil(sqrt(count(*))))) AS BIGINT) AS c
       FROM embeddings),
sr AS (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY ((vec_id % 2147483648) * 1103515245 + 12345) % 2147483648,
                    vec_id) AS rn
  FROM iv
),
c0 AS (
  SELECT sr.rn - 1 AS cell, v.d, v.x AS cx
  FROM sr JOIN vl v USING (vec_id) WHERE sr.rn <= (SELECT c FROM nc)
)"""
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(
            f""",
d{i} AS (SELECT v.vec_id, c.cell, sum((v.x - c.cx) * (v.x - c.cx)) AS dist
       FROM vl v JOIN {prev} c ON v.d = c.d GROUP BY 1, 2),
a{i} AS (SELECT vec_id, cell FROM (
       SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       FROM d{i}) WHERE rn = 1),
u{i} AS (SELECT a.cell, v.d, sum(v.x) AS s, count(*) AS n
       FROM a{i} a JOIN vl v USING (vec_id) GROUP BY 1, 2),
c{i} AS (SELECT {prev}.cell, {prev}.d, COALESCE(u{i}.s // u{i}.n, {prev}.cx) AS cx
       FROM {prev} LEFT JOIN u{i} ON u{i}.cell = {prev}.cell AND u{i}.d = {prev}.d)"""
        )
        prev = f"c{i}"
    ctes.append(
        f""",
df AS (SELECT v.vec_id, c.cell, sum((v.x - c.cx) * (v.x - c.cx)) AS dist
       FROM vl v JOIN {prev} c ON v.d = c.d GROUP BY 1, 2),
af AS (SELECT vec_id, cell FROM (
       SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       FROM df) WHERE rn = 1),
vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
         WHERE embedding IS NOT NULL
           AND len(list_filter(embedding, x -> x IS NULL)) = 0),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)"""
    )
    return "".join(ctes)


@_register(
    "ann_ivf_topk",
    _ivf_cells_sql()
    + """,
qi AS (SELECT unnest(q) AS x, unnest(generate_series(1, len(q))) AS d
       FROM iv WHERE vec_id = 0),
pd AS (SELECT c.cell, sum((c.cx - t.x) * (c.cx - t.x)) AS dist
       FROM c2 c JOIN qi t ON c.d = t.d GROUP BY 1),
probe AS (SELECT cell FROM (
       SELECT cell, row_number() OVER (ORDER BY dist, cell) AS rn FROM pd)
       WHERE rn <= 4),
sims AS (
  SELECT a.vec_id,
         list_dot_product(v.ev, qv)
         / (sqrt(list_dot_product(v.ev, v.ev)) * sqrt(list_dot_product(qv, qv))) AS sim_raw
  FROM af a JOIN vecs v USING (vec_id), q
  WHERE a.cell IN (SELECT cell FROM probe)
)
SELECT vec_id, round(sim_raw, 4) AS sim
FROM sims WHERE sim_raw IS NOT NULL
ORDER BY sim_raw DESC, vec_id LIMIT 10""",
    ref="extension: IVF approximate top-k (integer k-means cells, scale path)",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(emb, _query_vec(spark, sf_dir), k=10, n_probe=4)


@_register(
    "embedding_dup_pairs",
    _ivf_cells_sql()
    + """
, un AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(ev, ev) = 0 THEN NULL
              ELSE list_transform(ev, v -> v / sqrt(list_dot_product(ev, ev)))
         END AS uv
  FROM vecs
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(ua.uv, ub.uv), 4) AS cos_sim
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN un ua ON ua.vec_id = a.vec_id
  JOIN un ub ON ub.vec_id = b.vec_id
) WHERE cos_sim >= 0.35""",
    ref="extension: embedding-cosine near-dup pairs (k-means IVF candidates)",
)
def q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@_register(
    "token_count",
    f"SELECT doc_id, {_NTOK} AS n_tokens FROM documents",
    ref="extension: whitespace token counting",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.token_count("text").alias("n_tokens"))


def _marker_hits_sql(words: tuple[str, ...]) -> str:
    padded = f"concat(' ', {_NORM}, ' ')"
    parts = [
        f"(length({padded}) - length(replace({padded}, ' {w} ', ''))) / {len(w) + 2}"
        for w in words
    ]
    return "CAST(" + " + ".join(parts) + " AS INT)"


@_register(
    "lang_id",
    f"""
SELECT doc_id,
  CASE WHEN greatest(s_en, s_es, s_fr, s_de) <= 0 THEN 'unknown'
       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
       WHEN s_fr >= s_de THEN 'fr'
       ELSE 'de' END AS pred_lang
FROM (
  SELECT doc_id,
    {_marker_hits_sql(("the", "and", "of", "to", "is"))} AS s_en,
    {_marker_hits_sql(("el", "la", "los", "que", "es"))} AS s_es,
    {_marker_hits_sql(("le", "la", "les", "et", "est"))} AS s_fr,
    {_marker_hits_sql(("der", "die", "das", "und", "ist"))} AS s_de
  FROM documents
)""",
    ref="extension: marker-based language ID heuristic",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


@_register(
    "text_quality",
    f"""
SELECT doc_id,
  CASE WHEN _tnull THEN NULL ELSE n_tokens END AS n_tokens,
  CASE WHEN _tnull THEN NULL ELSE punct_ratio END AS punct_ratio,
  CASE WHEN _tnull THEN NULL ELSE stopword_ratio END AS stopword_ratio,
  CASE WHEN _tnull THEN NULL ELSE avg_word_len END AS avg_word_len,
  -- NULL text -> NULL everywhere (dirty-text contract): DuckDB's
  -- null-skipping least()/greatest() would otherwise score a textless
  -- document 0.28 while Spark's scored it 0.58
  CASE WHEN _tnull THEN NULL ELSE
    floor((len_band * 0.4 + (1 - least(punct_ratio * 5, 1.0)) * 0.3
           + least(stopword_ratio * 3, 1.0) * 0.3) * 10000 + 0.5) / 10000.0
  END AS quality
FROM (
  SELECT doc_id, _tnull, n_tokens,
    round(n_punct / greatest(n_chars_norm, 1), 4) AS punct_ratio,
    round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
    round(CAST(n_chars_norm - (n_tokens - 1) AS DOUBLE) / greatest(n_tokens, 1), 4)
      AS avg_word_len,
    CASE WHEN n_chars_norm < 50 THEN 0.2 WHEN n_chars_norm < 200 THEN 0.6
         WHEN n_chars_norm < 2000 THEN 1.0 ELSE 0.7 END AS len_band
  FROM (
    SELECT doc_id,
      text IS NULL AS _tnull,
      length({_NORM}) AS n_chars_norm,
      {_NTOK} AS n_tokens,
      length({_NORM}) - length(regexp_replace({_NORM}, '[^a-z0-9 ]', '', 'g'))
        AS n_punct,
      CAST({_marker_hits_sql(("the", "and", "of", "to", "is"))} AS DOUBLE) AS stop_hits
    FROM documents
  )
)""",
    ref="extension: document quality scoring (length/punct/stopword ratios)",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


@_register(
    "text_stats",
    f"""
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       round(avg(n_tok), 4) AS avg_tokens, max(n_chars) AS max_chars
FROM (SELECT lang, n_chars, {_NTOK} AS n_tok FROM documents)
GROUP BY lang""",
    ref="extension: per-language corpus statistics",
    headline=True,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.text_stats(load_table(spark, sf_dir, "documents"))


@_register(
    "vocab_top50",
    f"""
WITH tok AS (SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents)
SELECT token, count(*) AS n FROM tok GROUP BY token
ORDER BY n DESC, token LIMIT 50""",
    ref="extension: vocabulary building (corpus token frequency top-k)",
)
def q_vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.vocab_topk(load_table(spark, sf_dir, "documents"), k=50)


@_register(
    "cms_heavy_hitters",
    cms_oracle_sql(
        f"SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents",
        "token",
        topk=20,
    ),
    ref="extension: Count-Min sketch heavy hitters (token frequency "
    "estimates vs exact ground truth; sketch + estimate fully "
    "oracle-replayable)",
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(D.tokens("text")).alias("token"))
    sketch = cms_build(occ, "token")
    top = (
        occ.groupBy("token")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "token")
        .limit(20)
    )
    return cms_estimate(sketch, top, "token")


@_register(
    "tfidf_top_terms",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS n_t FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, token, n_t,
              sum(n_t) OVER (PARTITION BY doc_id) AS n_doc FROM tf),
dfreq AS (SELECT token, count(*) AS df_t FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         floor(CAST(n_t AS DOUBLE) / n_doc * ln(n_docs / df_t) * 10000 + 0.5)
         / 10000 AS tfidf
  FROM dl JOIN dfreq USING (token), n
)
SELECT doc_id, token, tfidf FROM (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored)
WHERE rn <= 3""",
    ref="extension: per-document tf-idf keyword extraction",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tfidf_top_terms(load_table(spark, sf_dir, "documents"), top_n=3)


@_register(
    "pack_chunks_2k",
    f"""
SELECT doc_id, n_t AS n_tokens,
       CAST((sum(n_t) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_t) // 2048
            AS BIGINT) AS chunk_id
FROM (SELECT doc_id, {_NTOK} AS n_t FROM documents)""",
    ref="extension: sequence packing (concat in id order, cut every 2048 tokens)",
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pack_chunks(load_table(spark, sf_dir, "documents"), budget=2048)


# ---------------------------------------------------------------------------
# consistent sampling (train/eval splits)
# ---------------------------------------------------------------------------

#: LCG hash of a key column, as SQL (operators.sampling.seed_hash mirror)
_LCG = "(({k} % 2147483648) * 1103515245 + 12345) % 2147483648"


@_register(
    "hash_sample_customers",
    f"""
SELECT c_custkey, c_acctbal FROM customer
WHERE {_LCG.format(k='c_custkey')} < {int(0.1 * 2147483648)}""",
    ref="extension: consistent hash sample (deterministic train/eval split)",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sampling import hash_sample

    cust = load_table(spark, sf_dir, "customer")
    return hash_sample(cust, 0.1, key="c_custkey").select("c_custkey", "c_acctbal")


_STRATA_FRACTIONS = {"O": 0.05, "F": 0.2, "P": 0.5}


@_register(
    "stratified_sample_orders",
    f"""
SELECT o_orderkey, o_orderstatus FROM orders
WHERE {_LCG.format(k='o_orderkey')} < CASE o_orderstatus
  WHEN 'O' THEN {int(0.05 * 2147483648)}
  WHEN 'F' THEN {int(0.2 * 2147483648)}
  WHEN 'P' THEN {int(0.5 * 2147483648)}
  ELSE 0 END""",
    ref="extension: stratified consistent sample (per-class fractions)",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sampling import stratified_hash_sample

    orders = load_table(spark, sf_dir, "orders")
    return stratified_hash_sample(
        orders, _STRATA_FRACTIONS, strata_col="o_orderstatus", key="o_orderkey"
    ).select("o_orderkey", "o_orderstatus")


@_register(
    "weighted_sample_orders",
    # A-ES priority sampling replayed in SQL: identical u (integer LCG
    # hash), identical priority expression u^(1/w).  Cross-engine pow
    # differs by <=1 ulp (~2e-16) while adjacent priority gaps at this
    # k are ~1e-8, so the selected set is stable.
    f"""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         power(({_LCG.format(k='o_orderkey')} + 1) / 2147483649.0,
               1.0 / o_totalprice) AS p
  FROM orders WHERE o_totalprice > 0
) ORDER BY p DESC, o_orderkey LIMIT 200""",
    ref="extension: weighted sample w/o replacement (Efraimidis-Spirakis A-ES)",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sampling import (
        weighted_priority_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    return weighted_priority_sample(
        orders, k=200, weight_col="o_totalprice", key="o_orderkey"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


_MIX_TARGETS = {"en": 0.5, "es": 0.25, "fr": 0.25}


@_register(
    "corpus_curation",
    # the full curation pipeline, every stage replayed in SQL: quality
    # scoring (shared with text_quality) -> lang + threshold filter ->
    # exact dedup survivors -> mixture resample (thresholds recomputed
    # with the driver's IEEE op order) -> per-lang stats.  avg quality
    # is summed as exact 4-dp integers so sum order cannot flip the hash
    f"""
WITH q AS (
  SELECT doc_id,
    floor((len_band * 0.4 + (1 - least(punct_ratio * 5, 1.0)) * 0.3
           + least(stopword_ratio * 3, 1.0) * 0.3) * 10000 + 0.5) / 10000.0 AS quality
  FROM (
    SELECT doc_id,
      round(n_punct / greatest(n_chars_norm, 1), 4) AS punct_ratio,
      round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
      CASE WHEN n_chars_norm < 50 THEN 0.2 WHEN n_chars_norm < 200 THEN 0.6
           WHEN n_chars_norm < 2000 THEN 1.0 ELSE 0.7 END AS len_band
    FROM (
      SELECT doc_id,
        length({_NORM}) AS n_chars_norm,
        {_NTOK} AS n_tokens,
        length({_NORM}) - length(regexp_replace({_NORM}, '[^a-z0-9 ]', '', 'g'))
          AS n_punct,
        CAST({{marker}} AS DOUBLE) AS stop_hits
      FROM documents
    )
  )
),
good AS (
  SELECT d.doc_id, d.lang, d.text, q.quality
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= 0.6 AND d.lang IN ('en', 'es', 'fr')
),
surv AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5({_NORM})),
kept AS (SELECT g.* FROM good g JOIN surv USING (doc_id)),
tgt(lang, share) AS (VALUES ('en', 0.5), ('es', 0.25), ('fr', 0.25)),
cnt AS (SELECT lang, count(*) AS n FROM kept GROUP BY lang),
tot AS (SELECT min(n / share) AS total FROM cnt JOIN tgt USING (lang)),
thr AS (
  SELECT lang, CAST(trunc(LEAST(1.0, share * total / n) * 2147483648) AS BIGINT) AS t
  FROM cnt JOIN tgt USING (lang), tot
),
mixed AS (
  SELECT k.* FROM kept k JOIN thr USING (lang)
  WHERE {_LCG.format(k='k.doc_id')} < t
)
SELECT lang, count(*) AS n_docs,
       floor(CAST(sum(CAST(floor(quality * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) + 0.5) / 10000.0 AS avg_quality
FROM mixed GROUP BY lang""".replace(
        "{marker}", _marker_hits_sql(("the", "and", "of", "to", "is"))
    ),
    ref="extension: end-to-end corpus curation (quality gate -> exact "
    "dedup -> mixture resample), the training-data composition",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    q = TX.quality_score(docs).select("doc_id", "quality")
    good = (
        docs.join(q.filter(F.col("quality") >= 0.6), "doc_id")
        .filter(F.col("lang").isin("en", "es", "fr"))
        .select("doc_id", "lang", "text", "quality")
    )
    surv = D.exact_dedup(good).select("doc_id")
    kept = good.join(surv, "doc_id", "left_semi")
    mixed = mixture_resample(kept, _MIX_TARGETS, strata_col="lang", key="doc_id")
    sum_q = F.sum(F.floor(F.col("quality") * 10000 + F.lit(0.5)).cast("bigint"))
    return mixed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.floor(sum_q.cast("double") / F.count("*") + F.lit(0.5)) / 10000.0).alias(
            "avg_quality"
        ),
    )


@_register(
    "mixture_resample_docs",
    # recomputes the driver's thresholds in SQL with the same IEEE
    # double op order: total = min(n/share); frac = least(1, share *
    # total / n); threshold = trunc(frac * 2^31) (trunc matches
    # Python's int(), where a bare BIGINT cast would round)
    f"""
WITH tgt(lang, share) AS (VALUES ('en', 0.5), ('es', 0.25), ('fr', 0.25)),
cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT min(n / share) AS total FROM cnt JOIN tgt USING (lang)),
thr AS (
  SELECT lang, CAST(trunc(LEAST(1.0, share * total / n) * 2147483648) AS BIGINT) AS t
  FROM cnt JOIN tgt USING (lang), tot
)
SELECT d.doc_id, d.lang FROM documents d JOIN thr USING (lang)
WHERE {_LCG.format(k='d.doc_id')} < t""",
    ref="extension: corpus mixture resampling (downsample strata to target shares)",
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_resample(docs, _MIX_TARGETS, strata_col="lang", key="doc_id").select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@_register(
    "multimodal_meta",
    """
SELECT doc_id AS media_id, 'image' AS kind,
       octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5
FROM documents""",
    ref="extension: opaque-binary media metadata pass (no decode)",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    return M.media_metadata(media)


@_register(
    "multimodal_decode",
    # the stub decoder is deterministic (mean byte value of the UTF-8
    # payload), so the whole mapInPandas path is oracle-checkable: the
    # documents are ASCII, hence byte mean == codepoint mean.
    """
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       round(CASE WHEN octet_length(encode(text)) = 0 THEN 0.0
             ELSE list_sum(list_transform(generate_series(1, length(text)),
                                          i -> ord(text[i])))::DOUBLE
                  / octet_length(encode(text)) END, 4) AS feat_mean,
       CAST(64 AS INT) AS feat_dim
FROM documents""",
    ref="extension: Arrow-batched decode/feature plumbing (stubbed codec)",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    return M.decode_and_featurize(media)


@_register(
    "multimodal_decode_real",
    # the golden blobs are FORMULA-defined (operators.multimodal
    # golden_*_payload): pixel byte j of an even id d is
    # (d*31 + j*7) % 256 over an 8x8 RGB raster; sample j of an odd id
    # is ((d*13 + j*17) % 65536) - 32768 over 96 PCM-16 samples.  The
    # oracle replays the integer formulas directly -- it never sees the
    # container bytes -- so any parser defect (header off-by-one,
    # endianness slip, chunk-walk bug) shifts the decoded mean and
    # fails the external hash.  n_bytes pins the exact container sizes
    # (11-byte PPM header + 192; 44-byte WAV header + 192).
    """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 32),
img AS (
  SELECT CAST(i.doc_id AS BIGINT) AS media_id, 'image' AS kind,
         CAST(203 AS INT) AS n_bytes,
         floor(CAST(sum((i.doc_id*31 + t.j*7) % 256) AS DOUBLE) / 192.0
               * 10000 + 0.5) / 10000 AS feat_mean,
         CAST(192 AS INT) AS feat_dim
  FROM ids i, range(192) t(j)
  WHERE i.doc_id % 2 = 0 GROUP BY i.doc_id),
aud AS (
  SELECT CAST(i.doc_id AS BIGINT) AS media_id, 'audio' AS kind,
         CAST(236 AS INT) AS n_bytes,
         floor(CAST(sum((i.doc_id*13 + t.j*17) % 65536 - 32768) AS DOUBLE) / 96.0
               * 10000 + 0.5) / 10000 AS feat_mean,
         CAST(96 AS INT) AS feat_dim
  FROM ids i, range(96) t(j)
  WHERE i.doc_id % 2 = 1 GROUP BY i.doc_id)
SELECT * FROM img UNION ALL SELECT * FROM aud""",
    ref="extension (round-6 verdict item 3): REAL stdlib codec path -- "
    "struct-built PPM/WAV golden blobs parsed back by the independent "
    "grammar parsers (multimodal.parse_ppm/parse_wav), features "
    "externally hashed against the generating integer formulas",
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 32)
    )
    return M.decode_and_featurize(M.synth_golden_media(ids), decode_stub=False)


@_register(
    "wav_audio_features",
    # signal-level features through the REAL PCM-16 decode: the golden
    # WAV blobs are formula-defined (sample j of odd id d is
    # ((d*13 + j*17) % 65536) - 32768), and both features are INTEGER
    # aggregates of the decoded samples -- zero_crossings counts strict
    # sign flips between consecutive samples, energy_sum is the sum of
    # squared amplitudes -- so the oracle replays the integer formula
    # with a lag() window and matches bit-exactly.  Any parser defect
    # (chunk walk, endianness, sample alignment) shifts samples and
    # flips both features.
    """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 32 AND doc_id % 2 = 1),
s AS (
  SELECT i.doc_id AS media_id, t.j,
         (i.doc_id*13 + t.j*17) % 65536 - 32768 AS v
  FROM ids i, range(96) t(j)),
w AS (
  SELECT media_id, v,
         lag(v) OVER (PARTITION BY media_id ORDER BY j) AS pv
  FROM s)
SELECT media_id,
       CAST(96 AS INT) AS n_samples,
       CAST(count(*) FILTER (WHERE (pv < 0 AND v > 0)
                                OR (v < 0 AND pv > 0)) AS INT)
         AS zero_crossings,
       CAST(sum(v * v) AS BIGINT) AS energy_sum
FROM w GROUP BY media_id""",
    ref="extension: real-codec audio features (zero-crossing rate + "
    "signal energy) -- integer-exact descriptors of the parsed PCM-16 "
    "stream, Arrow-batched mapInPandas, decode-after-filter",
)
def q_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") < 32) & (F.col("doc_id") % 2 == 1))
    )
    return M.audio_features(M.synth_golden_media(ids))


@_register(
    "multimodal_resize",
    # the stub payload bytes aren't SQL-expressible, but the sizing
    # contract is: exactly one row per blob, constant out dims, payload
    # padded/truncated to exactly out_w*out_h bytes
    """
SELECT doc_id AS media_id, CAST(32 AS INT) AS out_w, CAST(32 AS INT) AS out_h,
       CAST(1024 AS INT) AS n_bytes
FROM documents""",
    ref="extension: Arrow-batched image resize plumbing (stubbed resampler)",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    return M.resize(media, out_w=32, out_h=32).select(
        "media_id", "out_w", "out_h", "n_bytes"
    )


@_register(
    "multimodal_frames",
    # per-frame md5 over the byte stride at each frame offset.  The
    # engine slices the BINARY payload; DuckDB lacks blob slicing, so
    # the oracle slices the source text -- equal because the documents
    # are ASCII (char == byte), the same precondition multimodal_decode
    # already relies on.
    """
WITH m AS (
  SELECT doc_id AS media_id, text,
         greatest(octet_length(encode(text)) // 64, 1) AS nf
  FROM documents
), x AS (
  SELECT media_id, text, unnest(generate_series(0, nf - 1)) AS i FROM m
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
       md5(substring(text, CAST(i AS INT) * 64 + 1, 64)) AS frame_digest
FROM x""",
    ref="extension: video frame sampling plumbing (stride digest stub)",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    return M.frame_sample(media, every_n_bytes=64)


# ---------------------------------------------------------------------------
# event windows (batch) + streaming twins
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
       event_type, count(*) AS n, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2"""


@_register(
    "tumbling_window",
    _TUMBLING_ORACLE,
    ref="extension: tumbling event-time window (F.window)",
    headline=True,
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.tumbling_window(load_table(spark, sf_dir, "events"))


@_register(
    "gapfill_locf",
    """
WITH agg AS (
  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket,
         event_type AS k, count(*) AS n, round(sum(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS sum_value
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
rng AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM agg),
spine AS (
  SELECT k, unnest(generate_series(lo, hi, 600)) AS bucket
  FROM (SELECT DISTINCT k FROM agg), rng
)
SELECT s.bucket AS window_start, s.k AS event_type,
       COALESCE(a.n, 0) AS n,
       last_value(a.sum_value IGNORE NULLS) OVER (
         PARTITION BY s.k ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
FROM spine s LEFT JOIN agg a ON a.k = s.k AND a.bucket = s.bucket""",
    ref="extension: gap-filled resampling + LOCF (hypertable "
    "time_bucket_gapfill/locf pattern)",
)
def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.gapfill_locf(load_table(spark, sf_dir, "events"))


@_register(
    "sliding_window",
    """
SELECT window_start, count(*) AS n,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0 / count(*), 4) AS avg_value
FROM (
  SELECT CAST(floor(epoch(ts) / 300) * 300 - off * 300 AS BIGINT) AS window_start, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off)
  WHERE ts IS NOT NULL
)
GROUP BY window_start""",
    ref="extension: sliding/hopping window (F.window width+slide)",
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sliding_window(load_table(spark, sf_dir, "events"))


@_register(
    "session_window",
    """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session
  FROM flagged
)
SELECT user_id, CAST(floor(min(us) / 1000000) AS BIGINT) AS session_start,
       count(*) AS n_events,
       CAST(floor((max(us) - min(us)) / 1000000) AS BIGINT) AS duration_s
FROM sess GROUP BY user_id, session""",
    ref="extension: sessionization (gaps-and-islands; streaming twin uses session_window)",
    headline=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return W.sessionize(load_table(spark, sf_dir, "events"))


@_register(
    "streaming_tumbling",
    _TUMBLING_ORACLE,  # deterministic on bounded input -> same oracle as batch
    ref="extension: Structured Streaming tumbling window (memory sink)",
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_tumbling

    return streaming_tumbling(spark, sf_dir)


@_register(
    "streaming_sessions",
    # session_window merges events with inter-arrival gap < 30 min --
    # exactly the batch gaps-and-islands recurrence; on a bounded
    # one-shot stream the result is deterministic, so the batch oracle
    # applies (projected to this query's columns).
    """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session
  FROM flagged
)
SELECT user_id, CAST(floor(min(us) / 1000000) AS BIGINT) AS session_start,
       count(*) AS n_events
FROM sess GROUP BY user_id, session""",
    ref="extension: Structured Streaming session_window",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import streaming_sessions

    return streaming_sessions(spark, sf_dir)


@_register(
    "wav_silence_spans",
    # VAD-lite over the REAL PCM-16 decode: silence runs (|v| < 3277,
    # 10% of full scale) of the formula-defined golden WAV stream,
    # counted via gaps-and-islands; zero-silence media keep a row with
    # zeroed counters.  Any decode defect (chunk walk, endianness,
    # alignment) shifts samples and flips the span counts.
    """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 32 AND doc_id % 2 = 1),
s AS (
  SELECT i.doc_id AS media_id, t.j,
         (i.doc_id*13 + t.j*17) % 65536 - 32768 AS v
  FROM ids i, range(96) t(j)),
sil AS (
  SELECT media_id, j,
         j - row_number() OVER (PARTITION BY media_id ORDER BY j) AS grp
  FROM s WHERE abs(v) < 3277),
spans AS (
  SELECT media_id, grp, count(*) AS len FROM sil GROUP BY 1, 2),
agg AS (
  SELECT media_id, CAST(count(*) AS INT) AS n_silence_spans,
         CAST(sum(len) AS INT) AS silent_samples,
         CAST(max(len) AS INT) AS longest_span
  FROM spans GROUP BY media_id)
SELECT CAST(i.doc_id AS BIGINT) AS media_id, CAST(96 AS INT) AS n_samples,
       coalesce(a.n_silence_spans, 0) AS n_silence_spans,
       coalesce(a.silent_samples, 0) AS silent_samples,
       coalesce(a.longest_span, 0) AS longest_span
FROM ids i LEFT JOIN agg a ON a.media_id = i.doc_id""",
    ref="extension: real-codec silence-span detection (VAD-lite trim/"
    "segment statistic) -- integer-exact span counts of the parsed "
    "PCM-16 stream, Arrow-batched mapInPandas "
    "(operators/multimodal.audio_silence_spans)",
)
def q_wav_silence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter((F.col("doc_id") < 32) & (F.col("doc_id") % 2 == 1))
    )
    # NULL-feature rows would mean a golden blob failed to parse --
    # surfaced as-is, so the oracle fails loudly on any decode defect
    return M.audio_silence_spans(M.synth_golden_media(ids))
