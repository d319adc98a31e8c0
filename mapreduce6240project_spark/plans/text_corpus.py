"""text statistics, tokenizer training, language modeling, corpus-naturalness and vocabulary-growth analytics.

Consolidated from the round-3 coverage waves (round-4 verdict item
7: thematic domain modules instead of flat wave numbering).  Each
section below is the original wave body verbatim; registry names,
oracles and semantics are unchanged (guarded by the registry
snapshot test and the full sf0.01 mirror).

* wave 25: Round-3 coverage wave 25: percentile ranks, collocations, and the
* wave 29: Round-3 coverage wave 29: training-example preparation.
* wave 32: Round-3 coverage wave 32: tokenizer training, PCA input, vocabulary
* wave 35: Round-3 coverage wave 35: co-occurrence pair generation and
* wave 36: Round-3 coverage wave 36: positional phrase retrieval and two
* wave 37: Round-3 coverage wave 37: statistical language modeling over the
* wave 42: Round-3 coverage wave 42: tokenizer-efficiency and graph-extent
* wave 50: Round-3 coverage wave 50: byte-level tokenizer planning and
* wave 51: Round-3 coverage wave 51: T5-style span corruption and a daily
* wave 71: Round-3 coverage wave 71: corpus-naturalness statistics.
* wave 76: Round-3 coverage wave 76: cross-document repetition and classical
* wave 82: Round-3 coverage wave 82: Poisson bootstrap, sentence segmentation,
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from mapreduce6240project_spark.operators.ranking import stratum_order_stats
from mapreduce6240project_spark.plans.extensions import _NORM
from mapreduce6240project_spark.plans.registry import _register
from mapreduce6240project_spark.sources.tables import load_table
from pyspark.sql import DataFrame, SparkSession, Window
from mapreduce6240project_spark.functions.hashing import hash60
from mapreduce6240project_spark.operators.curation import (
    bigram_coverage,
    skipgram_pairs_topk,
    trigram_novelty,
)
from mapreduce6240project_spark.operators.retrieval import phrase_match
from mapreduce6240project_spark.operators.similarity import knn_graph, matryoshka_recall
from mapreduce6240project_spark.plans.extensions import _ivf_cells_sql, _query_vec
from mapreduce6240project_spark.operators.textstats import (
    bigram_lm_continuations,
    chartrigram_lang_id,
)
from mapreduce6240project_spark.plans.retrieval import _SIMGRAPH_PAIRS_CTE
from mapreduce6240project_spark.plans.extensions import _ivf_cells_sql
from mapreduce6240project_spark.functions.hashing import hash60, hash60_sql

# =========================================================================
# wave 25
# Round-3 coverage wave 25: percentile ranks, collocations, and the
# left-outer streaming join.
#
# - ``doc_size_pct_rank``: per-stratum percentile rank as an EXACT
#   integer -- ``((rn-1)*1e6) div (n-1)`` micro-units from the shared
#   range-exchange rank helper (operators.ranking), so the score is
#   identical across engines and scales with no per-lang window funnel.
#   The quantile-normalization primitive for curation pipelines.
# - ``bigram_pmi_top20``: collocation mining -- pointwise mutual
#   information of corpus bigrams (count >= 5), marginals from the
#   unigram table.  One token explode feeds both count tables; the PMI
#   expression is written identically in both engines (same IEEE op
#   order) and micro-floored before the deterministic top-20.
# - ``streaming_left_join``: watermarked stream-stream LEFT OUTER
#   interval join -- the null-padded unmatched-click rows only exist
#   once the watermark proves no match can arrive, which is exactly the
#   semantics a batch engine gets for free and a streaming engine has to
#   earn with state eviction.  Output restricted to settled clicks (2 h
#   before max event time); the batch left join under the same cutoff is
#   the value-hash oracle.
#
# Reference parity note: extends SURVEY.md section 2.11 (streaming) with
# outer-join state semantics and the text-analytics family with
# collocation scoring.
# =========================================================================

@_register(
    "doc_size_pct_rank",
    """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
  WHERE n_chars IS NOT NULL
)
SELECT doc_id, lang,
       CASE WHEN n > 1 THEN ((rn - 1) * 1000000) // (n - 1)
            ELSE 0 END AS pct_micro
FROM ranked""",
    ref="extension: exact integer percentile rank per stratum "
    "(quantile-normalization primitive); rank via the shared "
    "range-exchange + pid-offsets helper, no per-lang window funnel",
)
def q_doc_size_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL size has no defined percentile -- and the engines disagree
    # on where bare ASC puts NULLs (Spark first, DuckDB last), so an
    # unfiltered NULL row would shift EVERY rank in its stratum by one
    # (dirty-text contract finding); exclusion on both sides is the
    # only cross-engine-stable contract
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("n_chars").isNotNull())
    )
    ranked = stratum_order_stats(
        docs, strata=["lang"], order=["n_chars", "doc_id"]
    )
    pct = F.when(
        F.col("n") > 1,
        F.expr("((rn - 1) * 1000000) div (n - 1)"),
    ).otherwise(F.lit(0).cast("bigint"))
    return ranked.select("doc_id", "lang", pct.alias("pct_micro"))


@_register(
    "bigram_pmi_top20",
    f"""
WITH toks AS (
  SELECT string_split({_NORM}, ' ') AS w FROM documents
),
uni AS (
  SELECT unnest(w) AS tok FROM toks
),
uni_counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok
),
n1 AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni_counts),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> struct_pack(a := w[i], b := w[i + 1])))
         AS p
  FROM toks WHERE len(w) >= 2
),
bg_counts AS (
  SELECT p.a AS wa, p.b AS wb, CAST(count(*) AS BIGINT) AS cab
  FROM bg GROUP BY 1, 2
),
n2 AS (SELECT CAST(sum(cab) AS BIGINT) AS t FROM bg_counts),
scored AS (
  SELECT wa, wb, cab,
         CAST(floor(ln((CAST(cab AS DOUBLE) * n1.t * n1.t)
                       / (CAST(n2.t AS DOUBLE) * ca.c * cb.c))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_micro
  FROM bg_counts
  JOIN uni_counts ca ON bg_counts.wa = ca.tok
  JOIN uni_counts cb ON bg_counts.wb = cb.tok, n1, n2
  WHERE cab >= 5
)
SELECT wa, wb, cab, pmi_micro FROM scored
ORDER BY pmi_micro DESC, wa, wb LIMIT 20""",
    ref="extension: collocation mining via pointwise mutual information "
    "(bigram vs unigram marginals, identical IEEE expression order in "
    "both engines, micro-floored, deterministic top-20)",
)
def q_bigram_pmi_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        tokens("text").alias("w")
    )
    uni = docs.select(F.explode("w").alias("tok"))
    uni_counts = uni.groupBy("tok").agg(F.count("*").alias("c"))
    n1 = uni_counts.agg(F.sum("c").alias("t1"))
    pairs = docs.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(slice(w, 1, size(w) - 1),"
                " (x, i) -> struct(x AS a, element_at(w, i + 2) AS b))"
            )
        ).alias("p")
    )
    bg_counts = pairs.groupBy(
        F.col("p.a").alias("wa"), F.col("p.b").alias("wb")
    ).agg(F.count("*").alias("cab"))
    n2 = bg_counts.agg(F.sum("cab").alias("t2"))
    ca = uni_counts.select(F.col("tok").alias("wa"), F.col("c").alias("c_a"))
    cb = uni_counts.select(F.col("tok").alias("wb"), F.col("c").alias("c_b"))
    scored = (
        bg_counts.filter(F.col("cab") >= 5)
        .join(ca, "wa")
        .join(cb, "wb")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "wa",
            "wb",
            "cab",
            F.floor(
                F.log(
                    (F.col("cab").cast("double") * F.col("t1") * F.col("t1"))
                    / (F.col("t2").cast("double") * F.col("c_a") * F.col("c_b"))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), "wa", "wb").limit(20)


@_register(
    "streaming_left_join",
    """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
cutoff AS (
  SELECT min(m) - 7200000000 AS cut
  FROM (SELECT max(epoch_us(ts)) AS m FROM events
        WHERE event_type IN ('click', 'purchase') GROUP BY event_type)
)
SELECT c.click_id,
       CAST(coalesce(p.purchase_id, -1) AS BIGINT) AS purchase_id
FROM clicks c
LEFT JOIN purchases p
  ON c.user_id = p.user_id
 AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000, cutoff
WHERE c.c_us <= cutoff.cut""",
    ref="extension: watermarked stream-stream LEFT OUTER interval join "
    "(null-padded rows emitted on state eviction); batch left join "
    "under the settled-clicks cutoff is the value-hash oracle",
)
def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.streaming import (
        streaming_click_purchase_left,
    )

    return streaming_click_purchase_left(spark, sf_dir)


# =========================================================================
# wave 29
# Round-3 coverage wave 29: training-example preparation.
#
# - ``vocab_encode_docs``: tokenizer-style id encoding -- a top-256
#   frequency vocabulary (rank = id, deterministic count-then-token
#   tie-break) broadcast into one corpus pass that maps every token to
#   its id (OOV -> 0) and truncates to the first 64 positions.  Each
#   example is summarized as (length, id checksum) so the oracle
#   hash-checks the whole encoded sequence without comparing array
#   renderings -- same convention as ``feature_hashing``.
# - ``mlm_mask_plan``: deterministic BERT/T5-style masking plan -- a
#   token position is masked iff ``md5(doc_id, pos) % 100 < 15`` (15%
#   rate).  Reports per-doc mask counts and the checksum of masked
#   positions, so the plan (not just the rate) is value-verified.  The
#   hash-gated decision makes the "random" corruption reproducible
#   across engines, runs, and partitionings -- exactly what a training
#   pipeline needs for resumable preprocessing.
#
# Reference parity note: LLM-pipeline extension surface; composes with
# ``pack_chunks_2k`` (packing) and ``training_shards`` (sharding).
# =========================================================================

_VOCAB = 256
_MAXLEN = 64
_MASK_PCT = 15


@_register(
    "vocab_encode_docs",
    f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split({_NORM}, ' ')) AS tok,
         generate_subscripts(string_split({_NORM}, ' '), 1) AS pos
  FROM documents
),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS id
  FROM tok GROUP BY tok
  ORDER BY count(*) DESC, tok LIMIT {_VOCAB}
),
enc AS (
  SELECT tok.doc_id, tok.pos, COALESCE(vocab.id, 0) AS id
  FROM tok LEFT JOIN vocab ON tok.tok = vocab.tok
  WHERE tok.pos <= {_MAXLEN}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS seq_len,
       CAST(sum(pos * id) AS BIGINT) AS ids_checksum
FROM enc GROUP BY doc_id""",
    ref="extension: vocabulary id-encoding (top-256 rank vocab "
    "broadcast into one corpus pass, OOV=0, truncate 64); encoded "
    "sequence verified via position-weighted integer checksum",
)
def q_vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    )
    tok = docs.select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "tok"
    )
    counts = tok.groupBy("tok").agg(F.count("*").alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB)
        .select(
            "tok",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "tok"))
            .alias("id"),
        )
    )
    enc = (
        tok.filter(F.col("pos") <= _MAXLEN)
        .join(F.broadcast(vocab), "tok", "left")
        .select("doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id"))
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("seq_len"),
        F.sum(F.col("pos") * F.col("id")).alias("ids_checksum"),
    )


@_register(
    "mlm_mask_plan",
    f"""
WITH pos AS (
  SELECT doc_id,
         generate_subscripts(string_split({_NORM}, ' '), 1) AS p
  FROM documents
),
masked AS (
  SELECT doc_id, p,
         CASE WHEN ('0x' || substr(md5(doc_id || ':' || p), 1, 15))::BIGINT
                   % 100 < {_MASK_PCT}
              THEN 1 ELSE 0 END AS m
  FROM pos
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(m) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN m = 1 THEN p ELSE 0 END) AS BIGINT)
         AS masked_pos_checksum
FROM masked GROUP BY doc_id""",
    ref="extension: deterministic MLM masking plan (md5(doc,pos) mod "
    "100 < 15) -- reproducible across engines/partitionings; the plan "
    "itself is verified via the masked-position checksum",
)
def q_mlm_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    pos = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("p"))
    h = hash60(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("p").cast("string"),
        )
    )
    m = F.when(h % 100 < _MASK_PCT, 1).otherwise(0)
    masked = pos.select("doc_id", "p", m.alias("m"))
    return masked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("m").alias("n_masked"),
        F.sum(F.when(F.col("m") == 1, F.col("p")).otherwise(0)).alias(
            "masked_pos_checksum"
        ),
    )


# =========================================================================
# wave 32
# Round-3 coverage wave 32: tokenizer training, PCA input, vocabulary
# coverage.
#
# - ``bpe_merges_10``: BPE tokenizer TRAINING (Sennrich et al. 2016) --
#   the first 10 learned merge rules from corpus word frequencies.  The
#   Spark side is the kmedoids-style driver loop (distributed pair count
#   + 1-row collect per round); the oracle unrolls the 10 rounds as
#   MATERIALIZED CTEs, with merge application pinned to leftmost
#   non-overlapping replace-scan semantics (identical in both engines).
# - ``embedding_covariance``: exact integer d x d covariance numerator
#   via per-Arrow-batch numpy Gram partials (mapInPandas) summed in
#   DECIMAL(38,0) -- the PCA/whitening input without the per-row d^2
#   explode.  Oracle recomputes from a d^2 unnest self-join (fine at
#   oracle scale; the Spark plan is the one that survives 100 TB).
# - ``vocab_coverage_100``: cumulative corpus-coverage curve of the
#   top-100 vocabulary (what fraction of token instances the top-k
#   tokens cover) -- the standard vocab-size diagnostic; all-integer
#   micro shares.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_BPE_MERGES = 10
_BPE_TOP_WORDS = 200


def _bpe_oracle_sql(n_merges: int, top_words: int) -> str:
    """Unrolled BPE training rounds.  Every w{r}/m{r} is MATERIALIZED:
    each round references its predecessor multiply, so default inlining
    would expand exponentially (the same hazard as the k-core CTEs)."""
    parts = [
        f"""
WITH tok AS (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM documents),
wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok WHERE w <> ''
       GROUP BY w ORDER BY freq DESC, w LIMIT {top_words}),
w0 AS MATERIALIZED (
  SELECT w, freq,
         ' ' || array_to_string(list_transform(range(1, length(w) + 1),
                                               i -> substr(w, i, 1)), ' ')
             || ' ' AS seq
  FROM wf)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT syms[i] AS pa, syms[i+1] AS pb, CAST(sum(freq) AS BIGINT) AS n
  FROM (SELECT freq, string_split(trim(seq), ' ') AS syms FROM w{r - 1}),
       unnest(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2),
m{r} AS MATERIALIZED (
  SELECT {r} AS round, pa, pb, n FROM p{r} ORDER BY n DESC, pa, pb LIMIT 1),
w{r} AS MATERIALIZED (
  SELECT w, freq,
         replace(seq,
                 ' ' || (SELECT pa FROM m{r}) || ' ' || (SELECT pb FROM m{r}) || ' ',
                 ' ' || (SELECT pa FROM m{r}) || (SELECT pb FROM m{r}) || ' ') AS seq
  FROM w{r - 1})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, n_merges + 1))
    parts.append(f"\n{union}")
    return "".join(parts)


@_register(
    "bpe_merges_10",
    _bpe_oracle_sql(_BPE_MERGES, _BPE_TOP_WORDS),
    ref="extension: BPE tokenizer training (Sennrich et al. 2016) -- "
    "corpus-sized word-frequency pass, then vocabulary-sized merge "
    "rounds with 1-row driver collects (Cluster.java:310-386 iterate "
    "pattern); merge application = leftmost non-overlapping replace "
    "scan, pinned identically in both engines",
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import bpe_learn_merges

    return bpe_learn_merges(
        load_table(spark, sf_dir, "documents"),
        n_merges=_BPE_MERGES,
        top_words=_BPE_TOP_WORDS,
    )


_COV_SQL = """
WITH q AS (
  SELECT e.vec_id, CAST(t.i AS INT) - 1 AS i,
         CAST(floor(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000
                    + 0.5) AS BIGINT) AS qx
  FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
),
n AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n FROM embeddings),
s AS (SELECT i, CAST(sum(qx) AS DECIMAL(38,0)) AS s_i FROM q GROUP BY i),
g AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS DECIMAL(38,0)) AS s_ij
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
)
SELECT g.i, g.j,
       -- exact integer rendered as text: DECIMAL(38,0) leaves both
       -- BIGINT range (n^2 * 1e12 micros^2 passes 2^63 near n ~ 3000)
       -- and pandas' lossless dtypes, so the compare column is the
       -- decimal's digits
       CAST(CAST((SELECT n FROM n) * g.s_ij - sa.s_i * sb.s_i
                 AS DECIMAL(38,0)) AS VARCHAR) AS cov_num
FROM g JOIN s sa ON g.i = sa.i JOIN s sb ON g.j = sb.i"""


@_register(
    "embedding_covariance",
    _COV_SQL,
    ref="extension: exact integer covariance numerator (PCA/whitening "
    "input) -- per-Arrow-batch numpy Gram partials via mapInPandas, "
    "d^2-bounded task state, DECIMAL(38,0) cross-batch sums; no "
    "per-row d^2 explode at any scale",
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.vectors import embedding_covariance

    return embedding_covariance(load_table(spark, sf_dir, "embeddings"))


_VOCAB_COVERAGE_SQL = f"""
WITH tok AS (SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents),
vf AS MATERIALIZED (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM vf),
top AS (SELECT token, n FROM vf ORDER BY n DESC, token LIMIT 100),
ranked AS (
  SELECT token, n,
         CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS k,
         CAST(sum(n) OVER (ORDER BY n DESC, token
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cum_n
  FROM top
)
SELECT k, token, n, cum_n,
       -- BIGINT floor division on both engines (cum_n * 1e6 < 2^63
       -- up to ~9e12 corpus tokens; beyond that, scale the micro
       -- factor down): DECIMAL '//' in DuckDB rounds, BIGINT doesn't
       CAST(cum_n * 1000000 // (SELECT n_total FROM tot) AS BIGINT)
         AS share_micro
FROM ranked
ORDER BY k"""


@_register(
    "vocab_coverage_100",
    _VOCAB_COVERAGE_SQL,
    ref="extension: vocabulary coverage curve (cumulative share of "
    "token instances covered by the top-k vocab) -- vocab-sized "
    "running-sum window after one corpus count pass; integer micro "
    "shares",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.fanout import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    vf = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("n"))
    # n_total from the vocab-sized aggregate (one corpus pass), folded
    # in as a literal; the ranked window then runs over ONLY the
    # top-100 rows (TakeOrderedAndProject first -- no whole-vocab
    # single-partition window at any scale)
    n_total = vf.agg(F.sum("n").alias("t")).collect()[0].t
    top = vf.orderBy(F.desc("n"), "token").limit(100)
    w_rank = Window.orderBy(F.desc("n"), "token")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("k", F.row_number().over(w_rank).cast("bigint"))
        .withColumn("cum_n", F.sum("n").over(w_cum).cast("bigint"))
        .select(
            "k",
            "token",
            "n",
            "cum_n",
            F.expr(
                f"CAST(cum_n * 1000000 div {n_total} AS BIGINT)"
            ).alias("share_micro"),
        )
        .orderBy("k")
    )


# =========================================================================
# wave 35
# Round-3 coverage wave 35: co-occurrence pair generation and
# corpus-level n-gram diagnostics for pre-training data.
#
# - ``skipgram_pairs_top``: word2vec training-pair generation -- every
#   (center, context) token pair within a +-2 window, counted corpus-wide.
#   One window pass computes only the *positive* offsets; the negative
#   side is the same stream mirrored, halving the window work.
# - ``bigram_coverage_score``: per-document fraction of bigrams occurring
#   >= 2 times corpus-wide -- an integer LM-flavored quality signal of the
#   family used for corpus filtering (templated text scores high, noise
#   scores low).
# - ``trigram_novelty``: per-document count of distinct trigrams and of
#   trigrams first seen in that document (min doc_id over the corpus) --
#   the dataset-growth novelty curve diagnostic.
#
# All three are pure integer counting over hash-balanced shuffles
# (document window -> n-gram key aggregate -> key-colocated join), nothing
# driver-sized, so they hold their shape at any corpus size.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_TOKS = f"SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents"


@_register(
    "skipgram_pairs_top",
    f"""
WITH t AS ({_TOKS}),
pp AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS p
  FROM t WHERE len(w) >= 2
  UNION ALL
  SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i + 2])) AS p
  FROM t WHERE len(w) >= 3
),
pairs AS (
  SELECT string_split(p, ' ')[1] AS center, string_split(p, ' ')[2] AS context
  FROM pp
  UNION ALL
  SELECT string_split(p, ' ')[2] AS center, string_split(p, ' ')[1] AS context
  FROM pp
)
SELECT center, context, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY 1, 2
ORDER BY n DESC, center, context LIMIT 30""",
    ref="extension: word2vec skip-gram pair generation (+-2 window) -- "
    "positive-offset lead() window mirrored instead of a second pass; "
    "count aggregate + TakeOrderedAndProject top-k",
)
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skipgram_pairs_topk(load_table(spark, sf_dir, "documents"), window=2, k=30)


@_register(
    "bigram_coverage_score",
    f"""
WITH t AS ({_TOKS}),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i + 1])) AS bigram
  FROM t WHERE len(w) >= 2
),
cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       CAST(100 * sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) // count(*)
            AS BIGINT) AS coverage_pct
FROM bg b JOIN cnt c ON b.bigram = c.bigram
GROUP BY 1""",
    ref="extension: per-doc bigram corpus-coverage quality signal -- "
    "bigram stream -> corpus counts -> key-colocated join back -> "
    "per-doc aggregate; truncating integer percent",
)
def q_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_coverage(load_table(spark, sf_dir, "documents"), min_count=2)


@_register(
    "trigram_novelty",
    f"""
WITH t AS ({_TOKS}),
tr0 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
                        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS tri
  FROM t WHERE len(w) >= 3
),
tr AS (SELECT DISTINCT doc_id, tri FROM tr0),
f AS (SELECT tri, min(doc_id) AS first_doc FROM tr GROUP BY 1)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
       CAST(sum(CASE WHEN f.first_doc = tr.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel
FROM tr JOIN f ON tr.tri = f.tri
GROUP BY 1""",
    ref="extension: corpus novelty curve input -- distinct (doc, trigram) "
    "-> min(doc_id) per trigram -> join back -> per-doc novel counts",
)
def q_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return trigram_novelty(load_table(spark, sf_dir, "documents"))


# =========================================================================
# wave 36
# Round-3 coverage wave 36: positional phrase retrieval and two
# embedding-index audits.
#
# - ``phrase_match_docs``: exact phrase query through the positional
#   inverted-index shape -- postings filtered to the phrase's three terms
#   FIRST, then reassembled by (doc, pos - i) equi-joins.  On a prebuilt
#   term-sharded index this touches three posting lists instead of every
#   document byte.
# - ``matryoshka_recall16``: recall@10 of cosine top-k computed over only
#   the first 16 of 64 dimensions vs the exact full-width top-k -- the
#   audit behind shipping a truncated-dimension first-pass retriever at
#   1/4 the arithmetic.
# - ``knn_graph_top3``: the approximate kNN graph (top-3 same-IVF-cell
#   neighbors per vector) -- substrate for graph-based dedup clustering;
#   within-cell self-join keeps pair work O(N^1.5) with sqrt(N) balanced
#   k-means cells, and WindowGroupLimit bounds per-source state to k rows.
#
# Reference parity note: the reference has no retrieval/vector surface;
# these belong to the LLM-data-pipeline extension mandated alongside
# SURVEY.md section 2.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_PHRASE = "big order scan"


@_register(
    "phrase_match_docs",
    f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
m AS (
  SELECT doc_id
  FROM t, unnest(generate_series(1, len(w) - 2)) a(i)
  WHERE w[i] = 'big' AND w[i + 1] = 'order' AND w[i + 2] = 'scan'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM m GROUP BY 1""",
    ref="extension: positional-index phrase query -- term-filtered "
    "postings reassembled by (doc, pos - i) equi-joins; index shape, "
    "not scan shape",
)
def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_match(load_table(spark, sf_dir, "documents"), _PHRASE)


@_register(
    "matryoshka_recall16",
    """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv))) AS s_full,
         list_dot_product(list_slice(CAST(e.embedding AS DOUBLE[]), 1, 16),
                          list_slice(q.qv, 1, 16))
         / (sqrt(list_dot_product(list_slice(CAST(e.embedding AS DOUBLE[]), 1, 16),
                                  list_slice(CAST(e.embedding AS DOUBLE[]), 1, 16)))
            * sqrt(list_dot_product(list_slice(q.qv, 1, 16),
                                    list_slice(q.qv, 1, 16)))) AS s_pre
  FROM embeddings e, q
  WHERE e.embedding IS NOT NULL
    AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
),
tf AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY s_full DESC, vec_id) AS rn
  FROM s WHERE s_full IS NOT NULL)
  WHERE rn <= 10),
tp AS (SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY s_pre DESC, vec_id) AS rn
  FROM s WHERE s_pre IS NOT NULL)
  WHERE rn <= 10)
SELECT CAST(10 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(100 * count(*) // 10 AS BIGINT) AS recall_pct
FROM tf JOIN tp USING (vec_id)""",
    ref="extension: truncated-dimension (matryoshka) retrieval audit -- "
    "two TakeOrderedAndProject top-k rankings + k-row overlap join",
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb, _query_vec(spark, sf_dir), prefix_dims=16, k=10)


@_register(
    "knn_graph_top3",
    _ivf_cells_sql()
    + """
, un AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(ev, ev) = 0 THEN NULL
              ELSE list_transform(ev, v -> v / sqrt(list_dot_product(ev, ev)))
         END AS uv
  FROM vecs
),
sims AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr,
         list_dot_product(ua.uv, ub.uv) AS s
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id <> b.vec_id
  JOIN un ua ON ua.vec_id = a.vec_id
  JOIN un ub ON ub.vec_id = b.vec_id
),
rk AS (
  SELECT src, nbr, s,
         row_number() OVER (PARTITION BY src ORDER BY s DESC, nbr) AS rank
  FROM sims WHERE s IS NOT NULL
)
SELECT src, CAST(rank AS BIGINT) AS rank, nbr, round(s, 4) AS cos_sim
FROM rk WHERE rank <= 3""",
    ref="extension: approximate kNN graph via IVF-bucketed self-join "
    "(O(N^1.5) pair work with sqrt(N) k-means cells) + WindowGroupLimit "
    "rank<=k per source",
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_graph(load_table(spark, sf_dir, "embeddings"), k=3)


# =========================================================================
# wave 37
# Round-3 coverage wave 37: statistical language modeling over the
# corpus -- an add-one-smoothed bigram LM and a trainable character-trigram
# language classifier.
#
# - ``bigram_lm_order``: top-10 continuations of the token "order" under
#   an add-one bigram model, probabilities in 6-decimal fixed point
#   ((c12 + 1) * 1e6 // (c1 + V)) so the model replays bit-for-bit in
#   SQL.  The LM tables (continuation counts, context count, vocabulary
#   size) are the classic n-gram-LM build re-expressed as one bigram
#   stream + two 1-row broadcast aggregates.
# - ``lang_id_trigram_acc``: Cavnar-Trenkle character-trigram profiles
#   trained on even-doc-id documents (top-20 trigrams per language),
#   odd-id documents classified by profile-hit count, accuracy rolled up
#   per true language.  The profile is (n_langs x 20) rows -- broadcast;
#   no shuffle ever carries document-sized state.
#
# Reference parity note: extension surface (the reference has no text
# pipeline); these extend the lang-id / LM-quality family of
# ``operators/textstats.py``.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@_register(
    "bigram_lm_order",
    f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS b
  FROM t WHERE len(w) >= 2
),
sp AS (SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2 FROM bg),
c12 AS (SELECT w2, count(*) AS c12 FROM sp WHERE w1 = 'order' GROUP BY 1),
c1 AS (SELECT sum(c12) AS c1 FROM c12),
v AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest(string_split({_NORM}, ' ')) AS tok
    FROM documents WHERE {_NORM} <> '')
)
SELECT w2 AS next_tok, CAST(c12 AS BIGINT) AS c12,
       CAST((c12 + 1) * 1000000 // (c1 + v) AS BIGINT) AS prob_micro
FROM c12, c1, v
ORDER BY c12 DESC, next_tok LIMIT 10""",
    ref="extension: add-one-smoothed bigram LM continuation query -- "
    "bigram stream + two 1-row broadcast aggregates, probabilities in "
    "truncating fixed point",
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_continuations(
        load_table(spark, sf_dir, "documents"), "order", k=10
    )


@_register(
    "lang_id_trigram_acc",
    f"""
WITH base AS (
  SELECT doc_id, lang, {_NORM} AS nm FROM documents WHERE length({_NORM}) >= 3
),
grams AS (
  SELECT doc_id, lang, substring(nm, CAST(i AS INT), 3) AS tri
  FROM base, unnest(generate_series(1, length(nm) - 2)) a(i)
),
counts AS (
  SELECT lang, tri, count(*) AS c FROM grams WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
profile AS (
  SELECT lang AS p_lang, tri FROM (
    SELECT lang, tri,
           row_number() OVER (PARTITION BY lang ORDER BY c DESC, tri) AS rn
    FROM counts) WHERE rn <= 20
),
scores AS (
  SELECT g.doc_id, g.lang, p.p_lang, count(*) AS score
  FROM grams g JOIN profile p ON g.tri = p.tri
  WHERE g.doc_id % 2 = 1
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, lang, p_lang AS pred FROM (
    SELECT doc_id, lang, p_lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn
    FROM scores) WHERE rn = 1
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM pred GROUP BY 1""",
    ref="extension: Cavnar-Trenkle char-trigram LID with even/odd "
    "train/test split -- broadcast (lang x 20) profile, hit-count "
    "argmax, per-language accuracy rollup",
)
def q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chartrigram_lang_id(load_table(spark, sf_dir, "documents"), profile_k=20)


# =========================================================================
# wave 42
# Round-3 coverage wave 42: tokenizer-efficiency and graph-extent
# diagnostics.
#
# - ``tokenizer_fertility``: subword-per-word fertility ratio per language
#   (BPE-ish pre-tokenizer subwords / whitespace words, truncating fixed
#   point) -- THE standard tokenizer-evaluation metric: languages with
#   fertility far above 1 pay proportionally more sequence length per
#   word, which drives both training cost and context-budget planning.
# - ``graph_diameter_sweep``: double-sweep BFS diameter estimate of the
#   similarity graph -- BFS from a fixed source, re-BFS from the farthest
#   reached node; the second sweep's eccentricity is the classic
#   lower-bound diameter estimate.  Bounded depth keeps both the engine
#   loop and the recursive-CTE oracle finite; ties resolve to the lowest
#   node id so the sweep is deterministic.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SWEEP_SOURCE = 0
_SWEEP_HOPS = 4


@_register(
    "tokenizer_fertility",
    rf"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')))
            AS BIGINT) AS n_subwords,
       CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS n_words,
       CAST(sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')))
            * 1000000 // sum(len(string_split({_NORM}, ' ')))
            AS BIGINT) AS fertility_micro
FROM documents
GROUP BY lang""",
    ref="extension: per-language tokenizer fertility (subwords per "
    "whitespace word, truncating fixed point) -- one narrow corpus "
    "pass, language-keyed aggregate",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text
    from mapreduce6240project_spark.operators.textstats import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        bpe_ish_token_count("text").alias("sub"),
        F.size(F.split(normalize_text("text"), " ")).alias("wrd"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("sub").cast("bigint").alias("n_subwords"),
        F.sum("wrd").cast("bigint").alias("n_words"),
        F.expr("sum(sub) * 1000000 div sum(wrd)").cast("bigint").alias(
            "fertility_micro"
        ),
    )


_DIAMETER_ORACLE = (
    _SIMGRAPH_PAIRS_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f"""
, und AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
),
walk1(node, hops) AS (
  SELECT CAST({_SWEEP_SOURCE} AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT u.d, w.hops + 1 FROM walk1 w JOIN und u ON u.s = w.node
  WHERE w.hops < {_SWEEP_HOPS}
),
d1 AS (SELECT node, min(hops) AS hops FROM walk1 GROUP BY node),
far AS (
  SELECT node FROM d1 ORDER BY hops DESC, node LIMIT 1
),
walk2(node, hops) AS (
  SELECT node, 0 AS hops FROM far
  UNION ALL
  SELECT u.d, w.hops + 1 FROM walk2 w JOIN und u ON u.s = w.node
  WHERE w.hops < {_SWEEP_HOPS}
),
d2 AS (SELECT node, min(hops) AS hops FROM walk2 GROUP BY node)
SELECT (SELECT node FROM far) AS far_node,
       CAST(max(hops) AS BIGINT) AS diameter_est,
       CAST(count(*) AS BIGINT) AS n_reached
FROM d2"""
)


@_register(
    "graph_diameter_sweep",
    _DIAMETER_ORACLE,
    ref="extension: double-sweep BFS diameter estimate -- two bounded "
    "frontier expansions; the 1-row farthest-node handoff is the same "
    "bounded driver state as the kmedoids medoid list",
)
def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.graph import bfs_hops, simgraph_pairs

    pairs = simgraph_pairs(spark, sf_dir)  # session-persisted store
    d1 = bfs_hops(pairs, source=_SWEEP_SOURCE, max_hops=_SWEEP_HOPS)
    far = (
        d1.orderBy(F.desc("hops"), "node").limit(1).collect()[0].node
    )  # 1-row driver scalar
    d2 = bfs_hops(pairs, source=far, max_hops=_SWEEP_HOPS)
    out = d2.agg(
        F.lit(far).cast("bigint").alias("far_node"),
        F.max("hops").cast("bigint").alias("diameter_est"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    return out


# =========================================================================
# wave 50
# Round-3 coverage wave 50: byte-level tokenizer planning and
# hard-negative mining.
#
# - ``byte_char_density``: UTF-8 bytes per character per language --
#   the planning metric for byte-level tokenizers (a byte-BPE pays ~3x
#   sequence length on CJK text; this measures exactly that multiplier
#   per language).  Integer fixed point over octet_length/length.
# - ``hard_negatives_cells``: contrastive hard-negative mining -- pairs
#   of vectors that share an IVF cell (geometrically close) but carry
#   different labels, counted per label pair.  Same-cell different-label
#   pairs are THE hard negatives for metric learning; the IVF bucketing
#   keeps candidate generation O(N^1.5) instead of all-pairs, identical
#   scale shape to ``embedding_dup_pairs``.
# =========================================================================

@_register(
    "byte_char_density",
    """
SELECT lang,
       CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(strlen(text)) * 1000000 // sum(length(text)) AS BIGINT)
         AS density_micro
FROM documents
GROUP BY lang""",
    ref="extension: UTF-8 bytes-per-character by language -- the "
    "byte-level-tokenizer sequence-length multiplier; one narrow pass",
)
def q_byte_char_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.expr("sum(octet_length(text)) * 1000000 div sum(length(text))")
        .cast("bigint")
        .alias("density_micro"),
    )


@_register(
    "hard_negatives_cells",
    _ivf_cells_sql()
    + """
, lab AS (SELECT vec_id, label FROM embeddings)
SELECT la.label AS label_a, lb.label AS label_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
JOIN lab la ON la.vec_id = a.vec_id
JOIN lab lb ON lb.vec_id = b.vec_id
WHERE la.label <> lb.label
GROUP BY 1, 2""",
    ref="extension: contrastive hard-negative mining -- same-IVF-cell "
    "different-label pairs per label pair; O(N^1.5) bucketed candidate "
    "generation, never all-pairs",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign(emb).select("vec_id", "cell")
    lab = emb.select("vec_id", "label")
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
    )
    return (
        pairs.join(lab.withColumnRenamed("vec_id", "id_a").withColumnRenamed(
            "label", "label_a"), "id_a")
        .join(lab.withColumnRenamed("vec_id", "id_b").withColumnRenamed(
            "label", "label_b"), "id_b")
        .filter(F.col("label_a") != F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# =========================================================================
# wave 51
# Round-3 coverage wave 51: T5-style span corruption and a daily
# leaderboard.
#
# - ``span_corruption_plan``: deterministic span-corruption masking (the
#   T5/UL2 pre-training objective) -- positions START a 3-token span when
#   ``hash60(doc:pos) % 100 < 5``, and a token is masked when any start
#   falls in its trailing 3-position window (span union via a rows-frame
#   max, fully relational -- no sequential scan).  Per-doc totals plus a
#   masked-position checksum verify the exact plan, the span-level twin
#   of ``mlm_mask_plan``'s token-level masking.
# - ``daily_top3_types``: per-day top-3 event types by count -- the
#   leaderboard shape at time grain; rank<=3 rides WindowGroupLimit so
#   only 3 rows per day survive below the sort.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_SPAN_RATE = 5
_SPAN_LEN = 3


@_register(
    "span_corruption_plan",
    f"""
WITH pos AS (
  SELECT doc_id,
         generate_subscripts(string_split({_NORM}, ' '), 1) AS p
  FROM documents
),
starts AS (
  SELECT doc_id, p,
         CASE WHEN {hash60_sql("doc_id || ':' || p")} % 100 < {_SPAN_RATE}
              THEN 1 ELSE 0 END AS s
  FROM pos
),
cov AS (
  SELECT doc_id, p, s,
         max(s) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN {_SPAN_LEN - 1} PRECEDING AND CURRENT ROW)
           AS m
  FROM starts
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(s) AS BIGINT) AS n_spans,
       CAST(sum(m) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN m = 1 THEN p ELSE 0 END) AS BIGINT)
         AS masked_pos_checksum
FROM cov GROUP BY doc_id""",
    ref="extension: T5-style span corruption plan -- hash-seeded span "
    "starts, rows-frame max for the span union; verified by the "
    "masked-position checksum",
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    pos = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("p"))
    )
    h = hash60(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("p").cast("string")
        )
    )
    starts = pos.select(
        "doc_id", "p", F.when(h % 100 < _SPAN_RATE, 1).otherwise(0).alias("s")
    )
    cov = starts.withColumn(
        "m",
        F.expr(
            f"max(s) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN"
            f" {_SPAN_LEN - 1} PRECEDING AND CURRENT ROW)"
        ),
    )
    return cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("s").cast("bigint").alias("n_spans"),
        F.sum("m").cast("bigint").alias("n_masked"),
        F.sum(F.when(F.col("m") == 1, F.col("p")).otherwise(0))
        .cast("bigint")
        .alias("masked_pos_checksum"),
    )


@_register(
    "daily_top3_types",
    """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(strftime(day, '%Y-%m-%d') AS VARCHAR) AS day, event_type,
       CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT day, event_type, n,
         row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rk
  FROM d
) WHERE rk <= 3""",
    ref="extension: per-day top-3 leaderboard -- rank<=3 under "
    "WindowGroupLimit, 3 rows per day survive below the sort",
)
def q_daily_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day0"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        d.withColumn(
            "rk",
            F.expr(
                "row_number() OVER (PARTITION BY day0"
                " ORDER BY n DESC, event_type)"
            ),
        )
        .filter(F.col("rk") <= 3)
        .select(
            F.date_format("day0", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# =========================================================================
# wave 71
# Round-3 coverage wave 71: corpus-naturalness statistics.
#
# - ``zipf_slope_tokens``: the Zipf rank-frequency slope over the top-200
#   tokens -- natural language sits near -1; template/spam corpora drift
#   far from it, so the slope is a cheap corpus-naturalness gate.  OLS on
#   (ln rank, ln freq) with every per-row term micro-quantized BEFORE
#   summation (the event_type_entropy convention), so the closed-form
#   sums are order-free integers and the final slope is a divide-first
#   integer ratio.
# - ``token_entropy``: corpus unigram entropy in micro-nats (same
#   quantized-term trick) plus token totals -- the diversity companion
#   to the vocabulary-coverage queries.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOPK = 200


@_register(
    "zipf_slope_tokens",
    f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS t
  FROM documents WHERE {_NORM} <> ''
),
freq AS (
  SELECT t, count(*) AS n FROM tok GROUP BY 1
  ORDER BY n DESC, t LIMIT {_TOPK}
),
rk AS (
  SELECT row_number() OVER (ORDER BY n DESC, t) AS r, n FROM freq
),
q AS (
  SELECT CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT) AS qx,
         CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS qy
  FROM rk
),
s AS (
  SELECT count(*) AS k, sum(qx) AS sx, sum(qy) AS sy,
         sum(qx * qy) AS sxy, sum(qx * qx) AS sxx
  FROM q
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(CASE WHEN k * sxy - sx * sy < 0
                 THEN -((-(k * sxy - sx * sy))
                        // ((k * sxx - sx * sx) // 1000000))
                 ELSE (k * sxy - sx * sy)
                      // ((k * sxx - sx * sx) // 1000000) END
            AS BIGINT) AS slope_micro
FROM s""",
    ref="extension: Zipf rank-frequency slope (micro-quantized log "
    "terms, divide-first integer OLS) -- corpus-naturalness gate; "
    "natural text sits near slope -1",
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    freq = vocab_topk(docs, k=_TOPK)
    rk = freq.select(
        F.expr("row_number() OVER (ORDER BY n DESC, token)").alias("r"), "n"
    )
    q = rk.select(
        F.expr("CAST(floor(ln(r) * 1000000 + 0.5) AS BIGINT)").alias("qx"),
        F.expr("CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT)").alias("qy"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.expr("qx * qy")).alias("sxy"),
        F.sum(F.expr("qx * qx")).alias("sxx"),
    )
    return s.select(
        F.col("k").cast("bigint").alias("k"),
        F.expr(
            "(k * sxy - sx * sy) div ((k * sxx - sx * sx) div 1000000)"
        )
        .cast("bigint")
        .alias("slope_micro"),
    )


@_register(
    "token_entropy",
    f"""
WITH tok AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS t
  FROM documents WHERE {_NORM} <> ''
),
c AS (SELECT t, count(*) AS n FROM tok GROUP BY 1),
tot AS (SELECT sum(n) AS nt FROM c)
SELECT CAST(sum(CAST(floor(
         -(CAST(n AS DOUBLE) / nt) * ln(CAST(n AS DOUBLE) / nt)
         * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_unat,
       CAST((SELECT nt FROM tot) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct
FROM c, tot""",
    ref="extension: corpus unigram entropy in micro-nats (quantized "
    "terms, order-free sums; event_type_entropy convention) -- token "
    "diversity companion to vocabulary coverage",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(normalize_text("text").alias("nm")).filter(
        F.col("nm") != ""
    ).select(F.explode(F.split("nm", " ")).alias("t"))
    c = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("nt"))
    withtot = c.crossJoin(F.broadcast(tot))
    return withtot.agg(
        F.sum(
            F.expr(
                "CAST(floor(-(CAST(n AS DOUBLE) / nt)"
                " * ln(CAST(n AS DOUBLE) / nt) * 1000000 + 0.5) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("entropy_unat"),
        F.max("nt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
    )


# =========================================================================
# wave 76
# Round-3 coverage wave 76: cross-document repetition and classical
# two-sample inference.
#
# - ``cross_doc_repetition``: per-document fraction of word-3-gram
#   shingles that also occur in at least one OTHER document -- the
#   cross-doc boilerplate gauge (``doc_repetition`` measures repetition
#   *inside* a document; this measures how much of a document is shared
#   corpus-wide, the signal used to strip templated headers/footers
#   before training).  Shape: distinct (doc, shingle-hash60) explode ->
#   hash document-frequency (one shuffle, partial-agg friendly) -> join
#   back on the 8-byte hash -> per-doc shared fraction in permyriad
#   integers.  Shingles are reduced to the cross-engine 60-bit md5-prefix
#   hash BEFORE the shuffle, so the exchanged key is an int, not a
#   ~25-byte string (measured ~25% wall-clock win at sf0.1; collision
#   odds at 2^60 are negligible for an audit metric and the oracle
#   replays the identical hash).  Work is linear in total shingle
#   occurrences; no doc-pair join anywhere.
# - ``welch_t_value``: Welch's two-sample t statistic for the mean
#   ``value`` difference between the parity user cohorts (the classical
#   closed-form counterpart of ``permutation_test_value``).  Each
#   cohort reduces to exact integer sufficient statistics (n, sum of
#   cents, sum of squared cents -- DECIMAL(38,0), one aggregation); the
#   t value is then a single identical IEEE-double expression over those
#   integers in both engines, reported in truncating milli units.
#
# Scale: both are aggregation-only -- no windows, no pair joins; the
# t statistic's reduce is 6 numbers regardless of input size.
# =========================================================================

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@_register(
    "cross_doc_repetition",
    f"""
WITH sh AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= 3 THEN list_transform(
                    generate_series(1, len(w) - 2),
                    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))
                  ELSE [concat_ws(' ', w)] END) AS s
    FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)
  )
),
df AS (SELECT h, count(*) AS n_docs FROM sh GROUP BY h)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE df.n_docs >= 2) AS BIGINT) AS n_shared,
       count(*) FILTER (WHERE df.n_docs >= 2) * 10000 // count(*)
         AS shared_pm
FROM sh JOIN df ON sh.h = df.h
GROUP BY sh.doc_id""",
    ref="extension: cross-document shingle repetition -- fraction of a "
    "doc's 3-gram shingles shared with any other doc; linear "
    "document-frequency join, no pair explosion",
)
def q_cross_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60
    from mapreduce6240project_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.explode(shingles("text", 3)).alias("s"))
        .select("doc_id", hash60(F.col("s")).alias("h"))
        .distinct()
    )
    df_counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_shared"),
            F.expr(
                "count(CASE WHEN n_docs >= 2 THEN 1 END) * 10000"
                " div count(*)"
            ).alias("shared_pm"),
        )
    )


#: identical final expression in both engines: Welch t from the six
#: integer sufficient statistics, all-double IEEE arithmetic
_T_EXPR = (
    "floor(((CAST(sum_a AS DOUBLE) / n_a - CAST(sum_b AS DOUBLE) / n_b)"
    " / sqrt("
    "   ((CAST(ssq_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a"
    " + ((CAST(ssq_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b"
    " )) * 1000)"
)


@_register(
    "welch_t_value",
    f"""
WITH stats AS (
  SELECT CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n_b,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              FILTER (WHERE user_id % 2 = 0) AS DECIMAL(38,0)) AS sum_a,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              FILTER (WHERE user_id % 2 = 1) AS DECIMAL(38,0)) AS sum_b,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT))
              FILTER (WHERE user_id % 2 = 0) AS DECIMAL(38,0)) AS ssq_a,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT))
              FILTER (WHERE user_id % 2 = 1) AS DECIMAL(38,0)) AS ssq_b
  FROM events
)
SELECT n_a, n_b,
       CAST(sum_a AS BIGINT) AS sum_a_c, CAST(sum_b AS BIGINT) AS sum_b_c,
       CAST({_T_EXPR} AS BIGINT) AS t_milli
FROM stats""",
    ref="extension: Welch two-sample t over parity cohorts from exact "
    "integer sufficient statistics; single identical IEEE expression "
    "in both engines, milli-quantized",
)
def q_welch_t_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c")
    )
    stats = ev.agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1))
        .cast("bigint")
        .alias("n_a"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("v_c")))
        .cast("decimal(38,0)")
        .alias("sum_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("v_c")))
        .cast("decimal(38,0)")
        .alias("sum_b"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("v_c") * F.col("v_c")))
        .cast("decimal(38,0)")
        .alias("ssq_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("v_c") * F.col("v_c")))
        .cast("decimal(38,0)")
        .alias("ssq_b"),
    )
    return stats.select(
        "n_a",
        "n_b",
        F.col("sum_a").cast("bigint").alias("sum_a_c"),
        F.col("sum_b").cast("bigint").alias("sum_b_c"),
        F.expr(f"CAST({_T_EXPR} AS BIGINT)").alias("t_milli"),
    )


# =========================================================================
# wave 82
# Round-3 coverage wave 82: Poisson bootstrap, sentence segmentation,
# Lorenz concentration curve.
#
# - ``bootstrap_mean_value``: the distributed (Poisson) bootstrap -- THE
#   cluster-scale resampling scheme: classical bootstrap needs a global
#   N-out-of-N draw, but Poisson(1) weights approximate it with a purely
#   per-row decision, so 20 replicates of the mean are one map-side
#   explode + one aggregation, no coordination.  Weights are exact
#   integers: the replicate's uniform draw is the 60-bit md5-prefix hash
#   of ``event_id:replicate`` compared against precomputed INTEGER
#   Poisson(1) CDF thresholds (``floor(cdf_k * 2^60)``) -- identical
#   arithmetic in both engines, no float RNG anywhere.  Output is the
#   per-replicate (n_eff, mean_c) table; the CI is its quantile spread.
# - ``sentence_stats_source``: sentence-level segmentation audit per
#   source -- sentences split on ``[.!?]+`` runs over normalized text,
#   per-source sentence count, word totals, mean words-per-sentence
#   (permyriad), and the longest sentence.  Sentence length distribution
#   is a classic human-vs-generated signal next to the token-level gates
#   (``text_quality``, ``hapax_ratio_source``).  Map-only explode plus
#   one small rollup.
# - ``lorenz_deciles``: the revenue-concentration (Lorenz) table behind
#   ``gini_customer_revenue`` -- customers ranked into revenue deciles,
#   each decile's revenue share and the cumulative share in permyriad
#   (the 10 points of the Lorenz curve; "top decile owns X%" reads off
#   the last row).  ``ntile`` runs on the *aggregated* per-customer
#   table (|customers| << |orders|) with a deterministic
#   ``(rev_c, custkey)`` order; the cumulative window scans 10 rows.
#
# Scale: bootstrap is embarrassingly parallel by construction (that is
# its entire point); sentence stats are map-only; the only sort is over
# per-customer aggregates, never facts.
# =========================================================================

_POIS_T = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
)
_B = 20  # bootstrap replicates

_W_SQL = " + ".join(
    f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T
)


@_register(
    "bootstrap_mean_value",
    f"""
WITH r AS (
  SELECT e.event_id,
         CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS v_c,
         b.b,
         ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':'
                             || CAST(b.b AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events e CROSS JOIN (
    SELECT unnest(generate_series(0, {_B - 1})) AS b) b
), w AS (
  SELECT b, v_c, {_W_SQL} AS wt FROM r
)
SELECT CAST(b AS BIGINT) AS replicate,
       CAST(sum(wt) AS BIGINT) AS n_eff,
       CAST(sum(wt * v_c) // sum(wt) AS BIGINT) AS mean_c
FROM w GROUP BY b""",
    ref="extension: Poisson(1) distributed bootstrap of the mean -- "
    "per-row integer-threshold weights from the cross-engine 60-bit "
    "hash, 20 replicates in one explode + one aggregation",
)
def q_bootstrap_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.functions.hashing import hash60

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("eid"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_c"),
    )
    r = ev.select(
        "eid",
        "v_c",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
    ).select(
        "b",
        "v_c",
        hash60(
            F.concat(F.col("eid"), F.lit(":"), F.col("b").cast("string"))
        ).alias("h"),
    )
    w = r.withColumn("wt", F.expr(_W_SQL))
    return w.groupBy("b").agg(
        F.sum("wt").cast("bigint").alias("n_eff"),
        F.expr("sum(wt * v_c) div sum(wt)").cast("bigint").alias("mean_c"),
    ).select(
        F.col("b").cast("bigint").alias("replicate"), "n_eff", "mean_c"
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@_register(
    "sentence_stats_source",
    f"""
WITH sent AS (
  SELECT source, trim(s) AS s
  FROM (
    SELECT source,
           unnest(regexp_split_to_array({_NORM}, '[.!?]+')) AS s
    FROM documents
  )
  WHERE trim(s) <> ''
), ws AS (
  SELECT source, len(string_split(s, ' ')) AS n_words FROM sent
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_words) * 10000 // count(*) AS BIGINT)
         AS words_per_sentence_pm,
       CAST(max(n_words) AS BIGINT) AS max_sentence_words
FROM ws GROUP BY source""",
    ref="extension: per-source sentence segmentation stats -- "
    "[.!?]+ split over normalized text, mean/max sentence length; "
    "human-vs-generated length-profile gate",
)
def q_sentence_stats_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "source",
            F.explode(
                F.split(normalize_text("text"), r"[.!?]+")
            ).alias("s0"),
        )
        .select("source", F.trim(F.col("s0")).alias("s"))
        .filter(F.col("s") != "")
    )
    ws = sent.select(
        "source", F.size(F.split(F.col("s"), " ")).alias("n_words")
    )
    return (
        ws.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.max("n_words").cast("bigint").alias("_mx"),
        )
        .select(
            "source",
            "n_sentences",
            "n_words",
            F.expr("n_words * 10000 div n_sentences")
            .cast("bigint")
            .alias("words_per_sentence_pm"),
            F.col("_mx").alias("max_sentence_words"),
        )
    )


@_register(
    "lorenz_deciles",
    """
WITH per_cust AS (
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1
), dec AS (
  SELECT rev_c,
         ntile(10) OVER (ORDER BY rev_c, o_custkey) AS decile
  FROM per_cust
), agg AS (
  SELECT decile, count(*) AS n_customers, sum(rev_c) AS rev_c
  FROM dec GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_customers AS BIGINT) AS n_customers,
       CAST(rev_c AS BIGINT) AS revenue_c,
       CAST(rev_c * 10000 // sum(rev_c) OVER () AS BIGINT) AS share_pm,
       CAST(sum(rev_c) OVER (ORDER BY decile) * 10000
            // sum(rev_c) OVER () AS BIGINT) AS cum_share_pm
FROM agg""",
    ref="extension: Lorenz concentration-curve deciles behind "
    "gini_customer_revenue -- ntile over the aggregated per-customer "
    "table, 10-row cumulative window",
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
        ).alias("rev_c")
    )
    # exact NTILE(10) from the range-exchanged global rank (no
    # single-task customer sort; operators/prefix)
    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
        ntile_from_rank,
    )

    dec = distributed_prefix(
        per_cust, ["rev_c", "o_custkey"], total_col="_n"
    ).select("rev_c", ntile_from_rank("_rank", "_n", 10).alias("decile"))
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("rev_c").alias("rev_c")
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return agg.select(
        F.col("decile").cast("bigint").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("rev_c").cast("bigint").alias("revenue_c"),
        F.expr("rev_c * 10000").alias("_num"),
        F.sum("rev_c").over(w_all).alias("_den"),
        (F.sum("rev_c").over(w_cum) * 10000).alias("_cnum"),
    ).select(
        "decile",
        "n_customers",
        "revenue_c",
        F.expr("_num div _den").cast("bigint").alias("share_pm"),
        F.expr("_cnum div _den").cast("bigint").alias("cum_share_pm"),
    )


# round-4: per-document cross-entropy under the corpus's own add-one
# bigram LM -- the classic KenLM-style quality filter (boilerplate and
# gibberish score high, fluent text low), computed without any external
# model.  Each bigram instance's -ln p(w2|w1) with p = (c12+1)/(c1+V)
# depends only on the three corpus integers (c12, c1, V), so the
# per-instance micro-nat quantization (token_entropy convention) is
# identical in both engines and the per-doc mean is a truncating
# integer division.  Scale: two token-keyed aggregates + one doc-keyed
# aggregate; the LM join keys are (w1, w2) -- no driver state.


@_register(
    "bigram_perplexity_docs",
    f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w
  FROM documents WHERE {_NORM} <> ''
),
uni AS (SELECT unnest(w) AS tok FROM toks),
uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM uc),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> struct_pack(a := w[i], b := w[i + 1]))) AS p
  FROM toks WHERE len(w) >= 2
),
bi AS (SELECT doc_id, p.a AS wa, p.b AS wb FROM bg),
bc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS cab
       FROM bi GROUP BY 1, 2),
term AS (
  SELECT bi.doc_id,
         CAST(floor(-ln(CAST(bc.cab + 1 AS DOUBLE) / (uc.c + v.vsz))
                    * 1000000 + 0.5) AS BIGINT) AS nll
  FROM bi JOIN bc USING (wa, wb)
          JOIN uc ON uc.tok = bi.wa
          CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll) // count(*) AS BIGINT) AS nll_micro_mean
FROM term GROUP BY 1""",
    ref="extension: per-doc cross-entropy under the corpus add-one "
    "bigram LM (KenLM-style quality filter, no external model) -- "
    "micro-nat quantized instance terms, truncating-div doc mean",
)
def q_bigram_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(normalize_text("text"), " ").alias("w")
    ).filter(F.col("w") != F.array())
    uni = toks.select(F.explode("w").alias("tok"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    v = uc.agg(F.count(F.lit(1)).alias("vsz"))
    bi = (
        toks.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p").getField("0").alias("wa"),
            F.col("p").getField("1").alias("wb"),
        )
    )
    bc = bi.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("cab"))
    term = (
        bi.join(bc, ["wa", "wb"])
        .join(uc.withColumnRenamed("tok", "wa"), "wa")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.expr(
                "CAST(floor(-ln(CAST(cab + 1 AS DOUBLE) / (c + vsz))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("nll"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.expr("sum(nll) div count(*)").cast("bigint").alias(
            "nll_micro_mean"
        ),
    )


# =========================================================================
# round 5: feature-hashing audit.
#
# ``feature_hash_collision_audit``: the hashing-trick sanity check --
# map every distinct corpus token into 1024 hash buckets (the
# SQL-replayable hash60, so both engines bucket identically) and
# report vocabulary size, buckets used, the max bucket load and the
# permyriad of tokens sharing a bucket with another token (the
# collision mass a hashed feature space silently merges).  Explode ->
# distinct -> two bounded aggregates; the bucket table is 1024 rows.
# =========================================================================

_FH_BUCKETS = 1024


@_register(
    "feature_hash_collision_audit",
    f"""
WITH tok AS (
  SELECT DISTINCT unnest(string_split({_NORM}, ' ')) AS token
  FROM documents
), b AS (
  SELECT token, {hash60_sql("token")} % {_FH_BUCKETS} AS bucket FROM tok
  WHERE token <> ''
), load AS (
  SELECT bucket, count(*) AS n FROM b GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(max(n) AS BIGINT) AS max_load,
       CAST(coalesce(sum(n) FILTER (WHERE n > 1), 0) AS BIGINT)
         AS collided_tokens,
       CAST(coalesce(sum(n) FILTER (WHERE n > 1), 0) * 10000 // sum(n)
            AS BIGINT) AS collision_pm
FROM load""",
    ref="extension: hashing-trick collision audit -- distinct tokens "
    "into 1024 hash60 buckets, max load and collided-token permyriad; "
    "the dimensionality-vs-collision tradeoff measurement that sizes "
    "curation_ext's feature_hashing bucket space (audit of the "
    "space; the featurizer itself lives there)",
)
def q_feature_hash_collision_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    b = tok.select(
        (hash60(F.col("token")) % _FH_BUCKETS).alias("bucket")
    )
    load = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    return load.agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
        F.max("n").cast("bigint").alias("max_load"),
        F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("collided_tokens"),
        F.expr(
            "CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) * 10000"
            " div sum(n) AS BIGINT)"
        ).alias("collision_pm"),
    )


# =========================================================================
# round 7: Gopher quality-rule audit + distinct-n corpus diversity
#
# - ``gopher_quality_flags``: the Gopher repetition-free quality rules
#   (Rae et al. 2021 A1.1) as INTEGER-exact per-document flags -- every
#   ratio rule is cross-multiplied into an integer comparison, so both
#   engines agree bit-for-bit with no micro-rounding.  NULL text gives
#   NULL flags (dirty-text contract).  Map-only, one scan, no shuffle.
# - ``distinct_ngram_diversity``: distinct-1 / distinct-2 corpus
#   diversity per source (the n-gram repetition audit used to detect
#   TEMPLATED or machine-generated slices): exact distinct and total
#   word 1-/2-gram counts per source plus their micro-rounded ratio.
#   Two explode+distinct aggregations feeding one join -- both
#   map-side-combinable, both partitioned by source.
# =========================================================================


@_register(
    "gopher_quality_flags",
    f"""
WITH base AS (
  SELECT doc_id, text IS NULL AS _tnull, {_NORM} AS norm FROM documents
), f AS (
  SELECT doc_id, _tnull,
         len(string_split(norm, ' ')) AS n_words,
         length(norm) - (len(string_split(norm, ' ')) - 1)
           AS total_word_chars,
         length(norm) - length(replace(norm, '#', '')) AS n_hash,
         (length(norm) - length(replace(norm, '...', ''))) // 3 AS n_ell,
         (CASE WHEN ' ' || norm || ' ' LIKE '% the %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% be %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% to %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% of %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% and %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% that %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% have %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || norm || ' ' LIKE '% with %' THEN 1 ELSE 0 END)
           AS stop_present
  FROM base
)
SELECT doc_id,
  CASE WHEN _tnull THEN NULL ELSE CAST(n_words AS INT) END AS n_words,
  CASE WHEN _tnull THEN NULL ELSE
    CAST(n_words BETWEEN 50 AND 100000 AS INT) END AS f_word_count,
  CASE WHEN _tnull THEN NULL ELSE
    CAST(total_word_chars BETWEEN 3 * n_words AND 10 * n_words AS INT)
  END AS f_word_len,
  CASE WHEN _tnull THEN NULL ELSE
    CAST((n_hash + n_ell) * 10 < n_words AS INT) END AS f_symbol_ratio,
  CASE WHEN _tnull THEN NULL ELSE
    CAST(stop_present >= 2 AS INT) END AS f_stopwords,
  CASE WHEN _tnull THEN NULL ELSE
    CAST(n_words BETWEEN 50 AND 100000
         AND total_word_chars BETWEEN 3 * n_words AND 10 * n_words
         AND (n_hash + n_ell) * 10 < n_words
         AND stop_present >= 2 AS INT) END AS gopher_pass
FROM f""",
    ref="extension: Gopher quality rules (word count, mean word "
    "length, symbol ratio, stopword presence) as integer-exact "
    "per-document flags",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.textstats import (
        gopher_quality_flags,
    )

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@_register(
    "distinct_ngram_diversity",
    f"""
WITH toks AS (
  SELECT source, string_split({_NORM}, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
uni AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT tok) AS BIGINT) AS distinct_1
  FROM (SELECT source, unnest(w) AS tok FROM toks) GROUP BY source
),
bi AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(count(DISTINCT bg) AS BIGINT) AS distinct_2
  FROM (
    SELECT source,
           unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS bg
    FROM toks WHERE len(w) >= 2
  ) GROUP BY source
)
SELECT u.source, u.n_tokens, u.distinct_1, b.n_bigrams, b.distinct_2,
       floor(CAST(u.distinct_1 AS DOUBLE) / u.n_tokens * 10000 + 0.5)
         / 10000 AS d1_ratio,
       floor(CAST(b.distinct_2 AS DOUBLE) / b.n_bigrams * 10000 + 0.5)
         / 10000 AS d2_ratio
FROM uni u JOIN bi b USING (source)""",
    ref="extension: distinct-1/distinct-2 n-gram diversity per source "
    "(templated/machine-generated slice detector)",
)
def q_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("source", tokens("text").alias("w"))
    )
    uni = (
        docs.select("source", F.explode("w").alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("tok").alias("distinct_1"),
        )
    )
    bi = (
        docs.filter(F.size("w") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat(w[i-1], ' ', w[i]))"
                )
            ).alias("bg"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_distinct("bg").alias("distinct_2"),
        )
    )
    d1 = F.floor(F.col("distinct_1") / F.col("n_tokens") * 10000 + 0.5) / 10000
    d2 = F.floor(F.col("distinct_2") / F.col("n_bigrams") * 10000 + 0.5) / 10000
    return uni.join(bi, "source").select(
        "source",
        "n_tokens",
        "distinct_1",
        "n_bigrams",
        "distinct_2",
        d1.alias("d1_ratio"),
        d2.alias("d2_ratio"),
    )


# =========================================================================
# wave 94: Kneser-Ney bigram LM quality scoring
#
# ``kn_bigram_nll``: per-document cross-entropy under an interpolated
# Kneser-Ney bigram model fit on the whole corpus (absolute discount
# d = 0.75).  This is the smoothing the CCNet/KenLM quality-filter
# stack actually uses -- add-one (``bigram_perplexity_docs``) badly
# overweights unseen continuations of frequent contexts, while KN backs
# off to the CONTINUATION unigram (how many distinct contexts a word
# follows), which is the right novelty prior for filtering.
#
# Exactness: every model statistic is an integer count (bigram counts,
# context totals, distinct-continuation fan-outs, bigram-type total);
# the per-instance probability and its ln run once per row in identical
# expression order on both engines, then get micro-quantized BEFORE the
# per-doc mean so the aggregate is order-free.  d = 0.75 is exactly
# representable in binary, so max(c - d, 0) stays exact.
#
# 100 TB: three hash aggregates over the bigram stream (counts, context
# fan-out, continuation fan-out) -- all map-side combinable -- plus one
# broadcastable scalar (type count); the scoring join is keyed on the
# bigram, the same shuffle the counting already paid.
# =========================================================================


@_register(
    "kn_bigram_nll",
    f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
),
bi AS (
  SELECT doc_id, w[i] AS wa, w[i+1] AS wb
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 2)
),
bc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1, 2),
ctx AS (SELECT wa, CAST(sum(cab) AS BIGINT) AS ca,
               CAST(count(*) AS BIGINT) AS n1f
        FROM bc GROUP BY 1),
cont AS (SELECT wb, CAST(count(*) AS BIGINT) AS n1b FROM bc GROUP BY 1),
btot AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM bc),
term AS (
  SELECT bi.doc_id,
         CAST(floor(-ln((greatest(bc.cab - 0.75, 0.0)
                         + 0.75 * ctx.n1f * cont.n1b / btot.bt)
                        / ctx.ca)
                    * 1000000 + 0.5) AS BIGINT) AS nll
  FROM bi JOIN bc USING (wa, wb) JOIN ctx USING (wa)
          JOIN cont USING (wb) CROSS JOIN btot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll) // count(*) AS BIGINT) AS nll_micro_mean
FROM term GROUP BY 1""",
    ref="extension: interpolated Kneser-Ney bigram LM per-doc NLL "
    "(d=0.75, continuation-unigram backoff) -- the KenLM-style quality "
    "filter with the smoothing used in practice; integer model stats, "
    "order-free micro-quantized instance terms",
)
def q_kn_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text
    from mapreduce6240project_spark.operators.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    toks = fan_out(docs).select(
        "doc_id", F.split(normalize_text("text"), " ").alias("w")
    ).filter(F.size("w") >= 2)
    bi = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.col("p").getField("0").alias("wa"),
        F.col("p").getField("1").alias("wb"),
    )
    # The NLL term is a function of the bigram TYPE alone, so the model
    # joins (context totals, continuation fan-outs, type count) run on
    # the |types| table and the instance stream pays exactly ONE join,
    # keyed on a codegen xxhash64 of the pair rather than two strings
    # (the 10x stress run showed instance-stream string-key joins
    # super-linear; type-level scoring brought the ratio back down).
    hkey = F.xxhash64("wa", "wb")
    bc = bi.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("cab"))
    ctx = bc.groupBy("wa").agg(
        F.sum("cab").alias("ca"), F.count(F.lit(1)).alias("n1f")
    )
    cont = bc.groupBy("wb").agg(F.count(F.lit(1)).alias("n1b"))
    btot = bc.agg(F.count(F.lit(1)).alias("bt"))
    p = (
        F.greatest(F.col("cab") - F.lit(0.75), F.lit(0.0))
        + F.lit(0.75) * F.col("n1f") * F.col("n1b") / F.col("bt")
    ) / F.col("ca")
    type_nll = (
        bc.join(ctx, "wa")
        .join(cont, "wb")
        .crossJoin(F.broadcast(btot))
        .select(
            hkey.alias("h"),
            F.floor(-F.log(p) * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("nll"),
        )
    )
    term = bi.select("doc_id", hkey.alias("h")).join(type_nll, "h")
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(nll) div count(*)").alias("nll_micro_mean"),
    )


# =========================================================================
# wave 95: distributional shift between sources
#
# ``js_divergence_sources``: Jensen-Shannon divergence between each
# source's language distribution and the corpus-wide marginal -- the
# bounded, symmetric drift measure mixture tuning needs (KL explodes on
# zero-mass cells; JS never does).  Computed over the full source x
# lang grid so the Q-side mass of langs a source MISSES still
# contributes (p=0 -> term is q/2 * ln 2).  Each grid term is
# nano-quantized BEFORE the per-source sum, so the aggregate is
# order-free; p, q, m are identically-ordered double expressions over
# integer counts on both engines.  100 TB: two hash aggregates plus a
# |sources| x |langs| grid join -- release cost independent of corpus
# size.
# =========================================================================


@_register(
    "js_divergence_sources",
    """
WITH cnt AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
),
src AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY 1),
lng AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl FROM cnt GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cnt),
grid AS (
  SELECT src.source, src.ns, lng.lang, lng.cl, tot.nn,
         COALESCE(cnt.c, 0) AS ca
  FROM src CROSS JOIN lng CROSS JOIN tot
  LEFT JOIN cnt ON cnt.source = src.source AND cnt.lang = lng.lang
),
term AS (
  SELECT source, ns,
         CAST(floor((CASE WHEN ca = 0 THEN 0.0
                          ELSE 0.5 * (ca * 1.0 / ns)
                               * ln((ca * 1.0 / ns)
                                    / ((ca * 1.0 / ns + cl * 1.0 / nn) / 2))
                     END
                     + 0.5 * (cl * 1.0 / nn)
                       * ln((cl * 1.0 / nn)
                            / ((ca * 1.0 / ns + cl * 1.0 / nn) / 2)))
                    * 1000000000 + 0.5) AS BIGINT) AS t_nano
  FROM grid
)
SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
       CAST(sum(t_nano) AS BIGINT) AS js_nano
FROM term GROUP BY 1""",
    ref="extension: per-source Jensen-Shannon divergence vs the corpus "
    "language marginal -- bounded symmetric drift for mixture tuning; "
    "full-grid zero-mass handling, order-free nano-quantized terms",
)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    cnt = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    src = cnt.groupBy("source").agg(F.sum("c").alias("ns"))
    lng = cnt.groupBy("lang").agg(F.sum("c").alias("cl"))
    tot = cnt.agg(F.sum("c").alias("nn"))
    grid = (
        src.crossJoin(F.broadcast(lng))
        .crossJoin(F.broadcast(tot))
        .join(cnt, ["source", "lang"], "left")
        .select(
            "source",
            "ns",
            "cl",
            "nn",
            F.coalesce(F.col("c"), F.lit(0)).alias("ca"),
        )
    )
    p = F.col("ca") * 1.0 / F.col("ns")
    q = F.col("cl") * 1.0 / F.col("nn")
    m = (p + q) / 2
    t_nano = F.floor(
        (
            F.when(F.col("ca") == 0, F.lit(0.0)).otherwise(
                F.lit(0.5) * p * F.log(p / m)
            )
            + F.lit(0.5) * q * F.log(q / m)
        )
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        grid.select("source", "ns", t_nano.alias("t_nano"))
        .groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_docs"),
            F.sum("t_nano").cast("bigint").alias("js_nano"),
        )
    )


# =========================================================================
# wave 101: batching efficiency + cross-source vocabulary structure
#
# - ``padding_waste_audit``: how many pad tokens does max-length
#   batching burn at batch size 32, and how much does length-sorted
#   bucketing save?  Padding waste = sum over batches of
#   (batch_max - len) -- computed for BOTH orders: doc_id order (the
#   arrival-order baseline) and length-sorted order (the bucketed
#   schedule).  Batch assignment is rank div 32 from the pid-parallel
#   order-stats helper; per-batch maxima are tiny aggregates.  Every
#   quantity is an exact integer.  The measurement behind every
#   sequence-bucketing knob in a training pipeline.
# - ``source_vocab_overlap``: pairwise Jaccard of the top-50 token
#   vocabularies of each source pair -- the lexical-diversity matrix
#   mixture design reads next to js_divergence_sources (distributional
#   drift can be low while vocabularies barely overlap, and vice
#   versa).  Top-50 per source is an exact rank with a frequency/token
#   tie-break; the pair join is |sources|^2 x 50, trivially bounded.
# =========================================================================

_PAD_BATCH = 32


@_register(
    "padding_waste_audit",
    f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE text IS NOT NULL
),
arrival AS (
  SELECT n_tok,
         (row_number() OVER (ORDER BY doc_id) - 1) // {_PAD_BATCH} AS b
  FROM d
),
sorted_o AS (
  SELECT n_tok,
         (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // {_PAD_BATCH}
           AS b
  FROM d
),
wa AS (
  SELECT CAST(sum(mx * cnt - tok) AS BIGINT) AS waste,
         CAST(sum(tok) AS BIGINT) AS toks
  FROM (SELECT b, max(n_tok) AS mx, count(*) AS cnt, sum(n_tok) AS tok
        FROM arrival GROUP BY b)
),
ws AS (
  SELECT CAST(sum(mx * cnt - tok) AS BIGINT) AS waste
  FROM (SELECT b, max(n_tok) AS mx, count(*) AS cnt, sum(n_tok) AS tok
        FROM sorted_o GROUP BY b)
)
SELECT wa.toks AS real_tokens,
       wa.waste AS arrival_pad_tokens,
       ws.waste AS sorted_pad_tokens,
       CAST(wa.waste * 10000 // (wa.toks + wa.waste) AS BIGINT)
         AS arrival_waste_permyriad,
       CAST(ws.waste * 10000 // (wa.toks + ws.waste) AS BIGINT)
         AS sorted_waste_permyriad
FROM wa CROSS JOIN ws""",
    ref="extension: padding-waste audit for max-length batching "
    "(batch 32), arrival order vs length-sorted bucketing -- the "
    "integer-exact measurement behind sequence-bucketing decisions",
)
def q_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.ranking import stratum_order_stats

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    d = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok")
    )

    def _waste(order_cols):
        ranked = stratum_order_stats(d, strata=[], order=order_cols).select(
            "n_tok", ((F.col("rn") - 1) / _PAD_BATCH).cast("bigint").alias("b")
        )
        per_b = ranked.groupBy("b").agg(
            F.max("n_tok").alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_tok").alias("tok"),
        )
        return per_b.agg(
            F.sum(
                F.col("mx") * F.col("cnt") - F.col("tok")
            ).alias("waste"),
            F.sum("tok").alias("toks"),
        )

    wa = _waste(["doc_id"]).select(
        F.col("waste").alias("a_waste"), F.col("toks").alias("toks")
    )
    ws = _waste(["n_tok", "doc_id"]).select(
        F.col("waste").alias("s_waste")
    )
    return wa.crossJoin(F.broadcast(ws)).select(
        F.col("toks").cast("bigint").alias("real_tokens"),
        F.col("a_waste").cast("bigint").alias("arrival_pad_tokens"),
        F.col("s_waste").cast("bigint").alias("sorted_pad_tokens"),
        F.expr("a_waste * 10000 div (toks + a_waste)")
        .cast("bigint")
        .alias("arrival_waste_permyriad"),
        F.expr("s_waste * 10000 div (toks + s_waste)")
        .cast("bigint")
        .alias("sorted_waste_permyriad"),
    )


@_register(
    "source_vocab_overlap",
    f"""
WITH tok AS (
  SELECT source, unnest(string_split({_NORM}, ' ')) AS t
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
tf AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok WHERE t <> '' GROUP BY 1, 2
),
rk AS (
  SELECT source, t,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC,
                            ('0x' || substr(md5(t), 1, 15))::BIGINT, t) AS r
  FROM tf
),
top AS (SELECT source, t FROM rk WHERE r <= 50),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM top GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM top a JOIN top b ON a.t = b.t AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       CAST(n_common * 10000
            // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_permyriad
FROM inter
JOIN sz sa ON sa.source = src_a
JOIN sz sb ON sb.source = src_b""",
    ref="extension: pairwise top-50-vocabulary Jaccard between "
    "sources -- the lexical-diversity matrix beside the JS "
    "distributional drift; bounded |sources|^2 x 50 join",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    tf = (
        docs.select(
            "source",
            F.explode(F.split(normalize_text("text"), " ")).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ADVICE r7: equal-count tokens tie-break on the replayable md5
    # hash60, not the raw string -- Spark orders strings by UTF-16 code
    # unit while DuckDB compares UTF-8 bytes, so supplementary-plane
    # tokens could rank differently and flip the top-50 set between
    # engines.  The trailing raw-string key only resolves 60-bit hash
    # collisions (same within-engine determinism, no cross-engine
    # exposure at any real collision rate).
    from mapreduce6240project_spark.functions.hashing import hash60

    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), hash60(F.col("t")), "t"
    )
    top = (
        tf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 50)
        .select("source", "t")
    )
    sz = top.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = top.select(F.col("source").alias("src_a"), "t")
    b = top.select(F.col("source").alias("src_b"), F.col("t").alias("tb"))
    inter = (
        a.join(b, (F.col("t") == F.col("tb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.expr("n_common * 10000 div (na + nb - n_common)")
            .cast("bigint")
            .alias("jaccard_permyriad"),
        )
    )


# =========================================================================
# wave 105: prefix-cache planning over the document corpus
#
# ``prefix_cache_savings``: serving/inference planning -- how many
# prompt tokens would an 8-token prefix cache save?  Documents sharing
# their first-8-token prefix (shorter docs: their whole token list)
# form a cache group; each group member beyond the first reuses the
# group's prefix KV block, saving prefix-length tokens of prefill.
# The grain is one row of exact totals: groups with >= 2 docs, docs
# covered, tokens saved, corpus tokens, and the savings rate in ppm
# (integer division -- replayable).
#
# 100 TB: one token-split projection, one hash aggregate keyed on the
# prefix string (bounded at 8 tokens, so the shuffle key is narrow),
# one scalar fold.  No joins, no windows.
# =========================================================================


@_register(
    "prefix_cache_savings",
    f"""
WITH toks AS (
  SELECT string_split({_NORM}, ' ') AS w FROM documents
),
pfx AS (
  SELECT array_to_string(list_slice(w, 1, 8), ' ') AS p,
         least(len(w), 8) AS plen, len(w) AS dl
  FROM toks
),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS total_tokens FROM pfx),
g AS (
  SELECT p, count(*) AS cnt, min(plen) AS plen
  FROM pfx GROUP BY p HAVING count(*) >= 2
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
         CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_docs_covered,
         CAST(coalesce(sum((cnt - 1) * plen), 0) AS BIGINT) AS tokens_saved
  FROM g
)
SELECT n_groups, n_docs_covered, tokens_saved, tot.total_tokens,
       CAST(tokens_saved * 1000000 // tot.total_tokens AS BIGINT)
         AS savings_ppm
FROM s CROSS JOIN tot""",
    ref="extension: prefix-cache (shared-prefill KV reuse) planning "
    "estimate -- first-8-token cache groups, exact token-savings "
    "totals; one narrow-keyed hash aggregate",
)
def q_prefix_cache_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce6240project_spark.operators.dedup import tokens

    pfx = load_table(spark, sf_dir, "documents").select(
        F.concat_ws(" ", F.slice(tokens("text"), 1, 8)).alias("p"),
        F.least(F.size(tokens("text")), F.lit(8)).alias("plen"),
        F.size(tokens("text")).alias("dl"),
    )
    tot = pfx.agg(F.sum("dl").cast("bigint").alias("total_tokens"))
    g = (
        pfx.groupBy("p")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("plen").alias("plen"))
        .filter(F.col("cnt") >= 2)
    )
    s = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias(
            "n_docs_covered"
        ),
        F.coalesce(F.sum((F.col("cnt") - 1) * F.col("plen")), F.lit(0))
        .cast("bigint")
        .alias("tokens_saved"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n_groups",
        "n_docs_covered",
        "tokens_saved",
        "total_tokens",
        F.expr("tokens_saved * 1000000 div total_tokens")
        .cast("bigint")
        .alias("savings_ppm"),
    )
