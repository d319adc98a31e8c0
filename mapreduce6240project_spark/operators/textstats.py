"""Text analysis over the documents table (extension surface): language
ID, quality scoring, token counting, fingerprinting, per-language stats.

Everything is Catalyst expressions (regex + string built-ins) so the
whole module stays inside whole-stage codegen and is oracle-checkable in
DuckDB with the same regex/string semantics (patterns restricted to the
subset where Java regex and RE2 agree: character classes, no lookaround).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce6240project_spark.operators.dedup import normalize_text
from mapreduce6240project_spark.session import checkpoint, pin, unpin

# Minimal per-language stopword markers (public common words).  The
# heuristic counts marker hits per language and picks the argmax --
# n-gram-free but the same shape as real n-gram LID at expression level.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(F.split(normalize_text(col), " "))


def bpe_ish_token_count(col) -> Column:
    """BPE-ish subword estimate: alphanumeric runs + standalone
    punctuation, the classic pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)))


def _marker_hits(col, words: tuple[str, ...]) -> Column:
    """Occurrences of any marker word (space-padded match on the
    normalized text)."""
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    hits = None
    for w in words:
        # occurrences of " w " via length delta; non-overlapping is fine
        # for distinct marker words
        n = (F.length(padded) - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("")))) / F.lit(
            len(w) + 2
        )
        hits = n if hits is None else hits + n
    return hits.cast("int")


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of marker-word hits (ties -> the
    earlier language in LANG_MARKERS order, 'unknown' when no marker
    hits at all)."""
    langs = list(LANG_MARKERS)
    scores = [_marker_hits(text_col, LANG_MARKERS[l]) for l in langs]
    arr = F.array(*scores)
    best = F.array_position(arr, F.array_max(arr)).cast("int")  # 1-based first max
    # NULL text -> NULL marker scores; coalesce to 0 so the row lands in
    # the 'unknown' branch like the oracle, instead of falling through
    # the null WHEN-condition into an arbitrary argmax (dirty-text
    # contract finding: a NULL document classified as 'de')
    pred = (
        F.when(F.coalesce(F.array_max(arr), F.lit(0)) <= 0, F.lit("unknown"))
        .otherwise(F.element_at(F.array(*[F.lit(l) for l in langs]), best))
    )
    return docs.select(F.col(id_col), pred.alias("pred_lang"))


def quality_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features + a composite score in [0, 1]:
    length band, punctuation density, stopword ratio, mean word length.
    The weights are arbitrary but fixed; the point is the feature
    plumbing (each feature is one expression over one scan)."""
    norm = normalize_text(text_col)
    n_chars = F.length(norm)
    n_tok = token_count(text_col)
    n_punct = F.length(norm) - F.length(F.regexp_replace(norm, r"[^a-z0-9 ]", ""))
    stop_hits = _marker_hits(text_col, LANG_MARKERS["en"]).cast("double")
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    stop_ratio = F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4)
    avg_word_len = F.round(
        (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)).cast("double"), 4
    )
    len_band = (
        F.when(n_chars < 50, 0.2).when(n_chars < 200, 0.6).when(n_chars < 2000, 1.0).otherwise(0.7)
    )
    raw_score = (
        len_band * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 3, F.lit(1.0)) * 0.3
    )
    # explicit floor-based rounding: engine round() implementations differ
    # at representation boundaries (Spark BigDecimal HALF_UP vs DuckDB
    # multiply+round), but floor(x*1e4 + 0.5) is the same IEEE arithmetic
    # everywhere -- keeps the oracle hash-exact
    score = F.floor(raw_score * 10000 + F.lit(0.5)) / 10000.0
    # NULL text -> every feature NULL (dirty-text contract): the naive
    # expressions half-evaluate on NULL input (Spark least()/greatest()
    # SKIP nulls, so len_band's otherwise-0.7 leaked a 0.58 "quality"
    # for a document with no text, while DuckDB's null-skipping
    # least/greatest produced a different 0.28) -- an undefined
    # document must not carry a plausible-looking score in either
    # engine
    defined = F.col(text_col).isNotNull()
    return docs.select(
        F.col(id_col),
        F.when(defined, n_tok).alias("n_tokens"),
        F.when(defined, punct_ratio).alias("punct_ratio"),
        F.when(defined, stop_ratio).alias("stopword_ratio"),
        F.when(defined, avg_word_len).alias("avg_word_len"),
        F.when(defined, score).alias("quality"),
    )


def token_frequency_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-statistics quality proxy (the integer-exact cousin of a
    unigram LM score): for every document, the mean corpus frequency of
    its tokens and the fraction of tokens that are corpus-rare
    (frequency <= 2).  Gibberish and boilerplate sit at the two
    extremes -- gibberish is rare-token-heavy, boilerplate is
    common-token-heavy -- so both tails are filterable.

    Two passes, both single-shuffle: token explode -> corpus frequency
    table; explode again -> join frequencies (broadcast: vocabularies
    are tiny relative to corpora) -> per-doc integer sums.  All
    aggregates are integer, so results are bit-identical under any
    partitioning and in ANSI SQL (a log-prob variant would hinge on the
    engines' ulp-level log() agreement)."""
    tok = docs.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("t")
    )
    freqs = tok.groupBy("t").agg(F.count("*").alias("freq"))
    scored = (
        tok.join(F.broadcast(freqs), "t")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("freq").alias("freq_sum"),
            F.sum(F.when(F.col("freq") <= 2, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("freq_sum") / F.col("n_tokens"), 4).alias("mean_token_freq"),
        F.round(F.col("n_rare") / F.col("n_tokens"), 4).alias("rare_ratio"),
    )


def doc_fingerprint(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic document fingerprints: md5 of the normalized text
    (exact identity) + xxhash64 content hash (cheap 64-bit join key)."""
    return docs.select(
        F.col(id_col),
        F.md5(normalize_text(text_col)).alias("fingerprint"),
        F.xxhash64(normalize_text(text_col)).alias("fingerprint64"),
    )


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language corpus stats: doc count, char percentiles, mean
    token count.  percentile_approx would be the 100 TB choice; here the
    exact percentile keeps the DuckDB oracle byte-identical."""
    return (
        docs.withColumn("n_tok", token_count(text_col))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def vocab_topk(
    docs: DataFrame, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency (vocab building for
    a tokenizer / frequency cutoff).  Plan: explode normalized tokens ->
    hash aggregate with map-side partial counts (the shuffle carries one
    (token, count) pair per token per partition, not the corpus) ->
    TakeOrderedAndProject top-k (per-partition heads, k-row driver
    merge; no global sort).  Ties broken by token for determinism."""
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.fanout import fan_out

    ex = fan_out(docs).select(F.explode(tokens(text_col)).alias("token"))
    return (
        ex.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-n terms by tf-idf (keyword extraction):
    ``tf = n_t / n_doc``, ``idf = ln(N / df_t)``, all double arithmetic.

    Plan: explode tokens -> (doc, token) counts [shuffle 1, partial
    aggregated] -> document frequencies by token [shuffle 2, partial
    aggregated; at 100 TB the df table is vocabulary-sized, orders of
    magnitude smaller than the corpus] -> broadcast-join scores back ->
    per-doc top-n via ranked window over the doc-partitioned counts.
    N (corpus size) is a driver-side scalar: one count() job, then a
    literal folded into codegen.  Scoring sorts on the 4-dp-rounded
    score (floor(x*1e4+0.5), identical IEEE arithmetic in Spark and
    DuckDB) with token tiebreak so ordering is engine-independent."""
    from pyspark.sql import Window

    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.fanout import fan_out

    n_docs = docs.count()
    ex = fan_out(docs).select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = ex.groupBy(id_col, "token").agg(F.count("*").alias("n_t"))
    tf = tf.withColumn("n_doc", F.sum("n_t").over(Window.partitionBy(id_col)))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_t"))
    raw = (
        F.col("n_t").cast("double")
        / F.col("n_doc").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("df_t").cast("double"))
    )
    scored = tf.join(F.broadcast(dfreq), "token").withColumn(
        "tfidf", F.floor(raw * 10000 + F.lit(0.5)) / 10000.0
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, "token", "tfidf")
    )


def pack_chunks(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing for training data: concatenate documents in
    ``id_col`` order and cut every ``budget`` tokens; each document is
    labeled with the chunk where its first token lands.  Returns
    (id, n_tokens, chunk_id).

    The running token total is a **distributed prefix sum**, not a
    global window: ``repartitionByRange(id)`` gives ordered, disjoint
    id ranges per partition; per-partition token sums (one row per
    partition) are collected and turned into literal offsets; the
    final cumsum is a partition-local window plus a mapped literal.
    The naive ``Window.orderBy(id)`` with no partitioning funnels the
    whole corpus through ONE task -- this shape keeps every stage wide.
    Chunk ids use exact integer division (``div``), not double
    arithmetic: at ~100 TB the corpus passes 2^53 total tokens and
    float division would mis-bin."""
    from pyspark.sql import Window

    from mapreduce6240project_spark.operators.fanout import fan_out

    d = pin(
        fan_out(docs)
        .repartitionByRange(id_col)
        # null text packs as 0 tokens (keeps the prefix sum total)
        .select(
            F.col(id_col),
            F.coalesce(token_count(text_col), F.lit(0)).alias("n_tokens"),
        )
        .withColumn("pid", F.spark_partition_id())
    )
    part_sums = {
        r.pid: r.s
        for r in d.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(part_sums):
        offsets[pid] = running
        running += part_sums[pid]
    off_map = F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    w = Window.partitionBy("pid").orderBy(id_col)
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens") + off_map[F.col("pid")]
    return (
        d.withColumn("cum_before", cum_before)
        # DIV = integral division on bigint, exact past 2^53 where
        # float `/` + floor would mis-bin
        .withColumn("chunk_id", F.expr(f"cum_before DIV {int(budget)}"))
        .select(F.col(id_col), "n_tokens", "chunk_id")
    )


def charlm_doc_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained character-trigram language-model score per
    document: ``(doc_id, n_tri, logprob_micros)`` where
    ``logprob_micros`` is the summed ln P(c3 | c1 c2) over the doc's
    trigram instances, micro-quantized per distinct trigram.

    This is the perplexity-proxy quality filter of large-corpus
    curation (a KenLM stand-in trained on the corpus itself): docs
    whose character statistics diverge from the corpus (boilerplate,
    mojibake, key-mash) score low.  Two-phase plan: (1) train -- one
    explode + partial-aggregated count per distinct trigram; the
    conditional ``P(z | xy) = n3(xyz) / sum_z n3(xy z)`` derives the
    bigram-prefix normalizer *from the trigram table itself*, so the
    model is a single vocabulary-sized table (char-trigram vocab is
    bounded ~|charset|^3, independent of corpus size -> broadcast);
    (2) score -- per-(doc, trigram) counts joined against the
    broadcast model, integer dot product per doc.

    Determinism: trigram/prefix counts are exact integers; ln of their
    ratio is one IEEE op; quantized to integer micros before any
    reorderable summation (the repo's fixed-point convention).
    """
    from mapreduce6240project_spark.operators.dedup import normalize_text
    from mapreduce6240project_spark.operators.fanout import fan_out

    norm = fan_out(docs).select(
        F.col(id_col), normalize_text(text_col).alias("nt")
    )
    # guard: sequence(1, 0) is a *descending* [1, 0], not empty
    tri = norm.filter(F.length("nt") >= 3).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(nt) - 2),"
                " i -> substring(nt, i, 3))"
            )
        ).alias("g"),
    )
    c3 = tri.groupBy("g").agg(F.count("*").alias("n3"))
    c2 = c3.groupBy(F.substring("g", 1, 2).alias("p")).agg(
        F.sum("n3").alias("n2")
    )
    model = (
        c3.join(F.broadcast(c2), F.substring("g", 1, 2) == F.col("p"))
        .select(
            "g",
            F.floor(
                F.log(F.col("n3").cast("double") / F.col("n2")) * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    dt = tri.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    return (
        dt.join(F.broadcast(model), "g")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tri"),
            F.sum(F.col("c") * F.col("lp")).alias("logprob_micros"),
        )
    )


#: Overlapping-window chunking parameters: 30-word chunks, stride 20
#: (10-word overlap) -- the RAG-ingest shape, distinct from
#: :func:`pack_chunks` (which packs *whole* documents into fixed token
#: budgets for training).
CHUNK_WORDS = 30
CHUNK_STRIDE = 20


def make_chunk_udtf():
    """Python UDTF (Spark 4 table function) emitting overlapping word
    windows per document: rows of (chunk_idx, n_words, chunk).

    The UDTF API is the right tool when one input row expands into a
    *variable* number of typed rows mid-query (lateral join); here each
    text yields ceil-divided overlapping windows.  Per-row Python is
    the slow path (SURVEY.md section 4 doctrine) -- this surface exists
    for API parity; the same expansion is expressible JVM-side as
    ``sequence() + transform() + explode`` (see the registered oracle),
    which is what the 100 TB path should use.  Built lazily so merely
    importing the module never touches the UDTF machinery."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_words int, chunk string")
    class ChunkWords:
        def eval(self, text):  # noqa: D102 - contract in outer docstring
            words = (text or "").split(" ")
            start, idx = 0, 0
            while start < len(words) or idx == 0:
                chunk = words[start : start + CHUNK_WORDS]
                yield idx, len(chunk), " ".join(chunk)
                if start + CHUNK_WORDS >= len(words):
                    break
                start += CHUNK_STRIDE
                idx += 1

    return ChunkWords


def chunk_documents_udtf(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Lateral-join the chunking UDTF against the documents table.
    Returns (doc_id, chunk_idx, n_words, chunk)."""
    spark = docs.sparkSession
    spark.udtf.register("chunk_words", make_chunk_udtf())
    docs.select("doc_id", text_col).createOrReplaceTempView("_chunk_docs_in")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.n_words, c.chunk
        FROM _chunk_docs_in d, LATERAL chunk_words(d.{text_col}) c
        """
    )


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 10,
    top_words: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer TRAINING: learn the first ``n_merges`` merge rules
    from corpus word frequencies.  Returns the merge table
    ``(round, pa, pb, n)`` -- at round r the adjacent symbol pair
    (pa, pb) had the highest frequency-weighted count n and was fused
    into one symbol everywhere before round r+1.

    The repo's ``bpe_ish_token_count`` *applies* a byte-pair-style
    segmentation; this learns one -- the missing training half of the
    tokenizer pipeline (Sennrich et al. 2016's algorithm, the one every
    *-piece tokenizer family descends from).

    Semantics pinned for cross-engine replay: words are the engine's
    normalized whitespace tokens; training runs over the ``top_words``
    most frequent words (ties broken by word) -- the standard
    frequency-table formulation, where pair counts are weighted by word
    frequency, not corpus positions; symbol sequences are space-joined
    strings and a merge applies via leftmost non-overlapping
    ``replace`` scan (for self-pairs like (a, a) on runs of a, this is
    replace-scan order, identical in Spark and ANSI SQL); pair ties
    break on (count desc, pa, pb).

    Scale shape: the word-frequency pass is the corpus-sized job (one
    explode + partial-aggregated count + TakeOrderedAndProject).  The
    iteration then runs on the VOCABULARY (bounded rows), never
    re-touching the corpus: per round one explode of adjacent pairs +
    partial-aggregated weighted count + a 1-row ``limit(1)`` collect
    (driver state = the merge table, exactly the kmedoids pattern),
    then a narrow map applies the merge.  ``localCheckpoint`` per
    round truncates the growing replace-chain lineage.  At production
    vocab sizes (millions of words) every step is the same plan, just
    wider -- nothing here collects the vocabulary.

    Reference parity: iterate-to-k control flow of Cluster.java:310-386
    (driver-held tiny state, distributed per-round job) applied to
    tokenizer training.
    """
    from mapreduce6240project_spark.operators.dedup import tokens
    from mapreduce6240project_spark.operators.fanout import fan_out

    spark = docs.sparkSession
    wf = (
        fan_out(docs)
        .select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(top_words)
    )
    seqs = checkpoint(
        wf.select(
            "w",
            "freq",
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.expr("transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"),
                    " ",
                ),
                F.lit(" "),
            ).alias("seq"),
        )
    )
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        syms = seqs.select(
            "freq", F.split(F.trim(F.col("seq")), " ").alias("syms")
        ).filter(F.size("syms") >= 2)
        pairs = syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS pa,"
                    "             element_at(syms, i + 1) AS pb))"
                )
            ).alias("p"),
        ).select("freq", "p.pa", "p.pb")
        top = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "pa", "pb")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pa, pb, n = top[0].pa, top[0].pb, top[0].n
        merges.append((r, pa, pb, int(n)))
        done, seqs = seqs, checkpoint(
            seqs.withColumn(
                "seq",
                F.replace(
                    F.col("seq"),
                    F.lit(f" {pa} {pb} "),
                    F.lit(f" {pa}{pb} "),
                ),
            )
        )
        unpin(done)
    # the merge list is driver state; nothing returned reads seqs
    unpin(seqs)
    return spark.createDataFrame(
        merges, schema="round int, pa string, pb string, n bigint"
    )


def bigram_lm_continuations(
    docs: DataFrame,
    context_word: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Add-one-smoothed bigram language model, queried for the top-k
    continuations of ``context_word``: P(w2 | w1) = (c12 + 1) /
    (c1 + V) in 6-decimal fixed point (``prob_micro`` =
    (c12 + 1) * 1e6 // (c1 + V)), where c1 counts bigrams whose left
    token is the context word and V is the corpus vocabulary size.

    The probability is integer-exact (truncating division over exact
    counts), so the whole model replays in ANSI SQL.  Plan: one bigram
    stream (posexplode + lead window), a filtered count per
    continuation, and two 1-row aggregates (c1, V) broadcast onto the
    count table -- the cross joins carry exactly one row each, the same
    bounded-cutoff pattern as the clustering literals.  At corpus scale
    the count aggregate partial-combines map-side; nothing is
    driver-sized but the k output rows.
    """
    from pyspark.sql import Window

    from mapreduce6240project_spark.operators.dedup import normalize_text

    tok = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bg = tok.select(
        F.col("tok").alias("w1"),
        F.lead("tok", 1).over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c12 = (
        bg.filter(F.col("w1") == context_word)
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = c12.agg(F.sum("c12").alias("c1"))
    # whitespace-only documents normalize to '' and split to a single
    # empty token that can never appear in a bigram; keep it out of the
    # vocabulary so V matches the bigram-model event space
    vocab = (
        tok.filter(F.col("tok") != "").select("tok").distinct().agg(
            F.count(F.lit(1)).alias("v")
        )
    )
    return (
        c12.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("w2").alias("next_tok"),
            F.col("c12"),
            F.expr("(c12 + 1) * 1000000 div (c1 + v)").alias("prob_micro"),
        )
        .orderBy(F.desc("c12"), "next_tok")
        .limit(k)
    )


def chartrigram_lang_id(
    docs: DataFrame,
    profile_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Trainable character-trigram language classifier with an accuracy
    rollup -- the Cavnar-Trenkle n-gram profile architecture (the one
    real LID systems use) over a deterministic even/odd doc-id split.

    Train: docs with even ids contribute char-trigram counts per
    language; the ``profile_k`` most frequent trigrams per language
    (ties -> trigram asc) form that language's profile.  Classify: each
    odd-id doc is scored per language by how many of its trigram
    occurrences hit the language's profile; argmax score (ties -> lang
    asc) is the prediction.  Output per true language: ``n_docs``
    (classifiable = at least one profile hit), ``n_correct``.

    Scale shape: the profile table is (n_langs * profile_k) rows --
    broadcast; the classify stage is one narrow trigram explode joined
    to the broadcast, then two hash aggregates (doc-level argmax via
    a max_by struct, language-level rollup).  No shuffle carries
    anything document-sized.
    """
    from mapreduce6240project_spark.operators.dedup import normalize_text

    norm = normalize_text(text_col)
    tri = F.expr("transform(sequence(1, length(__norm) - 2), i -> substring(__norm, i, 3))")
    base = docs.select(F.col(id_col), F.col(lang_col), norm.alias("__norm")).filter(
        F.length("__norm") >= 3
    )
    grams = base.select(
        F.col(id_col), F.col(lang_col), F.explode(tri).alias("tri")
    )

    train = grams.filter(F.col(id_col) % 2 == 0)
    counts = train.groupBy(lang_col, "tri").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    rk = Window.partitionBy(lang_col).orderBy(F.desc("c"), "tri")
    profile = (
        counts.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") <= profile_k)
        .select(F.col(lang_col).alias("p_lang"), "tri")
    )

    test = grams.filter(F.col(id_col) % 2 == 1)
    scores = (
        test.join(F.broadcast(profile), "tri")
        .groupBy(id_col, lang_col, "p_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    # per-doc argmax with "ties -> lang asc": min_by over the struct
    # (-score, lang) -- the smallest negated score is the best score,
    # and equal scores fall through to the ascending language
    pred = scores.groupBy(id_col, lang_col).agg(
        F.min_by("p_lang", F.struct((-F.col("score")).alias("ns"), F.col("p_lang"))).alias(
            "pred"
        )
    )
    return (
        pred.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("pred") == F.col(lang_col)).cast("bigint")).alias("n_correct"),
        )
    )


#: The Gopher quality-rule stopword list (Rae et al. 2021, table A1):
#: a document must contain at least 2 of these to pass the stop-word
#: rule.  Public, fixed; shared with the oracle SQL.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the",
    "be",
    "to",
    "of",
    "and",
    "that",
    "have",
    "with",
)


def gopher_quality_flags(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style quality-rule audit (Rae et al. 2021 section A1.1),
    re-expressed so every rule is INTEGER-exact -- ratio rules become
    cross-multiplied integer comparisons, so there is no IEEE anywhere
    and the oracle matches bit-for-bit:

    - ``f_word_count``: 50 <= words <= 100000
    - ``f_word_len``: mean word length in [3, 10], tested as
      ``3*words <= total_word_chars <= 10*words``
    - ``f_symbol_ratio``: (# '#' chars + # '...' runs) / words < 0.1,
      tested as ``10 * symbols < words``
    - ``f_stopwords``: at least 2 DISTINCT Gopher stopwords present

    Flags are 0/1 INTs (booleans stringify differently across engine
    bridges); NULL text yields NULL flags (dirty-text contract -- an
    undefined document must not look like it passed or failed).  One
    expression tree over one scan, no shuffle: at 100 TB this is a
    map-only pass that should run fused with ingest."""
    norm = normalize_text(text_col)
    n_chars = F.length(norm)
    n_words = F.size(F.split(norm, " "))
    total_word_chars = n_chars - (n_words - F.lit(1))
    n_hash = n_chars - F.length(F.replace(norm, F.lit("#"), F.lit("")))
    # delta is an exact multiple of 3 (non-overlapping replace), so the
    # double division is integer-exact
    ell_delta = n_chars - F.length(F.replace(norm, F.lit("..."), F.lit("")))
    n_ellipsis = (ell_delta / 3).cast("int")
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    stop_present = None
    for w in GOPHER_STOPWORDS:
        p = F.when(padded.contains(f" {w} "), 1).otherwise(0)
        stop_present = p if stop_present is None else stop_present + p
    f_word_count = ((n_words >= 50) & (n_words <= 100000)).cast("int")
    f_word_len = (
        (total_word_chars >= n_words * 3) & (total_word_chars <= n_words * 10)
    ).cast("int")
    f_symbol_ratio = ((n_hash + n_ellipsis) * 10 < n_words).cast("int")
    f_stopwords = (stop_present >= 2).cast("int")
    gopher_pass = (
        f_word_count.eqNullSafe(1)
        & f_word_len.eqNullSafe(1)
        & f_symbol_ratio.eqNullSafe(1)
        & f_stopwords.eqNullSafe(1)
    ).cast("int")
    defined = F.col(text_col).isNotNull()
    return docs.select(
        F.col(id_col),
        F.when(defined, n_words).alias("n_words"),
        F.when(defined, f_word_count).alias("f_word_count"),
        F.when(defined, f_word_len).alias("f_word_len"),
        F.when(defined, f_symbol_ratio).alias("f_symbol_ratio"),
        F.when(defined, f_stopwords).alias("f_stopwords"),
        F.when(defined, gopher_pass).alias("gopher_pass"),
    )
