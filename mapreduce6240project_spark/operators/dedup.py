"""Deduplication operators over a document table -- the extension surface
a large-scale training-data pipeline needs (BASELINE.json north star;
absent from the reference, whose only dedup-adjacent op is the distinct
k-draw in random.java:89-111).

Five strategies, all shuffle-conscious:

* exact            -- hash-groupBy on a normalized-text digest (md5, so
                      the DuckDB oracle reproduces it byte-for-byte).
* minhash_lsh      -- shingle -> 64-perm MinHash signature -> banded
                      bucket join.  Candidate generation is an equi-join
                      on (band, band_hash): no O(n^2) pair scan; work is
                      proportional to colliding pairs, the property that
                      makes MinHash-LSH the 100 TB dedup workhorse.
* simhash          -- 64-bit sign-sum fingerprint; near-dup candidates
                      share one of 4 16-bit chunks (Hamming <= 3 within
                      chunk-collision candidates).
* ngram_jaccard    -- exact n-gram-set Jaccard via a relational
                      token-join (distinct shingles self-join); fully
                      SQL-expressible, used as the oracle-checkable
                      ground truth the probabilistic methods approximate.
* embedding cosine -- see operators.similarity (near-dup at cos >= t).

Hash functions are Spark's xxhash64 (seeded per permutation by mixing a
literal) -- JVM-side, codegen, no Python in the hot path.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce6240project_spark.functions.actions import first_row
from mapreduce6240project_spark.session import pin

# Intermediate frames these generators persist are read by the lazily
# returned result, so they are pinned (``session.pin``) rather than
# unpersisted here; the caller frees them with ``session.release_pins``
# once the consuming action has run.


class _ThreadLocalStats:
    """Mapping-like per-thread diagnostics store.  Same dict interface
    the callers always used (``last_run_stats["hot_probe"]``), but each
    thread sees its own underlying dict -- concurrent dedup pipelines
    on separate threads no longer clobber each other's
    ``hot_probe``/``hot_buckets`` values (round-6 advice)."""

    def __init__(self, **defaults) -> None:
        self._defaults = dict(defaults)
        self._local = threading.local()

    def _d(self) -> dict:
        d = getattr(self._local, "d", None)
        if d is None:
            d = self._local.d = dict(self._defaults)
        return d

    def __getitem__(self, key):
        return self._d()[key]

    def __setitem__(self, key, value) -> None:
        self._d()[key] = value

    def __contains__(self, key) -> bool:
        return key in self._d()

    def get(self, key, default=None):
        return self._d().get(key, default)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return repr(self._d())


#: diagnostics from the most recent banded-join build (per thread):
#: ``hot_buckets`` (int) = how many (band, band_hash) buckets exceeded
#: ``hot_bucket_threshold`` and took the salted join; ``hot_probe``
#: (str) = which detection tier ran ("sample-clear" or "full").
#: Observability for tests and operators; not part of the result
#: contract.
last_run_stats = _ThreadLocalStats(hot_buckets=0)


# ---------------------------------------------------------------------------
# tokenization / shingling (shared)
# ---------------------------------------------------------------------------


def normalize_text(col) -> F.Column:
    """Lowercase + collapse whitespace: canonical form for fingerprints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col) -> F.Column:
    return F.split(normalize_text(col), " ")


def text_fingerprint128(col) -> F.Column:
    """128-bit fingerprint of the normalized text: a struct of two
    ``xxhash64`` values under independent seeds (a distinct literal
    prepended to the hashed tuple reseeds the avalanche).  The
    identical-text collapse groups and joins on this key; a single
    64-bit fingerprint has a real birthday-bound collision risk at
    multi-billion-doc scale (~50% at 5e9 docs), which would silently
    merge two *distinct* texts into one collapse group -- emitting
    bogus within-group pairs and dropping one text's signature from the
    LSH join (round-4 advice).  At 128 bits the bound is ~1e-20 per
    corpus.  Struct equality/grouping/ordering are all native Spark, so
    the key works everywhere a column does."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.struct(
        F.xxhash64(norm).alias("h1"),
        F.xxhash64(F.lit(0x9E3779B9), norm).alias("h2"),
    )


def _q(name: str) -> str:
    """Backtick-quote an identifier for SQL-string interpolation."""
    return "`" + name.replace("`", "``") + "`"


def normalize_sql(col: str) -> str:
    """SQL-string twin of :func:`normalize_text` (one ``F.expr`` parse
    instead of ~5 py4j Column calls; the literal ``'\\\\s+'`` reaches the
    parser as ``\\s+``, the same Java regex the Column builder passes)."""
    return f"trim(regexp_replace(lower({_q(col)}), '\\\\s+', ' '))"


def shingles_sql(col: str, n: int = 3) -> str:
    """SQL-string twin of :func:`shingles` -- identical expression tree
    (CASE mirrors the when/when with NULL fall-through, integer literals
    keep integral types), parsed in one py4j round-trip instead of ~15.
    Equivalence incl. NULL/short/empty-text branches is pinned by
    tests/test_r11_optimizations.py."""
    t = f"split({normalize_sql(col)}, ' ')"
    return (
        f"CASE WHEN size({t}) >= {n} THEN"
        f" transform(sequence(1, size({t}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({t}, i, {n})))"
        f" WHEN {t} IS NOT NULL THEN array(concat_ws(' ', {t})) END"
    )


def shingles(col, n: int = 3) -> F.Column:
    """Word n-gram shingles as an array<string>.  Documents shorter than
    ``n`` tokens yield one shingle: their whole normalized text.  (The
    short-doc branch must be explicit -- Spark's ``sequence(1, 0)`` is a
    *descending* [1, 0], not empty.)

    A NULL text yields NULL (no shingles -- the row simply never enters
    any shingle join), NOT the empty-string shingle: the previous
    unconditional ``otherwise(concat_ws(...))`` branch turned NULL into
    ``""`` because ``concat_ws`` skips NULL inputs, which made every
    NULL-text document a Jaccard-1.0 twin of every EMPTY document while
    the SQL oracles (``string_split(NULL)`` -> no unnested rows) never
    paired it (dirty-text contract finding).  Empty/whitespace-only
    texts keep their ``[""]`` shingle -- both engines agree those are
    mutual duplicates."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).when(toks.isNotNull(), F.array(F.concat_ws(" ", toks)))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text md5 digest.
    One hash-partition shuffle on the digest; at 100 TB this is the
    cheapest possible dedup (no text comparison after hashing)."""
    return (
        docs.withColumn("fingerprint", F.md5(normalize_text(text_col)))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_n: int = 3,
    carry_fp: bool = False,
) -> DataFrame:
    """(id, sig array<bigint>) -- element i = min over shingles of the
    i-th Carter-Wegman permutation of the shingle's base hash:
    ``(a_i * xxhash64(s) + b_i) mod p``, p = 2^31 - 1.

    ``carry_fp=True`` additionally emits ``_fp``, a 128-bit
    fingerprint of the normalized text (struct of two independently
    seeded ``xxhash64`` values -- see :func:`text_fingerprint128`) --
    computed BEFORE the shingle explode and folded through the
    aggregate, so identical-text grouping costs no extra pass over the
    corpus (used by the hot-band collapse in
    :func:`minhash_candidate_pairs`).

    Plan shape: explode distinct shingles -> ONE codegen ``xxhash64``
    per shingle string -> ``groupBy(doc_id)`` with 64 ``min`` aggregate
    expressions over affine permutations of that base hash.  Everything
    in the hot path is whole-stage-codegen (hash, mul/add/mod, hash
    aggregate); Spark's *partial* aggregation computes per-partition
    mins map-side, so the exchange carries one 64-long vector per doc
    per partition -- the corpus text itself never shuffles.

    A pure array-expression formulation (``array_min`` over nested
    ``transform``) would be shuffle-free, but Spark's higher-order
    functions are CodegenFallback -- interpreted per element -- and
    measured ~10x slower on the same data; the narrow doc_id-keyed
    signature shuffle is the right trade at any scale.

    Operands stay < 2^31 (mod p = 2^31-1) so products fit a 64-bit long
    under ANSI mode."""
    from mapreduce6240project_spark.operators.fanout import fan_out

    p = (1 << 31) - 1  # Mersenne prime 2^31-1
    # deterministic Carter-Wegman constants (a in [1, p), b in [0, p))
    rng_a = [(2654435761 * (i + 1) + 104729) % (p - 1) + 1 for i in range(n_hashes)]
    rng_b = [(40503 * (i + 1) * 69621 + 12345) % p for i in range(n_hashes)]
    fp_pre = [text_fingerprint128(text_col).alias("_fp")] if carry_fp else []
    # one F.expr for the whole shingle explode (r11): the Column build
    # of shingles() cost ~15 py4j round-trips per signature plan
    ex = fan_out(docs).select(
        F.col(id_col),
        *fp_pre,
        F.expr(f"explode(array_distinct({shingles_sql(text_col, shingle_n)}))").alias("s"),
    )
    base = F.pmod(F.xxhash64("s"), F.lit(p))
    hashed = ex.select(F.col(id_col), *([ "_fp" ] if carry_fp else []), base.alias("h"))
    # ONE F.expr for ALL permutations (r10 built one per permutation --
    # 64 parses; r11 fuses them plus the final array() into a single
    # parse, and the signature array is assembled in the aggregate's
    # result projection, dropping the separate select).  The SQL parses
    # to the identical expression tree: integer literals keep their
    # integral types, `%` is the same Remainder, and all operands are
    # non-negative ints so the arithmetic is exact either way.
    mins_sql = ", ".join(
        f"min((h * {rng_a[i]} + {rng_b[i]}) % {p})" for i in range(n_hashes)
    )
    fp_agg = [F.min("_fp").alias("_fp")] if carry_fp else []  # constant per doc
    return hashed.groupBy(id_col).agg(
        F.expr(f"array({mins_sql})").alias("sig"), *fp_agg
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    carry_sigs: bool = False,
    collapse_identical: bool | None = None,
    within_salt: int = 16,
    collapse_min_group: int = 64,
    hot_bucket_threshold: int = 256,
    within_star: bool = False,
) -> DataFrame:
    """Raw banded-LSH candidate pairs: (id_a, id_b) with id_a < id_b
    sharing at least one band hash.  ``carry_sigs=True`` additionally
    carries both signatures (sig_a, sig_b) through the join for
    estimated-Jaccard scoring -- a wider shuffle, only worth it when the
    consumer needs the estimate rather than an exact verify.

    **Hot-band skew** (round-3 verdict item 2): a mass of byte-identical
    documents (boilerplate pages in a crawl) shares every (band,
    band_hash) bucket, so the naive banded self-join puts m^2/2 pairs in
    ONE task -- the classic LSH straggler at 100 TB.  Identical
    normalized texts have identical signatures by construction, so they
    can be collapsed to one representative per ``xxhash64(normalized
    text)`` group and only representatives enter the LSH join: the hot
    bucket holds one row per distinct text.  The full pair set is then
    reconstructed exactly -- singleton-to-singleton representative pairs
    pass straight through (no join), within-group pairs come from a
    SALTED all-pairs expansion (each group's pair generation spreads
    across ``within_salt`` join keys instead of one), and pairs touching
    a multi-member group fan out over both membership lists.  The
    candidate set is IDENTICAL to the naive join's (identical docs
    collide in every band; cross-group collisions depend only on the
    representative signatures), so oracles replay unchanged.  The
    expansion output is itself Theta(m^2) rows for an m-identical
    group -- that is output density, inherent to returning the pair
    list; :func:`minhash_dedup` and the connected-components fold never
    materialize within-group pairs quadratically per task.

    ``collapse_identical=None`` (default) is ADAPTIVE: a standalone
    pre-probe (``groupBy(xxhash64(normalize_text))`` -> max group count)
    finds the largest identical group BEFORE any signature work.  The
    probe scans the text once with no shingle explode and no signature
    hashes -- measured ~15% of the signature job -- so the dup-light
    common path then runs the plain banded self-join with none of the
    collapse machinery (no ``carry_fp``, no extra aggregate column, no
    second decision job; an earlier design probed the cached signature
    table instead and cost a measured +50% end-to-end on dup-light
    corpora).  Below ``collapse_min_group`` (64^2/2 pairs per bucket --
    harmless) the plain join runs; at or above it the collapse engages.
    Pass True/False to force either path and skip the probe.

    **Oversized band buckets are salted** (round-4 verdict item 1): the
    identical-text collapse bounds buckets only for *byte-identical*
    masses.  A mass of *templated* near-identical docs (one token apart
    -- classic crawl boilerplate) has distinct fingerprints, agrees on
    most bands, and lands m rows in a handful of (band, band_hash)
    buckets, so the plain self-join would compute ~m^2/2 pairs in ONE
    task.  The pair *output* is legitimately quadratic (they are true
    near-dups); the single-task join is not.  Fix: a cheap
    deterministic doc-hash sample probe first (1/probe_mod of the
    banded rows; probe_mod scales with the threshold), escalating to
    the exact partial-agg count over ALL banded rows only when the
    extrapolated max bucket approaches the threshold; the exact count
    finds buckets >= ``hot_bucket_threshold``
    (that list is at most rows/threshold and in practice tiny --
    broadcast); rows in hot buckets take a salted self-join (a-side
    keyed by ``pmod(xxhash64(id), within_salt)``, b-side replicated
    over all salts) so each bucket's pairs spread over ``within_salt``
    tasks with per-task work ~m^2/salt; every other row takes the plain
    join untouched.  Pair set identical (each in-bucket (a, b) pair
    matches exactly once: a carries one salt value, b carries all).
    When the probe (or count) finds NO hot bucket, the plain join runs
    with zero tagging overhead -- the dup-light common path pays only
    the 1/probe_mod sample count (``last_run_stats['hot_probe']``
    records which tier ran).

    ``within_star=True`` replaces the within-group all-pairs expansion
    with representative->member star edges (one row per non-rep member,
    O(m) instead of m^2/2).  Identical texts are near-dups at any
    threshold and the star spans the group, so the edges are sufficient
    for both the survivors anti-join (every non-min member appears as
    ``id_b``) and connected components (the group is one component) --
    :func:`minhash_dedup` uses it; callers that need the literal pair
    list keep the default False.

    Pins the signature frame plus the hot-bucket list every call (and
    two lazy derivations when collapsing) -- ``session.release_pins``
    frees them."""
    rows_per_band = n_hashes // bands

    def _banded(sig_df, extra_cols):
        """Banded self-join; output columns ``a_<c>`` / ``b_<c>`` for
        each side's ``c`` in (id, sig, *extra_cols)."""
        cols = [id_col, "sig", *extra_cols]
        # SQL strings end to end (r11): band explode + band hash in two
        # selectExpr parses, the join condition in one -- the former
        # Column build paid ~15 py4j round-trips per banded plan.  Same
        # trees: integer literals stay INT, explode/sequence/slice/
        # xxhash64 argument types unchanged.
        proj = [f"a.{_q(c)} AS {_q('a_' + c)}" for c in cols] + [
            f"b.{_q(c)} AS {_q('b_' + c)}" for c in cols
        ]
        banded = sig_df.selectExpr(
            *[_q(c) for c in cols],
            f"explode(sequence(0, {bands - 1})) AS band",
        ).selectExpr(
            "*",
            f"xxhash64(band, slice(sig, band * {rows_per_band} + 1,"
            f" {rows_per_band})) AS band_hash",
        )
        join_sql = (
            "a.band = b.band AND a.band_hash = b.band_hash"
            f" AND a.{_q(id_col)} < b.{_q(id_col)}"
        )

        def self_join(da, db, salted: bool):
            cond = F.expr(
                join_sql + (" AND a._bs = b._bs" if salted else "")
            )
            return da.alias("a").join(db.alias("b"), cond).selectExpr(*proj)

        # hot-bucket detection (round-5 verdict item 3 amortization):
        # near-identical masses are exactly what the identical-text
        # pre-probe cannot see, so SOME per-call check is mandatory --
        # but the full (band, band_hash) count pass over every banded
        # row was the whole +1 s the always-on guarantee cost at sf1.
        # A deterministic 1/probe_mod doc-hash sample now goes first:
        # the id filter pushes below the band explode + hash, so the
        # probe touches probe_mod-times fewer rows, and a bucket of
        # true size m shows ~m/probe_mod sampled rows.  Only when the
        # extrapolated max bucket reaches threshold/2 does the exact
        # full count run (the salted plan still keys off the EXACT
        # list, so the salting guarantee is unchanged in every detected
        # regime).  Detection risk decays exactly where it matters: at
        # m = threshold a miss costs one threshold^2/2-pair task
        # (bounded, harmless); at mass scale (m >> threshold) the
        # sample miss probability is e^{-O(m/probe_mod)} -- negligible.
        # probe_mod scales with the threshold (>=32 expected sampled
        # rows at m = threshold) and collapses to 1 (probe skipped,
        # full count as before) for the small thresholds used by
        # planted tests.
        probe_mod = min(16, max(1, hot_bucket_threshold // 32))
        need_full = True
        if probe_mod > 1:
            # first_row (r11): .first() on this 2-exchange aggregate
            # paid 3 sequential jobs of CollectLimit/AQE scheduling
            # (0.85 s at sf0.1); the straight collect is one job.
            smax_row = first_row(
                banded.filter(
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(probe_mod)) == 0
                )
                .groupBy("band", "band_hash")
                .agg(F.count(F.lit(1)).alias("_bn"))
                .agg(F.max("_bn"))
            )
            smax = (smax_row[0] or 0) if smax_row is not None else 0
            # escalation cutoff threshold//4 (round-6 advice): the
            # sample undershoots Binomially, and a //2 margin left a
            # deterministic blind spot for buckets just under the
            # threshold (miss cost is bounded -- one ~threshold^2/2-pair
            # task, pair set unchanged -- but the margin is the only
            # guard, so keep it wide).  Miss probability before tuning
            # hot_bucket_threshold (exact Binomial tails for a bucket
            # at exactly m = threshold, the worst detectable case;
            # probe_mod tracks the threshold so E[sampled] >= 32):
            #   thr=128:  P[Binom(128, 1/4)  <  8] = 5.3e-9
            #   thr=256:  P[Binom(256, 1/8)  <  8] = 2.8e-8  (default)
            #   thr=512:  P[Binom(512, 1/16) <  8] = 5.7e-8
            #   thr=1024: P[Binom(1024,1/16) < 16] = 5.7e-14
            # (the //2 margin sat at ~0.04).  The xxhash64-mod sample
            # is deterministic per id set, so a given corpus either
            # always detects or always misses -- the Binomial is over
            # the id-hash ensemble, not per-run randomness.
            need_full = smax * probe_mod >= hot_bucket_threshold // 4
        last_run_stats["hot_probe"] = "full" if need_full else "sample-clear"
        if not need_full:
            last_run_stats["hot_buckets"] = 0
            return self_join(banded, banded, salted=False)
        # Buckets below the threshold bound the plain join's worst task
        # at threshold^2/2 pairs.
        hot = pin(
            banded.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") >= hot_bucket_threshold)
            .select("band", "band_hash")
        )
        n_hot = hot.count()
        last_run_stats["hot_buckets"] = n_hot  # diagnostic (tests/ops)
        if n_hot == 0:
            return self_join(banded, banded, salted=False)
        tagged = banded.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))),
            ["band", "band_hash"],
            "left",
        )
        cold = tagged.filter(F.col("_hot").isNull()).drop("_hot")
        hotr = tagged.filter(F.col("_hot").isNotNull()).drop("_hot")
        ha = hotr.withColumn(
            "_bs", F.pmod(F.xxhash64(F.col(id_col)), F.lit(within_salt))
        )
        hb = hotr.withColumn(
            "_bs", F.explode(F.sequence(F.lit(0), F.lit(within_salt - 1)))
        )
        # buckets are wholly hot or wholly cold, so pairs never span
        # the branches; each in-bucket (a, b) pair matches exactly once
        # in the salted join (a carries one salt value, b carries all)
        return self_join(cold, cold, salted=False).unionByName(
            self_join(ha, hb, salted=True)
        )

    def _naive(sig_df):
        carried = (
            [F.col("a_sig").alias("sig_a"), F.col("b_sig").alias("sig_b")]
            if carry_sigs
            else []
        )
        return (
            _banded(sig_df, [])
            .select(
                F.col(f"a_{id_col}").alias("id_a"),
                F.col(f"b_{id_col}").alias("id_b"),
                *carried,
            )
            .dropDuplicates(["id_a", "id_b"])
        )

    if collapse_identical is None:
        # adaptive pre-probe on the raw corpus: normalized-text hash ->
        # per-group count -> max.  One narrow text scan, no shingle
        # explode, no signature hashes; decides the path before the
        # expensive signature job so the dup-light branch pays nothing
        # beyond this scan.  Small max group -> the plain join's worst
        # bucket is bounded and the collapse machinery would only add
        # shuffles.
        mx_row = first_row(
            docs.groupBy(F.xxhash64(normalize_text(text_col)).alias("_fp"))
            .agg(F.count("*").alias("_n"))
            .agg(F.max("_n"))
        )
        collapse_identical = bool(
            mx_row is not None and (mx_row[0] or 0) >= collapse_min_group
        )

    if collapse_identical is False:
        # lazy pin: the hot-bucket probe inside _banded is the FIRST
        # action against the persisted signature frame, and reading a
        # cached relation materializes every scanned partition whole --
        # so the probe job doubles as the cache fill and the separate
        # eager count() would be a redundant full sequential pass
        # (round-6 verdict item 5: the probe previously cost ~10% on a
        # dup-light corpus; fused, its marginal cost is just the
        # sampled explode+hash on top of the fill the count() paid
        # anyway).  Both self-join sides then read the warm cache.
        return _naive(
            pin(minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n))
        )

    # --- collapse identical normalized texts -------------------------------
    # ONE pass over the corpus: signatures are computed for every doc
    # with the group fingerprint (xxhash64 of the normalized text)
    # carried through the same aggregate (``carry_fp``), so collapsing
    # costs no extra scan and the text never shuffles -- membership,
    # grouping and both expansions move (fingerprint, id) rows only.
    # Identical docs re-hash their shingles redundantly, but that work
    # is skewless and linear; deduplicating text first would mean
    # shuffling text.
    allsigs = pin(
        minhash_signatures(docs, text_col, id_col, n_hashes, shingle_n, carry_fp=True),
        eager=True,
    )
    members = allsigs.select("_fp", id_col)
    # lazy persists: groups and rep_sigs are cheap derivations of the
    # cached signature table; the one eager materialization below
    # (rep_pairs) fills both caches for every later consumer.  Extra
    # eager counts here were each a measured full sequential pass.
    groups = pin(
        members.groupBy("_fp").agg(
            F.min(id_col).alias("_rid"), F.count("*").alias("_n")
        ),
    )
    # representative signatures: id-join reusing the aggregate's hash
    # partitioning (groups is one small row per distinct text)
    rep_sigs = pin(
        allsigs.join(groups.select(F.col("_rid").alias(id_col), "_n"), id_col),
    )

    # representative pairs, carrying each side's group size: one row per
    # colliding group pair
    rep_pairs = (
        _banded(rep_sigs, ["_fp", "_n"])
        .select(
            F.col("a__fp").alias("_fpa"),
            F.col("b__fp").alias("_fpb"),
            F.col(f"a_{id_col}").alias("_rida"),
            F.col(f"b_{id_col}").alias("_ridb"),
            F.col("a__n").alias("_na"),
            F.col("b__n").alias("_nb"),
            *(
                [F.col("a_sig").alias("_siga"), F.col("b_sig").alias("_sigb")]
                if carry_sigs
                else []
            ),
        )
        .dropDuplicates(["_fpa", "_fpb"])
    )
    # eager: pure + cross both read rep_pairs; group-pair-scale rows
    # (bounded by the deduped candidate count)
    rep_pairs = pin(rep_pairs, eager=True)

    # singleton-singleton pairs (the overwhelming majority on a
    # dup-light corpus) need no expansion: member id == rep id, and the
    # banded join already oriented _rida < _ridb.  No join, no shuffle.
    sig_cols = (
        [F.col("_siga").alias("sig_a"), F.col("_sigb").alias("sig_b")]
        if carry_sigs
        else []
    )
    pure = rep_pairs.filter((F.col("_na") == 1) & (F.col("_nb") == 1)).select(
        F.col("_rida").alias("id_a"), F.col("_ridb").alias("id_b"), *sig_cols
    )

    # cross-group expansion for pairs touching a multi-member group:
    # every member pair across the two groups; least/greatest restores
    # the id_a < id_b orientation (the carried signatures swap with it,
    # though every consumer treats them symmetrically)
    touched = rep_pairs.filter((F.col("_na") >= 2) | (F.col("_nb") >= 2))
    ma = members.select(F.col("_fp").alias("_fpa"), F.col(id_col).alias("_ida"))
    mb = members.select(F.col("_fp").alias("_fpb"), F.col(id_col).alias("_idb"))
    swap = F.col("_ida") < F.col("_idb")
    cross = (
        touched.join(ma, "_fpa")
        .join(mb, "_fpb")
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            *(
                [
                    F.when(swap, F.col("_siga")).otherwise(F.col("_sigb")).alias("sig_a"),
                    F.when(swap, F.col("_sigb")).otherwise(F.col("_siga")).alias("sig_b"),
                ]
                if carry_sigs
                else []
            ),
        )
    )

    if within_star:
        # representative->member star edges: O(m) rows per m-identical
        # group, no self-join at all.  Orientation holds because the
        # representative is the group min id.
        within = (
            members.join(
                groups.filter(F.col("_n") >= 2).select("_fp", "_rid"), "_fp"
            )
            .filter(F.col(id_col) != F.col("_rid"))
            .select(
                F.col("_rid").alias("id_a"), F.col(id_col).alias("id_b"), "_fp"
            )
        )
    else:
        # within-group all-pairs, salted: the a-side keeps its hash
        # salt, the b-side replicates over all salts, so one
        # m-identical group's m^2/2 pairs spread over `within_salt`
        # (group, salt) join keys
        dup_groups = groups.filter(F.col("_n") >= 2).select("_fp")
        m2 = members.join(dup_groups, "_fp", "left_semi")
        wa = m2.withColumn(
            "_s", F.pmod(F.xxhash64(F.col(id_col)), F.lit(within_salt))
        )
        wb = m2.select("_fp", F.col(id_col).alias("_idb")).withColumn(
            "_s", F.explode(F.sequence(F.lit(0), F.lit(within_salt - 1)))
        )
        within = (
            wa.join(wb, ["_fp", "_s"])
            .filter(F.col(id_col) < F.col("_idb"))
            .select(F.col(id_col).alias("id_a"), F.col("_idb").alias("id_b"), "_fp")
        )
    if carry_sigs:
        gsig = rep_sigs.select("_fp", F.col("sig").alias("sig_a"), F.col("sig").alias("sig_b"))
        within = within.join(gsig, "_fp")
    within = within.drop("_fp")

    # the three branches are disjoint by construction (pure = singleton
    # groups both sides, cross = distinct groups with a multi-member
    # side, within = same group) and duplicate-free (rep pairs deduped;
    # expansions are keyed one-to-one on memberships) -- no final
    # dropDuplicates shuffle
    return pure.unionByName(cross).unionByName(within)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    **kw,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH, scored by the
    signature-estimated Jaccard.  Returns (id_a, id_b, est_jaccard) with
    id_a < id_b and est_jaccard >= threshold.  Extra kwargs (e.g.
    ``collapse_identical``) pass through to the candidate generator."""
    cand = minhash_candidate_pairs(
        docs, text_col, id_col, n_hashes, bands, shingle_n, carry_sigs=True, **kw
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_hashes))
    )
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def jaccard_verified_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    broadcast_max_docs: int = 500_000,
    broadcast_max_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Exact-verification stage of candidate-based dedup: join candidate
    (id_a, id_b) pairs back to the documents' distinct shingle sets and
    keep pairs whose *exact* n-gram Jaccard >= threshold.

    This is the standard LSH shape at scale -- the probabilistic stage
    (MinHash bands, SimHash chunks) prunes the O(n^2) pair space down to
    candidates, then the exact measure runs only on those few pairs.
    Candidate docs are a tiny fraction of the corpus, so the docs table
    is first semi-joined down to ids that appear in any candidate pair
    and only *those* docs get shingled; the shingle table is then
    joined to both sides of the pair join -- no shuffle of the corpus,
    no full-table shingle computation.  The broadcast of that shingle
    table is *gated on its measured size* (round-4 verdict item 2): on
    a dup-heavy corpus "candidates" approaches the whole corpus, and an
    unconditional broadcast would ship the shingled corpus to every
    executor (OOM at scale).  The gate is two-tier because a doc COUNT
    alone can pass while the payload is still multi-GB (explicit
    broadcast hints override Spark's size limits): above
    ``broadcast_max_docs`` the shuffle join is taken with no further
    measurement; below it, one narrow aggregate sums the candidate
    docs' text bytes and the broadcast only happens if
    ``(shingle_n + 1)`` times that mass (each word appears in up to
    ``shingle_n`` shingles, +1 for array overhead) fits
    ``broadcast_max_bytes``.  The
    output is
    independent of the hash function, so it is checkable against the
    relational Jaccard ground truth (:func:`ngram_jaccard_pairs`) by
    any SQL engine."""
    # pairs persists LAZILY (r10 optimization): ids.count() below is the
    # first action over the chain and scans pairs in full, so the former
    # separate eager pairs.count() was a redundant sequential job.
    pairs = pin(candidates.select("id_a", "id_b"))
    ids = pin(
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct(),
    )
    # The count stays an explicit job BEFORE the semi-join below is
    # planned: a materialized InMemoryRelation carries accurate size
    # stats, which is what lets the planner broadcast `ids` into the
    # semi-join instead of shuffling the corpus by doc_id (the plan
    # invariant tests/test_plans.py::test_verify_stage_broadcasts_
    # candidate_shingles guards; deferring this count to a fused probe
    # was tried in r10 and regressed the static plan to a corpus-side
    # SortMergeJoin).
    n_candidate_docs = ids.count()  # materializes pairs + ids caches
    # cache the candidate docs (id + text only) in EVERY branch: the
    # shingle projection feeds BOTH sides of the pair join, so an
    # unpersisted semi would run the corpus semi-join + shingling twice
    # -- and the >max_docs branch is exactly the dup-heavy regime where
    # that second pass is most expensive (round-5 advice).  The byte
    # probe in the <=max_docs branch reads the same cache.
    semi = pin(
        docs.join(ids, id_col, "left_semi").select(id_col, text_col),
    )
    hint = lambda d: d  # noqa: E731 - shuffle-join default
    if n_candidate_docs <= broadcast_max_docs:
        text_bytes = (
            first_row(semi.agg(F.sum(F.octet_length(text_col)).alias("b")))[
                "b"
            ]
            or 0
        )
        # expansion factor scales with the shingle width: every word
        # appears in up to shingle_n shingles, +1 for array overhead
        if text_bytes * (shingle_n + 1) <= broadcast_max_bytes:
            hint = F.broadcast
    # persist the SHINGLED candidate table, not just the text: it feeds
    # BOTH sides of the pair join, and an unpersisted projection would
    # tokenize + shingle every candidate doc twice (once per side's
    # broadcast/shuffle build).  O(|candidates|) rows either way; the
    # lazy persist fills on the first side's build (r10 optimization).
    sh = pin(
        semi.selectExpr(
            _q(id_col),
            f"array_distinct({shingles_sql(text_col, shingle_n)}) AS sh",
        ),
    )
    a = hint(sh.selectExpr(f"{_q(id_col)} AS id_a", "sh AS sh_a"))
    b = hint(sh.selectExpr(f"{_q(id_col)} AS id_b", "sh AS sh_b"))
    # scoring as one parsed expression (r11): identical tree to the
    # former Column build -- the intersect size appears twice in both
    # (the Column object was copied into numerator and denominator),
    # and runtime subexpression elimination evaluates it once either way
    jac = F.expr(
        "round(size(array_intersect(sh_a, sh_b)) /"
        " (size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))), 4)"
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    docs: DataFrame,
    transitive: bool = False,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    **kw,
) -> DataFrame:
    """Survivor set after MinHash near-dup removal.  Pairs are banded-
    LSH candidates *exact-verified* at the true n-gram Jaccard
    ``threshold`` (see :func:`jaccard_verified_pairs`), so the survivor
    set is hash-independent whenever band recall is complete.

    ``transitive=False`` (default): drop the higher id of every pair --
    one anti-join, but over-keeps on open triangles (A~C and B~C with no
    A-B edge keeps both A and B).
    ``transitive=True``: fold duplicate clusters with connected
    components (operators.graph) and keep the min id per component --
    the semantically correct dedup, a few extra iterative joins.

    Candidate generation runs with ``within_star=True`` (round-4
    verdict item 2): a survivors computation never needs the literal
    within-group all-pairs list, so an m-identical mass contributes
    O(m) representative->member star edges instead of m^2/2 pairs --
    Jaccard-1 edges that pass verification at any threshold, span the
    group for CC, and put every non-min member in the anti-join's
    ``id_b`` set.  Survivors are identical to the all-pairs run; only
    the intermediate pair cardinality changes.
    """
    kw.setdefault("within_star", True)
    cand = minhash_candidate_pairs(
        docs, text_col, id_col, shingle_n=shingle_n, **kw
    )
    pairs = jaccard_verified_pairs(
        docs, cand, text_col, id_col, shingle_n, threshold
    )
    if transitive:
        from mapreduce6240project_spark.operators.graph import dedup_by_components

        return dedup_by_components(docs, pairs, id_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: usable fingerprint bits per token-hash choice (both keep the
#: assembled bigint positive)
SIMHASH_BITS = {"xxhash64": 63, "md5": 60}


def _token_hash(token_col: str, token_hash: str) -> F.Column:
    if token_hash == "xxhash64":
        return F.xxhash64(token_col)
    if token_hash == "md5":
        # first 15 hex chars of md5 -> 60-bit non-negative long.  Any
        # SQL engine reproduces this bit-for-bit (md5 + hex-to-int are
        # universal), which makes the md5 variant oracle-checkable;
        # xxhash64 is Spark-internal but faster, the default for
        # production pipelines.
        return F.conv(F.substring(F.md5(token_col), 1, 15), 16, 10).cast("bigint")
    raise ValueError(f"unknown token_hash {token_hash!r}")


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash bigint): sign-sum over token hashes.

    Plan shape mirrors :func:`minhash_signatures`: explode distinct
    tokens -> one codegen hash per token -> ``groupBy(doc_id)`` with one
    per-bit ``sum(bit)`` aggregate per fingerprint bit + a count, then
    assemble the fingerprint (bit b set iff the majority of token hashes
    have bit b set).  Whole-stage-codegen end to end; partial
    aggregation shuffles ~64 longs per doc per partition, never the
    text.  ``token_hash="md5"`` trades some hash throughput for a
    fingerprint any SQL engine can replicate (see :func:`_token_hash`)."""
    from mapreduce6240project_spark.operators.fanout import fan_out

    bits = SIMHASH_BITS[token_hash]
    ex = fan_out(docs).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("t")
    )
    hashed = ex.select(F.col(id_col), _token_hash("t", token_hash).alias("h"))
    # whole fingerprint as ONE parsed expression (r11): the former
    # 60-bit Column build (one sum aggregate alias + one when/otherwise
    # fold term per bit, ~300 py4j round-trips) dominated this plan's
    # driver-side construction.  Identical integer arithmetic: per-bit
    # majority sum(shiftright & 1) * 2 > count(*), CAST(... AS BIGINT)
    # weights, left-associative addition -- exact bigints either way.
    terms = " + ".join(
        f"CASE WHEN sum(shiftright(h, {b}) & 1) * 2 > count(*)"
        f" THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return hashed.groupBy(id_col).agg(
        F.expr(f"CAST(0 AS BIGINT) + {terms}").alias("simhash")
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.  Candidates
    must share one of ``chunks`` bit chunks, so the join is an equi-join
    on (chunk_idx, chunk_value) -- linear, not O(n^2).  By pigeonhole
    the chunk filter is *lossless* whenever ``max_hamming < chunks``
    (<= chunks-1 flipped bits cannot touch every chunk); with a larger
    ``max_hamming`` it is a recall-vs-cost heuristic."""
    sh = simhash(docs, text_col, id_col, token_hash)
    fp_bits = SIMHASH_BITS[token_hash]
    chunk_bits = -(-fp_bits // chunks)  # ceil: chunks must cover all bits
    mask = (1 << chunk_bits) - 1
    structs = ", ".join(
        f"named_struct('chunk_idx', {i}, 'chunk_val',"
        f" shiftright(simhash, {i * chunk_bits}) & {mask})"
        for i in range(chunks)
    )
    chunked = sh.selectExpr(
        _q(id_col), "simhash", f"explode(array({structs})) AS c"
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk_val")
    a, b = chunked.alias("a"), chunked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 -- the MOSS
    scheme): hash every n-gram shingle, slide a ``window`` over the hash
    sequence, keep the minimum of each window; the distinct kept hashes
    are the document's fingerprint set.  Guarantees any shared substring
    of length >= window+n-1 shingles produces a shared fingerprint.

    Plan shape mirrors :func:`minhash_signatures`: posexplode the
    positional shingles -> one codegen ``xxhash64`` per shingle -> a
    rows-frame window min (JVM window exec) gives each start position's
    window minimum -> distinct mins collected per doc.  The former
    array-expression formulation (``transform`` over ``slice``) was
    CodegenFallback -- interpreted per window per element -- and
    measured ~4x slower steady-state; the one keyed exchange carries only
    (id, pos, hash) longs.  Docs with null text produce no row.
    Returns (id, fingerprints array<bigint> sorted, n_fingerprints).
    """
    from pyspark.sql import Window

    from mapreduce6240project_spark.operators.fanout import fan_out

    ex = fan_out(docs).select(
        F.col(id_col),
        F.posexplode(shingles(text_col, shingle_n)).alias("pos", "s"),
    )
    h = ex.select(F.col(id_col), "pos", _token_hash("s", token_hash).alias("h"))
    w_roll = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    rolled = h.select(
        F.col(id_col),
        "pos",
        F.min("h").over(w_roll).alias("wmin"),
        # frame row count doubles as the full-window test: one Window
        # operator computes both functions over the same frame
        F.count("*").over(w_roll).alias("wlen"),
    )
    # full windows only (starts 0..n-w), except docs shorter than the
    # window, which contribute their single truncated window at pos 0
    starts = rolled.filter((F.col("wlen") == window) | (F.col("pos") == 0))
    return (
        starts.groupBy(id_col)
        .agg(F.sort_array(F.collect_set("wmin")).alias("fingerprints"))
        .withColumn("n_fingerprints", F.size("fingerprints"))
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    **kw,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints:
    explode fingerprint sets, equi-join on the hash, score by overlap
    coefficient |A∩B| / min(|A|,|B|)."""
    id_col = kw.get("id_col", "doc_id")
    fps = pin(winnow_fingerprints(docs, **kw), eager=True)
    ex = fps.select(
        F.col(id_col), F.col("n_fingerprints"), F.explode("fingerprints").alias("fp")
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_fingerprints").alias("n_a"),
            F.col("b.n_fingerprints").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    score = F.col("n_shared") / F.least("n_a", "n_b")
    return (
        inter.withColumn("overlap", F.round(score, 4))
        .filter(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (relational; the oracle-checkable ground truth)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact Jaccard over distinct word-n-gram sets, computed as a
    token self-join: |A ∩ B| from the join, |A ∪ B| = |A|+|B|-|A∩B|.
    Pure relational plan (explode -> join -> agg); candidate work scales
    with shared-shingle pairs.  Returns (id_a, id_b, jaccard >= t).

    The self-join is keyed on a codegen xxhash64 of the shingle, never
    the string: shuffling raw n-gram strings measured 8.1x per 10x rows
    (string-width shuffle spill) vs linear on the 64-bit key, and the
    collision risk (~1e-12 at 1e4 shingles) is the same accepted
    posture as the MinHash/span operators.  The compute-bound
    tokenize+shingle stage sits behind the conditional fan_out so a
    row-group-limited local scan still uses every core."""
    from mapreduce6240project_spark.operators.fanout import fan_out

    sh = fan_out(docs).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(text_col, shingle_n), lambda s: F.xxhash64(s)
                )
            )
        ).alias("s"),
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact all-pairs shingle-set Jaccard >= ``threshold`` via *prefix
    filtering* (SSJoin / PPJoin family: Chaudhuri et al. ICDE'06,
    Bayardo et al. WWW'07) -- the exact-similarity-join shape that
    scales where the naive shared-token join does not.

    Operates on the same distinct word-``shingle_n``-gram sets as
    :func:`ngram_jaccard_pairs` (so the two are directly comparable:
    identical output, different candidate-generation strategy).
    Order every document's distinct shingles by ascending global
    frequency (rarest first, token tiebreak).  If Jaccard(A, B) >= t
    then |A ∩ B| >= ceil(t·|A|), and under a shared total order the
    pair must collide within each side's first ``|X| - ceil(t·|X|) + 1``
    tokens -- so candidate generation joins only on *prefix* tokens
    (the rarest few per doc), then an exact array-intersection verify
    keeps real pairs.  Output is identical to the unfiltered exact
    join; the prefix only prunes candidate work.  At 100 TB: the
    frequency table is vocabulary-sized (broadcast), prefix tokens are
    rare by construction so the candidate join avoids the hot-token
    blowup that kills the naive plan.

    The ceil is computed as ``ceil(t*n - 1e-9)``: a float-rounding
    *undershoot* only lengthens the prefix (more candidates, never a
    missed pair), so exactness survives IEEE boundary cases.
    """
    from pyspark.sql import Window

    # read three times (global frequencies, prefix ranking, verify
    # arrays): persist so the corpus scan + shingle explode runs once
    tok = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(text_col, shingle_n))
        ).alias("t"),
    )
    tok = pin(tok)
    freq = tok.groupBy("t").agg(F.count("*").alias("gf"))
    w = Window.partitionBy(id_col).orderBy("gf", "t")
    ranked = (
        tok.join(F.broadcast(freq), "t")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy(id_col)))
    )
    prefix_len = (
        F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(id_col, "t")
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = tok.groupBy(id_col).agg(
        F.sort_array(F.collect_set("t")).alias("toks"),
        F.count("*").alias("n"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def doc_chunks(
    docs: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, cpos, chunk): consecutive ``chunk_tokens``-token spans of the
    normalized text, reassembled in token order.  The shared chunking
    stage of paragraph-granular dedup and boilerplate detection."""
    toks = docs.select(
        id_col, F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    return (
        toks.groupBy(id_col, (F.col("pos") / chunk_tokens).cast("int").alias("cpos"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk")
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granular exact dedup with document reassembly -- the
    C4 / Dolma technique: duplicated *spans* are removed from documents
    while the surrounding unique content survives (whole-doc dedup
    would keep boilerplate that repeats across distinct pages).

    "Paragraph" here is a run of ``chunk_tokens`` consecutive
    normalized tokens (the driver corpus has no newline structure; with
    real text, split on blank lines instead -- the plan is identical).
    A chunk survives only in the globally-first document that contains
    it (ordering by (doc_id, chunk position), deterministic); each
    document is then reassembled from its surviving chunks in order.

    Scale shape: posexplode -> one shuffle keyed by the chunk text hash
    for the global first-occurrence window (exactly the Dolma dedup
    shuffle; hot boilerplate chunks are the skew risk, and the key
    carries the md5 not the text), then one shuffle back on doc id for
    reassembly via sort_array(collect_list) -- order restored
    deterministically from the chunk position, never relying on
    collect_list order."""
    from pyspark.sql import Window

    chunks = doc_chunks(docs, chunk_tokens=chunk_tokens, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(F.md5("chunk")).orderBy(id_col, "cpos")
    kept = chunks.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept_chunks"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("cpos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )


def containment_prefix_pairs(
    docs: DataFrame,
    threshold_permyriad: int = 8000,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact containment join |A ∩ B| / |A| >= t via one-sided prefix
    filtering -- identical output to the naive shared-shingle join in
    plans/wave44.py's oracle, but candidate generation touches only the
    SUB side's rarest shingles.

    Asymmetry does the work: if the intersection has >= ceil(t·|A|)
    shingles, then A's first ``|A| - ceil(t·|A|) + 1`` rarest shingles
    (under the global-frequency total order) must contain at least one
    shared shingle -- so only A is prefix-reduced and B joins with its
    full set.  Lossless (an undershooting ceil only lengthens the
    prefix).  Measured motivation: the unfiltered join ran 6.6x slower
    per 10x rows at 10x sf0.1 (SCALE.md) because work grows with the
    shared-shingle df^2; the prefix caps the A-side df at the rare end
    of the vocabulary.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("t"),
    )
    tok = pin(tok)
    freq = tok.groupBy("t").agg(F.count("*").alias("gf"))
    w = Window.partitionBy(id_col).orderBy("gf", "t")
    ranked = (
        tok.join(F.broadcast(freq), "t")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy(id_col)))
    )
    t = threshold_permyriad / 10000.0
    prefix_len = (
        F.col("n") - F.ceil(F.lit(t) * F.col("n") - F.lit(1e-9)) + F.lit(1)
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(id_col, "t")
    a, b = prefix.alias("a"), tok.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_sub"),
            F.col(f"b.{id_col}").alias("id_sup"),
        )
        .dropDuplicates(["id_sub", "id_sup"])
    )
    sets = tok.groupBy(id_col).agg(
        F.sort_array(F.collect_set("t")).alias("toks"),
        F.count("*").alias("n"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_sub"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("n_sub"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_sup"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
    return (
        cands.join(sa, "id_sub")
        .join(sb, "id_sup")
        .select(
            "id_sub",
            "id_sup",
            inter.alias("n_inter"),
            F.col("n_sub").cast("bigint").alias("n_sub"),
            F.expr("size(array_intersect(toks_a, toks_b)) * 10000 div n_sub")
            .cast("bigint")
            .alias("cont_permyriad"),
        )
        .filter(F.col("cont_permyriad") >= threshold_permyriad)
    )
