"""Driver-materialization audit guard.

Every ``.collect()`` / ``.first()`` / ``.toPandas()`` / ``.count()``
in non-test source is a driver round-trip (or, for ``.count()``, an
eager full-input action): bounded ones are how this engine keeps
iterative state exact (k-row medoid tables, d-bounded centroids,
enum-bounded transition matrices -- each with a documented cap), but an
UNbounded collect is the classic "it's not distributed" failure, and an
eager ``.count()`` inside a plan body is a redundant full scan per
invocation (r9 verdict item 3: two idf scalars each re-read the whole
documents table; the fix is a broadcast 1-row aggregate joined into the
plan).  This guard pins the per-file inventory with a written
boundedness/necessity argument; adding a driver round-trip anywhere
forces an edit HERE (stating the new site's cap), and removing one
forces the stale entry to be cleaned up.  The same mechanism class as
tools/plan_lint.py's justification-required whitelist.

``.count()`` caveat: ``GroupedData.count()`` is a lazy transformation,
not an action -- the scan cannot distinguish it textually, so lazy
sites are inventoried too, with the justification saying so.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "mapreduce6240project_spark"
)

PATTERN = re.compile(r"\.collect\(\)|\.first\(\)|\.toPandas\(\)|\.count\(\)")

#: relative path -> (expected site count, boundedness argument)
INVENTORY: dict[str, tuple[int, str]] = {
    "functions/actions.py": (
        2,
        "first_row() helper: the one real .collect() every probe site "
        "routes through (callers own the boundedness argument at their "
        "inventory entries) + a docstring mention of .first() the "
        "textual scan cannot distinguish",
    ),
    "plans/extensions.py": (1, "query-vector probe: 1 row by key"),
    "plans/text_corpus.py": (
        2,
        "vocab total (1-row agg) + diameter argmax (limit 1)",
    ),
    "plans/vectors_ext.py": (1, "centroid: d-bounded dims table"),
    "plans/behavior.py": (
        1,
        "Markov transition matrix, hard-erroring above 4096 rows",
    ),
    "plans/retrieval.py": (
        4,
        "query-vector/label probes: 1 row by key each (4th site: "
        "map_at10's qlabel first(), same vec_id=0 point lookup); the "
        "contrastive_negatives corpus-size .count() was folded into a "
        "broadcast 1-row aggregate (r9 verdict item 3)",
    ),
    "streaming/jobs.py": (1, "watermark cutoff scalar (1-row agg)"),
    "sources/txlog.py": (
        3,
        "MERGE/DELETE affected-file lists: distinct _metadata-derived "
        "file names, bounded by the table's data-file count (the "
        "commit log's removes list must hold them anyway); 3rd site: "
        "mor-delete's per-file dead row indices, bounded by the "
        "matched-row count -- the same bound the deletion-vector "
        "sidecars themselves carry, and OPTIMIZE keeps it small by "
        "materializing",
    ),
    "plans/engineering.py": (
        6,
        "txlog_skipping_audit key-domain max + txlog_zorder_2d_audit "
        "day-domain min/max scalars route through first_row (r11); "
        "the 6 remaining .count() sites live in the SAME "
        "two audits counting files-read under pruned vs full scans -- "
        "the counted frames are metadata-pruned txlog snapshots whose "
        "size IS the audit verdict (can't be folded: the pruned scan "
        "must execute to observe the skip)",
    ),
    "plans/sketch_ext.py": (
        1,
        "markov stationary: k = distinct event types (enum-bounded "
        "domain, sizes the uniform start vector literal)",
    ),
    "plans/relational.py": (
        1,
        "LAZY: GroupedData.pivot().count() is a transformation, not an "
        "action -- no driver round-trip",
    ),
    "operators/sampling.py": (
        2,
        "per-stratum counts: strata are enum-bounded group keys",
    ),
    "operators/textstats.py": (
        3,
        "pack_chunks per-partition sums (#partitions rows) + BPE merge "
        "argmax (1 row per learned merge, vocab-bounded rounds) + tfidf "
        "n_docs scalar (one 1-row agg; feeds a python-float idf literal "
        "baked into many downstream expressions, so a joined-in column "
        "would change the shared expression shape all callers pin)",
    ),
    "operators/dedup.py": (
        2,
        "2 .count() sites: hot-bucket count n_hot (on the already-cached "
        "banded frame), candidate-id cache materialization (eager cache "
        "fills go through session.pin(eager=True)).  The former 3 "
        ".first() probe sites (pre-probe max group, byte probe, "
        "hot-bucket sample max -- 1-row aggs each) now route through "
        "functions.actions.first_row (r11)",
    ),
    "session.py": (
        1,
        "pin(eager=True) cache fill: one deliberate full scan into the "
        "cache so every consumer reads it (the dedup pair generators' "
        "eager sites)",
    ),
    "operators/clustering.py": (
        6,
        "k-medoids driver state: k seeds, C-row exact combo table "
        "(cap-guarded), k updated medoids per round; 2 .count() sites: combo "
        "cache materialization, driver branch (probe doubles as fill) and "
        "distributed branch (r11: explicit eager fill before the loop)",
    ),
    "operators/vectors.py": (
        9,
        "k-means/PCA/k-center driver state: d-bounded centroids and "
        "covariance (d^2), 1-row counts/probes, limit-1 argmax picks; "
        "adaptive paths switch to distributed twins above the cap; "
        "1 .count(): iteration-cache materialization",
    ),
    "operators/graph.py": (
        7,
        "CC edge list below the documented driver cap (distributed "
        "label propagation above it); 6 .count() sites: cached-edge/"
        "degree materializations, per-iteration convergence counts "
        "(n_changed, edge counts) -- the loop-exit predicate of "
        "iterative fixpoint algorithms, one scalar per round on cached "
        "frames.  Triangle/wedge 1-row aggs route through first_row "
        "(r11)",
    ),
    "operators/sketch.py": (1, "m-row sketch fold (log-bucket bounded)"),
    "operators/similarity.py": (
        11,
        "ANN driver state: k centroids, query signature/vector probes "
        "(keyed 1-row), brute-force fallback below the adaptive cap "
        "with distributed twin above; 4 .count() sites: corpus-size "
        "scalars sizing IVF cell counts and the bruteforce-vs-IVF "
        "adaptive gate (one 1-row agg over the session-cached "
        "embeddings frame each)",
    ),
    "operators/retrieval.py": (
        1,
        "query-document probe (1 row by key); the BM25/QL/RM3 corpus-"
        "stat 1-row aggs route through first_row (r11)",
    ),
    "operators/prefix.py": (
        1,
        "range-exchange offsets: one row per partition (cluster-config "
        "bounded)",
    ),
}


def _scan() -> dict[str, int]:
    found: dict[str, int] = {}
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        n = 0
        for line in py.read_text().splitlines():
            stripped = line.strip()
            if stripped.startswith("#"):
                continue
            n += len(PATTERN.findall(line))
        if n:
            found[rel] = n
    return found


def test_driver_materialization_inventory_is_pinned():
    found = _scan()
    expected = {k: v[0] for k, v in INVENTORY.items()}
    new_files = sorted(set(found) - set(expected))
    assert new_files == [], (
        f"driver round-trips in unaudited files: "
        f"{[(f, found[f]) for f in new_files]} -- add INVENTORY entries "
        f"with a boundedness argument"
    )
    stale_files = sorted(set(expected) - set(found))
    assert stale_files == [], (
        f"stale INVENTORY entries (no sites left): {stale_files}"
    )
    drift = {
        f: (expected[f], found[f])
        for f in expected
        if expected[f] != found[f]
    }
    assert drift == {}, (
        f"site-count drift (expected, found): {drift} -- update the "
        f"entry AND its boundedness argument"
    )


def test_every_inventory_entry_has_a_real_argument():
    for f, (_n, why) in INVENTORY.items():
        assert len(why) >= 15, f"{f}: justification too thin"
