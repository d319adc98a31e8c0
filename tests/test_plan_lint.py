"""Physical-plan anti-pattern regression guard.

``tools/plan_lint.py`` sweeps every registry query's physical plan for the scale failure modes a single-layout oracle cannot see
(row-at-a-time Python UDFs, cartesian/nested-loop joins without a
provably bounded side, unpartitioned windows over unbounded input).
The full sweep is a tools/ run (per-round counts recorded in
BASELINE.md; every finding is either fixed or waived with a written
justification); this file keeps the property from regressing:

* a round-seeded rotating sample of registry queries must lint clean
  (same rotation scheme as tests/test_invariance.py, so each judged
  round pins a different sample);
* every WHITELIST entry must still be NEEDED -- a waived finding that
  no longer fires means the plan changed and the justification is
  stale, so the entry must be deleted (the list cannot rot into a
  blanket mute);
* the distributed-prefix helper that the lint-driven rewrites ride on
  (operators/prefix.py) is pinned against the naive unpartitioned
  windows it replaces, including the exact NTILE formula's edge cases.
"""

from __future__ import annotations

import glob
import hashlib
import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

from plan_lint import (  # noqa: E402
    WAIVER_SUBSTANTIATION_EXEMPT,
    WHITELIST,
    lint_plan,
    lint_plan_detailed,
    physical_plan_json,
    waiver_substantiated,
)

from tests.conftest import SF_SMALL


def _plan_json(spark, name):
    from mapreduce6240project_spark.plans import REGISTRY

    df = REGISTRY[name].fn(spark, SF_SMALL)
    return physical_plan_json(df)


def _rotating_sample(k: int = 12) -> list[str]:
    from mapreduce6240project_spark.plans import REGISTRY

    rnd = 2 + len(glob.glob("/root/repo/CORRECTNESS_r*.json"))
    pool = sorted(
        REGISTRY,
        key=lambda n: hashlib.md5(f"lint-r{rnd}:{n}".encode()).hexdigest(),
    )
    return pool[:k]


@pytest.mark.parametrize("name", _rotating_sample())
def test_sample_lints_clean(spark, name):
    errors, _ = lint_plan(_plan_json(spark, name))
    flagged = [e for e in errors if (name, e) not in WHITELIST]
    assert flagged == [], f"{name}: {flagged}"
    spark.catalog.clearCache()


def test_whitelist_entries_are_fresh_and_substantiated(spark):
    """Every waived (query, check) pair must (a) still fire -- a waiver
    for a finding that no longer exists means the plan was fixed and
    the entry must be deleted -- and (b) be SUBSTANTIATED by the live
    plan: the flagged side must actually carry the grain-aggregate (or
    structural bound) its justification claims, so a refactor that
    removes the aggregate can't keep passing on stale waiver text
    (round-5 verdict item 8).  By-spec quadratic waivers are exempt via
    WAIVER_SUBSTANTIATION_EXEMPT."""
    by_query: dict[str, set[str]] = {}
    for q, check in WHITELIST:
        by_query.setdefault(q, set()).add(check)
    stale, unsubstantiated = [], []
    for q, checks in sorted(by_query.items()):
        findings, _ = lint_plan_detailed(_plan_json(spark, q))
        fired = {c for c, _ in findings}
        for check in sorted(checks):
            if check not in fired:
                stale.append((q, check))
        for c, sub in findings:
            if (q, c) in WAIVER_SUBSTANTIATION_EXEMPT or (q, c) not in WHITELIST:
                continue
            if not waiver_substantiated(sub):
                unsubstantiated.append((q, c))
        spark.catalog.clearCache()
    assert stale == [], f"stale whitelist entries: {stale}"
    assert unsubstantiated == [], (
        f"waivers whose claimed grain-aggregate is gone: {unsubstantiated}"
    )


# -- operators/prefix: the helper the lint rewrites ride on ----------------


def test_distributed_prefix_matches_naive_windows(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce6240project_spark.operators.prefix import (
        distributed_prefix,
        ntile_from_rank,
    )
    from mapreduce6240project_spark.session import release_pins

    random.seed(7)
    for n, k in [(1, 5), (3, 5), (53, 4), (101, 10)]:
        rows = [
            (i, random.randint(0, 30), random.randint(1, 99))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, key long, val long")
        got = distributed_prefix(
            df, ["key", "id"], value_col="val", total_col="_n"
        ).select(
            "id",
            "_rank",
            "_cum",
            ntile_from_rank("_rank", "_n", k).alias("_tile"),
        )
        w = Window.orderBy("key", "id")
        exp = df.select(
            "id",
            F.row_number().over(w).alias("r"),
            F.sum("val").over(w).alias("c"),
            F.ntile(k).over(w).alias("t"),
        )
        j = got.join(exp, "id")
        bad = j.filter(
            (F.col("_rank") != F.col("r"))
            | (F.col("_cum") != F.col("c"))
            | (F.col("_tile") != F.col("t"))
        ).count()
        assert bad == 0, f"n={n} k={k}: {bad} mismatches"
        release_pins()


def test_distributed_prefix_has_no_global_window(spark):
    """The helper's own plan must pass its consumers' lint: no
    unpartitioned window, ranks from partition-local windows only."""
    from mapreduce6240project_spark.operators.prefix import distributed_prefix
    from mapreduce6240project_spark.session import release_pins

    df = spark.range(1000).selectExpr("id", "id % 97 AS key")
    out = distributed_prefix(df, ["key", "id"])
    errors, _ = lint_plan(physical_plan_json(out))
    assert "global_window_unbounded" not in errors
    release_pins()
