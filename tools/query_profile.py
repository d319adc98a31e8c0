"""Query profiler: construction vs execution, per query.

For each headline query (or --only list) at --sf:
  * times fn() construction (eager driver work: probes, collects, loops)
    separately from the noop-sink execution of the returned frame,
  * counts the Spark jobs each phase launched (status-tracker delta),
  * with --explain-tag TAG, dumps .explain('formatted') to
    plans/TAG/<name>.txt (e.g. ``--explain-tag r12-before``).

Usage::

    python tools/query_profile.py [--sf DIR] [--only a,b] [--runs 2]
        [--explain-tag TAG]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from mapreduce6240project_spark.plans import REGISTRY  # noqa: E402
from mapreduce6240project_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default="")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain-tag", default="")
    args = ap.parse_args()

    spark = get_spark(app_name="query_profile")
    sc = spark.sparkContext
    spark.range(1000).write.format("noop").mode("overwrite").save()

    if args.only:
        names = args.only.split(",")
    else:
        names = [s.name for s in REGISTRY.values() if s.headline]

    plans_dir = REPO / "plans" / args.explain_tag
    if args.explain_tag:
        plans_dir.mkdir(parents=True, exist_ok=True)

    # warm shared session caches (feature store) outside the measured
    # region, mirroring bench.py
    from mapreduce6240project_spark.sources.tweets import feature_store

    feature_store(spark, args.sf).write.format("noop").mode("overwrite").save()

    print(f"{'query':28s} {'fn_s':>7s} {'exec_s':>7s} {'total':>7s} "
          f"{'fn_jobs':>7s} {'ex_jobs':>7s}")
    for name in names:
        spec = REGISTRY[name]
        best = None
        for r in range(args.runs):
            sc.setJobDescription(f"profile:{name}")
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf)
            t1 = time.perf_counter()
            j1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j2 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            sc.setJobDescription(None)
            rec = (t1 - t0, t2 - t1, t2 - t0, j1 - j0, j2 - j1)
            if best is None or rec[2] < best[2]:
                best = rec
            if r == 0 and args.explain_tag:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                (plans_dir / f"{name}.txt").write_text(
                    buf.getvalue()
                )
        print(f"{name:28s} {best[0]:7.3f} {best[1]:7.3f} {best[2]:7.3f} "
              f"{best[3]:7d} {best[4]:7d}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
