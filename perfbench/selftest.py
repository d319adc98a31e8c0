#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The output check reports a deliberately wrong expected result as a
   failure and a right one as a pass (DuckDB only, no Spark).
2. A traced run and an untraced run emit every metric that
   ``BENCHMARK.json`` names, each with its unit.
3. In the traced run's span dump every child span lies inside its
   parent and shares its run id.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))


def fail(msg: str) -> None:
    print(f"FAIL: {msg}", flush=True)
    sys.exit(1)


def check_rejects_wrong_result(sf_dir: Path) -> None:
    from check import oracle_connection
    from run import Bench
    from workloads import WORKLOADS, Schedule

    wl = WORKLOADS["pipeline"]
    bench = Bench.__new__(Bench)
    bench.sf, bench.wl, bench.failed = str(sf_dir), wl, []
    bench.schedule = Schedule(wl, 0, 100)
    from mapreduce6240project_spark.plans import REGISTRY

    con = oracle_connection(str(sf_dir))
    right = {q: con.sql(REGISTRY[q].oracle).df() for q in wl.queries[:2]}
    con.close()
    bench.results = dict(right)
    if bench.check() != 0:
        fail(f"a correct result was reported as a mismatch: {bench.failed}")
    wrong = right[wl.queries[0]].copy()
    wrong.iloc[0, 0] = wrong.iloc[1, 0]  # one value changed
    bench.results[wl.queries[0]] = wrong
    if bench.check() != 1 or wl.queries[0] not in bench.failed[-1]:
        fail("a wrong expected result was not reported as a failure")
    print("ok: the output check rejects a wrong result", flush=True)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        fail(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(out: dict, declared: list[dict], what: str) -> None:
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: result keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        fail(f"{what}: correct={out['correct']} failed={out['failed']}")
    got = out["metrics"]
    for m in declared:
        if m["name"] not in got:
            fail(f"{what}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            fail(f"{what}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        fail(f"{what}: undeclared metrics {sorted(extra)}")
    print(f"ok: {what} emits its {len(declared)} metrics with units", flush=True)


def check_spans(path: Path) -> None:
    spans = [json.loads(line) for line in path.read_text().splitlines()]
    if not spans:
        fail("no spans recorded")
    by_id = {s["sid"]: s for s in spans}
    for s in spans:
        if s["end"] < s["start"]:
            fail(f"span {s['name']} ends before it starts")
        if s["parent"] is None:
            continue
        p = by_id[s["parent"]]
        if not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            fail(f"span {s['name']} lies outside its parent {p['name']}")
        if p["run_id"] != s["run_id"]:
            fail(f"span {s['name']} has run id {s['run_id']}, its parent {p['run_id']}")
    print(f"ok: {len(spans)} spans nest inside their parents", flush=True)


def main() -> int:
    import datagen

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sf_dir = datagen.ensure_dataset(HERE / ".data")
    check_rejects_wrong_result(sf_dir)
    check_metrics(run("pipeline", 1), spec["per_layer"], "traced pipeline run")
    check_spans(HERE / ".traces" / "pipeline-seed7.jsonl")
    check_metrics(run("curation", 0), spec["end_to_end"], "untraced curation run")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
