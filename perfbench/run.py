#!/usr/bin/env python3
"""Workload benchmark for the engine, with an optional traced run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

One run is one fresh process on ``local[<cores>]`` driving one workload
as a closed loop with one client: each query is built (``fn()``) and
then written to the ``noop`` sink, which materialises every column, and
the next query starts when the previous one ends.  The run

1. generates the dataset (cached under ``perfbench/.data``; not timed);
2. sets up -- starts the session (and with it the JVM), registers the
   workload's tables, fills the session's feature store, runs one
   cold pass that collects every result and the workload's
   ``warmup_passes`` more passes -- and reports the time from process
   start, less dataset generation, as ``setup_s``;
3. runs seeded passes over the query mix for ``--seconds`` (at least
   :data:`MIN_PASSES`);
4. checks every query's output, and every lookup batch, against its
   DuckDB oracle.  The comparison runs after set-up, outside every
   timer.

With ``--trace 1`` the timed passes alternate untraced and traced, the
run adds the scan-floor and calibration probes, and it reports the
per-layer metrics instead of the end-to-end ones.  Human-readable
detail goes to stderr; the last stdout line is one JSON object.  The
exit code is non-zero when any query fails or mismatches its oracle.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, Lookup, Schedule  # noqa: E402

MIN_PASSES = 3
MB = 1e6


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail(xs: list[float], n_min: int) -> tuple[float, int]:
    """The highest whole percentile that keeps at least ten samples
    beyond it at the run's guaranteed sample count ``n_min``; returns
    (value, percentile).  Fixing the level from ``n_min`` keeps it the
    same in every run of a workload.  Below 20 samples no level above
    the median keeps ten beyond it, and the value is the median."""
    level = max(50, int(100 * (1 - 10 / n_min)))
    s = sorted(xs)
    idx = min(len(s) - 1, max(0, -(-level * len(s) // 100) - 1))
    return max(s[idx], median(xs)), level


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``.
    Steal is time the hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_usage(root: Path, prefix: str) -> tuple[int, int]:
    """(bytes, files) under the subdirectories of ``root`` named
    ``prefix*`` -- where the engine's transaction-log tables live."""
    nbytes = nfiles = 0
    for top in root.glob(prefix + "*"):
        for dirpath, _, files in os.walk(top):
            for f in files:
                try:
                    nbytes += os.stat(os.path.join(dirpath, f)).st_size
                except FileNotFoundError:  # removed while walking (vacuum)
                    continue
                nfiles += 1
    return nbytes, nfiles


@dataclass
class QueryRun:
    name: str
    build_s: float = 0.0
    sink_s: float = 0.0
    ok: bool = True
    sink_stages: tuple[int, int] = (0, 0)  # stage ids [first, last) the sink ran

    @property
    def total_s(self) -> float:
        return self.build_s + self.sink_s


@dataclass
class PassRun:
    tag: str
    traced: bool
    queries: list[QueryRun] = field(default_factory=list)
    rdds: tuple[int, int] = (0, 0)
    storage_b: tuple[int, int] = (0, 0)
    txlog: tuple[int, int] = (0, 0)  # bytes, files written
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict[str, float] = field(default_factory=dict)  # entry point -> s

    @property
    def total_s(self) -> float:
        return sum(q.total_s for q in self.queries)


class Bench:
    def __init__(self, args, sf_dir: Path, work: Path):
        from tracing import Tracer

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = str(sf_dir)
        self.work = work
        self.tmp = work / "tmp"
        self.spark = None
        self.counters = None
        self.tracer = Tracer()
        self.failed: list[str] = []
        self.executed = 0  # query executions, warm-up included
        self.results: dict = {}
        import pyarrow.parquet as pq

        n_events = pq.ParquetFile(sf_dir / "events.parquet").metadata.num_rows
        self.schedule = Schedule(self.wl, args.seed, n_events)

    # -- session ---------------------------------------------------------
    def start_session(self):
        from mapreduce6240project_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from tracing import SparkCounters

        self.counters = SparkCounters(self.spark)
        self.tracer.counters = self.counters

    def setup(self, t0: float) -> dict[str, float]:
        """Start the session, register the workload's tables, fill the
        feature store, run the cold pass that collects the results for
        the output check and the workload's ``warmup_passes``."""
        from mapreduce6240project_spark.sources.tables import load_table

        ts = time.perf_counter()
        self.start_session()
        tr = time.perf_counter()
        for t in self.wl.tables:
            load_table(self.spark, self.sf, t)
        tf = time.perf_counter()
        if self.wl.feature_store:
            from mapreduce6240project_spark.sources.tweets import feature_store

            feature_store(self.spark, self.sf).write.format("noop").mode("overwrite").save()
        tw = time.perf_counter()
        self.run_pass("cold", traced=False, results=self.results)
        tc = time.perf_counter()
        for i in range(self.wl.warmup_passes):
            self.run_pass(f"warm{i}", traced=False)
        te = time.perf_counter()
        rec = {
            "setup_s": te - t0,
            "session_s": tr - ts,
            "register_s": tf - tr,
            "fill_s": tw - tf,
            "warm_s": te - tw,
        }
        log(f"  setup: {rec['setup_s']:.3f}s (session {rec['session_s']:.3f}s, "
            f"register {rec['register_s']:.3f}s, feature store {rec['fill_s']:.3f}s, "
            f"cold pass {tc - tw:.3f}s, {self.wl.warmup_passes} warm-up passes {te - tc:.3f}s)")
        return rec

    # -- queries ---------------------------------------------------------
    def build(self, item):
        from mapreduce6240project_spark.plans import REGISTRY

        if isinstance(item, Lookup):
            from workloads import lookup_df

            return lookup_df(self.spark, self.sf, item)
        return REGISTRY[item].fn(self.spark, self.sf)

    def run_query(self, item, traced: bool, results: dict | None = None) -> QueryRun:
        """Build ``item`` and write it to the noop sink -- or, when
        ``results`` is given, collect it there for the output check."""
        name = item.name if isinstance(item, Lookup) else item
        self.executed += 1
        sc = self.spark.sparkContext
        qr = QueryRun(name)
        tr = self.tracer
        group = f"bench:{self.wl.name}/{name}"
        root = tr.begin("query", query=name) if traced else None
        try:
            sc.setJobGroup(f"{group}/build", group)
            t0 = time.perf_counter()
            if traced:
                with tr.span("plans.build", query=name):
                    df = self.build(item)
            else:
                df = self.build(item)
            t1 = time.perf_counter()
            s1 = self.counters.next_stage() if traced else 0
            sc.setJobGroup(f"{group}/sink", group)
            t2 = time.perf_counter()
            if traced:
                with tr.span("exec.sink", query=name):
                    df.write.format("noop").mode("overwrite").save()
            elif results is not None:
                results[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            qr.build_s, qr.sink_s = t1 - t0, t3 - t2
            if traced:
                qr.sink_stages = (s1, self.counters.next_stage())
        except Exception as exc:  # a failing query is counted, not fatal
            qr.ok = False
            self.failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            log(f"  FAILED {name}: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if root is not None:
                tr.end(root)
        return qr

    def run_pass(self, tag: str, traced: bool, results: dict | None = None) -> PassRun:
        c = self.counters
        pr = PassRun(tag, traced)
        rdd0, sto0, tx0 = c.pinned_rdds(), c.storage_bytes(), dir_usage(self.tmp, "sparkgraft_")
        if traced:
            self.tracer.install()
            self.tracer.run_id = f"{self.wl.name}/{self.args.seed}/{tag}"
            first_span = len(self.tracer.spans)
        try:
            items = self.schedule.pass_items(tag, every_lookup=results is not None)
            for item in items:
                pr.queries.append(self.run_query(item, traced, results))
        finally:
            if traced:
                self.tracer.uninstall()
        tx1 = dir_usage(self.tmp, "sparkgraft_")
        pr.rdds = (rdd0, c.pinned_rdds())
        pr.storage_b = (sto0, c.storage_bytes())
        pr.txlog = (tx1[0] - tx0[0], tx1[1] - tx0[1])
        if traced:
            pr.layer = self.layer_metrics(pr, first_span)
        log(f"  pass {tag}{' (traced)' if traced else ''}: {pr.total_s:.3f}s  " + " ".join(
            f"{q.name}={q.total_s:.3f}" for q in pr.queries))
        return pr

    # -- traced metrics --------------------------------------------------
    def layer_metrics(self, pr: PassRun, first_span: int) -> dict[str, float]:
        from tracing import self_time, span_names

        spans = self.tracer.spans
        mine = spans[first_span:]
        children: dict[int, list[int]] = {}
        for sp in mine:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp.sid)
        # Entry points report calls and jobs; their times go to stderr
        # only (``detail``), because an entry point a workload never
        # calls would declare a time that reads 0 on every run.  The
        # declared times are per layer and every workload has some.
        m: dict[str, float] = {}
        for n in span_names():
            m[f"{n}.calls"] = m[f"{n}.jobs"] = 0.0
        for layer in ("sources", "operators"):
            m[f"{layer}.s"] = m[f"{layer}.jobs"] = 0.0
        m["sources.txlog.jobs"] = 0.0
        m["plans.build_self_s"] = 0.0
        detail: dict[str, float] = {}
        for sp in mine:
            ancestors = []
            p = sp.parent
            while p is not None:
                ancestors.append(spans[p].name)
                p = spans[p].parent
            if sp.name == "plans.build":
                m["plans.build_self_s"] += self_time(spans, sp, children)
            if f"{sp.name}.calls" not in m or sp.name in ancestors:
                continue  # not an entry point, or a recursive call counted once
            dur = sp.end - sp.start
            m[f"{sp.name}.calls"] += 1
            m[f"{sp.name}.jobs"] += sp.jobs
            detail[sp.name] = detail.get(sp.name, 0.0) + dur
            layer = sp.name.split(".")[0]
            if layer in ("sources", "operators") and not any(
                a.startswith(layer + ".") for a in ancestors
            ):
                m[f"{layer}.s"] += dur
                m[f"{layer}.jobs"] += sp.jobs
            if sp.name.startswith("sources.txlog.") and not any(
                a.startswith("sources.txlog.") for a in ancestors
            ):
                m["sources.txlog.jobs"] += sp.jobs
        pr.detail = detail
        builds = [sp for sp in mine if sp.name == "plans.build"]
        sinks = [sp for sp in mine if sp.name == "exec.sink"]
        m["plans.build_s"] = sum(sp.end - sp.start for sp in builds)
        m["plans.build_jobs"] = sum(sp.jobs for sp in builds)
        m["exec.sink_s"] = sum(sp.end - sp.start for sp in sinks)
        m["exec.jobs"] = sum(sp.jobs for sp in sinks)
        ex = dict.fromkeys(("stages", "tasks", "input_b", "shuffle_read_b",
                            "shuffle_write_b", "spill_b"), 0.0)
        for q in pr.queries:
            if q.ok:
                tot = self.counters.stage_totals(*q.sink_stages)
                for k in ex:
                    ex[k] += tot[k]
        m["exec.stages"] = ex["stages"]
        m["exec.tasks"] = ex["tasks"]
        m["exec.input_mb"] = ex["input_b"] / MB
        m["exec.shuffle_read_mb"] = ex["shuffle_read_b"] / MB
        m["exec.shuffle_write_mb"] = ex["shuffle_write_b"] / MB
        m["exec.spill_mb"] = ex["spill_b"] / MB
        m["sources.txlog.bytes_written_mb"] = pr.txlog[0] / MB
        m["sources.txlog.files_written"] = pr.txlog[1]
        return m

    def scan_floor(self) -> float:
        """Sum over the workload's tables of a noop scan (median of 3)."""
        from mapreduce6240project_spark.sources.tables import load_table

        total = 0.0
        for t in self.wl.tables:
            df = load_table(self.spark, self.sf, t)
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            total += median(times)
        return total

    def calibrate(self) -> float:
        """``bench.py``'s machine-speed query: xxhash64 + mod-sum over
        ``range(5e7)``; min of 2 after one warm-up."""
        q = (
            self.spark.range(50_000_000)
            .selectExpr("xxhash64(id) % 1000 AS b", "id")
            .groupBy("b")
            .agg({"id": "sum"})
        )
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return min(times[1:])

    # -- output check ----------------------------------------------------
    def check(self) -> int:
        """Compare the collected results with their DuckDB oracles."""
        from check import compare, oracle_connection
        from mapreduce6240project_spark.plans import REGISTRY
        from workloads import lookup_oracle

        con = oracle_connection(self.sf)
        oracles = {q: REGISTRY[q].oracle for q in self.wl.queries}
        oracles.update({lk.name: lookup_oracle(lk) for lk in self.schedule.lookups})
        bad = 0
        for name, sql in oracles.items():
            if name not in self.results:
                continue  # the query failed and is already counted
            try:
                reason = compare(self.results[name], con.sql(sql).df())
            except Exception as exc:  # reported as a failed check
                reason = f"{type(exc).__name__}: {str(exc)[:300]}"
            if reason is not None:
                bad += 1
                self.failed.append(f"{name}: output check: {reason}")
                log(f"  CHECK FAILED {name}: {reason}")
        con.close()
        return bad

    # -- the run ---------------------------------------------------------
    def run(self, gen_s: float) -> tuple[dict, int]:
        args = self.args
        # from process start, less dataset generation
        setup = self.setup(T_START + gen_s)
        t_chk = time.perf_counter()
        n_checked = len(self.results)
        self.check()
        log(f"  output check: {n_checked} results against DuckDB in "
            f"{time.perf_counter() - t_chk:.1f}s")
        extra: dict[str, float] = {}
        if args.trace:
            extra["sources.scan_floor_s"] = self.scan_floor()
            extra["env.calib_s"] = self.calibrate()
        passes: list[PassRun] = []
        t_win = time.perf_counter()
        steal0 = cpu_steal()
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(self.run_pass(f"p{len(passes)}", traced))
            n_plain = sum(not p.traced for p in passes)
            n_traced = len(passes) - n_plain
            enough = n_plain >= MIN_PASSES and (not args.trace or n_traced >= MIN_PASSES)
            if enough and time.perf_counter() - t_win >= args.seconds:
                break
        window_s = time.perf_counter() - t_win
        steal1 = cpu_steal()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        rss_py = vm_hwm_mb("self")
        rss_jvm = vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid)
        peak_rss = rss_py + rss_jvm

        plain = [p for p in passes if not p.traced]
        traced_p = [p for p in passes if p.traced]
        lat = [q.total_s for p in plain for q in p.queries if q.ok]
        attempted = self.executed + len(self.wl.queries) + len(self.schedule.lookups)
        failed = len(self.failed)
        pass_s = [p.total_s for p in plain]
        tail_v, tail_p = tail(lat, MIN_PASSES * len(plain[0].queries))
        q1, q3 = quartiles(pass_s)
        log(f"workload {self.wl.name} seed {args.seed}: closed loop, 1 client, "
            f"{len(passes)} passes in {window_s:.1f}s window, host CPU steal {steal:.1%}")
        log(f"  setup_s      {setup['setup_s']:.4f} s   one set-up: session, tables, "
            f"feature store, cold pass, {self.wl.warmup_passes} warm-up passes")
        log(f"  pass_s       {median(pass_s):.4f} s   median of {len(pass_s)} passes, "
            f"q1 {q1:.4f} q3 {q3:.4f}")
        log(f"  query_s_p50  {median(lat):.4f} s   over {len(lat)} executions")
        log(f"  query_s_tail {tail_v:.4f} s   p{tail_p} over {len(lat)} executions")
        log(f"  failed_ratio {failed / attempted:.4f}   {failed} of {attempted} "
            f"(executions, warm-up included, plus the output check of each query and lookup)")
        log(f"  peak_rss_mb  {peak_rss:.1f} MB  VmHWM of driver python {rss_py:.1f} "
            f"+ JVM {rss_jvm:.1f}")
        per_query: dict[str, list[float]] = {}
        for p in plain:
            for q in p.queries:
                per_query.setdefault(q.name, []).append(q.total_s)
        log("  per-query median s: " + ", ".join(
            f"{k} {median(v):.3f}" for k, v in sorted(per_query.items())))
        e2e = {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (median(pass_s), "s"),
            "query_s_p50": (median(lat), "s"),
            "query_s_tail": (tail_v, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        if not args.trace:
            metrics = e2e
        else:
            metrics = self.per_layer(setup, plain, traced_p, extra)
            for k, (v, u) in metrics.items():
                log(f"  {k:44s} {v:.6g} {u}")
            self.tracer.dump(self.args.trace_out)
            log(f"  spans -> {self.args.trace_out}")
        ok = failed == 0
        out = {
            "correct": ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return out, 0 if ok else 1

    def per_layer(self, setup, plain, traced_p, extra) -> dict:
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (setup["session_s"], "s"),
            "session.warmup_s": (setup["warm_s"], "s"),
            "sources.register_s": (setup["register_s"], "s"),
            "sources.feature_store_fill_s": (setup["fill_s"], "s"),
            "sources.scan_floor_s": (extra["sources.scan_floor_s"], "s"),
            "env.calib_s": (extra["env.calib_s"], "s"),
        }
        for k in traced_p[0].layer:
            unit = "s" if k.endswith("_s") or k.endswith(".s") else (
                "MB" if k.endswith("_mb") else "count")
            m[k] = (median([p.layer[k] for p in traced_p]), unit)
        for name in sorted({n for p in traced_p for n in p.detail}):
            log(f"  (entry point) {name + '.s':44s} "
                f"{median([p.detail.get(name, 0.0) for p in traced_p]):.6g} s")
        m["cache.pinned_rdds_delta"] = (
            median([p.rdds[1] - p.rdds[0] for p in plain + traced_p]), "count")
        m["cache.pinned_rdds_end"] = (float(traced_p[-1].rdds[1]), "count")
        m["cache.storage_mb"] = (
            max(p.storage_b[1] for p in plain + traced_p) / MB, "MB")
        m["jvm.heap_peak_mb"] = (self.counters.heap_peak_bytes() / MB, "MB")
        t_pass = median([p.total_s for p in traced_p])
        u_pass = median([p.total_s for p in plain])
        m["trace.pass_s"] = (t_pass, "s")
        m["trace.overhead_ratio"] = (t_pass / u_pass, "ratio")
        return m

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mapreduce6240project_spark" / "__init__.py").is_file():
        log(f"engine package not found under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    import datagen

    t_gen = time.perf_counter()
    sf_dir = datagen.ensure_dataset(HERE / ".data")
    gen_s = time.perf_counter() - t_gen
    log(f"dataset {sf_dir.name} ready in {gen_s:.2f}s (not timed)")

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (HERE / ".traces").mkdir(exist_ok=True)
    args.trace_out = HERE / ".traces" / f"{args.workload}-seed{args.seed}.jsonl"
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no hsperfdata files in /tmp
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    cwd = os.getcwd()
    os.chdir(work)  # derby.log, metastore and warehouse land in the work dir
    bench = None
    try:
        bench = Bench(args, sf_dir, work)
        out, code = bench.run(gen_s)
    finally:
        if bench is not None:
            bench.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
