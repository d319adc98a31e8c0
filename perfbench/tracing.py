"""Spans around the engine's layer entry points, and Spark counters.

:class:`Tracer` rebinds the public entry points listed in
:data:`TARGETS` at run time, in every module of the engine that holds
a reference to them, so no engine source changes.  Each call records a
span (name, start, end, parent, run id) with the Spark jobs started
while it was open.  Spans stay in memory until :meth:`Tracer.dump`.

:class:`SparkCounters` reads the driver's own bookkeeping through py4j:
the DAG scheduler's job and stage counters, per-stage metrics from the
AppStatusStore (the store ``bench._stage_totals`` reads), the block
manager's persisted RDDs and the peak use of the JVM heap.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "mapreduce6240project_spark"

#: (layer, module, entry points); a name "Class.method" wraps a method.
TARGETS = (
    ("sources", "sources.tables", ("load_table",)),
    ("sources", "sources.tweets", ("feature_store", "tweet_features_from_events")),
    ("sources", "sources.txlog", (
        "TxTable.create", "TxTable.delete_where", "TxTable.snapshot",
        "TxTable.describe_detail",
    )),
    ("operators", "operators.clustering", ("kmedoids", "assign_clusters", "cluster_cost")),
    ("operators", "operators.lookup", ("point_lookup", "range_scan")),
    ("operators", "operators.dedup", ("minhash_candidate_pairs", "exact_dedup")),
    ("operators", "operators.similarity", ("cosine_topk",)),
    ("operators", "operators.windows", ("tumbling_window",)),
    ("functions", "functions.actions", ("first_row",)),
)


def span_names() -> list[str]:
    """Every span name the tracer can record for an entry point."""
    out = []
    for layer, mod, names in TARGETS:
        out += [f"{layer}.{mod.split('.', 1)[1]}.{n.split('.')[-1]}" for n in names]
    return out


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()

    def next_job(self) -> int:
        return self._dag.nextJobId()

    def next_stage(self) -> int:
        return self._dag.nextStageId()

    def stage_totals(self, first: int, last: int) -> dict[str, float]:
        """Summed metrics of the stages with ids in ``[first, last)``."""
        self._jsc.listenerBus().waitUntilEmpty()
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = self._jsc.statusStore()
        keys = ("tasks", "input_b", "shuffle_read_b", "shuffle_write_b", "spill_b")
        tot = dict.fromkeys(keys, 0.0)
        tot["stages"] = 0
        for sid in range(first, last):
            try:
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0)
                )
            except Py4JJavaError:  # stage dropped from the store (retention) or never run
                continue
            it = attempts.iterator()
            ran = False
            while it.hasNext():
                s = it.next()
                if s.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                ran = True
                tot["tasks"] += s.numCompleteTasks()
                tot["input_b"] += s.inputBytes()
                tot["shuffle_read_b"] += s.shuffleReadBytes()
                tot["shuffle_write_b"] += s.shuffleWriteBytes()
                tot["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["stages"] += ran
        return tot

    def pinned_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def heap_peak_bytes(self) -> int:
        """Summed peak use of the driver JVM's heap memory pools."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        it = mf.getMemoryPoolMXBeans().iterator()
        peak = 0
        while it.hasNext():
            pool = it.next()
            if pool.getType().name() == "HEAP":
                peak += pool.getPeakUsage().getUsed()
        return peak

    def storage_bytes(self) -> int:
        it = self._jsc.statusStore().executorList(True).iterator()
        used = 0
        while it.hasNext():
            used += it.next().memoryUsed()
        return used


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    sid: int = 0
    jobs: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; :meth:`install` rebinds the entry points."""

    def __init__(self):
        self.spans: list[Span] = []
        self.run_id = ""
        self.counters: SparkCounters | None = None
        self._local = threading.local()
        self._root: int | None = None
        self._restore: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span:
        stack = self._stack()
        # a span opened on a helper thread hangs off the open root span
        parent = stack[-1] if stack else self._root
        jobs0 = self.counters.next_job() if self.counters else 0
        with self._lock:
            sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id,
                      sid=len(self.spans), attrs=attrs)
            self.spans.append(sp)
        sp.jobs = -jobs0
        stack.append(sp.sid)
        if parent is None:
            self._root = sp.sid
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        sp.jobs += self.counters.next_job() if self.counters else 0
        stack = self._stack()
        if stack and stack[-1] == sp.sid:
            stack.pop()
        if self._root == sp.sid:
            self._root = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    # -- rebinding -------------------------------------------------------
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)

        return traced

    def install(self) -> None:
        """Rebind every target in its defining module and in every
        engine module that imported it by name."""
        if self._restore:
            return
        wrapped: dict[object, object] = {}
        for layer, mod_name, names in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            short = mod_name.split(".", 1)[1]
            for name in names:
                owner, attr = mod, name
                if "." in name:
                    cls, attr = name.split(".")
                    owner = getattr(mod, cls)
                fn = inspect.getattr_static(owner, attr)
                traced = self._wrap(fn, f"{layer}.{short}.{attr}")
                wrapped[fn] = traced
                self._restore.append((owner, attr, fn))
                setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                try:
                    hit = val in wrapped
                except TypeError:  # unhashable module attribute
                    continue
                if hit and getattr(mod, attr) is val:
                    self._restore.append((mod, attr, val))
                    setattr(mod, attr, wrapped[val])

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")


def self_time(spans: list[Span], sp: Span, children: dict[int, list[int]]) -> float:
    """``sp``'s duration minus the part of it its children cover."""
    iv = sorted((spans[c].start, spans[c].end) for c in children.get(sp.sid, ()))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        s, e = max(s, sp.start), min(e, sp.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return sp.end - sp.start - covered
