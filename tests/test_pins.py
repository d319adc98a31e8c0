"""A query run leaves the session as it found it.

After ``session.release_pins`` the session holds exactly what it held
before the run plus the allow-listed session stores the run filled
(feature store, similarity graph): no persisted or checkpointed frame
of the run stays pinned, and a second run gives the same result.  The
queries cover every way the engine pins: iterative checkpoint loops
(k-core, PageRank), persisted shared inputs (Adamic-Adar, gap-fill,
top supplier), the dedup pair generators and the k-medoids sweep.
Nothing here forces a garbage collection.
"""

from __future__ import annotations

import re
import sys
import threading
from pathlib import Path

import pytest

from mapreduce6240project_spark.session import pin_census, release_pins
from tests.conftest import SF_SMALL

QUERIES = (
    "kcore3_copurchase",
    "pagerank_simgraph",
    "adamic_adar_topk",
    "dedup_minhash_lsh",
    "elbow_knee_k",
    "gapfill_locf",
    "top_supplier",
)


@pytest.mark.parametrize("name", QUERIES)
def test_run_releases_its_pins(spark, name):
    from mapreduce6240project_spark.plans import REGISTRY

    release_pins()
    results = []
    for _ in range(2):
        rdds0, entries0, stores0 = pin_census(spark)
        # ``df`` stays referenced through the census below, so what it
        # reads can only be freed by the release, not by the JVM cleaner
        df = REGISTRY[name].fn(spark, SF_SMALL)
        df.write.format("noop").mode("overwrite").save()
        results.append(sorted((tuple(r) for r in df.collect()), key=repr))
        release_pins()
        rdds, entries, stores = pin_census(spark)
        filled = stores - stores0
        assert len(rdds - rdds0) == filled, f"{name} left persistent RDDs pinned"
        assert entries == entries0 + filled, f"{name} left CacheManager entries"
    assert results[0] == results[1]


def test_registry_is_thread_safe(spark):
    """Pins and unpins from more threads than cores, with a short
    switch interval: the registry ends holding exactly the frames
    pinned and not unpinned."""
    from mapreduce6240project_spark.session import pin, unpin

    release_pins()
    n_threads, per_thread = 8, 12

    def work(t):
        for i in range(per_thread):
            df = pin(spark.range(t * per_thread + i + 1))
            if i % 2:
                unpin(df)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert release_pins() == n_threads * per_thread // 2


def test_local_checkpoint_only_in_registry():
    """Every engine ``localCheckpoint`` goes through
    ``session.checkpoint``, so ``release_pins`` frees it; a call site
    elsewhere would be a pin no release can see."""
    pkg = Path(__file__).resolve().parents[1] / "mapreduce6240project_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "session.py" or path.parent != pkg
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.localCheckpoint\(", line)
    ]
    assert offenders == []
