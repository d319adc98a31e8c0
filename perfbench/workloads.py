"""Workload definitions and the seeded schedule.

A workload is a fixed mix of registry queries, plus (for ``pipeline``)
point lookups and range scans that the benchmark builds itself through
``operators.lookup`` over the session's feature store.  The run seed
chooses each pass's query order, the lookup key sets and the range
bounds; the dataset does not depend on it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

#: points per lookup batch, batches in a run's pool, lookups per pass
POINT_KEYS = 24
POOL = 4
LOOKUPS_PER_PASS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: tables the workload reads (registered and scan-floored in set-up)
    tables: tuple[str, ...]
    #: fill the session's feature store in set-up and add seeded lookups
    #: over it to every pass
    feature_store: bool = False
    #: passes after the cold one, before the timed window
    warmup_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="pipeline",
            queries=(
                # the paper's tweet pipeline: ETL, then k-medoids with its cost
                "ingest_featurize",
                "kmedoids_k3",
                # star-schema analytics: join and shuffle, window, exact dedup
                "regional_revenue",
                "tumbling_window",
                "dedup_exact",
                # embedding top-k retrieval
                "embedding_topk",
            ),
            tables=(
                "events", "lineitem", "orders", "customer", "nation",
                "region", "documents", "embeddings",
            ),
            feature_store=True,
        ),
        Workload(
            name="curation",
            queries=(
                # LLM-data curation: MinHash near-dup with its driver probes
                "dedup_minhash_lsh",
                # transaction-log write: merge-on-read delete
                "txlog_dv_delete",
            ),
            tables=("documents", "events"),
            # its passes still speed up after the first warm pass
            warmup_passes=2,
        ),
    )
}


@dataclass(frozen=True)
class Lookup:
    """A benchmark-built lookup over the feature store."""

    name: str
    kind: str  # "point" or "range"
    keys: tuple[int, ...] = ()
    lo: int = 0
    hi: int = 0


@dataclass
class Schedule:
    workload: Workload
    seed: int
    n_keys: int
    lookups: list[Lookup] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.workload.feature_store:
            return
        rng = random.Random(f"{self.seed}/lookups")
        # skewed keys: Zipf-like ranks over a seeded permutation of the
        # key space, so hot keys recur across batches
        perm = list(range(self.n_keys))
        rng.shuffle(perm)
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(perm))]
        for i in range(POOL):
            keys = sorted(set(rng.choices(perm, weights, k=POINT_KEYS)))
            self.lookups.append(Lookup(f"point_lookup_{i}", "point", tuple(keys)))
        for i in range(POOL):
            width = rng.randint(self.n_keys // 50, self.n_keys // 10)
            lo = rng.randint(0, self.n_keys - width)
            self.lookups.append(Lookup(f"range_scan_{i}", "range", lo=lo, hi=lo + width))

    def pass_items(self, tag: str, every_lookup: bool = False) -> list[str | Lookup]:
        """The seeded item order of the pass named ``tag``; with
        ``every_lookup`` the pass runs the whole lookup pool."""
        rng = random.Random(f"{self.seed}/pass/{tag}")
        items: list[str | Lookup] = list(self.workload.queries)
        points = [lk for lk in self.lookups if lk.kind == "point"]
        ranges = [lk for lk in self.lookups if lk.kind == "range"]
        if every_lookup:
            items += self.lookups
        elif points:
            items += rng.sample(points, LOOKUPS_PER_PASS)
            items += rng.sample(ranges, LOOKUPS_PER_PASS)
        rng.shuffle(items)
        return items


def lookup_df(spark, sf_dir: str, lk: Lookup):
    from mapreduce6240project_spark.operators import lookup
    from mapreduce6240project_spark.sources.tweets import feature_store

    feats = feature_store(spark, sf_dir)
    if lk.kind == "point":
        return lookup.point_lookup(feats, "tweet_id", lk.keys)
    return lookup.range_scan(feats, "tweet_id", lk.lo, lk.hi)


def lookup_oracle(lk: Lookup) -> str:
    from mapreduce6240project_spark.sources.tweets import TWEET_FEATURES_SQL_CTE

    if lk.kind == "point":
        pred = f"tweet_id IN ({', '.join(str(k) for k in lk.keys)})"
    else:
        pred = f"tweet_id BETWEEN {lk.lo} AND {lk.hi}"
    return f"WITH {TWEET_FEATURES_SQL_CTE} SELECT * FROM features WHERE {pred}"
