"""Lifecycle helpers for persistent block cleanup in long-lived sessions.

``localCheckpoint`` (behind ``operators/dedup.py::_mat``, which pins the
df-capped and all-pairs Jaccard stages and SimHash signatures, the
per-round label tables in ``connected_components`` and ``ann_ivfpq``'s
query side; the near-dup composition, the sketch-table merge and the
streaming NDV merge are lazy plans and pin nothing) pins RDD blocks
executor-side with NO automatic release: Python may hold the wrapper
objects arbitrarily long, so in any process that loops dedup/ANN
pipelines — a benchmark harness, a notebook, the correctness gate —
retired checkpoint blocks accumulate
until memory pressure degrades every later query (measured 2-4x on this
box; an 8 GB driver OOM in the dedup axis harness was root-caused to
exactly this).

The sweep below is the caller-side fix: snapshot the persistent-RDD ids
you want to KEEP (your cached input tables), then ``unpersist_blocks``
after each materialized pipeline to drop everything else. Keeping by id
matters: unpersisting a CacheManager-cached DataFrame's buffer RDD sets
its storage level to NONE, after which accesses recompute WITHOUT
re-caching — a blanket sweep silently uncaches your inputs for the rest
of the session.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _iter_persistent(spark: SparkSession):
    """Yield (id, JavaRDD) for every persistent RDD in the JVM."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    while it.hasNext():
        e = it.next()
        yield int(e.getKey()), e.getValue()


def persistent_rdd_ids(spark: SparkSession) -> frozenset[int]:
    """Ids of every currently-persisted RDD in the JVM (cached tables,
    live checkpoints). Snapshot AFTER materializing the caches you want
    to protect — an unmaterialized cache has no RDD to list yet."""
    return frozenset(i for i, _ in _iter_persistent(spark))


def checkpoint_rdd_id(df) -> int | None:
    """The persistent-RDD id backing a ``localCheckpoint``-ed DataFrame
    (its analyzed plan is a LogicalRDD over the checkpoint), or None for
    any other plan shape. Lets an iterative operator retire EXACTLY its
    own superseded checkpoints (see operators/dedup.py::
    connected_components) instead of relying on a caller-side sweep."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return int(plan.rdd().id())
    except Exception:
        pass
    return None


def unpersist_by_id(spark: SparkSession, rdd_id: int | None, *, blocking: bool = False) -> bool:
    """Unpersist one RDD by id; returns whether it was found persistent."""
    if rdd_id is None:
        return False
    for rid, jrdd in _iter_persistent(spark):
        if rid == rdd_id:
            jrdd.unpersist(blocking)
            return True
    return False


def unpersist_blocks(
    spark: SparkSession,
    keep: frozenset[int] = frozenset(),
    *,
    blocking: bool = False,
) -> int:
    """Unpersist every persistent RDD whose id is not in ``keep``;
    returns how many were released. Pass ``keep=persistent_rdd_ids(...)``
    snapshotted after warming your input caches so only retired
    checkpoint blocks are swept."""
    victims = [jrdd for rid, jrdd in _iter_persistent(spark) if rid not in keep]
    for v in victims:
        v.unpersist(blocking)
    return len(victims)
