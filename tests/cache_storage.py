"""Observe library cache storage from tests: persisted RDDs and
CacheManager entries, each by a stable identity, so a test can diff a
snapshot taken before some work against one taken after releasing it."""

from __future__ import annotations


def storage_snapshot(spark) -> set:
    """Identities of every persisted RDD (cache buffers and local
    checkpoints, with or without blocks yet) and every CacheManager
    entry. The CacheManager list is private API, read by reflection;
    it is pinned to this Spark version by the tests that use it."""
    jsc = spark.sparkContext._jsc
    held = {("rdd", int(i)) for i in jsc.getPersistentRDDs().keySet()}
    held |= {("rdd", int(i.id())) for i in jsc.sc().getRDDStorageInfo()}
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    it = field.get(cm).iterator()
    identity = spark._jvm.System.identityHashCode
    while it.hasNext():
        held.add(("cache_entry", int(identity(it.next()))))
    return held
