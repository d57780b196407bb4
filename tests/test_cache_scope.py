"""The library's one cache owner (``operators/util.py``): scoped release,
``keep`` hand-off, and the rule that nothing else in the library
persists or releases storage."""

from __future__ import annotations

import ast
import pathlib

import pytest

from cache_storage import storage_snapshot

LIB = pathlib.Path(__file__).resolve().parent.parent / "llm_aided_ocr_spark"


def test_cache_scope_releases_when_an_action_raises(spark):
    from llm_aided_ocr_spark.operators.util import (
        cache,
        cache_scope,
        checkpoint,
        release_pinned,
    )

    release_pinned()
    before = storage_snapshot(spark)
    with pytest.raises(Exception, match="boom"):
        with cache_scope():
            cache(spark.range(100)).count()
            checkpoint(spark.range(50))
            held = storage_snapshot(spark) - before
            assert {kind for kind, _ in held} == {"rdd", "cache_entry"}
            spark.range(3).selectExpr("raise_error('boom')").collect()
    assert storage_snapshot(spark) - before == set()
    assert release_pinned() == 0  # nothing leaked into the root scope


def test_kept_relation_outlives_inner_scope_not_root_release(spark):
    from llm_aided_ocr_spark.operators.util import (
        cache,
        cache_scope,
        checkpoint,
        release_pinned,
    )

    release_pinned()
    before = storage_snapshot(spark)
    with cache_scope() as outer:
        with cache_scope() as inner:
            kept = checkpoint(spark.range(10).selectExpr("id * 2 AS x"))
            cache(spark.range(20)).count()
            inner.keep(kept)
            held = storage_snapshot(spark) - before
        survived = storage_snapshot(spark) - before
        # the cached relation went with the inner scope; the kept
        # checkpoint still serves reads
        assert survived and survived < held
        assert sorted(r.x for r in kept.collect()) == list(range(0, 20, 2))
        outer.keep(kept)
    # handed on to the root scope, which only release_pinned empties
    assert storage_snapshot(spark) - before == survived
    assert release_pinned() == 1
    assert storage_snapshot(spark) - before == set()


def test_only_the_cache_owner_persists_or_releases():
    """No ``.persist(`` / ``.cache(`` / ``.localCheckpoint(`` /
    ``.unpersist(`` call in the library outside ``operators/util.py``,
    and no ``release_pinned`` call outside the CLI."""
    bad = []
    for path in sorted(LIB.rglob("*.py")):
        rel = path.relative_to(LIB).as_posix()
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr in {"persist", "cache", "localCheckpoint", "unpersist"}
                and rel != "operators/util.py"
            ):
                bad.append(f"{rel}:{node.lineno} .{f.attr}(")
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "release_pinned" and rel != "__main__.py":
                bad.append(f"{rel}:{node.lineno} release_pinned(")
    assert bad == []


def test_shared_scope_under_concurrent_threads():
    """The root scope is shared by every driver thread (e.g. streaming
    batch callbacks): concurrent registrations and releases never lose
    or double-release a relation."""
    import sys
    import threading

    from llm_aided_ocr_spark.operators.util import CacheScope

    class Relation:
        def __init__(self):
            self.released = 0

        def unpersist(self, blocking):
            self.released += 1

    scope = CacheScope()
    batches = [[Relation() for _ in range(200)] for _ in range(16)]

    def work(batch):
        for rel in batch:
            scope._add(rel, False)
        for rel in batch[::2]:
            scope.release(rel)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(b,)) for b in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert scope.release() == 16 * 100
    assert all(rel.released == 1 for batch in batches for rel in batch)
