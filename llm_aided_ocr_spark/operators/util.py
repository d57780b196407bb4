"""Small shared operator utilities."""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let_(expr: Column, fn) -> Column:
    """Bind ``expr`` to a lambda variable so ``fn`` can reference it many
    times with ONE evaluation (transform over a 1-element array; lambda
    variables are evaluated once per element, and unlike a projected alias
    the binding cannot be inlined-per-reference by CollapseProject)."""
    return F.get(F.transform(F.array(expr), fn), 0)


_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark size-conf parser ("134217728", "128MB", "1g", ...)."""
    s = str(v).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    return int(num) * _BYTE_SUFFIX.get(suffix, 1)


def _logical_plan_node_names(df: DataFrame) -> set:
    """Class simple-names of every node in the analyzed logical plan,
    walked structurally through py4j (TreeNode.children()). Private Spark
    API — deliberately NOT wrapped in try/except here so the compat test
    (tests/test_review_fixes.py::test_plan_node_walk_compat) breaks loudly
    when a Spark upgrade changes the layout; the production caller
    (ensure_min_parallelism) adds its own failure-safe wrapper."""
    names = set()
    stack = [df._jdf.queryExecution().logical()]
    while stack:
        node = stack.pop()
        names.add(node.getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return names


def ensure_min_parallelism(df: DataFrame, min_factor: float = 0.5) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than ``min_factor * defaultParallelism``.

    Compute-heavy per-document operators (hashing, winnowing, signatures)
    are scan-parallel at corpus scale — a 100 TB table has millions of
    splits and this is a no-op. On a small table (one parquet row-group =
    one task) the same operator would run serially on one core; spreading
    a few megabytes is free and restores the parallelism the operator
    would have on a real input. The condition keeps the big-input path
    shuffle-free.

    The gate is estimated WITHOUT ``df.rdd`` (which forces a
    plan-to-RDD conversion per call): for file-backed plans, scan
    partitions are estimated from ``df.inputFiles()`` + local file sizes
    against ``spark.sql.files.maxPartitionBytes`` (Spark packs splits to
    that size); non-file and non-local sources skip the repartition —
    at scale they are many-partition anyway, and guessing wrong merely
    costs parallelism on a toy input, never a shuffle on a big one."""
    if df.isStreaming:  # partitioning is per-micro-batch; no-op
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    threshold = max(1, int(target * min_factor))
    if scan_partitions_below(df, threshold):
        return df.repartition(target)
    return df


def scan_partitions_below(df: DataFrame, threshold: int) -> bool:
    """True iff ``df`` is a plain local-file-backed plan whose scan would
    run on FEWER than ``threshold`` partitions — the shared gate behind
    :func:`ensure_min_parallelism` and the pipeline's scale-adaptive
    salted spread. Conservative on every uncertainty (shuffle-bearing
    plan, non-file or remote source, stat failure): returns False, i.e.
    "leave the partitioning alone" — guessing wrong merely costs
    parallelism on a toy input, never a shuffle on a big one."""
    spark = df.sparkSession
    try:
        # If the plan already contains a partitioning-defining operator
        # (an explicit repartition, or a shuffle-inducing window/agg/join/
        # sort/distinct), its output width is spark.sql.shuffle.partitions
        # or the caller's choice — adding a RoundRobin on top would either
        # stack a redundant full exchange or silently override an explicit
        # repartition(N). The file-size estimate below only judges plain
        # scans. Matched STRUCTURALLY on plan-node class names (a
        # substring scan of the plan string can false-positive on column
        # names / string literals like "Join"); the private-API walk is
        # version-pinned by test_plan_node_walk_compat so a Spark upgrade
        # fails CI loudly instead of silently disabling this gate.
        names = _logical_plan_node_names(df)
        if names & {
            "Repartition", "RepartitionByExpression", "RebalancePartitions",
            "Window", "Aggregate", "Join", "Sort", "Deduplicate",
        }:
            return False
        files = df.inputFiles()
    except Exception:
        return False
    if not files:  # in-memory relation: createDataFrame already slices
        return False
    max_split_conf = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            path = uri[5:]
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:  # remote FS — stat is an RPC per file; assume big input
            return False
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return False
    # Replay Spark's actual FilePartition packing (FilePartition.scala):
    # maxSplitBytes = min(maxPartitionBytes, max(openCost, total/parallelism));
    # files split into <= maxSplitBytes chunks, chunks sorted descending,
    # greedily closed when currentSize + chunk > maxSplitBytes, and every
    # chunk pads currentSize by openCost. A closed-form ceil(total/max)
    # over-counts the openCost remainder (one small file would estimate 2
    # vs Spark's actual 1 and the gate would skip the repartition it
    # exists to apply).
    parallelism = spark.sparkContext.defaultParallelism
    total_cost = sum(sizes) + open_cost * len(sizes)
    max_split = min(
        max_split_conf, max(open_cost, -(-total_cost // max(1, parallelism)))
    )
    chunks: list = []
    for size in sizes:
        while size > max_split:
            chunks.append(max_split)
            size -= max_split
        if size > 0:
            chunks.append(size)
        else:
            chunks.append(0)  # empty file still occupies a slot
    chunks.sort(reverse=True)
    est, current = 0, None
    for c in chunks:
        if current is None or current + c > max_split:
            est += 1
            current = 0
        current += c + open_cost
        if est >= threshold:
            return False
    return True


def corpus_scaled(derived: DataFrame) -> DataFrame:
    """Mark a derived relation whose row count scales WITH the corpus
    (one row per document — keep-positions, dup-positions, per-doc
    scores) so that joining it back to the corpus never picks a
    broadcast: a ``shuffle_hash`` strategy hint pins the join to a
    ShuffledHashJoin with this side as the build side.

    Why this exists: Spark's size estimate for an aggregate output (and
    AQE's compressed-shuffle-bytes measure) can land such a relation
    under ``autoBroadcastJoinThreshold`` at test scale, and a broadcast
    of an O(corpus) relation is (a) measured 2.6x SLOWER here even at
    320k docs (41.4s -> 16.1s on the stress corpus — single-threaded
    driver collect + hash-table build on the critical path) and (b) a
    guaranteed driver OOM at 10^12 rows, where "one small array per
    document" is still petabyte-adjacent. The hint trades one narrow
    ``(id, array<int>)`` exchange — rows the plan already shuffled once
    to group — for removing the driver from the data path entirely.

    NOT for genuinely bounded relations (keep-lists of dropped ids,
    dimension tables, frequency caps): those stay broadcast-eligible on
    purpose."""
    return derived.hint("shuffle_hash")


class CacheScope:
    """The relations cached or checkpointed (:func:`cache`,
    :func:`checkpoint`) while this scope was the innermost open one.
    Closing the scope releases them; :meth:`keep` hands one that a
    returned plan still reads to the enclosing scope instead."""

    def __init__(self, parent: CacheScope | None = None):
        self.parent = parent
        self._held: list = []  # (relation, is_local_checkpoint)
        # the root scope is shared by every thread of the driver
        self._lock = threading.Lock()

    def _add(self, df: DataFrame, checkpointed: bool) -> DataFrame:
        with self._lock:
            self._held.append((df, checkpointed))
        return df

    def _take(self, df: DataFrame) -> tuple:
        with self._lock:
            for i, entry in enumerate(self._held):
                if entry[0] is df:
                    return self._held.pop(i)
        raise ValueError("relation is not held by this scope")

    def keep(self, df: DataFrame) -> None:
        """Move ``df`` to the enclosing scope: the plan this scope's
        owner returns still reads it."""
        self.parent._add(*self._take(df))

    def release(self, df: DataFrame | None = None, blocking: bool = True) -> int:
        """Release ``df`` now (a superseded round of an iterative
        operator), or with no argument everything held. Returns the
        number of relations released."""
        if df is not None:
            _free(*self._take(df), blocking)
            return 1
        with self._lock:
            held, self._held = self._held, []
        for entry in reversed(held):
            _free(*entry, blocking)
        return len(held)


def _free(df: DataFrame, checkpointed: bool, blocking: bool) -> None:
    """Drop one relation's storage. ``DataFrame.unpersist`` only clears
    CacheManager entries; a local checkpoint's blocks belong to its
    internal RDD, reachable through the plan's ``LogicalRDD`` node
    (private API, pinned by test for this Spark version). Failure-safe:
    on a layout change, or for a relation whose session has stopped, the
    blocks are left to ContextCleaner GC — a bounded leak, never an
    error."""
    try:
        if checkpointed:
            df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
        else:
            df.unpersist(blocking=blocking)
    except (Py4JError, PySparkException):
        pass


# Relations registered while no scope is open; released by
# release_pinned(). Open scopes are per thread, so a streaming batch
# callback never registers into a scope of the driver thread.
_ROOT = CacheScope()
_open = threading.local()


def _innermost() -> CacheScope:
    stack = getattr(_open, "stack", None)
    return stack[-1] if stack else _ROOT


@contextmanager
def cache_scope():
    """``with cache_scope() as s:`` — every :func:`cache` /
    :func:`checkpoint` inside the block registers with ``s``; on exit
    (exceptions included) ``s`` releases all of them except those handed
    on with ``s.keep(df)``."""
    scope = CacheScope(_innermost())
    stack = _open.__dict__.setdefault("stack", [])
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        scope.release()


def cache(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)``, owned by the innermost open
    :func:`cache_scope` (or the root scope). The default is Spark's
    ``DataFrame.cache()`` level (MEMORY_AND_DISK, deserialized)."""
    return _innermost()._add(df.persist(level), False)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned like :func:`cache`."""
    return _innermost()._add(df.localCheckpoint(eager=eager), True)


def release_pinned(df: DataFrame | None = None, blocking: bool = True) -> int:
    """Release every relation in the root scope — what library calls
    made outside any :func:`cache_scope` cached for the plans they
    returned. Call it after the terminal action; ``df`` is accepted and
    ignored (older callers pass the result). Returns the count.

    ``blocking`` defaults to True: an async unpersist lets block eviction
    run concurrently with whatever the session does next — in a
    many-query sweep that bleeds one query's cleanup into the next
    query's measured window."""
    return _ROOT.release(blocking=blocking)


def global_row_number(
    df: DataFrame, order_cols, rn_col: str = "_rn"
) -> tuple[DataFrame, int]:
    """Distributed 0-based global ``row_number`` over ``order_cols``
    with NO SinglePartition exchange (the scale-killer a bare
    ``Window.orderBy`` hides): range-partition on the full sort key,
    sort within partitions, stamp the within-partition row index from
    ``monotonically_increasing_id`` (consecutive per partition in row
    order by contract — the upper bits are the partition id, the lower
    33 the row index), then add broadcast per-partition cumulative
    offsets. Range boundaries guarantee partition ``i``'s keys all
    precede partition ``i+1``'s, so the output is IDENTICAL to a global
    window rank — but every stage is embarrassingly parallel, and the
    only driver action is the bounded per-partition count collect
    (≤ ``spark.sql.shuffle.partitions`` rows).

    ``order_cols`` must be a deterministic total order (pass tiebreak
    columns) or ranks within a tie are layout-dependent. Returns
    ``(ranked, total_rows)``; ``ranked`` reads a :func:`cache`-d
    relation (the range sampler must not run twice against a recomputed
    input)."""
    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    local = cache(
        df.repartitionByRange(num_partitions, *[c.asc() for c in cols])
        .sortWithinPartitions(*[c.asc() for c in cols])
        .withColumn("_grn_mid", F.monotonically_increasing_id())
        .withColumn("_grn_pid", F.shiftrightunsigned(F.col("_grn_mid"), 33))
        .withColumn(
            "_grn_lix", F.col("_grn_mid").bitwiseAND(F.lit((1 << 33) - 1))
        )
    )
    counts = sorted(
        (r["_grn_pid"], r["n"])
        for r in local.groupBy("_grn_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], "_grn_pid bigint, _grn_off bigint"
    )
    ranked = (
        local.join(F.broadcast(off_df), "_grn_pid")
        .withColumn(
            rn_col, (F.col("_grn_off") + F.col("_grn_lix")).cast("bigint")
        )
        .drop("_grn_mid", "_grn_pid", "_grn_lix", "_grn_off")
    )
    return ranked, acc
