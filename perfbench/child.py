"""One fresh Spark session: set up, run a workload cold (then warm).

Started by ``run.py`` as ``taskset -c <cpus> python3 child.py <spec.json>``
and writes its measurements to ``spec["result"]`` as JSON.  The child
only calls the program's public APIs; everything it times is timed here,
around those calls.  It records where each call's output went
(``<tag>_paths``) or what the call raised (``<tag>_error``); ``run.py``
checks the outputs against the oracle once the child's processes have
ended, so the checker's memory and time stay out of the measurements.

Modes (``spec["mode"]``):

* ``e2e``   -- the untraced sample: the cold call + sink (and, with
  ``warm``, the same call again).
* ``trace`` -- the same cold call under a job group per layer call, then
  cumulative prefixes through the public operators, and for
  ``curate_mega_ckpt`` curate's dedup layers and the checkpoint probes.
  Spans go to the result; the event log is turned on from outside
  through SPARK_CONF_DIR.
* ``fused`` -- the cold call with ``strategy="fused"`` (route overhead).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore

from procfs import cpu_jiffies, steal_share, tree_cpu_s, unstolen


class Spans:
    """In-memory spans (name, start, end, parent, run id).  A span is also
    the Spark job group of the jobs launched inside it."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.items: list = []
        self.stack: list = []

    @contextmanager
    def __call__(self, name: str):
        span = {"name": name, "start": time.time(), "end": None,
                "parent": self.stack[-1] if self.stack else None, "run_id": self.run_id}
        self.stack.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self.stack.pop()
            outer = self.stack[-1] if self.stack else "untraced"
            self.sc.setJobGroup(outer, outer)
            self.items.append(span)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _local_files(df) -> list:
    return [f[len("file:"):] if f.startswith("file:") else f for f in df.inputFiles()]


class Runner:
    def __init__(self, spec: dict):
        self.spec = spec
        self.work = spec["work"]
        self.prep = spec["prep"]
        self.workload = self.prep["workload"]
        self.curate = self.workload == "curate_mega_ckpt"
        self.pages_path = spec["pages"]

    # -- session ----------------------------------------------------------

    def start(self) -> tuple[float, list]:
        from llm_aided_ocr_spark.session import get_spark

        cores = self.spec["cores"]
        self.spark = get_spark(
            app_name=f"perfbench_{self.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=max(cores, 8),
        )
        self.spark.range(1).count()
        return time.time(), cpu_jiffies()

    # -- workload calls -----------------------------------------------------

    def pipeline_cfg(self, **kw):
        from llm_aided_ocr_spark.config import PipelineConfig

        return PipelineConfig(mega_doc_chars=self.prep["mega_doc_chars"], **kw)

    def warehouse(self, tag: str) -> str:
        return os.path.join(self.work, f"warehouse_{tag}")

    def store(self, tag: str) -> CheckpointStore:
        return CheckpointStore(warehouse_dir=self.warehouse(tag), run_id=tag)

    def seed_history(self, tag: str) -> None:
        """Untimed: reset the warehouse and commit the prepared history of
        already-corrected urls through the public store API."""
        shutil.rmtree(self.warehouse(tag), ignore_errors=True)
        hist = self.spark.read.parquet(self.prep["history"])
        self.store(tag).write(hist, "corrected_docs", mode="overwrite", counted_col="corrected_text")

    def call(self, tag: str, strategy: str = "auto", store=None) -> list:
        """The timed unit: build the plan, run it, commit the sink.
        Returns the paths holding the output documents."""
        from llm_aided_ocr_spark.operators.util import release_pinned
        from llm_aided_ocr_spark.plans.curate import CurationConfig, curate
        from llm_aided_ocr_spark.plans.pipeline import run_pipeline

        pages = self.spark.read.parquet(self.pages_path)
        if self.curate:
            st = store or self.store(tag)
            cfg = CurationConfig(
                use_html=True,
                pipeline=self.pipeline_cfg(checkpointing=True, warehouse_dir=st.warehouse_dir),
            )
            out = curate(pages, cfg, store=st)
        else:
            out = run_pipeline(pages, self.pipeline_cfg(), strategy=strategy)
        sink = os.path.join(self.work, f"sink_{tag}")
        out.write.mode("overwrite").parquet(sink)
        release_pinned(out)
        return [sink]

    def timed(self, tag: str, out: dict, **kw) -> None:
        """Time one call into ``out[tag + "_s"]`` (see :func:`unstolen`),
        ``out[tag + "_wall_s"]`` and ``out[tag + "_cpu_s"]`` (CPU of the
        session's processes); record its output paths or its error."""
        cpu0, st0 = tree_cpu_s(os.getpid()), cpu_jiffies()
        t0 = time.perf_counter()
        try:
            paths = self.call(tag, **kw)
        except Exception as e:  # a run that raises fails all its documents
            import traceback

            traceback.print_exc()
            out[tag + "_error"] = repr(e)
        else:
            out[tag + "_paths"] = paths
        wall = time.perf_counter() - t0
        out[tag + "_cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        out[tag + "_wall_s"], out[tag + "_steal"] = wall, steal_share(st0, cpu_jiffies())
        out[tag + "_s"] = unstolen(wall, out[tag + "_steal"])

    # -- modes ----------------------------------------------------------------

    def run_e2e(self, out: dict) -> None:
        warm = self.spec.get("warm", False)
        if self.curate:
            self.seed_history("cold")
            if warm:
                shutil.copytree(self.warehouse("cold"), self.warehouse("warm"))
        self.timed("cold", out)
        if warm:
            self.timed("warm", out)

    def run_fused(self, out: dict) -> None:
        self.timed("cold", out, strategy="fused")

    def run_trace(self, out: dict) -> None:
        sc = self.spark.sparkContext
        spans = Spans(sc, run_id=f"{self.workload}-s{self.spec['seed']}")
        store = None
        if self.curate:
            self.seed_history("cold")
            store = TimedStore(warehouse_dir=self.warehouse("cold"), run_id="cold", spans=spans)
        st0 = cpu_jiffies()
        with spans("e2e") as span:
            paths = self.call("cold", store=store)
        out["cold_s"] = unstolen(span["end"] - span["start"], steal_share(st0, cpu_jiffies()))
        out["cold_paths"] = paths
        self.trace_pipeline(spans)
        if self.curate:
            self.trace_curate(spans, store)
            self.trace_checkpoint(spans, store, out)
        tracker = sc.statusTracker()
        out["job_groups"] = {}
        for name in {i["name"] for i in spans.items}:
            jobs = tracker.getJobIdsForGroup(name)
            infos = [tracker.getJobInfo(j) for j in jobs]
            out["job_groups"][name] = {
                "jobs": len(jobs),
                "stages": sum(len(i.stageIds) for i in infos if i is not None),
            }
        out["spans"] = spans.items

    def trace_pipeline(self, spans: Spans) -> None:
        """Cumulative prefixes through the public operators: scan,
        extract, chunk, correct, assemble, sink.  curate_mega_ckpt salts
        its chunk table like the staged branch does."""
        from llm_aided_ocr_spark.operators.assemble import assemble_documents
        from llm_aided_ocr_spark.operators.chunker import chunk_documents
        from llm_aided_ocr_spark.operators.correct import correct_chunks
        from llm_aided_ocr_spark.operators.extract import extract_text
        from llm_aided_ocr_spark.plans.pipeline import salted_repartition

        src = self.prep["source_col"]
        cfg = self.pipeline_cfg()

        def plan(depth: int):
            df = self.spark.read.parquet(self.pages_path)
            if depth == 0:
                return df.select("url", src)
            df = extract_text(df, use_html=self.curate)
            if depth >= 2:
                df = chunk_documents(df, cfg.chunk_size_chars, cfg.overlap_words)
                if self.curate:
                    df = salted_repartition(df, cfg, "chunk_ix")
            if depth >= 3:
                df = correct_chunks(df, cfg.provider)
            if depth >= 4:
                df = assemble_documents(df)
            return df

        for depth, name in enumerate(("scan", "extract", "chunk", "correct", "assemble")):
            with spans(f"prefix.{name}"):
                _noop(plan(depth))
        if not self.curate:  # curate's sink is timed after its own layers
            with spans("prefix.sink"):
                plan(4).write.mode("overwrite").parquet(os.path.join(self.work, "sink_prefix"))

    def trace_curate(self, spans: Spans, store) -> None:
        """curate()'s layers after correction, in its own order, on the
        corrected docs the traced call committed (curate persists them
        too): exact dedup, near dedup, split + sink."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from llm_aided_ocr_spark.operators.dedup import exact_dedup, near_dedup
        from llm_aided_ocr_spark.operators.sampling import hash_split
        from llm_aided_ocr_spark.operators.textstats import quality_score_col
        from llm_aided_ocr_spark.operators.util import release_pinned
        from llm_aided_ocr_spark.plans.curate import CurationConfig

        ccfg = CurationConfig()
        docs = (
            store.read(self.spark, "corrected_docs")
            .select("url", "corrected_text", "n_chunks")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        docs.count()
        scored = docs.withColumn("quality_score", quality_score_col(F.col("corrected_text")))
        with spans("dedup.exact"):
            exact = exact_dedup(scored, text_col="corrected_text", id_col="url")
            _noop(exact)
        with spans("dedup.near"):
            near = near_dedup(
                exact, threshold=ccfg.near_dup_threshold, text_col="corrected_text", id_col="url"
            )
            with spans("dedup.near.noop"):
                _noop(near)
        with spans("curate.sink"):
            split = hash_split(near, dict(ccfg.split_weights), id_col="url", seed=ccfg.split_seed)
            split.write.mode("overwrite").parquet(os.path.join(self.work, "sink_curate"))
        release_pinned(near)
        docs.unpersist()

    def trace_checkpoint(self, spans: Spans, store, out: dict) -> None:
        """Commit cost on already-materialized increments, and the resume
        anti-join on its own."""
        out["ckpt_commits"] = len(store.calls)
        out["ckpt_written_bytes"] = sum(
            os.path.getsize(os.path.join(c["path"], f))
            for c in store.calls
            for f in os.listdir(c["path"])
        )
        probe = CheckpointStore(os.path.join(self.work, "warehouse_probe"), run_id="probe")
        shutil.rmtree(probe.warehouse_dir, ignore_errors=True)
        with spans("checkpoint.write"):
            for call in store.calls:
                probe.write(
                    self.spark.read.parquet(call["path"]), call["stage"], mode=call["mode"],
                    counted_col=call["counted_col"], return_committed=call["return_committed"],
                )
        self.seed_history("remaining")
        fresh = self.store("remaining")
        with spans("checkpoint.remaining"):
            left = fresh.remaining(self.spark.read.parquet(self.pages_path), "corrected_docs").count()
        out["ckpt_skipped_docs"] = self.prep["props"]["docs"] - left


@dataclass
class TimedStore(CheckpointStore):
    """A CheckpointStore that spans each commit the pipeline makes and
    records its stage, arguments and increment so the probe can replay it."""

    spans: Spans | None = None
    calls: list = field(default_factory=list)

    def write(self, df, stage, mode="append", counted_col=None, return_committed=True):
        with self.spans(f"checkpoint.commit.{stage}"):
            res = super().write(df, stage, mode, counted_col, return_committed)
        commit = self.lineage_records()[-1]["commit"]
        self.calls.append(
            {"stage": stage, "mode": mode, "counted_col": counted_col,
             "return_committed": return_committed,
             "path": os.path.join(self.stage_path(stage), commit)}
        )
        return res


def main() -> int:
    with open(sys.argv[1], encoding="utf-8") as f:
        spec = json.load(f)
    out: dict = {"mode": spec["mode"]}
    runner = Runner(spec)
    out["ready_at"], out["ready_jiffies"] = runner.start()
    try:
        getattr(runner, f"run_{spec['mode']}")(out)
    finally:
        runner.spark.stop()
    with open(spec["result"], "w", encoding="utf-8") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
