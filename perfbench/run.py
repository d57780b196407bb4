#!/usr/bin/env python3
"""Cold, end-to-end and per-layer benchmark for ``run_pipeline`` and
``curate()``.

    python3 perfbench/run.py --workload fused_text --seed 1 --seconds 30 --trace 0

Run from the repository root.  The benchmark generates its inputs from
``--seed`` (``corpus.py``), computes the expected output of every document
without Spark, then measures in fresh child processes (``child.py``),
each a new ``local[4]`` session pinned with ``taskset`` -- one batch job at
a time, driven from a single process (a closed loop with one client).
Each child's output is checked against the oracle here, after the
child's processes have ended.

``--trace 0`` starts children until ``--seconds`` have passed (at least
``MIN_SAMPLES``) and reports the medians of the end-to-end metrics.
``--trace 1`` is the separate traced run: kernel micro-bench, one
untraced and one traced child (event log, job group per layer call,
cumulative operator prefixes), plus for ``fused_text`` a
``strategy="fused"`` child and the ``local[1]`` quarter-slice child.  It
reports the per-layer metrics and writes the spans file.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, where ``attempted`` /
``failed`` count documents over every execution of the run and a
document fails when it is missing or differs from the oracle.
Everything else goes to standard error.  Scratch files (inputs cache,
sinks, warehouses, event logs, spans) live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4                 # local[4]: this benchmark's host has 4 cores
MIN_SAMPLES = 1           # fresh sessions per --trace 0 run, at least
MAX_SAMPLES = 9
CHILD_TIMEOUT_S = 150
# get_spark's default driver memory is 8g.  With it the JVM grows its heap
# to a different size in every session, and peak_rss_mb spread by 0.28
# (quartile distance / median, eight runs of fused_text), beyond any bound
# the benchmark may set; with 2g its spread stayed at or below 0.11 on
# both workloads, and the cold times were the same.  The corpora are tens
# of MB.
DRIVER_MEM = "2g"

WORKLOADS = ("fused_text", "curate_mega_ckpt")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def median(xs: list) -> float:
    return float(statistics.median(xs))


# -- process tree ---------------------------------------------------------


def _reap(procs, timeout: float = 20.0) -> None:
    """Wait until every process the child started has ended (the JVM and
    the Python workers, which run in a process group of their own, outlive
    the child by a moment), then kill stragglers."""
    deadline = time.time() + timeout
    while procfs.alive(procs) and time.time() < deadline:
        time.sleep(0.1)
    for pid, _ in procfs.alive(procs):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while procfs.alive(procs):
        time.sleep(0.1)


# -- children -------------------------------------------------------------


def write_conf(traced: bool) -> str:
    """A Spark conf directory of the benchmark's own: keeps JVM scratch
    files inside the checkout (``java.io.tmpdir``; no ``hsperfdata`` files
    in the system's temporary directory) and, for traced runs, turns the
    event log on without touching the program."""
    d = os.path.join(WORK, "conf-trace" if traced else "conf")
    os.makedirs(d, exist_ok=True)
    lines = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    ]
    if traced:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{WORK}/eventlog",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.logBlockUpdates.enabled true",
        ]
    with open(os.path.join(d, "spark-defaults.conf"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return d


def run_child(spec: dict, cpus: str, expected, traced: bool = False) -> dict:
    """Start one fresh session, wait for it, return its result with
    ``setup_s``, ``peak_rss_mb`` and the check of each call's output
    against ``expected`` (a ``check.Expected``); ``{"error": ...}`` when
    the child failed."""
    rundir = spec["work"]
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    spec = dict(spec, result=os.path.join(rundir, "result.json"))
    spec_path = os.path.join(rundir, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    # The benchmark reads and writes only inside its checkout, so Spark's
    # scratch space (spark.local.dir, which get_spark otherwise puts on
    # /dev/shm) and the JVM's and Python's temporary files go under WORK.
    # Apart from that and DRIVER_MEM, every setting is the program's default.
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_CONF_DIR=write_conf(traced),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=os.path.join(WORK, "tmp"),
    )
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    logf = open(os.path.join(rundir, "child.log"), "wb")
    st0 = procfs.cpu_jiffies()
    t_spawn = time.time()
    proc = subprocess.Popen(
        ["taskset", "-c", cpus, sys.executable, os.path.join(HERE, "child.py"), spec_path],
        cwd=rundir, env=env, stdout=logf, stderr=subprocess.STDOUT,
    )
    peak = 0
    seen: set = set()
    try:
        while proc.poll() is None:
            procs = procfs.tree_rss(proc.pid)
            seen.update(procs)
            peak = max(peak, sum(procs.values()))
            if time.time() - t_spawn > CHILD_TIMEOUT_S:
                for pid, _ in procfs.alive(seen):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.1)
    finally:
        proc.wait()
        _reap(seen)
        logf.close()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(os.path.join(rundir, "child.log"), encoding="utf-8", errors="replace") as f:
            tail = f.read()[-3000:]
        log(f"child {spec['mode']} failed (exit {proc.returncode}):\n{tail}")
        return {"error": proc.returncode}
    with open(spec["result"], encoding="utf-8") as f:
        res = json.load(f)
    res["setup_steal"] = procfs.steal_share(st0, res["ready_jiffies"])
    res["setup_s"] = procfs.unstolen(res["ready_at"] - t_spawn, res["setup_steal"])
    res["peak_rss_mb"] = peak / 1e6
    expected.check(res, spec["pages"])
    return res


def child_spec(prep, mode: str, seed: int, tag: str, **kw) -> dict:
    from dataclasses import asdict

    spec = {
        "mode": mode,
        "seed": seed,
        "cores": CORES,
        "prep": dict(asdict(prep), oracle=prep.oracle, groups=prep.groups, history=prep.history),
        "pages": prep.pages,
        "work": os.path.join(WORK, "run", tag),
    }
    spec.update(kw)
    return spec


# -- trace 0: end-to-end ----------------------------------------------------


class Tally:
    """Documents attempted / failed over every execution of the run."""

    def __init__(self, docs: int):
        self.docs, self.attempted, self.failed, self.problems = docs, 0, 0, []

    @property
    def failed_frac(self) -> float:
        return self.failed / max(1, self.attempted)

    def add(self, res: dict, keys=("cold_check", "warm_check")) -> None:
        if "error" in res:
            self.attempted += self.docs
            self.failed += self.docs
            self.problems.append(f"child exited {res['error']}")
            return
        for k in keys:
            if k in res:
                self.attempted += res[k]["attempted"]
                self.failed += res[k]["failed"]
                self.problems += res[k].get("problems", [])


def end_to_end(prep, expected, seed: int, seconds: int) -> tuple[dict, Tally]:
    docs, mb = prep.props["docs"], prep.props["source_mb"]
    tally = Tally(docs)
    samples = []
    t0 = time.time()
    i = 0
    while (len(samples) < MIN_SAMPLES or time.time() - t0 < seconds) and i < MAX_SAMPLES:
        res = run_child(child_spec(prep, "e2e", seed, f"e2e{i}"), f"0-{CORES - 1}", expected)
        i += 1
        tally.add(res)
        if "error" not in res:
            samples.append(res)
            log(
                f"session {i}: setup {res['setup_s']:.2f}s (steal {res['setup_steal']:.2f}), "
                f"cold {res['cold_s']:.2f}s (wall {res['cold_wall_s']:.2f}s, steal "
                f"{res['cold_steal']:.2f}), cpu {res['cold_cpu_s']:.2f}s, "
                f"rss {res['peak_rss_mb']:.0f}MB"
            )
    if not samples:
        raise RuntimeError("every child failed")
    metrics = {
        "setup_s": median([s["setup_s"] for s in samples]),
        "cold_s": median([s["cold_s"] for s in samples]),
        "cold_cpu_s": median([s["cold_cpu_s"] for s in samples]),
        "docs_per_s": median([docs / s["cold_s"] for s in samples]),
        "mb_per_s": median([mb / s["cold_s"] for s in samples]),
        "peak_rss_mb": median([s["peak_rss_mb"] for s in samples]),
    }
    return metrics, tally


# -- trace 1: per layer -------------------------------------------------------


def _microbench(prep) -> dict:
    out = subprocess.run(
        ["taskset", "-c", "0", sys.executable, os.path.join(HERE, "microbench.py"), prep.dir,
         prep.source_col],
        env=dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE])),
        capture_output=True, text=True, timeout=CHILD_TIMEOUT_S, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _subtree(spans: list, root: str) -> list:
    """``root`` and the names of every span under it."""
    names = [root]
    changed = True
    while changed:
        changed = False
        for s in spans:
            if s["parent"] in names and s["name"] not in names:
                names.append(s["name"])
                changed = True
    return names


def _self_times(spans: list) -> dict:
    """A span's duration minus the part its child spans cover."""
    dur = {s["name"]: s["end"] - s["start"] for s in spans}
    self_t = dict(dur)
    for s in spans:
        if s["parent"] is not None:
            self_t[s["parent"]] -= dur[s["name"]]
    return self_t


def per_layer(prep, expected, seed: int) -> tuple[dict, Tally]:
    p = prep.props
    docs = p["docs"]
    tally = Tally(docs)
    micro = _microbench(prep)
    log("micro-bench:", json.dumps(micro))

    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    traced = run_child(
        child_spec(prep, "trace", seed, "traced"), f"0-{CORES - 1}", expected, traced=True
    )
    tally.add(traced, keys=("cold_check",))
    base = run_child(child_spec(prep, "e2e", seed, "untraced", warm=True), f"0-{CORES - 1}",
                     expected)
    tally.add(base)
    if "error" in base or "error" in traced:
        raise RuntimeError("untraced or traced child failed")

    m: dict = {}
    route = scaling = 0.0  # defined on fused_text only
    if prep.workload == "fused_text":
        fused = run_child(child_spec(prep, "fused", seed, "fused"), f"0-{CORES - 1}", expected)
        quarter = run_child(
            child_spec(prep, "e2e", seed, "quarter", pages=prep.quarter, cores=1), "0", expected
        )
        tally.add(fused)
        tally.add(quarter)
        if "error" in fused or "error" in quarter:
            raise RuntimeError("fused or local[1] child failed")
        route = base["cold_s"] - fused["cold_s"]
        dps4 = docs / base["cold_s"]
        dps1 = p["quarter_docs"] / quarter["cold_s"]
        scaling = dps4 / (CORES * dps1)
        log(f"local[1] quarter: {p['quarter_docs']} docs in {quarter['cold_s']:.2f}s")

    logs = [os.path.join(WORK, "eventlog", f) for f in os.listdir(os.path.join(WORK, "eventlog"))]
    groups = eventlog.parse(max(logs, key=os.path.getmtime))
    spans = traced["spans"]
    span_s = {s["name"]: s["end"] - s["start"] for s in spans}

    def g(name: str) -> dict:
        return eventlog.merge([groups[n] for n in _subtree(spans, name) if n in groups])

    def jobs(name: str, key: str) -> int:
        return sum(traced["job_groups"].get(n, {}).get(key, 0) for n in _subtree(spans, name))

    m.update(eventlog.metrics(g("e2e")))

    def prefix(name: str) -> float:
        return span_s.get(f"prefix.{name}", 0.0)

    curate = prep.workload == "curate_mega_ckpt"
    layers = {
        "scan": prefix("scan"),
        "extract": prefix("extract") - prefix("scan"),
        "chunk": prefix("chunk") - prefix("extract"),
        "correct": prefix("correct") - prefix("chunk"),
        "assemble": prefix("assemble") - prefix("correct"),
        "sink": prefix("sink") - prefix("assemble"),
    }
    sink_group = "prefix.sink"
    if curate:
        # curate's layers run on its persisted corrected docs: near
        # re-derives exact lazily, and the sink re-derives what the near
        # noop did
        sink_group = "curate.sink"
        layers.update(
            exact=span_s["dedup.exact"],
            near=span_s["dedup.near"] - span_s["dedup.exact"],
            sink=span_s["curate.sink"] - span_s["dedup.near.noop"],
        )
    curate_pipeline_s = 0.0
    if curate:
        # inside the traced curate() call: from its start until the
        # pipeline committed corrected_docs
        by_name = {s["name"]: s for s in spans}
        curate_pipeline_s = (
            by_name["checkpoint.commit.corrected_docs"]["end"] - by_name["e2e"]["start"]
        )
    gap = sum(layers.values()) - base["cold_s"]
    log("layer self-times (s): " + ", ".join(f"{k} {v:.3f}" for k, v in layers.items()))
    log(f"sum of layers {sum(layers.values()):.3f}s vs untraced cold_s {base['cold_s']:.3f}s: "
        f"gap {gap:+.3f}s")

    pyrun = g("e2e")["python_stage_run_s"]
    assemble_shuffle = (
        g("prefix.assemble")["shuffle_write_bytes"] - g("prefix.correct")["shuffle_write_bytes"]
    )
    check = traced["cold_check"]
    m.update({
        "sources.scan_s": layers["scan"],
        "sources.scan_mb": g("prefix.scan")["input_bytes"] / 1e6,
        "sources.sink_s": layers["sink"],
        "sources.sink_mb": g(sink_group)["output_bytes"] / 1e6,
        "extract.busy_s": layers["extract"],
        "extract.docs_per_core_s": micro["extract.docs_per_core_s"],
        "chunk.docs_per_core_s": micro["chunk.docs_per_core_s"],
        "chunk.chunks": p["chunks"],
        "chunk.busy_s": layers["chunk"],
        "correct.chunks_per_core_s": micro["correct.chunks_per_core_s"],
        "correct.core_s": micro["correct.core_s"],
        "correct.busy_s": layers["correct"],
        "assemble.docs_per_core_s": micro["assemble.docs_per_core_s"],
        "assemble.busy_s": layers["assemble"],
        "assemble.shuffle_mb": assemble_shuffle / 1e6,
        "pipeline.route_overhead_s": route,
        "pipeline.cached_mb": g("e2e")["cached_bytes_peak"] / 1e6,
        "pipeline.mega_docs": p["mega_docs"],
        "pipeline.mega_byte_share": p["mega_byte_share"],
        "pipeline.boundary_s": pyrun - micro["kernel_core_s"],
        "checkpoint.write_s": span_s.get("checkpoint.write", 0.0),
        "checkpoint.remaining_s": span_s.get("checkpoint.remaining", 0.0),
        "checkpoint.written_mb": traced.get("ckpt_written_bytes", 0) / 1e6,
        "checkpoint.commits": traced.get("ckpt_commits", 0),
        "checkpoint.skipped_docs": traced.get("ckpt_skipped_docs", 0),
        "curate.pipeline_s": curate_pipeline_s,
        "curate.jobs": jobs("e2e", "jobs") if curate else 0,
        "dedup.exact_s": layers.get("exact", 0.0),
        "dedup.near_s": layers.get("near", 0.0),
        "dedup.jobs": jobs("dedup.exact", "jobs") + jobs("dedup.near", "jobs"),
        "dedup.stages": jobs("dedup.exact", "stages") + jobs("dedup.near", "stages"),
        "dedup.dropped": check["dropped"] if curate else 0,
        "dedup.true_drop_ratio": (
            check["true_dropped"] / check["dropped"] if curate and check["dropped"] else 0.0
        ),
        "warm_s": base["warm_s"],
        "cold_wall_s": base["cold_wall_s"],
        "host.steal_share": base["cold_steal"],
        "scaling_eff": scaling,
        "tracing.overhead_s": traced["cold_s"] - base["cold_s"],
        "tracing.layer_gap_s": gap,
        "failed_docs_frac": tally.failed_frac,
    })
    _write_spans(prep, seed, spans, _self_times(spans))
    return m, tally


def _write_spans(prep, seed: int, spans: list, self_t: dict) -> None:
    d = os.path.join(WORK, "spans")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{prep.workload}-s{seed}.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for s in spans:
            f.write(json.dumps(dict(s, self_s=self_t[s["name"]])) + "\n")
    log(f"spans: {os.path.relpath(path, ROOT)}")


# -- main -------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="corpus size; tiny is for the self-test")
    args = ap.parse_args(argv)

    # the program is built from source in the checkout: without it (or
    # without pyspark) there is nothing to measure
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import check
        import corpus
        from llm_aided_ocr_spark.plans import curate, pipeline  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under {ROOT}: {e}")
        return 2
    if not shutil.which("taskset"):
        log("taskset is required to pin the child sessions")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        catalogue = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in catalogue}

    t = time.time()
    prep = corpus.prepare(args.workload, args.seed, os.path.join(WORK, "inputs"), args.size)
    log(f"inputs ({time.time() - t:.1f}s): {json.dumps(prep.props)}")
    expected = check.Expected(prep)
    if args.trace:
        metrics, tally = per_layer(prep, expected, args.seed)
    else:
        metrics, tally = end_to_end(prep, expected, args.seed, args.seconds)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    if set(metrics) != set(units):
        log(f"metrics do not match BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
        return 1
    for p in tally.problems[:10]:
        log("check:", p)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
