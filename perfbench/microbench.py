"""Kernel micro-bench: the public kernels on one core over a workload's
own documents (no Spark).

Run pinned to one CPU (``taskset -c 0 python3 microbench.py <input dir>
<text|html>``); prints one JSON object.  The sample is every k-th
document, at most ``SAMPLE_DOCS`` of them.  Each kernel is timed per
document, phase by phase, so the core-seconds of any document subset can
be summed: ``kernel_core_s`` estimates the core-seconds of the documents
the end-to-end call corrects (all input urls minus those already
committed) from the sampled ones, which is what ``pipeline.boundary_s``
subtracts from the Python stages' executor time.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.kernels import (
    assemble_chunks,
    chunk_full_text,
    extract_main_text,
    strip_correction_header,
)
from llm_aided_ocr_spark.operators.correct import get_provider

SAMPLE_DOCS = 8_000


def bench(input_dir: str, use_html: bool) -> dict:
    pages = pq.read_table(os.path.join(input_dir, "pages.parquet"))
    done: set = set()
    hist = os.path.join(input_dir, "history.parquet")
    if os.path.exists(hist):
        done = set(pq.read_table(hist, columns=["url"]).column("url").to_pylist())
    all_urls = pages.column("url").to_pylist()
    step = -(-len(all_urls) // SAMPLE_DOCS)
    urls = all_urls[::step]
    htmls = pages.column("html").to_pylist()[::step]
    texts = pages.column("text").to_pylist()[::step]
    cfg = PipelineConfig()
    fn = get_provider(cfg.provider)
    md, sup = cfg.reformat_as_markdown, cfg.suppress_headers_and_page_numbers
    clock = time.perf_counter

    t_extract, extracted = [], []
    for h in htmls:
        t0 = clock()
        extracted.append(extract_main_text(h))
        t_extract.append(clock() - t0)
    docs = extracted if use_html else [t or "" for t in texts]

    t_chunk, chunked = [], []
    for d in docs:
        t0 = clock()
        chunked.append(chunk_full_text(d, cfg.chunk_size_chars, cfg.overlap_words))
        t_chunk.append(clock() - t0)

    t_correct, corrected = [], []
    for chunks in chunked:
        t0 = clock()
        corrected.append([fn(c, md, sup) for c in chunks])
        t_correct.append(clock() - t0)

    t_assemble = []
    for parts in corrected:
        t0 = clock()
        strip_correction_header(assemble_chunks(parts))
        t_assemble.append(clock() - t0)

    n_docs, n_chunks = len(docs), sum(len(c) for c in chunked)
    todo = [i for i, u in enumerate(urls) if u not in done]
    # sampled core-seconds -> the whole set of documents the call corrects
    scale = sum(1 for u in all_urls if u not in done) / max(1, len(todo))
    kernel = sum(
        (t_extract[i] if use_html else 0.0) + t_chunk[i] + t_correct[i] + t_assemble[i]
        for i in todo
    )
    return {
        "extract.docs_per_core_s": n_docs / sum(t_extract),
        "chunk.docs_per_core_s": n_docs / sum(t_chunk),
        "correct.chunks_per_core_s": n_chunks / sum(t_correct),
        "assemble.docs_per_core_s": n_docs / sum(t_assemble),
        "correct.core_s": scale * sum(t_correct[i] for i in todo),
        "kernel_core_s": scale * kernel,
    }


if __name__ == "__main__":
    print(json.dumps(bench(sys.argv[1], sys.argv[2] == "html")))
