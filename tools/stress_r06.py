#!/usr/bin/env python
"""Round-6 scale validation: re-run the operators whose internals this
optimization round changed at the two stress scale points (320k docs /
1.12 GB and 3.2M docs / 11.2 GB — the bench_stress corpora), timing
build+sink per op exactly like `bench.py --stress`. Cited by
OPTIMIZATION_r06.md; results must stay at-or-below linear in input
bytes and at-or-under the r5-era absolute numbers recorded in BENCH.md.

Usage: python tools/stress_r06.py [1x|10x|both] [op,op,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (frozen harness — imported, not modified)

from llm_aided_ocr_spark.session import get_spark  # noqa: E402


def _ops(spark, docs, rows):
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.operators.boilerplate import line_dedup_stats
    from llm_aided_ocr_spark.operators.dedup import (
        dup_span_profile,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.lm import ccnet_buckets
    from llm_aided_ocr_spark.operators.sampling import deterministic_sample
    from llm_aided_ocr_spark.operators.snapshots import capture_novelty
    from llm_aided_ocr_spark.operators.textstats import (
        host_quality_rollup,
        quality_score_col,
        quality_yield,
        top_ngrams,
    )
    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate

    pages = docs.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    return {
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
        "quality_yield": lambda: quality_yield(
            docs.select(
                quality_score_col(F.col("text")).alias("qscore"),
                F.length("text").alias("mass"),
            ),
            step=5,
        ),
        "line_dedup": lambda: line_dedup_stats(
            docs, text_col="text", id_col="url", min_doc_freq=10
        ),
        "dup_spans": lambda: dup_span_profile(
            docs, n=50, text_col="text", id_col="url"
        ),
        "top_ngrams": lambda: top_ngrams(
            docs, n=3, k=15, text_col="text"
        ),
        "capture_novelty": lambda: capture_novelty(
            docs.select(
                "url", "text",
                F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
            ).select(
                "url",
                F.col("j").cast("bigint").alias("ts"),
                F.when(F.col("j") == 0, F.col("text"))
                .when(
                    F.col("j") == 1,
                    F.concat(F.col("text"), F.lit(" breaking update now")),
                )
                .otherwise(
                    F.concat(F.lit("fresh intro line "), F.col("text"))
                ).alias("text"),
            ),
            n=3,
        ),
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
        "incremental_dedup": lambda: near_dedup_incremental(
            deterministic_sample(docs, 0.1, id_col="url", seed=13),
            spark.read.parquet(bench._stress_index(spark, docs, rows)),
            threshold=0.8, text_col="text", id_col="url",
        ),
        "curate": lambda: curate(
            pages,
            CurationConfig(pipeline=PipelineConfig(provider="heuristic")),
        ),
        # session-2 rewrite (join-free array-local pair generation):
        # synthesize the adapter's url construction over the stress
        # corpus — en page for every doc, fr for every 2nd, de-at for
        # every 3rd, plus an en refetch dup and an unmarked decoy
        "url_bitext": lambda: _url_bitext_rel(docs),
        # session-3 rewrites
        "publication_dates": lambda: _publication_dates_rel(docs),
        "canonical_url_dedup": lambda: _canonical_dedup_rel(docs),
        "crawl_coverage": lambda: _crawl_coverage_rel(docs),
    }


def _publication_dates_rel(docs):
    # staged-projection rewrite: the regexes must scan FULL-page html,
    # so wrap every document's text in a page with the three channels
    # present on rotating thirds (meta / time tag / url date)
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.dates import publication_dates

    h = F.xxhash64("url")
    day = F.lpad((F.pmod(h, F.lit(28)) + 1).cast("string"), 2, "0")
    m3 = F.pmod(h, F.lit(3))
    html = F.concat(
        F.when(m3 == 0, F.concat(
            F.lit('<meta property="article:published_time" '
                  'content="2021-03-'), day, F.lit('T01:02:03Z">')))
        .otherwise(F.lit("")),
        F.when(m3 == 1, F.lit('<time datetime="2020-12-31T23:59:59Z">t'
                              "</time>")).otherwise(F.lit("")),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
    )
    url = F.when(
        m3 == 2, F.concat(F.lit("https://h.example/2017/6/5/"), F.col("url"))
    ).otherwise(F.concat(F.lit("https://h.example/"), F.col("url")))
    pages = docs.select(
        url.alias("url"), F.encode(html, "UTF-8").alias("html")
    )
    return publication_dates(pages)


def _canonical_dedup_rel(docs):
    # single-scan persist rewrite: ~10 fetch variants per canonical
    # page, keeper = longest text (the adapter's group shape at scale)
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.dedup import canonical_url_keepers

    h = F.xxhash64("url")
    b = F.pmod(h, F.lit(320000 // 10)).cast("string")
    url = (
        F.when(h % 4 == 0,
               F.concat(F.lit("http://site"), b, F.lit(".example.org/p")))
        .when(h % 4 == 1,
              F.concat(F.lit("HTTP://Site"), b, F.lit(".Example.org:80/p")))
        .when(h % 4 == 2,
              F.concat(F.lit("http://site"), b, F.lit(".example.org/p#f")))
        .otherwise(
            F.concat(F.lit("http://site"), b, F.lit(".example.org/p?")))
    )
    return canonical_url_keepers(
        docs.select("url", url.alias("_u"), "text"),
        url_col="_u", id_col="url",
    )


def _crawl_coverage_rel(docs):
    # one-pass full-outer rewrite: 2 declared urls per doc, the crawl
    # fetched one of them plus an undeclared tail and an orphan host
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.sources.sitemaps import crawl_coverage

    d = docs.select(F.xxhash64("url").alias("h"))
    i = F.abs(F.col("h")).cast("string")
    site = F.concat(
        F.lit("https://site"),
        F.pmod(F.col("h"), F.lit(4999)).cast("string"),
        F.lit(".example.org/"),
    )
    declared = d.select(
        F.explode(
            F.array(
                F.concat(site, F.lit("p"), i, F.lit(".html")),
                F.concat(site, F.lit("q"), i, F.lit(".html")),
            )
        ).alias("loc")
    )
    crawled = (
        d.select(F.concat(site, F.lit("p"), i, F.lit(".html")).alias("url"))
        .unionByName(
            d.filter(F.col("h") % 3 == 0).select(
                F.concat(site, F.lit("r"), i, F.lit(".html")).alias("url")
            )
        )
        .unionByName(
            d.filter(F.col("h") % 11 == 0).select(
                F.concat(F.lit("https://orphan.example.net/o"), i).alias(
                    "url"
                )
            )
        )
    )
    return crawl_coverage(declared, crawled)


def _url_bitext_rel(docs):
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.hreflang import url_bitext_candidates

    d = docs.select(F.xxhash64("url").alias("h"))
    i = F.abs(F.col("h")).cast("string")
    site = F.concat(
        F.lit("https://site"),
        F.pmod(F.col("h"), F.lit(4999)).cast("string"),
        F.lit(".example.org"),
    )
    en = d.select(F.concat(site, F.lit("/en/p"), i, F.lit(".html")).alias("url"))
    urls = (
        en.unionByName(en)
        .unionByName(
            d.filter(F.col("h") % 2 == 0).select(
                F.concat(site, F.lit("/fr/p"), i, F.lit(".html")).alias("url")
            )
        )
        .unionByName(
            d.filter(F.col("h") % 3 == 0).select(
                F.concat(site, F.lit("/de-at/p"), i, F.lit(".html")).alias("url")
            )
        )
        .unionByName(
            d.select(
                F.concat(site, F.lit("/docs/p"), i, F.lit(".html")).alias("url")
            )
        )
    )
    return url_bitext_candidates(urls)


def main() -> None:
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.util import release_pinned

    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    points = {"1x": [320000], "10x": [3200000]}.get(which, [320000, 3200000])
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        arrow_max_records_per_batch=512,
    )
    report = {}
    try:
        for rows in points:
            tag = "1x" if rows == 320000 else "10x"
            docs = spark.read.parquet(bench._stress_corpus(spark, rows))
            mb = docs.agg(F.sum(F.length("text"))).first()[0] / 1e6
            bench._noop_sink(docs)  # warm scan + worker pool
            if only is None or "incremental_dedup" in only:
                bench._stress_index(spark, docs, rows)  # outside timing
            for name, build in _ops(spark, docs, rows).items():
                if only is not None and name not in only:
                    continue
                spark.sparkContext.setJobDescription(f"stress_r06:{tag}:{name}")
                t0 = time.time()
                df = build()
                bench._noop_sink(df)
                dt = time.time() - t0
                release_pinned(df)
                rec = report.setdefault(name, {})
                rec[f"sec_{tag}"] = round(dt, 2)
                rec[f"mb_per_sec_{tag}"] = round(mb / dt, 1)
                print(f"[stress_r06] {tag} {name}: {dt:.1f}s",
                      file=sys.stderr, flush=True)
                spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    for rec in report.values():
        if "sec_1x" in rec and "sec_10x" in rec:
            rec["time_ratio"] = round(rec["sec_10x"] / max(rec["sec_1x"], 1e-9), 2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
