"""Seeded inputs and the Spark-free oracle for the benchmark's workloads.

Everything here is plain Python (no Spark): the benchmark prepares a
workload's pages table and its expected outputs before any timed work,
and caches both by (workload, size, seed, corpus version).

* ``fused_text`` -- ``sources.synthetic.generate_pages_rows`` as is: OCR
  pages plus the chunker edge rows, all far below ``mega_doc_chars``,
  read through the ``text`` column.
* ``curate_mega_ckpt`` -- synthetic OCR pages read through their ``html``
  column, plus injected exact copies and near copies (one word changed)
  under new urls, plus a document whose html exceeds ``mega_doc_chars``
  and holds most of the corpus bytes; a fixed share of the other
  documents is already committed to the ``corrected_docs`` stage.

The oracle runs each document through the kernels the Spark plans are
built from -- ``extract_main_text`` (html only), ``chunk_full_text``,
the ``heuristic`` provider, ``assemble_chunks``,
``strip_correction_header`` -- and records a digest of the corrected text
and the chunk count per url.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import html as htmllib
import json
import multiprocessing
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.kernels import (
    assemble_chunks,
    chunk_full_text,
    extract_main_text,
    strip_correction_header,
)
from llm_aided_ocr_spark.operators.correct import get_provider
from llm_aided_ocr_spark.sources.synthetic import generate_pages_rows

# Bump when generation or the oracle changes: with the shape, it keys the
# input cache.
CORPUS_VERSION = 2

# Preparation runs before any timed work, so it uses every core: the pages
# are generated and the oracle computed in this many parts at once.
PARTS = 4

WORKLOADS = ("fused_text", "curate_mega_ckpt")

# generate_pages_rows emits these chunker/filter edge rows first
# (include_golden=False); curate_mega_ckpt drops them because several of
# them correct to identical or shingle-free text and would blur the
# injected duplicate groups.
N_EDGE_ROWS = 7

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
RESULT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("raw_text", pa.string()),
        ("corrected_text", pa.string()),
        ("n_chunks", pa.int32()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Corpus size knobs of one workload."""

    docs: int                   # synthetic base documents
    mega_docs: int = 0          # documents above mega_doc_chars (html)
    committed_every: int = 0    # every k-th small doc is already committed
    exact_groups: int = 0       # injected exact-copy groups
    exact_copies: int = 0       # copies added to each exact group
    near_groups: int = 0        # injected near-copy pairs


SHAPES = {
    "full": {
        "fused_text": Shape(docs=32000),
        "curate_mega_ckpt": Shape(
            docs=400, mega_docs=1, committed_every=4, exact_groups=15, exact_copies=2,
            near_groups=15,
        ),
    },
    "tiny": {
        "fused_text": Shape(docs=60),
        "curate_mega_ckpt": Shape(
            docs=60, mega_docs=1, committed_every=4, exact_groups=4, exact_copies=1,
            near_groups=4,
        ),
    },
}

# ``tiny`` mega documents stay small so the self-test is quick; they are
# routed to the staged branch through a matching mega_doc_chars instead.
MEGA_DOC_CHARS = {"full": PipelineConfig().mega_doc_chars, "tiny": 20_000}

NEAR_MIN_WORDS = 150  # near-copy sources: one changed word keeps Jaccard >> 0.8

CACHE_KEEP = 12  # prepared inputs kept on disk


@dataclass
class Prepared:
    """Paths and measured properties of one prepared workload input."""

    workload: str
    size: str
    seed: int
    dir: str
    source_col: str
    mega_doc_chars: int
    props: dict

    @property
    def pages(self) -> str:
        return os.path.join(self.dir, "pages.parquet")

    @property
    def quarter(self) -> str:
        return os.path.join(self.dir, "pages_quarter.parquet")

    @property
    def oracle(self) -> str:
        return os.path.join(self.dir, "oracle.parquet")

    @property
    def history(self) -> str:
        return os.path.join(self.dir, "history.parquet")

    @property
    def groups(self) -> str:
        return os.path.join(self.dir, "groups.json")


# -- oracle -------------------------------------------------------------------


def expected_document(text: str, cfg: PipelineConfig = PipelineConfig()) -> tuple:
    """``(corrected_text, n_chunks)`` for one extracted document, built from
    the same kernels and provider the Spark plans call."""
    fn = get_provider(cfg.provider)
    chunks = chunk_full_text(
        text or "", chunk_size=cfg.chunk_size_chars, overlap_words=cfg.overlap_words
    )
    corrected = assemble_chunks(
        [fn(c, cfg.reformat_as_markdown, cfg.suppress_headers_and_page_numbers) for c in chunks]
    )
    return strip_correction_header(corrected), len(chunks)


def digest(text: str | None) -> str:
    return hashlib.blake2b((text or "").encode("utf-8"), digest_size=16).hexdigest()


def _in_parts(fn, args: list) -> list:
    """``fn`` over ``args`` in ``PARTS`` processes; returns once each has ended."""
    pool = multiprocessing.get_context("fork").Pool(PARTS)
    try:
        return pool.map(fn, args)
    finally:
        pool.close()
        pool.join()


def _oracle_part(args: tuple) -> list:
    rows, use_html = args
    out = []
    for url, payload in rows:
        text = extract_main_text(payload) if use_html else (payload or "")
        corrected, n = expected_document(text)
        out.append((url, text, corrected, n))
    return out


def _oracle_rows(rows: list, use_html: bool) -> list:
    """``(url, extracted, corrected, n_chunks)`` per ``(url, payload)``."""
    parts = _in_parts(_oracle_part, [(rows[k::PARTS], use_html) for k in range(PARTS)])
    out = [None] * len(rows)
    for k, part in enumerate(parts):
        out[k::PARTS] = part
    return out


# -- generation ---------------------------------------------------------------


def _html_page(text: str, title: str) -> bytes:
    paras = []
    for block in text.split("\n\n"):
        lines = [ln for ln in block.split("\n") if ln.strip()]
        if lines:
            paras.append("<p>" + "<br/>".join(htmllib.escape(ln) for ln in lines) + "</p>")
    return (
        f"<html><head><title>{title}</title></head><body>"
        "<nav>site navigation</nav><main>" + "".join(paras) + "</main>"
        "<footer>footer</footer></body></html>"
    ).encode("utf-8")


def _mega_row(seed: int, k: int, min_html_bytes: int) -> tuple:
    """One document whose html exceeds ``min_html_bytes``: synthetic OCR
    pages concatenated until the html wrapper crosses the routing size."""
    parts, size, batch = [], 0, 0
    while size <= min_html_bytes * 1.05:
        rows = generate_pages_rows(60, seed=seed * 1000 + k * 37 + batch, include_golden=False)
        for r in rows[N_EDGE_ROWS:]:
            parts.append(r[3])
            size += len(r[2]) - 120  # per-page html minus its wrapper
            if size > min_html_bytes * 1.05:
                break
        batch += 1
    text = "\n\n".join(parts)
    url = f"https://mega-{k}.test/archive/{seed}/{k}"
    ts = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc) + dt.timedelta(hours=k)
    return (url, ts, _html_page(text, f"mega {k}"), text, "en")


def _base_part(args: tuple) -> list:
    n, seed, k = args
    rows = generate_pages_rows(n + (N_EDGE_ROWS if k else 0), seed=seed * PARTS + k,
                               include_golden=False)
    return rows if k == 0 else rows[N_EDGE_ROWS:]


def _base_rows(n: int, seed: int) -> list:
    """``n`` synthetic pages: the edge rows, then OCR pages generated in
    ``PARTS`` seeded parts.  Each part numbers its urls from 0, so the
    urls are renumbered the way the generator numbers them."""
    sizes = [n // PARTS + (k < n % PARTS) for k in range(PARTS)]
    parts = _in_parts(_base_part, [(m, seed, k) for k, m in enumerate(sizes)])
    return [
        (f"https://example-{j % 97}.test/doc/{j}", ts.replace(tzinfo=dt.timezone.utc), html,
         text, lang)
        for j, (_, ts, html, text, lang) in enumerate(r for part in parts for r in part)
    ]


def _inject_duplicates(rows: list, shape: Shape, seed: int) -> tuple[list, list, list]:
    """Append exact copies and one-word-edit near copies under new urls.
    Returns (rows, exact_groups, near_groups) as url lists."""
    rng = random.Random(seed ^ 0xD0C5)
    picks = rng.sample(range(len(rows)), len(rows))
    long_ix = [i for i in picks if len((rows[i][3] or "").split()) >= NEAR_MIN_WORDS]
    near_src = long_ix[: shape.near_groups]
    taken = set(near_src)
    exact_src = [i for i in picks if i not in taken][: shape.exact_groups]
    if len(near_src) < shape.near_groups or len(exact_src) < shape.exact_groups:
        raise ValueError("corpus too small for the requested duplicate groups")
    out = list(rows)
    exact_groups, near_groups = [], []
    n = 0

    def copy(src, text, html):
        nonlocal n
        url = f"https://mirror-{n % 13}.test/copy/{seed}/{n}"
        n += 1
        out.append((url, src[1], html, text, src[4]))
        return url

    for i in exact_src:
        src = rows[i]
        group = [src[0]] + [copy(src, src[3], src[2]) for _ in range(shape.exact_copies)]
        exact_groups.append(group)
    for i in near_src:
        src = rows[i]
        words = src[3].split(" ")
        j = len(words) // 2
        while not words[j].isalpha():  # edit a plain word, never a line break
            j += 1
        words[j] = "zeppelin" if words[j] != "zeppelin" else "dirigible"
        text = " ".join(words)
        near_groups.append([src[0], copy(src, text, _html_page(text, "copy"))])
    return out, exact_groups, near_groups


def _write_pages(path: str, rows: list) -> None:
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)], schema=PAGES_SCHEMA
    )
    pq.write_table(table, path, row_group_size=256)


def prepare(workload: str, seed: int, cache_root: str, size: str = "full") -> Prepared:
    """Build (or reuse) the pages table, oracle and side files of one
    workload input under ``cache_root``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    shape = SHAPES[size][workload]
    shape_id = hashlib.blake2b(repr(shape).encode(), digest_size=4).hexdigest()
    key = f"{workload}-{size}-s{seed}-v{CORPUS_VERSION}-{shape_id}"
    d = os.path.join(cache_root, key)
    prep = Prepared(
        workload=workload,
        size=size,
        seed=seed,
        dir=d,
        source_col="html" if workload == "curate_mega_ckpt" else "text",
        mega_doc_chars=MEGA_DOC_CHARS[size if workload == "curate_mega_ckpt" else "full"],
        props={},
    )
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            prep.props = json.load(f)["props"]
        return prep

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = _base_rows(shape.docs, seed)
    exact_groups: list = []
    near_groups: list = []
    mega_urls = []
    if workload == "curate_mega_ckpt":
        rows, exact_groups, near_groups = _inject_duplicates(rows[N_EDGE_ROWS:], shape, seed)
        megas = [_mega_row(seed, k, prep.mega_doc_chars) for k in range(shape.mega_docs)]
        mega_urls = [m[0] for m in megas]
        # spread the mega documents through the file, not all at one end
        step = max(1, len(rows) // (len(megas) + 1))
        for k, m in enumerate(megas):
            rows.insert((k + 1) * step + k, m)

    use_html = prep.source_col == "html"
    src_ix = 2 if use_html else 3
    expected = _oracle_rows([(r[0], r[src_ix]) for r in rows], use_html)

    _write_pages(os.path.join(tmp, "pages.parquet"), rows)
    if workload == "fused_text":
        _write_pages(os.path.join(tmp, "pages_quarter.parquet"), rows[::4])
    pq.write_table(
        pa.table(
            {
                "url": [e[0] for e in expected],
                "digest": [digest(e[2]) for e in expected],
                "n_chunks": pa.array([e[3] for e in expected], pa.int32()),
            }
        ),
        os.path.join(tmp, "oracle.parquet"),
    )
    committed = []
    if shape.committed_every:
        mega = set(mega_urls)
        small = [e for e in expected if e[0] not in mega]
        committed = small[shape.committed_every - 1 :: shape.committed_every]
        pq.write_table(
            pa.Table.from_arrays(
                [
                    pa.array([e[0] for e in committed]),
                    pa.array([e[1] for e in committed]),
                    pa.array([e[2] for e in committed]),
                    pa.array([e[3] for e in committed], pa.int32()),
                ],
                schema=RESULT_SCHEMA,
            ),
            os.path.join(tmp, "history.parquet"),
        )

    # natural exact duplicates (identical corrected text) dedup like the
    # injected ones, so the curate check groups by the oracle's digest
    by_digest: dict = {}
    for e in expected:
        by_digest.setdefault(digest(e[2]), []).append(e[0])
    exact_all = [sorted(g) for g in by_digest.values() if len(g) > 1]
    with open(os.path.join(tmp, "groups.json"), "w", encoding="utf-8") as f:
        json.dump({"exact": exact_all, "near": near_groups}, f)

    src_bytes = [len(r[src_ix] if use_html else (r[src_ix] or "").encode("utf-8")) for r in rows]
    mega_bytes = sum(b for b in src_bytes if b > prep.mega_doc_chars)
    prep.props = {
        "docs": len(rows),
        "source_mb": sum(src_bytes) / 1e6,
        "mega_docs": sum(1 for b in src_bytes if b > prep.mega_doc_chars),
        "mega_byte_share": mega_bytes / max(1, sum(src_bytes)),
        "chunks": sum(e[3] for e in expected),
        "exact_groups": len(exact_all),
        "injected_exact_groups": len(exact_groups),
        "near_groups": len(near_groups),
        "committed_docs": len(committed),
        "committed_share": len(committed) / len(rows),
        "quarter_docs": len(rows[::4]) if workload == "fused_text" else 0,
    }
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump({"props": prep.props}, f)
    os.replace(tmp, d)
    # keep the cache bounded: every run may bring a new seed
    cached = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)), key=os.path.getmtime
    )
    for old in cached[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return prep
