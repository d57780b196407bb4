"""Compare a run's output documents with the oracle (no Spark).

The documents that must come out are every input url, except under
dedup (``groups``): there the non-keepers of each exact-copy group (the
min url is kept) and all but one member of each near-copy group must be
gone.  A document counts as failed when it is missing, differs from the
oracle (digest or chunk count), appears more than once, or appears
although dedup should have dropped it.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq

from corpus import digest


@dataclass
class Check:
    attempted: int
    failed: int
    dropped: int = 0        # input documents absent from the output
    true_dropped: int = 0   # of those, members of duplicate groups
    problems: list = field(default_factory=list)

    def as_dict(self) -> dict:
        return dict(asdict(self), problems=self.problems[:5])


def load_oracle(path: str) -> dict:
    t = pq.read_table(path)
    return {
        u: (d, n)
        for u, d, n in zip(
            t.column("url").to_pylist(),
            t.column("digest").to_pylist(),
            t.column("n_chunks").to_pylist(),
        )
    }


def load_groups(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def read_output(paths: list) -> list:
    """``[(url, digest, n_chunks)]`` from parquet files or directories
    written by Spark (``_SUCCESS`` and ``.crc`` files are skipped)."""
    files = []
    for p in paths:
        files.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p])
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["url", "corrected_text", "n_chunks"])
        rows.extend(
            zip(
                t.column("url").to_pylist(),
                map(digest, t.column("corrected_text").to_pylist()),
                t.column("n_chunks").to_pylist(),
            )
        )
    return rows


class Expected:
    """The oracle of one prepared input, and the input urls per pages file."""

    def __init__(self, prep):
        self.oracle = load_oracle(prep.oracle)
        self.groups = load_groups(prep.groups) if prep.workload == "curate_mega_ckpt" else None
        self._urls: dict = {}

    def urls(self, pages: str) -> list:
        if pages not in self._urls:
            self._urls[pages] = pq.read_table(pages, columns=["url"]).column("url").to_pylist()
        return self._urls[pages]

    def check(self, res: dict, pages: str) -> None:
        """Check each call a child made (``cold``, ``warm``) into
        ``res[tag + "_check"]``; a call that raised fails all its documents."""
        urls = self.urls(pages)
        for tag in ("cold", "warm"):
            if tag + "_paths" in res:
                rows = read_output(res[tag + "_paths"])
                res[tag + "_check"] = check_output(rows, self.oracle, urls, self.groups).as_dict()
            elif tag + "_error" in res:
                res[tag + "_check"] = {
                    "attempted": len(urls), "failed": len(urls), "problems": [res[tag + "_error"]],
                }


def check_output(
    rows: list, oracle: dict, input_urls: list, groups: dict | None = None
) -> Check:
    """Count failed documents of one execution; ``groups`` (exact / near
    url lists) switches on the dedup expectations."""
    inputs = set(input_urls)
    must_drop: set = set()
    near_sets: list = []
    if groups is not None:
        for g in groups["exact"]:
            members = sorted(u for u in g if u in inputs)
            must_drop.update(members[1:])
        for g in groups["near"]:
            members = [u for u in g if u in inputs]
            if len(members) > 1:
                near_sets.append(set(members))
    near_members = set().union(*near_sets) if near_sets else set()

    failed = 0
    problems = []
    seen: dict = {}
    for url, dg, n in rows:
        seen[url] = seen.get(url, 0) + 1
        if url not in inputs:
            failed += 1
            problems.append(f"unknown url {url}")
        elif url in must_drop:
            failed += 1
            problems.append(f"exact copy not dropped: {url}")
        elif seen[url] > 1:
            failed += 1
            problems.append(f"duplicate row: {url}")
        elif oracle[url] != (dg, n):
            failed += 1
            problems.append(f"differs from oracle: {url}")
    for url in inputs - must_drop - near_members:
        if url not in seen:
            failed += 1
            problems.append(f"missing: {url}")
    for members in near_sets:
        kept = sum(1 for u in members if u in seen)
        if kept != 1:
            failed += max(1, kept - 1)
            problems.append(f"near group kept {kept}: {sorted(members)[0]}")
    absent = inputs - set(seen)
    return Check(
        attempted=len(inputs),
        failed=failed,
        dropped=len(absent),
        true_dropped=len(absent & (must_drop | near_members)),
        problems=problems,
    )
