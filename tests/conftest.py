from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from llm_aided_ocr_spark.session import get_spark

    spark = get_spark(app_name="ocr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


def pytest_terminal_summary(terminalreporter):
    """Make skipped verification visible: one line per skip reason with
    its count (e.g. reference-parity checks skipped because the reference
    artifacts are absent). Reporting only; outcomes are unchanged."""
    from collections import Counter

    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    # a skip report's longrepr is (path, lineno, reason)
    reasons = Counter(
        rep.longrepr[2].removeprefix("Skipped: ") for rep in skipped
    )
    terminalreporter.write_sep("=", f"{len(skipped)} skipped, by reason")
    for reason, n in reasons.most_common():
        terminalreporter.write_line(f"{n:5d}  {reason}")
