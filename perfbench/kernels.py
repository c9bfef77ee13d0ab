"""Spark-free kernel timings on the workload's own inputs, single thread.

They track the Python cost of the two per-line kernels apart from Spark
overhead: ``extract_text_reference`` per page of html, and the frozen Drain
matcher's ``match_line`` per distinct line (what the per-worker memo cannot
absorb). Each is timed over several passes and the median pass is reported.
"""

from __future__ import annotations

import statistics
import time

PASSES = 3


def _median_pass_s(fn, items) -> float:
    walls = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def extract_us_per_page(htmls: list[bytes]) -> float:
    from logai_spark.sources.webpages import extract_text_reference

    return _median_pass_s(extract_text_reference, htmls) / len(htmls) * 1e6


def match_kernel(templates: list[tuple[str, int]], lines: list[str]) -> dict:
    """``match.us_per_line`` over the distinct lines, and the share of the
    lines that are distinct (``match.distinct_frac``)."""
    from logai_spark.parse.distributed import build_matcher

    distinct = sorted(set(lines))
    tree = build_matcher(templates)
    return {
        "match.us_per_line": _median_pass_s(tree.match_line, distinct) / len(distinct) * 1e6,
        "match.distinct_frac": len(distinct) / len(lines),
    }
