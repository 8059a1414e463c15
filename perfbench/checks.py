"""Output checks and box telemetry for the benchmark.

Checks run outside the timed region; each returns a list of failure
messages (empty = pass) so the caller can count failed operations.
"""

from __future__ import annotations

import time
from pathlib import Path


def cluster_coverage_failures(input_urls, clusters) -> list[str]:
    """Every input url must appear in exactly one row of ``clusters``
    (``url``, ``cluster_id``), and no other url may appear there.

    ``input_urls`` is a one-column (``url``) DataFrame of distinct urls."""
    from pyspark.sql import functions as F

    per_url = clusters.groupBy("url").agg(F.count("*").alias("n"))
    joined = input_urls.withColumn("in_input", F.lit(True)).join(
        per_url, "url", "full_outer"
    )
    row = joined.agg(
        F.count_if(F.col("n").isNull()).alias("missing"),
        F.count_if(F.col("n") > 1).alias("duplicated"),
        F.count_if(F.col("in_input").isNull()).alias("unknown"),
    ).collect()[0]
    out = []
    if row.missing:
        out.append(f"{row.missing} input urls missing from the cluster table")
    if row.duplicated:
        out.append(f"{row.duplicated} urls in more than one cluster row")
    if row.unknown:
        out.append(f"{row.unknown} cluster urls not in the input")
    return out


def count_failures(got: dict, expected: dict) -> list[str]:
    """Each expected count must be reproduced exactly."""
    return [
        f"{k}: got {got.get(k)}, expected {v}"
        for k, v in expected.items()
        if got.get(k) != v
    ]


# -- telemetry ---------------------------------------------------------------
def _cpu_sample(stat: str = "/proc/stat") -> tuple[int, int, int]:
    with open(stat, encoding="ascii") as fh:
        f = fh.readline().split()
    vals = list(map(int, f[1:]))
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


class Window:
    """Wall, steal% and busy% of the whole box over a timed region."""

    def __enter__(self):
        self.s0 = _cpu_sample()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        s1 = _cpu_sample()
        total = max(s1[0] - self.s0[0], 1)
        self.steal_pct = 100.0 * (s1[2] - self.s0[2]) / total
        self.busy_pct = 100.0 * (total - (s1[1] - self.s0[1])) / total
        return False


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
