from __future__ import annotations

from checks import Window, cluster_coverage_failures, count_failures


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _clusters(spark, rows):
    return spark.createDataFrame(rows, "url string, cluster_id long")


def test_coverage_accepts_a_partition_of_the_input(spark):
    urls = _urls(spark, ["a", "b", "c"])
    ok = _clusters(spark, [("a", 1), ("b", 1), ("c", 3)])
    assert cluster_coverage_failures(urls, ok) == []


def test_coverage_rejects_a_dropped_url(spark):
    urls = _urls(spark, ["a", "b", "c"])
    dropped = _clusters(spark, [("a", 1), ("b", 1)])
    (msg,) = cluster_coverage_failures(urls, dropped)
    assert "1 input urls missing" in msg


def test_coverage_rejects_a_duplicated_url(spark):
    urls = _urls(spark, ["a", "b", "c"])
    dup = _clusters(spark, [("a", 1), ("b", 1), ("c", 3), ("c", 1)])
    (msg,) = cluster_coverage_failures(urls, dup)
    assert "1 urls in more than one cluster row" in msg


def test_coverage_rejects_an_unknown_url(spark):
    urls = _urls(spark, ["a", "b"])
    extra = _clusters(spark, [("a", 1), ("b", 1), ("z", 9)])
    (msg,) = cluster_coverage_failures(urls, extra)
    assert "1 cluster urls not in the input" in msg


def test_count_failures_names_each_mismatch():
    got = {"pairs_scored": 10, "clusters": 4}
    assert count_failures(got, {"pairs_scored": 10}) == []
    (msg,) = count_failures(got, {"pairs_scored": 10, "clusters": 5})
    assert msg == "clusters: got 4, expected 5"


def test_window_reads_proc_stat():
    with Window() as w:
        sum(range(10_000))
    assert w.wall > 0
    assert 0.0 <= w.busy_pct <= 100.0
    assert 0.0 <= w.steal_pct <= 100.0
