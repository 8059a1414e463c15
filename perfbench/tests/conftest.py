"""Fixtures for the benchmark's own tests: one local session that writes
an uncompressed Spark event log, as a traced benchmark run does."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory) -> Path:
    return tmp_path_factory.mktemp("eventlog")


@pytest.fixture(scope="session")
def spark(event_log_dir):
    from datamatcher_spark.session import get_spark

    s = get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir.as_uri(),
        },
    )
    yield s
    s.stop()
