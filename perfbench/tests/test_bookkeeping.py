"""The benchmark's declarations agree with each other, requests are
scheduled and counted as documented, and the SQL metric strings Spark
formats parse to numbers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from common import Recorder, closed_loop  # noqa: E402
from spans import parse_metric  # noqa: E402


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_workload_names_match_the_runner():
    import run

    assert tuple(w["name"] for w in _benchmark()["workloads"]) == run.WORKLOADS


def test_closed_loop_sends_only_missing_samples_once_time_is_up():
    kinds = list(closed_loop(time.monotonic(), 0, ["q", "q", "b"], {"q": 3, "b": 2}))
    assert kinds == ["q", "q", "b", "q", "b"]


def test_recorder_counts_a_failing_check_and_a_kind_without_samples():
    rec = Recorder()
    assert rec.op("q", lambda: 7, lambda r: {}[r]) is None  # the check raises
    assert rec.op("q", lambda: 8, lambda r: "wrong answer") is None
    assert rec.op("q", lambda: 9) == 9
    assert (rec.outcomes.attempted, rec.outcomes.failed) == (3, 2)
    assert rec.median("q") == rec.walls["q"][0]
    assert rec.median("b") is None
    assert (rec.outcomes.attempted, rec.outcomes.failed) == (4, 3)


@pytest.mark.parametrize(
    "text,value",
    [
        (None, 0.0),
        ("4", 4.0),
        ("1,234", 1234.0),
        ("522.0 B", 522.0),
        ("77.3 KiB", 77.3 * 1024),
        ("10 ms", 0.010),
        ("total (min, med, max (stageId: taskId))\n6.1 s (283 ms, 1.0 s, 1.3 s (stage 0.0: task 1))", 6.1),
        ("total (min, med, max (stageId: taskId))\n2.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 3))", 2.5 * (1 << 20)),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
