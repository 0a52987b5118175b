"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import TooFewSamples, percentile  # noqa: E402
from spans import Span, parse_event_log, self_times, span_counters  # noqa: E402

REPO = os.path.dirname(HERE)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ea, eb = gen.gen_etl(a, 7, REPO), gen.gen_etl(b, 7, REPO)
    ca, cb = gen.gen_corpus(a, 7, 400), gen.gen_corpus(b, 7, 400)
    assert _same_tree(a, b)
    assert ea.expected == eb.expected and ca.cluster == cb.cluster
    gen.gen_etl(c, 8, REPO)
    gen.gen_corpus(c, 8, 400)
    assert not _same_tree(a, c)


def test_generator_shares(tmp_path):
    e = gen.gen_etl(str(tmp_path), 3, REPO)
    assert 0.08 <= e.stats["invalid_share"] <= 0.14
    assert 0.75 <= e.stats["bulk_share"] <= 0.85
    c = gen.gen_corpus(str(tmp_path), 3, 1000)
    assert len(c.bad) == 50 and c.stats["near_dup_share"] == 0.3


def test_self_time_on_hand_built_tree():
    # root [0, 10]; children [1, 4] and [3, 6] overlap; grandchild [1, 2]
    spans = [
        Span(1, "root", 0.0, 10.0),
        Span(2, "a", 1.0, 4.0, parent=1),
        Span(3, "b", 3.0, 6.0, parent=1),
        Span(4, "a.x", 1.0, 2.0, parent=2),
        Span(5, "c", 9.0, 12.0, parent=1),  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_event_log_parser_on_recorded_log():
    """``testdata/tiny_eventlog.jsonl`` is a trimmed Spark 4.1 event log
    of two job groups: ``span-1`` ran ``range(1000, numPartitions=2)
    .count()`` (one job, a 2-task stage and a 1-task stage), ``span-2``
    ran a 4-partition group-by (one job, 4 + 4 tasks, with shuffle)."""
    with open(os.path.join(HERE, "testdata", "tiny_eventlog.jsonl")) as f:
        log = parse_event_log(f)
    assert sorted(j.group for j in log.jobs.values()) == ["span-1", "span-2"]
    t0 = min(j.submit_ms for j in log.jobs.values()) / 1000.0 - 1
    t1 = max(st[1] for st in log.stage_times.values()) / 1000.0 + 1
    spans = [Span(9, "outer", t0, t1), Span(1, "one", t0, t1, parent=9),
             Span(2, "two", t0, t1, parent=9)]
    c = span_counters(spans, log)
    assert (c[1]["jobs"], c[1]["tasks"]) == (1, 3)
    assert (c[2]["jobs"], c[2]["tasks"]) == (1, 8)
    assert c[1]["shuffle_write_mb"] > 0 and c[2]["shuffle_write_mb"] > 0
    assert (c[9]["jobs"], c[9]["tasks"]) == (2, 11)  # inclusive of children
    busy = sum(s["run_ms"] for s in log.stage_tasks.values()) / 1000.0
    assert c[9]["task_busy_s"] == pytest.approx(busy)
    assert 0 <= c[9]["driver_s"] < t1 - t0
    assert sum(s["failed_tasks"] for s in log.stage_tasks.values()) == 0


def test_percentile_refuses_thin_tails():
    xs = [float(i) for i in range(1, 100)]  # 99 samples: 9 beyond p90
    with pytest.raises(TooFewSamples):
        percentile(xs, 90)
    assert percentile(xs + [100.0], 90) == 90.0  # 100 samples: 10 beyond
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    with pytest.raises(TooFewSamples):
        percentile([], 50)
