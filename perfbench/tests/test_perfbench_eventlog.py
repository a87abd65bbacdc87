"""The event-log parser on a small recorded log.

data/eventlog_small.jsonl was recorded from local[2] with the span
property set around three actions, then trimmed to the events the
parser reads plus a few it must skip:
  span 0: groupBy + collect, one job, stages of 2 and 3 tasks (shuffle)
  span 1: count, one job of two stages
  none:   filter + collect, one job
"""

import os

import pytest

from perfbench.eventlog import parse, parse_file

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def test_jobs_and_task_time_per_span():
    log = parse_file(LOG)
    assert set(log.by_span) == {0, 1, None}
    assert [log.by_span[k].jobs for k in (0, 1, None)] == [1, 1, 1]
    assert log.by_span[0].task_s == pytest.approx(0.890)
    assert log.by_span[1].task_s == pytest.approx(0.153)
    assert log.by_span[None].task_s == pytest.approx(0.043)


def test_shuffle_bytes_and_totals():
    log = parse_file(LOG)
    assert log.by_span[0].shuffle_write_mb == pytest.approx(466e-6)
    assert log.by_span[0].shuffle_read_mb == pytest.approx(466e-6)
    assert log.by_span[None].shuffle_write_mb == 0
    both = log.totals({0, 1})
    assert both.jobs == 2 and both.task_s == pytest.approx(1.043)
    assert log.totals({0, 1, None}).jobs == 3
    assert log.totals({7}).jobs == 0


def test_unknown_events_are_skipped():
    lines = open(LOG).read().splitlines()
    noise = ['{"Event":"SparkListenerEnvironmentUpdate","JVM Information":{}}']
    assert parse(noise + lines).by_span[0].jobs == 1
