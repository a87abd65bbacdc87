"""Spark event-log parser for the traced run.

The harness enables ``spark.eventLog`` (uncompressed, not rolling) and
sets the local property ``perfbench.span`` to the innermost open span
before each call it wraps. Spark copies local properties into every
job and stage it submits, so each task's metrics can be attributed to
the span that caused it. This works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Totals:
    task_s: float = 0.0        # executor run time
    jobs: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0      # memory + disk bytes spilled

    def add(self, other: "Totals") -> None:
        self.task_s += other.task_s
        self.jobs += other.jobs
        self.shuffle_read_mb += other.shuffle_read_mb
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb


@dataclass
class EventLog:
    # span id (None: no span open) -> totals of the jobs/tasks it caused
    by_span: dict[int | None, Totals] = field(default_factory=dict)

    def totals(self, span_ids: set[int | None]) -> Totals:
        out = Totals()
        for sid in span_ids:
            if sid in self.by_span:
                out.add(self.by_span[sid])
        return out


def _span_of(props: dict | None) -> int | None:
    v = (props or {}).get(SPAN_PROPERTY)
    return int(v) if v not in (None, "") else None


_WANTED = ("SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


def parse(lines) -> EventLog:
    """Aggregate an event log (an iterable of JSON lines) per span."""
    log = EventLog()
    stage_span: dict[tuple[int, int], int | None] = {}

    def bucket(sid: int | None) -> Totals:
        return log.by_span.setdefault(sid, Totals())

    for line in lines:
        # cheap prefilter: most lines are SQL plan and executor events
        if not any(w in line[:64] for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            bucket(_span_of(ev.get("Properties"))).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_span[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = _span_of(
                ev.get("Properties")
            )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            t = bucket(stage_span.get(key))
            t.task_s += m.get("Executor Run Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            t.shuffle_read_mb += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6
            t.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            t.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
    return log


def parse_file(path: str) -> EventLog:
    with open(path) as fh:
        return parse(fh)
