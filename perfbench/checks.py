"""Correctness verdicts. Each measured operation counts once in
``attempted``; it counts in ``failed`` if it raised or any of its
checks failed. The checks run after the clocks stop."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from dataclasses import dataclass, field

STAGES = (
    "m1_extracted", "m2_alias", "m3_mentions", "m4_raw_triples",
    "m6_canonical", "m5_linked", "m7_edges", "m7_nodes",
)


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, op: str, checks: list[tuple[bool, str]]) -> None:
        self.attempted += 1
        bad = [msg for ok, msg in checks if not ok]
        if bad:
            self.failed += 1
            self.problems.extend(f"{op}: {msg}" for msg in bad)

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0

    @property
    def success_ratio(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


@dataclass
class Run:
    """One measured CLI call: exit code and its JSON report."""

    rc: int | None
    report: dict | None


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return (tp / len(got) if got else 0.0, tp / len(want) if want else 0.0)


def check_build(
    verdict: Verdict,
    got: set | None,
    want: set,
    fresh: dict,
    resumes: list[Run],
    rebuild: Run | None,
    tables: list | None,
    rerun: str,
) -> None:
    """Calls of ``run-all --resume`` on a copy of a fresh output whose
    report is ``fresh``: ``rebuild`` (None if not run) after stage
    ``rerun`` was dropped from the manifest, then ``resumes``. ``got``
    are the edges on disk afterwards and ``want`` the corpus oracle's;
    ``tables`` the (count, hash) of stage ``rerun``'s table in the fresh
    and the resumed output (None if reading them failed). Each call must
    run exactly the stages it should and report what the fresh run did."""
    p, r = precision_recall(got or set(), want)
    output = [
        (p == 1.0 and r == 1.0, f"edges on disk: precision {p} recall {r} against the corpus oracle"),
        (len(got or ()) == fresh.get("edges"), f"{len(got or ())} edges on disk, fresh run {fresh.get('edges')}"),
        (tables is not None and tables[0] == tables[1], f"{rerun} on disk differs from the fresh run's: {tables}"),
    ]

    def call(name: str, run: Run, stages_run: list[str]) -> None:
        rep = run.report or {}
        skipped = sorted(set(STAGES) - set(stages_run))
        verdict.record(name, [
            (run.rc == 0, f"exit code {run.rc}"),
            (rep.get("stages_run") == stages_run and sorted(rep.get("stages_skipped", [])) == skipped,
             f"stages run {rep.get('stages_run')}, want {stages_run}"),
            (all(rep.get(k) == fresh.get(k) for k in ("edges", "nodes", "precision", "recall", "exported_tables")),
             "report differs from the fresh run's"),
            *output,
        ])

    if rebuild is not None:
        call("rebuild", rebuild, [rerun])
    for i, res in enumerate(resumes):
        call(f"resume[{i}]", res, [])


def check_entail(
    verdict: Verdict,
    full: set | None,
    full_want: set,
    deltas: list[set | None],
    delta_want: set,
) -> None:
    """``full`` are the edges of the base's saturation and ``deltas``
    those of each incremental one (None if it raised); ``full_want`` and
    ``delta_want`` the pure-Python reference saturations of the base
    and of base + graft."""

    def same(got: set | None, want: set) -> list[tuple[bool, str]]:
        if got is None:
            return [(False, "raised")]
        return [(got == want, f"{len(got - want)} edges beyond and {len(want - got)} "
                 "missing from the reference saturation")]

    verdict.record("entail_with_state", same(full, full_want))
    for i, d in enumerate(deltas):
        verdict.record(f"entail_delta[{i}]", same(d, delta_want))


def _canon(v):
    """A value both engines render the same way: floats (and decimals)
    to 10 significant digits with -0.0 folded, NaN by name, timestamps
    in ISO form, sequences element-wise."""
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f + 0.0:.10g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def result_signature(columns: list[str], rows) -> tuple[tuple[str, ...], int, int]:
    """(sorted column names, row count, order-invariant hash) of a query
    result; ``rows`` are tuples in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h, n = 0, 0
    for row in rows:
        key = repr(tuple(_canon(row[i]) for i in order)).encode()
        h = (h + int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return tuple(sorted(columns)), n, h


def check_queries(verdict: Verdict, expected: dict, passes: list[dict]) -> None:
    """Every execution of every query must match its DuckDB oracle."""
    for p, results in enumerate(passes):
        for name, got in results.items():
            want = expected[name]
            verdict.record(f"pass{p}:{name}", [
                (got is not None, "raised"),
                (got is None or got[0] == want[0], f"columns {got and got[0]} != {want[0]}"),
                (got is None or got[1] == want[1], f"rows {got and got[1]} != {want[1]}"),
                (got is None or got[2] == want[2], "content hash differs from DuckDB"),
            ])
