"""The workloads. Each drives the program only through its public entry
points and times its measured operations (wall and process-tree CPU):

- ``kg_entail``: ``delta_entail.entail_with_state(base)``, then
  ``delta_entail.entail_delta(state, graft)``, then resumes of the
  pipeline, ``cli.main(["run-all", ..., "--resume"])``, that skip all
  eight stages (median of repeats). A traced run also times a rebuild
  that re-runs the last stage and every export.
- ``corpus_queries``: the 27 headline queries, each ``collect()``ed once.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import sys
import time
import traceback

from . import cache, checks, federation, host, metrics
from .checks import Run, Verdict
from .spans import Patcher, SpanRecorder, coverage, descendants, outermost, self_time

PACKAGE = cache.PACKAGE
# the stage a traced run's rebuild re-runs
REBUILT_STAGE = "m7_nodes"


def table_signature(df) -> tuple[int, int]:
    """(row count, order-invariant xxhash64 sum over every column)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _edge_set(df) -> set | None:
    """An edge table's (subject, predicate, object) rows; None if the
    operation that made it raised."""
    if df is None:
        return None
    return {tuple(r) for r in df.select("subject", "predicate", "object").collect()}


def install_tracing(patcher: Patcher, rec: SpanRecorder) -> None:
    """Wrap the public functions of every layer the workloads reach."""
    from kbase_cdm_ontologies_spark import cli
    from kbase_cdm_ontologies_spark.operators import (
        analysis, closure, delta_entail, export, semsql_views,
    )
    from kbase_cdm_ontologies_spark.plans import checkpoint, pipeline, stats_cut
    from kbase_cdm_ontologies_spark.sources import corpus, tables
    from pyspark.sql import DataFrameWriter

    def fn(mod, attr: str, name: str) -> None:
        orig = getattr(mod, attr)
        patcher.replace_function(orig, rec.wrap(orig, name))

    fn(tables, "write_table", "tables.write_table")
    for name in metrics.BUILD_FNS:
        layer, attr = name.split(".")
        fn({"export": export, "semsql_views": semsql_views, "analysis": analysis,
            "corpus": corpus}[layer], attr, name)
    fn(corpus, "corpus_to_spark", "corpus.corpus_to_spark")
    fn(pipeline, "run_pipeline", "pipeline.run_pipeline")
    fn(cli, "_final_report", "cli.final_report")
    for f in metrics.CLOSURE_FNS:
        fn(closure, f, f"closure.{f}")
    for f in metrics.DELTA_FNS:
        fn(delta_entail, f, f"delta_entail.{f}")
    fn(stats_cut, "cut", "stats_cut.cut")
    patcher.replace_method(
        checkpoint.CheckpointManager, "stage",
        lambda f: rec.wrap(f, lambda self, name, *a, **k: f"checkpoint.stage.{name}"),
    )
    patcher.replace_method(
        checkpoint.CheckpointManager, "_snapshot_valid",
        lambda f: rec.wrap(f, "checkpoint.snapshot_valid"),
    )
    # run-all writes analyze_ontologies' lazy result with the JSON
    # writer, outside any function of the package; nothing else in the
    # workloads writes JSON
    patcher.replace_method(DataFrameWriter, "json", lambda f: rec.wrap(f, "cli.analysis_json_sink"))


class Stopwatch:
    """Wall and process-tree CPU seconds of one operation."""

    def __enter__(self) -> "Stopwatch":
        self.cpu0 = host.tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = host.tree_cpu_s() - self.cpu0


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, root: str, work: str, cache: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.root = root
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer  # harness.Tracer in traced runs, else None
        self.cores = spark.sparkContext.defaultParallelism


def _span(tr, name: str, traced: bool = True):
    return tr.span(name) if tr and traced else contextlib.nullcontext()


def _closure_metrics(values: dict, spans, log, within: set[int]) -> None:
    for f in metrics.CLOSURE_FNS:
        tops = outermost(spans, f"closure.{f}", within)
        ids = set().union(*(descendants(spans, s.id) for s in tops)) if tops else set()
        t = log.totals(ids)
        values[f"closure.{f}.wall_s"] = sum(s.wall for s in tops)
        values[f"closure.{f}.task_s"] = t.task_s
        values[f"closure.{f}.jobs"] = t.jobs
        values[f"closure.{f}.shuffle_mb"] = t.shuffle_write_mb
    values["stats_cut.cut.wall_s"] = sum(s.wall for s in outermost(spans, "stats_cut.cut", within))


class KgEntail:
    """Full and incremental entailment of a seeded taxonomy federation,
    then resumes of the pipeline on a fresh run-all output from
    ``cache`` (built once per source version, in a child process). A
    traced run also rebuilds the output's last stage and its exports
    before the resumes, and traces every other resume (T U U T) for
    trace_overhead_pct."""

    name = "kg_entail"
    session_conf = cache.DISTRIBUTED_TC

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.cache_dir = ""
        self.cache_build_s = 0.0
        self.fresh: dict = {}
        self.fed: federation.Federation | None = None
        self.frames: dict = {}
        self.out = os.path.join(ctx.work, "kg_out")
        self.corpus = None
        self.full_edges: set | None = None
        self.full_sw: Stopwatch | None = None
        self.delta_edges: set | None = None
        self.delta_sw: Stopwatch | None = None
        self.rebuild: Run | None = None
        self.resumes: list[Run] = []
        self.resume_sw: list[Stopwatch] = []
        self.resume_walls: dict[bool, list[float]] = {True: [], False: []}  # by traced
        self.phases: dict[str, float] = {}
        self.span_ids: dict[str, list[int]] = {"rebuild": [], "resume": []}

    def ensure_inputs(self) -> None:
        """The fresh run-all output, built first if missing."""
        self.cache_dir, self.cache_build_s = cache.ensure(self.ctx.root, self.ctx.cache)
        with open(os.path.join(self.cache_dir, "build.json")) as fh:
            self.fresh = json.load(fh)

    def prepare(self) -> None:
        """Generate the federation as in-memory frames and stage a copy
        of the fresh pipeline output."""
        from kbase_cdm_ontologies_spark.sources.corpus import CorpusSpec, generate_corpus

        fed = self.fed = federation.generate(self.ctx.seed)
        spo = "subject string, predicate string, object string"
        cdf = self.ctx.spark.createDataFrame
        self.frames = {
            "base": cdf(fed.base, spo),
            "base_cn": cdf([(c,) for c in fed.base_classes], "id string"),
            "graft": cdf(fed.graft, spo),
            "graft_cn": cdf([(c,) for c in fed.graft_classes], "id string"),
        }
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(os.path.join(self.cache_dir, "kg_out"), self.out)
        # the oracle of the P/R check
        self.corpus = generate_corpus(CorpusSpec(seed=cache.CORPUS_SEED, n_pages=cache.PAGES))

    def warm_up(self) -> None:
        """None: the full saturation is always the first operation."""

    def _cli(self) -> tuple[Run, Stopwatch]:
        from kbase_cdm_ontologies_spark import cli

        buf = io.StringIO()
        with Stopwatch() as sw:
            try:
                with contextlib.redirect_stdout(buf):
                    rc = cli.main(cache.run_all_argv(self.out, resume=True))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rc = None
        lines = buf.getvalue().strip().splitlines()
        report = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        return Run(rc, report), sw

    def measure(self) -> None:
        from kbase_cdm_ontologies_spark.operators import closure, delta_entail

        tr = self.ctx.tracer
        f = self.frames
        t0 = time.perf_counter()
        with Stopwatch() as self.full_sw:
            try:
                edges, state = delta_entail.entail_with_state(f["base"], f["base_cn"])
                edges.count()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                edges = state = None
        self.phases = dict(closure.phase_walls())
        self.full_edges = _edge_set(edges)
        with Stopwatch() as self.delta_sw:
            try:
                d_edges, _ = delta_entail.entail_delta(state, f["graft"], f["graft_cn"])
                d_edges.count()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                d_edges = None
        self.delta_edges = _edge_set(d_edges)
        if tr:
            self._traced_rebuild()
        # resumes repeat until the run's seconds are spent
        i = 0
        while i < (4 if tr else 3) or time.perf_counter() - t0 < self.ctx.seconds:
            traced = tr is not None and i % 4 in (0, 3)
            if tr:
                tr.enable(traced)
            with _span(tr, "build.resume", traced) as span:
                run, sw = self._cli()
            self.resumes.append(run)
            self.resume_sw.append(sw)
            self.resume_walls[traced].append(sw.wall)
            if span is not None:
                self.span_ids["resume"].append(span.id)
            i += 1
        if tr:
            tr.enable(True)

    def _traced_rebuild(self) -> None:
        """Re-run the last stage, which nothing downstream reads, so the
        other seven are skipped and every export is rewritten."""
        manifest = os.path.join(self.out, "manifest.json")
        with open(manifest) as fh:
            entries = json.load(fh)
        del entries[REBUILT_STAGE]
        with open(manifest, "w") as fh:
            json.dump(entries, fh)
        with self.ctx.tracer.span("build.rebuild") as span:
            self.rebuild, _ = self._cli()
        self.span_ids["rebuild"].append(span.id)

    def check(self, verdict: Verdict) -> None:
        """The saturations against the pure-Python reference; the
        pipeline output against the corpus oracle and the fresh run."""
        from kbase_cdm_ontologies_spark.sources.tables import read_table

        fed = self.fed
        checks.check_entail(
            verdict,
            self.full_edges, federation.reference_edges(fed.base, fed.base_classes),
            [self.delta_edges],
            federation.reference_edges(fed.base + fed.graft, fed.base_classes + fed.graft_classes),
        )
        got, tables = None, None
        try:
            got = _edge_set(read_table(self.ctx.spark, os.path.join(self.out, "m7_edges")))
            tables = [table_signature(read_table(self.ctx.spark, os.path.join(d, REBUILT_STAGE)))
                      for d in (os.path.join(self.cache_dir, "kg_out"), self.out)]
        except Exception:
            traceback.print_exc(file=sys.stderr)
        checks.check_build(verdict, got, self.corpus.expected_edges, self.fresh["report"],
                           self.resumes, self.rebuild, tables, REBUILT_STAGE)

    @property
    def total_s(self) -> float:
        return (self.full_sw.wall + self.delta_sw.wall
                + metrics.median([sw.wall for sw in self.resume_sw]))

    @property
    def total_cpu_s(self) -> float:
        return (self.full_sw.cpu + self.delta_sw.cpu
                + metrics.median([sw.cpu for sw in self.resume_sw]))

    def detail(self) -> dict:
        return {
            "statements": len(self.fed.base),
            "graft_statements": len(self.fed.graft),
            "edges": len(self.full_edges) if self.full_edges is not None else None,
            "entail_s": self.full_sw.wall,
            "entail_cpu_s": self.full_sw.cpu,
            "entail_delta_s": self.delta_sw.wall,
            "entail_delta_cpu_s": self.delta_sw.cpu,
            "pages": cache.PAGES,
            "resume_s": metrics.median([sw.wall for sw in self.resume_sw]),
            "resume_walls_s": [sw.wall for sw in self.resume_sw],
            "resume_cpu_s": [sw.cpu for sw in self.resume_sw],
            "cache_build_s": self.cache_build_s,
            # wall of the one-time fresh run-all, in the child process
            "cache_fresh_run_all_s": self.fresh["fresh_run_all_s"],
        }

    def trace_overhead_pct(self) -> float:
        return 100.0 * (metrics.median(self.resume_walls[True]) / metrics.median(self.resume_walls[False]) - 1.0)

    def layer_metrics(self, spans, log) -> dict[str, float]:
        values = {f"closure.phase.{short}_s": float(self.phases.get(key, 0.0))
                  for short, key in metrics.CLOSURE_PHASES.items()}
        ws = [s for s in spans if s.name == "delta_entail.entail_with_state" and s.parent is None]
        dl = [s for s in spans if s.name == "delta_entail.entail_delta" and s.parent is None]
        for fn, tops in (("entail_with_state", ws), ("entail_delta", dl)):
            per = [log.totals(descendants(spans, s.id)) for s in tops]
            values[f"delta_entail.{fn}.wall_s"] = metrics.median([s.wall for s in tops])
            values[f"delta_entail.{fn}.task_s"] = metrics.median([t.task_s for t in per])
            values[f"delta_entail.{fn}.jobs"] = metrics.median([t.jobs for t in per])
            values[f"delta_entail.{fn}.shuffle_mb"] = metrics.median([t.shuffle_write_mb for t in per])
        ws_tot = log.totals(descendants(spans, ws[0].id))
        values["entail.slot_util"] = ws_tot.task_s / (ws[0].wall * self.ctx.cores)
        values["entail.spill_mb"] = ws_tot.spill_mb
        _closure_metrics(values, spans, log, set().union(*(descendants(spans, s.id) for s in ws + dl)))
        values.update(self._build_metrics(spans, log))
        return values

    def _build_metrics(self, spans, log) -> dict[str, float]:
        values: dict[str, float] = {}
        root = spans[self.span_ids["rebuild"][0]]
        within = descendants(spans, root.id)
        values["checkpoint.stage.self_s"] = 0.0
        for st in checks.STAGES:
            ss = [s for s in spans if s.name == f"checkpoint.stage.{st}" and s.id in within]
            t = log.totals(set().union(*(descendants(spans, s.id) for s in ss)) if ss else set())
            values[f"checkpoint.stage.{st}.wall_s"] = sum(s.wall for s in ss)
            values[f"checkpoint.stage.{st}.task_s"] = t.task_s
            values[f"checkpoint.stage.{st}.jobs"] = t.jobs
            # the checkpoint's own time: validation, read-back, recount, manifest
            values["checkpoint.stage.self_s"] += sum(self_time(spans, s) for s in ss)
        for fn in ("tables.write_table", *metrics.BUILD_FNS):
            values[f"{fn}.wall_s"] = sum(s.wall for s in outermost(spans, fn, within))
        values["build.span_coverage"] = coverage(spans, root)
        values["build.slot_util"] = log.totals(within).task_s / (root.wall * self.ctx.cores)
        resumes = [spans[i] for i in self.span_ids["resume"]]
        values["checkpoint.snapshot_valid.wall_s"] = metrics.median([
            sum(s.wall for s in outermost(spans, "checkpoint.snapshot_valid", descendants(spans, r.id)))
            for r in resumes])
        values["resume.jobs"] = metrics.median([log.totals(descendants(spans, r.id)).jobs for r in resumes])
        return values


class CorpusQueries:
    """The 27 headline queries on the seed-42 sf0.01 tables shipped in
    perfbench/data, each executed once, in an order the seed permutes
    (each execution is the query's first in the process: planning, code
    generation and run). A query's wall is ``collect()`` of its result;
    the check compares every result with DuckDB outside the clock."""

    name = "corpus_queries"
    session_conf: dict[str, str] = {}
    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.order: list[str] = []
        self.passes: list[dict[str, Stopwatch]] = []  # per pass: query -> clock
        self.results: list[dict] = []             # per pass: query -> signature
        self.span_ids: dict[str, int] = {}
        self.ab_walls: dict[bool, float] = {}  # warm pass total, untraced/traced
        self.counts: dict[str, int] = {}

    def ensure_inputs(self) -> None:
        """None: the tables ship with the benchmark."""

    def prepare(self) -> None:
        """The seeded query order over the shipped tables."""
        missing = [t for t in self._tables() if not os.path.isfile(t)]
        if missing:
            raise FileNotFoundError(f"benchmark tables missing: {missing}")
        self.order = list(metrics.QUERIES)
        random.Random(f"corpus_queries/{self.ctx.seed}").shuffle(self.order)

    def warm_up(self) -> None:
        """Count every table once and start a pandas-ready Python worker
        per core, so the JVM's first-job cost, the parquet reader's and
        the workers' start-up are not charged to whichever query the
        seed puts first."""
        spark = self.ctx.spark
        for t in self._tables():
            spark.read.parquet(t).count()
        spark.range(0, 1024, numPartitions=self.ctx.cores).mapInPandas(
            lambda batches: (b.head(1) for b in batches), "id long").collect()

    def _tables(self) -> list[str]:
        from kbase_cdm_ontologies_spark.queries import TABLES

        return [os.path.join(self.data, f"{t}.parquet") for t in TABLES]

    def _pass(self, traced: bool) -> tuple[dict[str, Stopwatch], dict]:
        from kbase_cdm_ontologies_spark.queries import queries

        qs, tr = queries(), self.ctx.tracer
        walls, sigs = {}, {}
        for q in self.order:
            with tr.span(f"queries.{q}") if traced else contextlib.nullcontext() as span, Stopwatch() as sw:
                try:
                    df = qs[q](self.ctx.spark, self.data)
                    rows = df.collect()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    rows = None
            walls[q] = sw
            if span is not None:
                self.span_ids.setdefault(q, span.id)  # the first pass's
            sigs[q] = None if rows is None else checks.result_signature(df.columns, rows)
            if rows is not None:
                self.counts[q] = len(rows)
        return walls, sigs

    def measure(self) -> None:
        """Passes repeat until the run's seconds are spent (one pass
        usually outlasts them). A traced run traces its first pass, then
        times one warm pass untraced and one traced, for
        trace_overhead_pct."""
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        while not self.passes or time.perf_counter() - t0 < self.ctx.seconds:
            walls, sigs = self._pass(traced=tr is not None and not self.passes)
            self.passes.append(walls)
            self.results.append(sigs)
        if tr:
            for traced in (False, True):
                tr.enable(traced)
                walls, sigs = self._pass(traced=traced)
                self.ab_walls[traced] = sum(sw.wall for sw in walls.values())
                self.results.append(sigs)

    def check(self, verdict: Verdict) -> None:
        """DuckDB runs every query's oracle SQL on the same parquet."""
        import duckdb

        from kbase_cdm_ontologies_spark.queries import TABLES, oracle_sql

        oracles, expected = oracle_sql(), {}
        con = duckdb.connect()
        try:
            for t, path in zip(TABLES, self._tables()):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in metrics.QUERIES:
                rel = con.sql(oracles[q])
                expected[q] = checks.result_signature(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        checks.check_queries(verdict, expected, self.results)

    @property
    def total_s(self) -> float:
        return metrics.median([sum(sw.wall for sw in p.values()) for p in self.passes])

    @property
    def total_cpu_s(self) -> float:
        return metrics.median([sum(sw.cpu for sw in p.values()) for p in self.passes])

    def detail(self) -> dict:
        return {
            "data": "perfbench/data/sf0.01 (seed 42)",
            "order": self.order,
            "queries_total_s": self.total_s,
            "walls_s": [{q: sw.wall for q, sw in p.items()} for p in self.passes],
            "cpu_s": [{q: sw.cpu for q, sw in p.items()} for p in self.passes],
        }

    def trace_overhead_pct(self) -> float:
        return 100.0 * (self.ab_walls[True] / self.ab_walls[False] - 1.0)

    def layer_metrics(self, spans, log) -> dict[str, float]:
        values: dict[str, float] = {}
        top = {q: spans[i] for q, i in self.span_ids.items()}
        for q, s in top.items():
            values[f"queries.{q}.wall_s"] = s.wall
        for fam, members in metrics.QUERY_FAMILIES.items():
            t = log.totals(set().union(*(descendants(spans, top[q].id) for q in members)))
            values[f"queries.family.{fam}.task_s"] = t.task_s
            values[f"queries.family.{fam}.jobs"] = t.jobs
            values[f"queries.family.{fam}.shuffle_mb"] = t.shuffle_write_mb
        # banded LSH: candidate pairs (dedup_lsh_banded is
        # banded_lsh_pairs on the duplicated documents) and the share the
        # jaccard verify keeps (dedup_jaccard is banded_lsh_jaccard on
        # the same input and banding)
        cand = self.counts.get("dedup_lsh_banded", 0)
        values["dedup.lsh_candidates"] = cand
        values["dedup.lsh_verified"] = self.counts.get("dedup_jaccard", 0) / cand if cand else 0.0
        within = set().union(*(descendants(spans, s.id) for s in top.values()))
        _closure_metrics(values, spans, log, within)
        return values


WORKLOADS = {w.name: w for w in (KgEntail, CorpusQueries)}
