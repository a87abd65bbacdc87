"""The kg_entail workload's one-time input, built in a child process so
that every measured process starts equally cold whether or not the
cache existed: ``kg_out``, a fresh ``run-all`` output of the fixed
pipeline corpus, and ``build.json``, its report and wall.

Run as ``python3 -m perfbench.cache <dir>`` from the repository root
(the harness does this when ``<dir>`` is missing). The directory name
is a key over everything that determines its content (see ``key``).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from hashlib import sha256

from . import host

PACKAGE = "kbase_cdm_ontologies_spark"
# conf key that routes closure's subclass transitive closure; 0 forces
# the distributed semi-naive loop (config.py), so a small federation
# runs the regime a large one would
DISTRIBUTED_TC = {"spark.graft.transitiveClosure.localThreshold": "0"}
# the pipeline corpus: fixed, so one fresh build serves every seed
CORPUS_SEED = 42
PAGES = 300
BUILD_LIMIT_S = 600


def key(root: str) -> str:
    """Over the program's sources and this file, which makes the build."""
    with open(__file__, "rb") as fh:
        this = sha256(fh.read()).hexdigest()
    parts = [host.source_digest(root, PACKAGE), this]
    return sha256(json.dumps(parts).encode()).hexdigest()[:16]


def run_all_argv(out: str, resume: bool) -> list[str]:
    argv = ["run-all", "--out", out, "--pages", str(PAGES), "--seed", str(CORPUS_SEED)]
    return argv + ["--resume"] if resume else argv


def ensure(root: str, cache_root: str) -> tuple[str, float]:
    """The cache directory for this source version, built first in a
    child process if missing; returns it and the build's wall (0 when
    it existed)."""
    path = os.path.join(cache_root, "kg-" + key(root))
    if os.path.isdir(path):
        return path, 0.0
    os.makedirs(cache_root, exist_ok=True)
    t = time.perf_counter()
    # a session of its own, so a timeout ends the child's JVM too
    child = subprocess.Popen([sys.executable, "-m", "perfbench.cache", path], cwd=root,
                             stdout=sys.stderr, start_new_session=True)
    try:
        rc = child.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise
    if rc != 0:
        raise subprocess.CalledProcessError(rc, child.args)
    return path, time.perf_counter() - t


def spark_conf(tmpdir: str) -> dict[str, str]:
    """Session conf of every benchmark process (workloads add theirs)."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmpdir} -XX:-UsePerfData",
    }


def _build(path: str) -> None:
    from kbase_cdm_ontologies_spark import cli
    from kbase_cdm_ontologies_spark.session import get_spark

    spark = get_spark(app_name="perfbench-cache", extra_conf={**spark_conf(os.environ["TMPDIR"]), **DISTRIBUTED_TC})
    try:
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        buf = io.StringIO()
        t = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(run_all_argv(os.path.join(tmp, "kg_out"), resume=False))
        fresh_s = time.perf_counter() - t
        report = json.loads(buf.getvalue().strip().splitlines()[-1])
        if rc != 0:
            raise RuntimeError(f"fresh run-all exited {rc}: {report}")
        with open(os.path.join(tmp, "build.json"), "w") as fh:
            json.dump({"fresh_run_all_s": fresh_s, "report": report}, fh, indent=1)
        os.replace(tmp, path)
    finally:
        spark.stop()
        host.stop_jvm()


if __name__ == "__main__":
    _build(sys.argv[1])
