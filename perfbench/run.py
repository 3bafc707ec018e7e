"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload synth_bulk --seed 1 --seconds 28 --trace 0

Run from the root of a source checkout. The workload runs in its own child
process (``workload.py``) whose Spark session is pinned to this host:
``local[nproc]``, a driver heap of a quarter of physical RAM (at most 2 GB;
see ``HEAP_GIB``), C1-only JIT that compiles early and keeps what it
compiled (see ``JIT``), a generated-class cache that holds a whole run's
classes (see ``CODEGEN_CACHE``), Spark's scratch and temp files
under a per-invocation work directory, and the console progress bar off.
Everything the run writes stays under
``.perfbench/`` in the checkout: the work directory (deleted at exit), and
``.perfbench/results/`` with the child's log and its full record (session
facts, inputs, per-run values, spans).

The last line on stdout is the result: ``{"correct", "attempted", "failed",
"metrics"}``, holding the end-to-end metrics of BENCHMARK.json with
``--trace 0`` and its per-layer metrics with ``--trace 1``. Exits non-zero,
printing no result, when the checkout lacks the library or the workload
process fails.

``--scale tiny`` shrinks the inputs for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # run time writes nothing outside .perfbench/
import proctree  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# the workload process must end, with its result, inside this many seconds
CHILD_TIMEOUT_S = 170
GIB = 1 << 30
# The heap is fixed at this size and touched at JVM start. Left to grow,
# the heap's size followed G1's timing-driven expansion decisions, and the
# tree's peak RSS took 2.0-2.9 GB on one workload and seed; fixed, it reads
# the same within 1 %, so peak_rss_mb moves with the off-heap and Python
# memory, and heap pressure shows in GC time instead.
HEAP_GIB = 2
# C1-only JIT. On four cores, C2 compiling Spark's planner and generated
# classes burned 25-35 CPU-seconds over the first runs, competing with the
# flow for the same cores at varying times, so run times drifted with JIT
# state for several runs. With C1 at its default thresholds, methods called
# a few times per run kept crossing them run after run, and the code-cache
# sweeper threw compiled code away about a minute in, so C1 recompiled it:
# runs drifted from 8.3 to 5.5 s over seven runs, and one run in three or
# four took 3 s longer with 7 CPU-seconds of compiling. A twentieth of the
# thresholds compiles nearly all of it during the warm-up run, and a code
# cache that is never flushed keeps it; the timed runs are then flat.
JIT = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 "
       "-XX:ReservedCodeCacheSize=512m -XX:-UseCodeCacheFlushing")
# Spark caches the classes it generates, 100 by default. A curate_corpus
# run generates about 210, so each run compiled them all again (Janino,
# then C1) and took 8 s on four cores; with room for all, a timed run
# compiles none and takes about 6 s.
CODEGEN_CACHE = 4000


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _child_env(work: Path) -> dict:
    nproc = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    env = dict(os.environ)
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_NTZ_MODE"):
        env.pop(var, None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    heap = f"{max(1, min(HEAP_GIB, phys // 4 // GIB))}g"
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} {JIT} -Xms{heap} -XX:+AlwaysPreTouch"),
            "pyspark-shell",
        ]),
    )
    return env


def _stop_all(seen: dict[str, str | None]) -> None:
    """Terminate every process of the child's tree that is still alive (the
    Spark JVM and the Python worker daemon outlive a crashed parent), then
    wait until each has ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        alive = [p for p, start in seen.items() if proctree.alive(p, start)]
        for pid in alive:
            try:
                os.kill(int(pid), sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while alive and time.monotonic() < deadline:
            time.sleep(0.2)
            alive = [p for p in alive if proctree.alive(p, seen[p])]
        if not alive:
            return


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    # a SIGTERM must still run the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("BENCHMARK.json", "etl_processes_spark/__init__.py", "tools/gen_testdata.py"):
        if not (ROOT / need).is_file():
            _fail(f"{need} not found under {ROOT}: run from a source checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")

    base = ROOT / ".perfbench"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = base / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
    result_path = work / "result.json"
    cmd = [
        sys.executable, str(HERE / "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--work", str(work), "--result", str(result_path),
        "--detail", str(results / f"{stem}.json"),
    ]
    seen: dict[str, str | None] = {}
    rc = None
    try:
        env = _child_env(work)
        with open(results / f"{stem}.log", "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT)
            deadline = time.monotonic() + CHILD_TIMEOUT_S
            while proc.poll() is None and time.monotonic() < deadline:
                for pid in proctree.tree_pids(proc.pid):
                    seen.setdefault(pid, proctree.start_time(pid))
                time.sleep(0.5)
            if proc.poll() is None:
                proc.kill()
            rc = proc.wait()
        result = result_path.read_text() if rc == 0 and result_path.is_file() else None
    finally:
        _stop_all(seen)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        _fail(f"workload process failed (exit {rc}); see {results / (stem + '.log')}")
    print(result)


if __name__ == "__main__":
    main()
