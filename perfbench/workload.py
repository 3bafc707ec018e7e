"""The workload process of one benchmark invocation, started by ``run.py``
with the session environment pinned to the host (see there).

Set-up is done once and timed as ``setup_s``: grow the inputs from the seed,
start the Spark session and make one warm-up run of the flow. The warm-up
pays the first-use costs of the process (class loading, JIT compilation,
Python workers), so the timed runs that follow measure the flow itself;
keeping it inside ``setup_s`` means work moved out of the runs into the
first run still shows.

Then runs go in a closed loop, one after another, until the next run would
end past ``--seconds`` (one run at least). Each run is timed on its own and
checked after its timing; the warm-up run is checked too.

With ``--trace 1`` the timed runs alternate untraced and traced, starting
untraced, with at least one of each. The per-layer metrics are the medians
over the traced runs, the whole-run Spark counters come from the untraced
runs, and the tracing overhead is the difference of their median times.

An output digest, where the workload has one, must equal that of every other
run of the invocation and that of an earlier record of the same workload,
seed and scale under the results directory (same library source); so must
the input digest.

Writes the result line to ``--result`` and the full record (session facts,
inputs, per-run values, spans) to ``--detail``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import flows
from proctree import PeakRss, host_share, host_ticks, tree_cpu_s
from spans import Ledger, Tracer, layer_totals

ROOT = Path(__file__).resolve().parent.parent
# spans that can carry layer metrics; per-layer names under any other
# prefix must be one of the ALIASES or the ``spark.*`` run counters
LAYERS = {"run", "profile", "text", "generate", "validate", "io.sink",
          *flows.CurateCorpus.STAGE_LAYERS.values()}
ALIASES = {"io.scan_mb": "run.input_mb", "io.sink_s": "io.sink.busy_s",
           "io.sink_mb": "io.sink.output_mb"}


def start_session():
    from etl_processes_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def source_digest() -> str:
    src = hashlib.sha256()
    for path in sorted((ROOT / "etl_processes_spark").rglob("*.py")):
        src.update(str(path.relative_to(ROOT)).encode())
        src.update(path.read_bytes())
    return src.hexdigest()


def session_facts(spark) -> dict:
    sc = spark.sparkContext
    try:
        sha = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "driver_java_options": sc.getConf().get("spark.driver.extraJavaOptions", None),
        "spark_version": spark.version,
        "git_sha": sha,
        "nproc": len(os.sched_getaffinity(0)),
    }


def earlier_digests(detail: Path, workload: str, seed: int, scale: str,
                    source: str) -> tuple[str | None, str | None]:
    """Input and output digests of an earlier correct record of the same
    workload, seed and scale, made from the same library source."""
    inputs = output = None
    for path in sorted(detail.parent.glob(f"{workload}-seed{seed}-trace*-{scale}.json")):
        try:
            rec = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if rec.get("source_sha256") == source and rec["result"]["correct"]:
            inputs = inputs or rec["inputs"]["digest"]
            output = output or rec.get("output_digest")
    return inputs, output


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else math.nan


class Runner:
    def __init__(self, spark, workload, expected_digest: str | None) -> None:
        self.spark = spark
        self.wl = workload
        self.ledger = Ledger(spark)
        self.tracer = Tracer(self.ledger)
        self.pid = os.getpid()
        self.digest = expected_digest
        self.runs: list[dict] = []

    def run(self, traced: bool, warmup: bool = False) -> dict:
        idx = len(self.runs)
        self.tracer.run = idx
        rec = {"run": idx, "warmup": warmup, "traced": traced}
        t_begin = time.perf_counter()
        try:
            mark0, cpu0, host0 = self.ledger.mark(), tree_cpu_s(self.pid), host_ticks()
            t0 = time.perf_counter()
            with self.tracer.span("run", counters=True) if traced else nullcontext():
                result = self.wl.run(self.spark, self.tracer if traced else None)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(self.pid) - cpu0
            # other tenants' load on the host, to read slow runs by
            rec["host"] = host_share(host0, host_ticks())
            mark1 = self.ledger.mark()
            rec["fails"], rec["digest"] = self.wl.check(self.spark, result)
            self.wl.release(result)
            if rec["digest"] is not None:
                if self.digest is None:
                    self.digest = rec["digest"]
                elif rec["digest"] != self.digest:
                    rec["fails"].append(
                        f"output digest {rec['digest']} != expected {self.digest}")
            if traced:
                self.tracer.resolve(idx)
                rec["layers"] = layer_totals(
                    [s for s in self.tracer.spans if s["run"] == idx])
            else:
                rec["spark"] = self.ledger.counters(mark0, mark1, rec["wall_s"])
        except Exception:  # a failed run is counted, and the loop goes on
            rec["fails"] = [traceback.format_exc()]
        rec["total_s"] = time.perf_counter() - t_begin
        self.runs.append(rec)
        return rec


def per_layer_value(name: str, timed: list[dict]) -> float:
    traced = [r for r in timed if r["traced"] and not r["fails"]]
    plain = [r for r in timed if not r["traced"] and not r["fails"]]
    if name == "trace.overhead_s":
        return (_median(r["wall_s"] for r in traced)
                - _median(r["wall_s"] for r in plain))
    if name.startswith("spark."):
        return _median(r["spark"][name[len("spark."):]] for r in plain)
    key = ALIASES.get(name, name)
    if key.rsplit(".", 1)[0] not in LAYERS:
        raise KeyError(f"no layer measures per-layer metric {name!r}")
    return _median(r["layers"].get(key, 0.0) for r in traced)


def main() -> None:
    t_setup = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(flows.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--detail", required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work, detail_path = Path(args.work), Path(args.detail)
    cls = flows.WORKLOADS[args.workload]
    size = cls.sizes[args.scale]
    source = source_digest()
    inputs_before, output_before = earlier_digests(
        detail_path, args.workload, args.seed, args.scale, source)

    inputs = flows.make_inputs(ROOT, work / "inputs", size["sf"], args.seed)
    spark = start_session()
    facts = session_facts(spark)
    runner = Runner(spark, cls(args.scale, inputs, work), output_before)
    runner.run(traced=False, warmup=True)
    setup_s = time.perf_counter() - t_setup

    timed: list[dict] = []
    t_start = time.perf_counter()
    with PeakRss(runner.pid) as rss:
        while True:
            traced = bool(args.trace) and len(timed) % 2 == 1
            timed.append(runner.run(traced))
            elapsed = time.perf_counter() - t_start
            kinds = {r["traced"] for r in timed}
            if (elapsed + timed[-1]["total_s"] > args.seconds
                    and (not args.trace or len(kinds) == 2)):
                break
    spark.stop()

    runs = runner.runs
    failed = sum(1 for r in runs if r["fails"])
    plain = [r for r in timed if not r["traced"] and not r["fails"]]
    if args.trace:
        metrics = {m["name"]: per_layer_value(m["name"], timed)
                   for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "run_s": _median(r["wall_s"] for r in plain),
            "throughput": _median(runner.wl.work / r["wall_s"] for r in plain),
            "cpu_s": _median(r["cpu_s"] for r in plain),
            "peak_rss_mb": rss.peak_mb,
            "ok_frac": 1 - failed / len(runs),
        }
        metrics = {m["name"]: values[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finite = all(math.isfinite(v) for v in metrics.values())
    same_inputs = inputs_before in (None, inputs["digest"])
    correct = failed == 0 and same_inputs and finite
    if not finite:  # no correct run to take a value from: JSON has no NaN
        metrics = {k: v if math.isfinite(v) else 0.0 for k, v in metrics.items()}
    result = {
        "correct": correct, "attempted": len(runs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "size": size, "seconds": args.seconds, "trace": args.trace,
        "session": facts, "source_sha256": source,
        "inputs": {"rows": inputs["rows"], "digest": inputs["digest"],
                   "earlier_digest": inputs_before},
        "output_digest": runner.digest,
        "setup_s": setup_s, "runs": runs,
        "spans": runner.tracer.spans, "result": result,
    }
    detail_path.write_text(json.dumps(detail, indent=1, default=str))
    Path(args.result).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
