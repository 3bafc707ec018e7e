"""Tests of the benchmark itself (about five minutes on four cores):

    python3 -m pytest perfbench -q -p no:cacheprovider

A tiny-size smoke of every workload in both modes checks that each metric
BENCHMARK.json names is emitted with its unit; in-process runs check that a
corrupted output fails its workload's check.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import flows  # noqa: E402
from workload import Runner  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_spec_names_are_unique_and_well_formed():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert {w["name"] for w in SPEC["workloads"]} == set(flows.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(flows.WORKLOADS))
def test_tiny_smoke_emits_every_metric(workload, trace):
    out = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", str(trace), "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    # the warm-up run, then one untraced run, then (traced) one traced run
    assert res["attempted"] == (3 if trace else 2)
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_refuses_a_directory_without_the_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(tmp_path, "--workload", "synth_bulk", "--seed", "1",
                 "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g",
                      PYTHONPATH=str(ROOT))
    from etl_processes_spark.session import get_spark

    session = get_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _workload(name: str, tmp_path: Path):
    size = flows.WORKLOADS[name].sizes["tiny"]
    inputs = flows.make_inputs(ROOT, tmp_path / "in", size["sf"], 5)
    again = flows.make_inputs(ROOT, tmp_path / "in2", size["sf"], 5)
    assert again["digest"] == inputs["digest"]
    return flows.WORKLOADS[name]("tiny", inputs, tmp_path)


def test_truncated_synthetic_frame_fails_its_check(spark, tmp_path):
    wl = _workload("synth_bulk", tmp_path)
    synthetic, validation = wl.run(spark)
    assert wl.check(spark, (synthetic, validation)) == ([], None)
    fails, _ = wl.check(spark, (synthetic.limit(wl.n - 1), validation))
    assert any("synthetic rows" in f for f in fails)
    broken = dict(validation, text={"error": "empty synthetic column"})
    fails, _ = wl.check(spark, (synthetic, broken))
    assert any("validate text" in f for f in fails)
    wl.release((synthetic, validation))


def test_changed_curated_corpus_fails_its_check(spark, tmp_path):
    wl = _workload("curate_corpus", tmp_path)
    out = wl.run(spark)
    fails, digest = wl.check(spark, out)
    assert fails == []
    assert wl.check(spark, wl.run(spark)) == ([], digest)
    rec = Runner(spark, wl, expected_digest="0:0").run(traced=False)
    assert any("output digest" in f for f in rec["fails"])
    df = spark.read.parquet(out)
    corrupt = str(tmp_path / "corrupt")
    df.unionByName(df.limit(1)).write.parquet(corrupt)
    fails, changed = wl.check(spark, corrupt)
    assert any("duplicate doc ids" in f for f in fails)
    assert changed != digest
