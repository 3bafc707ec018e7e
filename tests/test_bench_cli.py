"""bench.py records what ran where in its summary JSON."""

import json
import os
import subprocess
import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]
_SESSION_KEYS = {
    "master", "default_parallelism", "shuffle_partitions", "driver_memory",
    "spark_version", "git_sha",
}


def test_summary_records_session_facts(sf_dir, tmp_path):
    out = tmp_path / "bench.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_ONLY": "text_profile_stats",
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_REPEATS": "1",
        "SPARK_GRAFT_BENCH_OUT": str(out),
    }
    run = subprocess.run(
        [sys.executable, str(_ROOT / "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    full, compact = run.stdout.strip().splitlines()[-2:]
    rec = json.loads(out.read_text())
    assert json.loads(full) == rec
    assert len(compact) <= 1990
    assert isinstance(rec["queries"]["text_profile_stats"], float)
    session = rec["session"]
    assert set(session) == _SESSION_KEYS
    assert session["master"].startswith("local[")
    assert session["default_parallelism"] >= 1
    assert int(session["shuffle_partitions"]) >= 1
    assert session["driver_memory"] and session["spark_version"]
    if (_ROOT / ".git").exists():
        head = subprocess.run(
            ["git", "-C", str(_ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip()
        assert session["git_sha"] == head
