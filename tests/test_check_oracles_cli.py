"""tools/check_oracles.py checks the checkout it sits in, not another one."""

import shutil
import subprocess
import sys
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1]


def test_reports_the_contract_of_its_own_checkout(tmp_path):
    shutil.copy(_ROOT / "__spark_entry__.py", tmp_path)
    shutil.copytree(
        _ROOT / "etl_processes_spark", tmp_path / "etl_processes_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (tmp_path / "tools").mkdir()
    shutil.copy(_ROOT / "tools" / "check_oracles.py", tmp_path / "tools")
    # a query filter that matches nothing: no Spark session, empty summary
    run = subprocess.run(
        [sys.executable, str(tmp_path / "tools" / "check_oracles.py"),
         str(tmp_path), "no_such_query"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr
    assert f"contract: {(tmp_path / '__spark_entry__.py').resolve()}" in run.stdout
    assert "OK=0 ROWS-ONLY=0 BAD=0" in run.stdout
