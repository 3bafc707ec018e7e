"""tools/gen_testdata.py command line: help, usage errors, a tiny run."""

import importlib.util
from pathlib import Path

import pytest

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "gen_testdata.py"


@pytest.fixture(scope="module")
def gen():
    spec = importlib.util.spec_from_file_location("gen_testdata", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_help_prints_docstring(gen, capsys, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert gen.main(["--help"]) == 0
    assert capsys.readouterr().out.strip() == gen.__doc__.strip()
    assert list(tmp_path.iterdir()) == []


@pytest.mark.parametrize(
    "argv",
    [[], ["0.001"], ["--bogus", "0.001", "out"], ["0.001", "out", "1", "extra"],
     ["abc", "out"], ["0.001", "out", "--only=docs"], ["0.001", "out", "--only="]],
)
def test_usage_errors_exit_2_and_write_nothing(gen, argv, capsys, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert gen.main(argv) == 2
    err = capsys.readouterr().err
    assert "Usage: python tools/gen_testdata.py SF OUTDIR" in err
    assert list(tmp_path.iterdir()) == []


def test_only_section_run(gen, tmp_path):
    out = tmp_path / "sf"
    assert gen.main(["0.0001", str(out), "3", "--only=documents"]) == 0
    assert sorted(p.name for p in out.iterdir()) == ["documents.parquet"]
