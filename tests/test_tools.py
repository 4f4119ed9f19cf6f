"""The scripts under tools/: run_suite's argv split and heap_ab's
gate-name check. No Spark session is started."""

import importlib.util
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(
        f"tools_{name}", os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("args,want", [
    ([], False),
    (["--continue-on-collection-errors", "-p", "no:cacheprovider"], False),
    (["-k", "minhash and not sf1"], False),
    (["-x", "-m", "slow", "--tb", "short"], False),
    (["-p", "no:cacheprovider", "tests/"], True),
    (["tests/test_tools.py::test_x"], True),
    (["-k", "expr", "tests/test_minhash_index.py"], True),
    (["--tb=short", "-pno:cacheprovider"], False),
])
def test_run_suite_has_target(args, want):
    assert _load("run_suite").has_target(args) is want


def test_run_suite_keeps_default_target_beside_flag_values():
    rs = _load("run_suite")
    flags = ["--continue-on-collection-errors", "-p", "no:cacheprovider"]
    assert rs.pytest_args(flags, "j.xml") == [
        "tests/", "-q", "--junitxml=j.xml", *flags]
    assert rs.pytest_args(["tests/test_tools.py"], "j.xml") == [
        "-q", "--junitxml=j.xml", "tests/test_tools.py"]


def test_heap_ab_rejects_unknown_gates_before_starting_spark(
        monkeypatch, capsys):
    ab = _load("heap_ab")
    monkeypatch.setattr(ab, "GATES", ["q5_nation_volume", "no_such_gate"])
    assert ab.main() == 2
    err = capsys.readouterr().err
    assert "unknown gate(s): no_such_gate\n" in err
    assert "q5_nation_volume" in err.split("valid gates:")[1]
