"""scripts/check_correctness.py summary discipline (r6 verdict item 3):
a name-filtered run must report pass/fail over the FILTERED set — the
pre-fix tool printed "228/228 passed" after running 10 queries."""

import importlib.util
import os

import pytest


def _load_check_mod():
    path = os.path.join(os.path.dirname(__file__), "..", "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_select_queries_filters_the_denominator():
    mod = _load_check_mod()
    registry = {"q1": 1, "q2": 2, "q3": 3}
    picked = mod.select_queries(registry, ["q3", "q1"])
    # the returned dict IS the summary denominator: exactly the filtered
    # names, registry order preserved
    assert picked == {"q1": 1, "q3": 3}
    assert list(picked) == ["q1", "q3"]
    # no filter = full registry, same object semantics
    assert mod.select_queries(registry, []) == registry


def test_select_queries_rejects_unknown_names():
    mod = _load_check_mod()
    with pytest.raises(KeyError, match="q_typo"):
        mod.select_queries({"q1": 1}, ["q1", "q_typo"])


def test_loading_puts_its_checkout_first_on_pythonpath(monkeypatch):
    """Spark's Python workers find the engine only through PYTHONPATH, so
    a run from any cwd must export the script's own checkout before the
    session starts (Python-UDF entries failed with ModuleNotFoundError
    otherwise)."""
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    _load_check_mod()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [root, "/elsewhere"]
