"""The local oracle gate's comparator must itself be trustworthy:
order-insensitive, type-canonicalizing, and sensitive to real differences.
The profiling tool must reject a missing query with its usage line."""

from __future__ import annotations

import importlib.util
import os

import pytest

spec = importlib.util.spec_from_file_location(
    "verify_local",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "verify_local.py"),
)
vl = importlib.util.module_from_spec(spec)
spec.loader.exec_module(vl)


def test_canon_types():
    assert vl.canon(None) == "NULL"
    assert vl.canon(True) == "1" and vl.canon(False) == "0"
    assert vl.canon(2.0) == "2"          # whole float == int
    assert vl.canon(2) == "2"
    assert vl.canon(2.5) == "2.500000"   # fixed precision
    assert vl.canon("x") == "x"


def test_frame_hash_row_order_insensitive():
    cols = ["a", "b"]
    h1 = vl.frame_hash(cols, [(1, "x"), (2, "y")])
    h2 = vl.frame_hash(cols, [(2, "y"), (1, "x")])
    assert h1 == h2


def test_frame_hash_column_order_insensitive():
    h1 = vl.frame_hash(["a", "b"], [(1, "x"), (2, "y")])
    h2 = vl.frame_hash(["b", "a"], [("x", 1), ("y", 2)])
    assert h1 == h2


def test_frame_hash_detects_value_change():
    cols = ["a", "b"]
    base = vl.frame_hash(cols, [(1, "x"), (2, "y")])
    assert vl.frame_hash(cols, [(1, "x"), (2, "z")]) != base
    assert vl.frame_hash(cols, [(1, "x")]) != base          # missing row
    assert vl.frame_hash(cols, [(1, "x"), (2, "y"), (2, "y")]) != base  # dup


def test_frame_hash_int_float_equivalence():
    # spark long 2 vs duckdb double 2.0 must hash identically
    h1 = vl.frame_hash(["n"], [(2,)])
    h2 = vl.frame_hash(["n"], [(2.0,)])
    assert h1 == h2


def _stage_profile():
    spec = importlib.util.spec_from_file_location(
        "stage_profile",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "stage_profile.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stage_profile_argument_parsing(monkeypatch, capsys, tmp_path):
    sp = _stage_profile()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/sf/default")
    # no query: usage line + exit 2, not an IndexError
    with pytest.raises(SystemExit) as exc:
        sp.parse_args([])
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().err
    # a lone argument is the query even when a directory has its name
    assert sp.parse_args([str(tmp_path)]) == ("/sf/default", str(tmp_path))
    assert sp.parse_args([str(tmp_path), "q1"]) == (str(tmp_path), "q1")
