"""Argument check of scripts/scale_stress.py: a flag it does not know
exits 2 with the usage text before any Spark session starts, instead of
falling through to the full stress run.  Spark-free."""

from __future__ import annotations

import importlib.util
import os

import pytest


def _scale_stress():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "scale_stress.py",
    )
    spec = importlib.util.spec_from_file_location("scale_stress", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scale_stress_rejects_unknown_arguments(monkeypatch, capsys):
    mod = _scale_stress()

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark session started")

    monkeypatch.setattr(mod, "get_spark", no_spark)
    for argv in (
        ["--only-bogus"],
        ["--only-pca", "--only-lsh"],
        ["--only-pca", "extra"],
        ["--out"],
    ):
        with pytest.raises(SystemExit) as e:
            mod.main(argv)
        assert e.value.code == 2, argv
        assert "Usage:" in capsys.readouterr().err
    # known flags map to their sections; the value flags take one value
    assert mod._SECTIONS["--only-pca"][0] is mod._pca_section
    assert mod._SECTIONS["--only-sift-merged"][0] is mod._sift_merged_section
    assert mod._DOC_SECTIONS["--only-fn"] is mod._fngrams_section
    assert mod._section_flag(["--only-pca", "--out", "x.json"]) == "--only-pca"
    assert mod._section_flag(["--ppjoin", "--churn-modes", "auto"]) is None
    # a known flag passes the check and reaches the session start
    with pytest.raises(AssertionError, match="Spark session started"):
        mod.main(["--only-distq"])
