"""tools/bench_scaling.py document emission, without Spark."""

import importlib.util
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_scaling():
    path = os.path.join(REPO, "tools", "bench_scaling.py")
    spec = importlib.util.spec_from_file_location("bench_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_emit_names_the_cells_a_partial_pool_lacks(tmp_path, monkeypatch):
    """A pool holding one cell (a fresh runs file after a partial pass) must
    stop with the missing cells named, not a KeyError in the ratios, and
    write no documents."""
    bs = _bench_scaling()
    lo, hi = bs.SCALING_N, bs.SCALING_N * 4
    runs = tmp_path / "BENCH" / "scaling_runs.jsonl"
    runs.parent.mkdir()
    cell = {
        "cores": lo, "hot_key_fraction": 0.0, "all_walls_sec": [10.0], "final_rows": 1,
    }
    record = {"date_utc": "2026-01-01T00:00:00+00:00", **bs._config(), "cells": [cell]}
    runs.write_text(json.dumps(record) + "\n")
    monkeypatch.setattr(bs, "RUNS_PATH", str(runs))
    monkeypatch.setattr(bs, "REPO", str(tmp_path))

    want = f"pool lacks cell {(hi, 0.0)}, {(lo, 0.5)}, {(hi, 0.5)}; run the missing cells"
    with pytest.raises(SystemExit, match=re.escape(want)):
        bs._emit([(lo, 0.0), (hi, 0.0), (lo, 0.5), (hi, 0.5)], lo, hi)
    assert not (tmp_path / "BENCH" / "scaling.json").exists()
