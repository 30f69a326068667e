"""tools/profile_slugs.py smoke: one slug through the profiler in a fresh
process, and its JSON row carries the four layer fields."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parents[1]
SF_DIR = entrymod.SMOKE_SF_DIR
SLUG = "window_calc_speed"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} absent")
def test_profile_slugs_reports_layers(tmp_path):
    out = tmp_path / "profile.json"
    res = subprocess.run(
        [sys.executable, "tools/profile_slugs.py", "--sf-dir", SF_DIR,
         "--runs", "1", "--out", str(out), SLUG],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    row = json.loads(out.read_text())[SLUG]
    assert set(row) == {"build_s", "plan_s", "exec_s", "round_trips"}, row
    assert row["build_s"] > 0 and row["exec_s"] > 0
    assert row["plan_s"] >= 0
    assert isinstance(row["round_trips"], int) and row["round_trips"] > 0
