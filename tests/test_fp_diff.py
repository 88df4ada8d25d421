"""tools/fp_diff.py on single-SF and multi-SF check_all records (no Spark)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

FP_DIFF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "fp_diff.py"
)


def _run(tmp_path, a: dict, b: dict) -> subprocess.CompletedProcess:
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    return subprocess.run(
        [sys.executable, FP_DIFF, str(pa), str(pb)],
        capture_output=True,
        text=True,
        timeout=60,
    )


def _entry(fp: str) -> dict:
    return {"plan_fp": fp, "spark_rows": 3, "hash_match": True, "sec": 0.1}


def test_multi_sf_records_compared_per_sf(tmp_path):
    a = {
        "/d/sf0.001": {"q1": _entry("aaaa"), "q2": _entry("bbbb")},
        "/d/sf0.01": {"q1": _entry("aaaa"), "q2": _entry("bbbb")},
    }
    b = {
        "/d/sf0.001": {"q1": _entry("aaaa"), "q2": _entry("bbbb")},
        "/d/sf0.01": {"q1": _entry("aaaa"), "q2": _entry("cccc")},
    }
    r = _run(tmp_path, a, b)
    assert r.returncode == 1, r.stdout
    assert "CHANGED  /d/sf0.01: q2: bbbb -> cccc" in r.stdout
    assert "/d/sf0.001: q2" not in r.stdout
    assert "1 fingerprint diffs in total" in r.stdout

    same = _run(tmp_path, a, a)
    assert same.returncode == 0, same.stdout
    assert "/d/sf0.01: 0 fingerprint diffs across 2 entries" in same.stdout


def test_multi_sf_missing_sf_is_a_diff(tmp_path):
    a = {"/d/sf0.001": {"q1": _entry("aaaa")}, "/d/sf0.01": {"q1": _entry("aaaa")}}
    b = {"/d/sf0.001": {"q1": _entry("aaaa")}}
    r = _run(tmp_path, a, b)
    assert r.returncode == 1, r.stdout
    assert "removed  SF /d/sf0.01" in r.stdout


def test_single_sf_records(tmp_path):
    a = {"q1": _entry("aaaa"), "streaming_q": {"spark_rows": 2}}
    b = {"q1": _entry("dddd"), "streaming_q": {"spark_rows": 2}}
    r = _run(tmp_path, a, b)
    assert r.returncode == 1, r.stdout
    assert "CHANGED  q1: aaaa -> dddd" in r.stdout
    assert _run(tmp_path, a, a).returncode == 0


def test_mixed_shapes_refused(tmp_path):
    flat = {"q1": _entry("aaaa")}
    nested = {"/d/sf0.001": {"q1": _entry("aaaa")}}
    r = _run(tmp_path, flat, nested)
    assert r.returncode == 2, r.stdout
    assert "refused" in r.stdout
