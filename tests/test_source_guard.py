"""Source guards over the package, checked without starting Spark."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "flink_realtime_datawarehouse_v3_spark"


def _offenders(*needles: str) -> list[str]:
    return sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if any(n in p.read_text() for n in needles)
    )


def test_no_memory_sink():
    """Streaming output goes to parquet, never into the driver heap."""
    assert _offenders('format("memory")') == []


def test_one_scratch_directory_owner():
    """session.scratch_dir is the only place that picks a scratch
    directory: no other module makes or names one under the temp dir."""
    assert _offenders("TempStreamDir", "_tmp_sink_path") == []
    assert _offenders("mkdtemp", "gettempdir") == ["session.py"]
