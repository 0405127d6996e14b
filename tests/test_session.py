"""Session defaults sized to the host."""

from __future__ import annotations

import os

import pytest

from data_ingestor_gluejob_script_spark import session


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


@pytest.mark.skipif(
    not os.path.exists("/proc/meminfo"), reason="needs /proc/meminfo"
)
def test_driver_memory_default_fits_host():
    mem = session._default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) < _mem_total_mb()


def test_driver_memory_default_falls_back_without_meminfo(
    monkeypatch, tmp_path
):
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "missing"))
    assert session._default_driver_memory() == "24576m"


def test_package_env_settings_are_deployment_only():
    """The package reads only deployment/host env settings; tuning
    values are constants in the code, so a new ``SPARK_GRAFT_*`` name
    is a deliberate, reviewed addition to this set."""
    import re
    from pathlib import Path

    pkg = Path(session.__file__).resolve().parent
    names = {
        name
        for src in pkg.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", src.read_text())
    }
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_WAREHOUSE",
        "SPARK_GRAFT_DRIVER_MEM",
    }
