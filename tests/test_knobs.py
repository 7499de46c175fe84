"""README's "Environment knobs" table must match the code, and knob
values are validated (no Spark).

Every ``SPARK_*`` environment variable the package reads has a row, and
every variable a row names is read somewhere in the package,
``bench.py`` or ``tools/`` — so a retired knob cannot linger in the docs
and a new one cannot ship undocumented."""

from __future__ import annotations

import fnmatch
import os
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dropbox_duckdb_playground_spark"

_READ = re.compile(
    r"""(?:os\.environ\.get|os\.getenv|os\.environ\.setdefault)\(\s*["'](SPARK_[A-Z0-9_]+)["']"""
    r"""|os\.environ\[\s*["'](SPARK_[A-Z0-9_]+)["']\s*\]"""
)


def _reads(files) -> set[str]:
    names: set[str] = set()
    for f in files:
        for m in _READ.finditer(f.read_text(encoding="utf-8")):
            names.add(m.group(1) or m.group(2))
    return names


def _table_names() -> list[str]:
    text = (REPO / "README.md").read_text(encoding="utf-8")
    section = text.split("Environment knobs", 1)[1]
    names: list[str] = []
    for line in section.splitlines()[1:]:
        if names and not line.startswith("|"):
            break
        if line.startswith("|"):
            first_cell = line.split("|")[1]
            names += re.findall(r"`(SPARK_[A-Z0-9_]+\*?)`", first_cell)
    return names


def test_package_env_reads_are_documented():
    table = _table_names()
    read = _reads(PACKAGE.rglob("*.py"))
    assert read, "scanner found no SPARK_* reads in the package"
    missing = sorted(
        n for n in read if not any(fnmatch.fnmatchcase(n, t) for t in table)
    )
    assert not missing, f"read in the package but not in README: {missing}"


def test_documented_knobs_are_read():
    files = [*PACKAGE.rglob("*.py"), REPO / "bench.py", *(REPO / "tools").glob("*.py")]
    read = _reads(files)
    stale = [t for t in _table_names() if not fnmatch.filter(read, t)]
    assert not stale, f"README knob rows nothing reads: {stale}"


def test_spark_cpus_defaults_to_host_and_rejects_bad_values(monkeypatch):
    """Checked before any session starts, so a bad value fails fast with
    the variable's name instead of int()'s bare message."""
    from dropbox_duckdb_playground_spark.session import get_spark, spark_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3
    for bad in ("four", "0", "-2", "", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            spark_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-knob")


def test_driver_mem_defaults_to_half_the_host_and_rejects_bad_values(monkeypatch):
    """The default fits the host instead of a fixed 48g, and a malformed
    value fails with the variable's name before the JVM sees it."""
    from dropbox_duckdb_playground_spark.session import driver_mem

    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    assert driver_mem() == f"{min(48 * 1024, half_mb)}m"
    for good in ("2048m", "4g", "4G", "4gb", "1Tb", "512", "900k"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", good)
        assert driver_mem() == good
    for bad in ("lots", "", "2.5g", "-1g", "4 g", "4gib", "g", "4x"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", bad)
        with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
            driver_mem()
