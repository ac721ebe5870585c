"""Import boundary between the two table formats.

``sources/tables.py`` (manifest tables) and ``sources/delta_lite.py`` /
``sources/delta_source.py`` (Delta tables) share their data-skipping code
through ``sources/skipping.py`` only. Neither side may import the other,
at module level or inside a function, so private helpers cannot couple
them again."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = "lakehouse_architecture_for_realestatedata_spark"
SOURCES = Path(__file__).resolve().parent.parent / PKG / "sources"

FORBIDDEN = {
    "delta_lite.py": {"tables"},
    "delta_source.py": {"tables"},
    "tables.py": {"delta_lite", "delta_source"},
}


def _imported_sources_modules(path: Path) -> set[str]:
    """Names of the ``sources`` modules a file imports, however spelled."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative import from inside ``sources``
                base = f"{PKG}.sources.{base}".rstrip(".")
            mods = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for mod in mods:
            prefix = f"{PKG}.sources."
            if mod.startswith(prefix):
                out.add(mod[len(prefix):].split(".")[0])
    return out


@pytest.mark.parametrize("fname", sorted(FORBIDDEN))
def test_table_formats_do_not_import_each_other(fname):
    bad = _imported_sources_modules(SOURCES / fname) & FORBIDDEN[fname]
    assert not bad, f"sources/{fname} imports sources.{sorted(bad)}"


def test_boundary_check_sees_function_local_and_relative_imports(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "def f():\n"
        f"    from {PKG}.sources.tables import ParquetTable\n"
        "from .delta_lite import delta_read\n"
        f"from {PKG}.sources import skipping\n"
    )
    assert _imported_sources_modules(src) == {"tables", "delta_lite", "skipping"}
