"""Code-layout guards for the two table formats.

``sources/tables.py`` (manifest tables) and ``sources/delta_lite.py`` /
``sources/delta_source.py`` (Delta tables) share their data-skipping code
through ``sources/skipping.py`` only. Neither side may import the other,
at module level or inside a function, so private helpers cannot couple
them again.

Within the Delta side, every commit goes through one log writer and every
row-addressed read through one scan builder: the ``engineInfo`` stamp and
the ``_metadata.row_index`` read each appear once, so neither can be
copied into a second hand-built commit or scan."""

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


DELTA_FILES = ("delta_lite.py", "delta_source.py")


def _code_strings(path: Path) -> list[str]:
    """Every string constant of a file except its docstrings."""
    tree = ast.parse(path.read_text())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
    ]


def _hits(paths, needle: str) -> int:
    return sum(needle in s for p in paths for s in _code_strings(p))


@pytest.mark.parametrize(
    "needle, owner",
    [("engineInfo", "the commit writer _commit"),
     ("_metadata.row_index", "the scan builder _scan")],
)
def test_delta_commits_and_row_addressed_scans_have_one_owner(needle, owner):
    n = _hits([SOURCES / f for f in DELTA_FILES], needle)
    assert n == 1, f"{needle!r} appears {n} times; only {owner} may spell it"


def test_single_owner_check_sees_copies_and_skips_docstrings(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        'def f():\n'
        '    """Reads _metadata.row_index; stamps engineInfo."""\n'
        '    ci = {"engineInfo": "delta-lite"}\n'
        '    return F.col("_metadata.row_index"), F.expr("_metadata.row_index + 1")\n'
    )
    assert _hits([src], "engineInfo") == 1
    assert _hits([src], "_metadata.row_index") == 2
