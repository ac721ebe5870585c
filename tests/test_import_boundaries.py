"""Code-layout guards for the two table formats.

``sources/tables.py`` (manifest tables) and ``sources/delta_lite.py`` /
``sources/delta_source.py`` (Delta tables) share their data-skipping code
through ``sources/skipping.py`` only. Neither side may import the other,
at module level or inside a function, so private helpers cannot couple
them again. ``ParquetTable`` is the medallion's store: inside the package,
only ``plans/medallion.py``, ``sources/catalog.py`` and
``sources/__init__.py`` import ``sources.tables``; every other table is a
Delta table.

Within the Delta side, every commit goes through one log writer and every
row address is spelled once: the ``engineInfo`` stamp, the
``_metadata.row_index`` read and the file key (``_metadata.file_name`` or
``_metadata.file_path``) each appear once, so none can be copied into a
second hand-built commit, scan or deletion-vector filter. Every data commit's
actions are built by one function (row ids stamped and CDC files written
from one caller each), and the format sinks import none of the
action-building helpers.

On the manifest side, the snapshot relation is built only in
``tables.py`` (``catalog.py`` opens no parquet data), every parquet read
there declares its schema (no ``read.parquet`` call infers one), neither
file spells a ``parquet.`…``` relation, and ``ParquetTable`` auto-vacuums
only from its commit."""

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


PARQUET_TABLE_USERS = {"plans/medallion.py", "sources/catalog.py", "sources/__init__.py"}


def _imports_tables(path: Path, top: Path = SOURCES.parent.parent) -> bool:
    """Does a package file import ``sources.tables``, however spelled?
    Relative imports resolve against the file's own package, named by its
    directories below ``top``."""
    pkg = ".".join(path.relative_to(top).parent.parts)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            mods = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        if any(m == f"{PKG}.sources.tables" or m.startswith(f"{PKG}.sources.tables.")
               for m in mods):
            return True
    return False


def test_only_the_medallion_and_catalog_use_parquet_tables():
    root = SOURCES.parent
    users = {
        str(p.relative_to(root)) for p in root.rglob("*.py")
        if p.name != "tables.py" and _imports_tables(p)
    }
    assert users == PARQUET_TABLE_USERS, sorted(users ^ PARQUET_TABLE_USERS)


def test_parquet_table_import_check_sees_every_spelling(tmp_path):
    pkg = tmp_path / PKG / "plans"
    pkg.mkdir(parents=True)
    probes = {
        "a.py": f"def f():\n    from {PKG}.sources.tables import ParquetTable\n",
        "b.py": f"import {PKG}.sources.tables as t\n",
        "c.py": "from ..sources import tables\n",
        "d.py": "from ..sources.tables import DIR_DB\n",
        "e.py": f"from {PKG}.sources import skipping\nfrom ..sources.delta_lite import delta_read\n",
    }
    for name, text in probes.items():
        (pkg / name).write_text(text)
    hits = [n for n in sorted(probes) if _imports_tables(pkg / n, tmp_path)]
    assert hits == ["a.py", "b.py", "c.py", "d.py"]


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
     ("_metadata.row_index", "the row address _ROW_INDEX"),
     # the file key: _metadata.file_name or _metadata.file_path
     ("_metadata.file_", "the row address _ROW_FILE")],
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


# The snapshot relation (data dirs unioned and conformed to the manifest
# schema) is defined once, by ``ParquetTable._scan``: the catalog binds its
# views to ``ParquetTable.view_sql()`` and opens no data dir itself. Every
# parquet read in ``tables.py`` declares its schema
# (``read.schema(s).parquet(d)``), so none runs a schema-inference job, and
# no view body spells ``parquet.`<dir>```, which infers at every resolution.


def _parquet_reads(path: Path) -> int:
    """``<x>.read.parquet(...)`` calls in a file: reads that infer the
    schema (a ``read.schema(s).parquet(...)`` chain declares it)."""
    return sum(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "read"
        for node in ast.walk(ast.parse(path.read_text()))
    )


def test_catalog_defines_no_snapshot_relation():
    cat = SOURCES / "catalog.py"
    assert _parquet_reads(cat) == 0, "catalog.py reads parquet itself"
    assert _hits([cat], "parquet.`") == 0, "catalog.py spells a parquet.` relation"


def test_snapshot_reads_declare_their_schema():
    tables = SOURCES / "tables.py"
    assert _parquet_reads(tables) == 0, "tables.py infers a parquet schema"
    assert _hits([tables], "parquet.`") == 0, "tables.py spells a parquet.` relation"


def test_snapshot_relation_check_sees_reads_and_sql(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        'def f(spark, d):\n'
        '    """Not counted: parquet.`docstring`."""\n'
        '    spark.read.parquet(d).schema\n'
        '    spark.read.schema(s).parquet(d)\n'
        '    return spark.sql(f"SELECT * FROM parquet.`{d}`"), spark.read.json(d)\n'
    )
    assert _parquet_reads(src) == 1
    assert _hits([src], "parquet.`") == 1


# ``ParquetTable`` auto-vacuums in one place, after a won commit claim:
# ``_vacuum`` has exactly one caller, ``_commit``.


def _callers(path: Path, name: str) -> list[str]:
    """Name of the enclosing function of each ``name(...)`` call (plain or
    as a method) in a file."""
    out = []
    for fn in ast.walk(ast.parse(path.read_text())):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        nested = {
            id(n)
            for inner in ast.walk(fn)
            if inner is not fn and isinstance(inner, (ast.FunctionDef, ast.AsyncFunctionDef))
            for n in ast.walk(inner)
        }
        out += [
            fn.name
            for node in ast.walk(fn)
            if id(node) not in nested
            and isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == name
        ]
    return out


def _vacuum_callers(path: Path) -> list[str]:
    return _callers(path, "_vacuum")


def test_auto_vacuum_runs_only_from_commit():
    assert _vacuum_callers(SOURCES / "tables.py") == ["_commit"]


def test_vacuum_caller_check_sees_every_call(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        "class T:\n"
        "    def vacuum(self, keep=None):\n"
        "        self._vacuum(keep)\n"
        "    def _commit(self):\n"
        "        self._vacuum(2)\n"
        "    def overwrite(self):\n"
        "        def retry():\n"
        "            _vacuum(1)\n"
        "        self._commit()\n"
        "        self._vacuum(2)\n"
    )
    assert sorted(_vacuum_callers(src)) == ["_commit", "overwrite", "retry", "vacuum"]


# Every Delta data commit (``delta_write``, the format sinks, rewrites, the
# deletion-vector DELETE/UPDATE/MERGE and OPTIMIZE) builds its log actions
# in ``delta_lite._commit_data`` and writes its rows through
# ``delta_lite._write_rows``: row ids are stamped, and CDC files written,
# from one function each. The format sinks in ``delta_source.py`` build no
# log action, so they import none of the helpers that do.

SINK_FORBIDDEN = {
    "_commit", "_metadata_action", "_remove_action", "_stamp_row_ids",
    "_append_schema_delta", "CHECKPOINT_INTERVAL",
}


@pytest.mark.parametrize(
    "helper, owner",
    [("_stamp_row_ids", "_commit_data"), ("_write_cdc_files", "_write_rows")],
)
def test_delta_data_commits_have_one_builder(helper, owner):
    callers = [c for f in DELTA_FILES for c in _callers(SOURCES / f, helper)]
    assert callers == [owner], f"{helper} is called from {callers}"


def _names_from(path: Path, module: str) -> set[str]:
    """Names a file imports from ``module`` or reads as its attributes."""
    tree = ast.parse(path.read_text())
    out = {
        a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(module)
        for a in node.names
    }
    return out | {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id in {module, "dl"}
    }


def test_format_sinks_build_no_log_action():
    bad = _names_from(SOURCES / "delta_source.py", "delta_lite") & SINK_FORBIDDEN
    assert not bad, f"delta_source.py uses delta_lite.{sorted(bad)}"


def test_sink_import_check_sees_imports_and_attributes(tmp_path):
    src = tmp_path / "probe.py"
    src.write_text(
        f"from {PKG}.sources.delta_lite import _commit, delta_read\n"
        f"from {PKG}.sources import delta_lite as dl\n"
        "def f():\n"
        "    return dl._stamp_row_ids(), delta_lite.CHECKPOINT_INTERVAL\n"
    )
    assert _names_from(src, "delta_lite") & SINK_FORBIDDEN == {
        "_commit", "_stamp_row_ids", "CHECKPOINT_INTERVAL",
    }
