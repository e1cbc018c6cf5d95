"""The query registry's module structure.

``ffi_etl_spark/queries_pkg/__init__.py`` is a leaf (QUERIES, ORACLES,
``query``); ``ffi_etl_spark/queries.py`` holds the one list of
registration modules and fixes the registry order; shared oracle SQL
lives in ``queries_pkg/oracle_sql.py``, which registers nothing. No
registration module imports another, so any module can be imported
first and the registry still comes out in the same order with the same
oracles. No Spark session needed.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO, "ffi_etl_spark", "queries_pkg")
PKG = "ffi_etl_spark.queries_pkg"
HELPERS = "oracle_sql"


def _modules() -> list[str]:
    """The MODULES tuple of queries.py, parsed (not imported)."""
    tree = ast.parse(open(os.path.join(REPO, "ffi_etl_spark", "queries.py")).read())
    for node in tree.body:
        if isinstance(node, ast.AnnAssign) and getattr(node.target, "id", "") == "MODULES":
            return list(ast.literal_eval(node.value))
    raise AssertionError("queries.py: no MODULES tuple")


MODULES = _modules()


def _source(name: str) -> str:
    return open(os.path.join(PKG_DIR, f"{name}.py")).read()


def _registers(name: str) -> bool:
    """Whether the module decorates anything with ``@query(...)``."""
    for node in ast.walk(ast.parse(_source(name))):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for d in node.decorator_list:
                f = d.func if isinstance(d, ast.Call) else d
                if isinstance(f, ast.Name) and f.id == "query":
                    return True
    return False


def _package_imports(source: str) -> list[str]:
    """Every ffi_etl_spark.queries* module the source imports from, at
    any depth (function-local imports count too)."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module == PKG:
                found += [
                    f"{PKG}.{a.name}" for a in node.names
                    if os.path.exists(os.path.join(PKG_DIR, f"{a.name}.py"))
                ] or [PKG]
            elif node.module.startswith("ffi_etl_spark.queries"):
                found.append(node.module)
        elif isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name.startswith("ffi_etl_spark.queries")]
    return found


def test_module_list_is_complete():
    """Every module that registers a query is listed in queries.py (an
    unlisted one would drop its queries from the graded registry), every
    listed module exists and registers, and oracle_sql registers none."""
    files = sorted(
        f[:-3] for f in os.listdir(PKG_DIR) if f.endswith(".py") and f != "__init__.py"
    )
    registering = sorted(f for f in files if _registers(f))
    assert sorted(MODULES) == registering, (
        "registration modules and the queries.py MODULES list diverged: "
        f"unlisted={sorted(set(registering) - set(MODULES))}, "
        f"listed-but-not-registering={sorted(set(MODULES) - set(registering))}"
    )
    assert len(MODULES) == len(set(MODULES))
    assert not _registers(HELPERS)
    assert sorted(set(files) - set(MODULES)) == [HELPERS]


def test_registration_modules_import_no_sibling():
    """A registration module imports only the leaf (``query``) and
    oracle_sql from the registry; oracle_sql and the leaf import none of
    it — so no import order can find a module half-initialized."""
    allowed = {PKG, f"{PKG}.{HELPERS}"}
    for m in MODULES:
        bad = sorted(set(_package_imports(_source(m))) - allowed)
        assert not bad, f"{m} imports from {bad}; move shared SQL to {HELPERS}.py"
    assert _package_imports(_source(HELPERS)) == []
    assert _package_imports(open(os.path.join(PKG_DIR, "__init__.py")).read()) == []


def _registry_after(first: str | None) -> dict:
    """The registry's names and oracles in a fresh interpreter that
    imports ``first`` (a queries_pkg module) before ffi_etl_spark.queries."""
    pre = f"import {PKG}.{first}; " if first else ""
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            pre + "import json, ffi_etl_spark.queries as q; "
            "print(json.dumps({'names': list(q.QUERIES), 'oracles': q.ORACLES}))",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, f"import of {first} failed:\n{proc.stderr[-2000:]}"
    return json.loads(proc.stdout.splitlines()[-1])


def test_every_queries_pkg_module_imports_directly():
    """Importing any queries_pkg module first gives the canonical
    registry: the same names in the same order, the same oracles."""
    canonical = _registry_after(None)
    assert len(canonical["names"]) >= 264
    for m in MODULES + [HELPERS]:
        got = _registry_after(m)
        assert got["names"] == canonical["names"], (
            f"registry order differs after importing {m} first"
        )
        assert list(got["oracles"].items()) == list(canonical["oracles"].items()), (
            f"oracles differ after importing {m} first"
        )
