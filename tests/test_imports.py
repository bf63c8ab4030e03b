"""Import-smoke guard: every engine module imports. Conf guard: only
``session.py`` sets SQL conf."""

from __future__ import annotations

import ast
import importlib
import pkgutil
from pathlib import Path

import etl_airbnb_mex_spark


def test_every_engine_module_imports():
    """Every module under the package imports without a Spark session,
    so a kept module cannot still import a deleted one."""
    failed = []
    for info in pkgutil.walk_packages(
        etl_airbnb_mex_spark.__path__,
        etl_airbnb_mex_spark.__name__ + ".",
        onerror=failed.append,
    ):
        try:
            importlib.import_module(info.name)
        except Exception as e:  # noqa: BLE001 — collecting failures
            failed.append(f"{info.name}: {type(e).__name__}: {e}")
    assert not failed, "modules that fail to import:\n" + "\n".join(failed)


def test_only_session_sets_sql_conf():
    """No engine module outside ``session.py`` calls ``<x>.conf.set``
    or ``<x>.conf.unset``. A query that sets session conf changes the
    plans of every query run after it in the same session; the parity
    conf lives in ``session.PARITY_CONF``."""
    root = Path(etl_airbnb_mex_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found, "conf set outside session.py:\n" + "\n".join(found)
