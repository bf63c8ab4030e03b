"""Import-smoke guard: every engine module imports."""

from __future__ import annotations

import importlib
import pkgutil

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
