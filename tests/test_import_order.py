"""Every engine module can be the first import of a process — Spark-free.

Operator modules import ``gmall_flink_parent_spark.registry``, never the
``plans`` package: ``plans/__init__.py`` imports every operator module,
so an operator module that reached it while being imported first would
re-enter itself half-initialized and raise ``ImportError``. Only the
plans-first import order is part of the registry-order contract; this
test pins import-ability alone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One interpreter: before each import, forget every engine module (the top
# package included) so the module under test is the first one loaded.
_PROBE = r"""
import importlib, json, pkgutil, sys, traceback
import gmall_flink_parent_spark as pkg

names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
failed = {}
for name in names:
    for loaded in [m for m in sys.modules if m.split(".")[0] == pkg.__name__]:
        del sys.modules[loaded]
    try:
        importlib.import_module(name)
    except Exception:
        failed[name] = traceback.format_exc(limit=-1).strip().splitlines()[-1]
print(json.dumps({"n": len(names), "failed": failed}))
"""


def test_every_engine_module_imports_first():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["n"] >= 40, got
    assert not got["failed"], f"modules that cannot be imported first: {got['failed']}"
