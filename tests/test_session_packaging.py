"""--py-files packaging: the zip get_spark ships to real clusters (and
scripts/spark_submit_probe.py passes to literal spark-submit) must be
self-contained — every package module present, importable with NOTHING
but the zip on sys.path. JVM-free; the end-to-end launcher run is
covered by scripts/spark_submit_probe.py (BENCH/spark_submit.json).
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from graph_rag_agent_spark.session import make_pyfiles_zip

PKG_DIR = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
) + "/graph_rag_agent_spark"


def _expected_modules() -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(PKG_DIR):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, fn), PKG_DIR)
                out.add(os.path.join("graph_rag_agent_spark", rel))
    return out


def test_zip_contains_every_package_module(tmp_path):
    zip_path = make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
    missing = _expected_modules() - names
    assert not missing, f"zip is missing package modules: {sorted(missing)}"
    assert not any("__pycache__" in n for n in names)
    assert all(n.endswith(".py") for n in names)


def test_zip_is_self_contained_import(tmp_path):
    """Import the package from the zip alone in a clean interpreter —
    what every executor does when spark-submit ships --py-files."""
    zip_path = make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    # assert the modules resolved FROM THE ZIP: a pip-installed copy on
    # site-packages could otherwise satisfy the imports even if the zip
    # were broken
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import graph_rag_agent_spark.operators.chunking as m1, "
        "graph_rag_agent_spark.operators.extraction, "
        "graph_rag_agent_spark.operators.canonicalize, "
        "graph_rag_agent_spark.core.records, "
        "graph_rag_agent_spark.plans.inmem as m2; "
        "assert m1.__file__.startswith(%r), m1.__file__; "
        "assert m2.__file__.startswith(%r), m2.__file__; "
        "print('OK')" % (zip_path, zip_path, zip_path)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout


def test_default_driver_memory_is_half_of_host_ram_capped_at_32g():
    """The driver heap default follows the host: half of MemTotal,
    never above 32g, 32g when MemTotal can't be read."""
    from graph_rag_agent_spark.session import _default_driver_memory

    meminfo = "MemTotal:       16479424 kB\nMemFree:         1000 kB\n"
    assert _default_driver_memory(meminfo) == "8046m"
    assert _default_driver_memory("MemTotal: 268435456 kB\n") == "32768m"
    assert _default_driver_memory("") == "32768m"
