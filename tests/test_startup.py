"""Start-up contract: the session sizes itself from the machine, and
importing the driver queries does no work."""

import os
import subprocess
import sys

from myaku_spark import session

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_is_at_most_half_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = session._driver_memory()
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) << 20 <= ram // 2


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"


def test_import_driver_queries_synthesizes_nothing():
    # A fresh interpreter: the module may already be imported here.
    code = (
        "import myaku_spark.sources.pages as pages\n"
        "def boom(*a, **k):\n"
        "    raise AssertionError('synth_page called at import')\n"
        "pages.synth_page = boom\n"
        "import myaku_spark.driver_queries\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO_DIR, check=True)



def test_every_package_definition_is_referenced():
    # No top-level def/class in the package may be named only by its own
    # definition: each name must occur somewhere else in the repo's .py
    # files (a caller, a test, a registry entry, an import).
    import ast
    import re
    from collections import Counter

    sources = {}
    for root, dirs, files in os.walk(REPO_DIR):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    sources[os.path.join(root, f)] = fh.read()
    pkg = os.path.join(REPO_DIR, "myaku_spark") + os.sep
    defs = Counter(
        node.name
        for path, src in sources.items()
        if path.startswith(pkg)
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    )
    assert len(defs) > 100  # the scan found the package
    words = Counter(
        w for src in sources.values() for w in re.findall(r"\w+", src)
    )
    dead = sorted(n for n, k in defs.items() if words[n] <= k)
    assert dead == [], f"{len(dead)} of {len(defs)} definitions unreferenced"
