"""Start-up contract: the session sizes itself from the machine, a local
session lists partition dirs on the driver, and importing the driver
queries does no work."""

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


def test_every_gate_has_exactly_one_oracle():
    from myaku_spark.driver_queries import ORACLE, ORACLE_BUILDERS, QUERIES

    assert not set(ORACLE) & set(ORACLE_BUILDERS)
    assert set(QUERIES) == set(ORACLE) | set(ORACLE_BUILDERS)


def test_every_package_definition_is_referenced():
    # No top-level def/class/assigned name in the package may be named
    # only by its own definition: each name must be referenced by code
    # somewhere in the repo's .py files (a caller, a test, an import, a
    # registry string), outside its own statement. Comments and
    # docstrings do not count.
    import ast
    from collections import Counter

    def names(node):
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            return [node.name]
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            return []
        return [
            n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        ]

    def refs(tree):
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                yield node.id
            elif isinstance(node, ast.Attribute):
                yield node.attr
            elif isinstance(node, ast.alias):
                yield from node.name.split(".")
                if node.asname:
                    yield node.asname
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
            ):
                yield node.value

    def unused_imports(path, tree):
        # Every name a package module imports (at any depth) must be
        # read as code in that module: a Name, which is also the root
        # of every Attribute chain. Strings and comments do not count,
        # so a "re-export" needs a real reader.
        bound = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                bound |= {a.asname or a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound |= {a.asname or a.name for a in node.names}
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        return [f"{os.path.relpath(path, REPO_DIR)}: {n}" for n in sorted(bound - read)]

    pkg = os.path.join(REPO_DIR, "myaku_spark") + os.sep
    used = Counter()
    defs = []
    unread = []
    for root, dirs, files in os.walk(REPO_DIR):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            used.update(refs(tree))
            if path.startswith(pkg):
                defs += [(n, node) for node in tree.body for n in names(node)]
                unread += unused_imports(path, tree)
    assert len(defs) > 300  # the scan found the package
    own = Counter()
    for name, node in defs:
        own[name] += sum(1 for r in refs(node) if r == name)
    dead = sorted({name for name, _ in defs if used[name] <= own[name]})
    assert dead == [], f"{len(dead)} of {len(defs)} definitions unreferenced"
    assert unread == [], f"imported but never read: {unread}"


def test_local_session_lists_segments_on_the_driver(
    spark, tmp_path, jobs_run_by
):
    # A segments dir holds up to N_BUCKETS ``bucket=`` dirs per group,
    # more than Spark's default parallel partition discovery threshold
    # (32). On a local master, reading it must not submit a listing job
    # (one task per dir).
    import glob

    from pyspark.sql import functions as F

    from myaku_spark.operators.segments import N_BUCKETS
    from myaku_spark.plans import catalog
    from myaku_spark.plans.build_index import build_index
    from myaku_spark.sources.pages import synth_pages_df

    assert spark.sparkContext.master.startswith("local")
    d = str(tmp_path / "idx")
    build_index(
        spark, synth_pages_df(spark, 40, partitions=4), d, n_groups=1,
        head_df_threshold=16, block_doc_range=16,
    )
    seg = catalog.resolve(d)[1]["segments"]
    dirs = sorted(glob.glob(f"{seg}/group=*/bucket=*"))
    assert len(dirs) > 32
    bucket = int(dirs[0].rsplit("=", 1)[1])
    rows = []
    jobs = jobs_run_by(
        lambda: rows.extend(
            spark.read.parquet(seg).filter(F.col("bucket") == bucket)
            .select("term").collect()
        )
    )
    assert rows
    widest = max((n for tasks in jobs.values() for n in tasks), default=0)
    assert widest < len(dirs) <= N_BUCKETS, jobs
