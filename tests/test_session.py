"""Session factory and environment-read contracts: the core-count
parse, worker imports from any working directory, and the one
environment variable operator code may read."""

import ast
import os
import subprocess
import sys

import pytest

from strom_spark.session import PACKAGE_ROOT, local_cpus

#: the only environment variable operator/function code may read — a
#: deployment setting (driver memory bound of an Arrow query tile)
ALLOWED_ENV = {"STROM_SPARK_ARROW_TILE_MAX_BYTES"}


@pytest.mark.parametrize(
    "value, want", [("abc", os.cpu_count()), ("0", os.cpu_count()), ("8", 8)]
)
def test_local_cpus_parse(monkeypatch, value, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert local_cpus() == want


def _env_reads(tree):
    """(lineno, name-or-None) for every environment access in a module;
    None when the access is not a constant-name lookup."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in ("environ", "getenv"):
                    yield node.lineno, None
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            continue
        up = parents[node]
        if node.attr == "environ" and isinstance(up, ast.Attribute):
            up = parents[up]  # os.environ.get(...)
        args = (
            up.args if isinstance(up, ast.Call)
            else [up.slice] if isinstance(up, ast.Subscript) else []
        )
        first = args[0] if args else None
        name = first.value if isinstance(first, ast.Constant) else None
        yield node.lineno, name


def test_operators_read_no_env_switches():
    """Operator and function modules read no environment variable except
    the allowed deployment setting: a settled A/B decision keeps one code
    path instead of an env switch."""
    bad = []
    for sub in ("operators", "functions"):
        base = os.path.join(PACKAGE_ROOT, "strom_spark", sub)
        for fname in sorted(os.listdir(base)):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(base, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            bad += [
                f"{sub}/{fname}:{line} {name!r}"
                for line, name in _env_reads(tree)
                if name not in ALLOWED_ENV
            ]
    assert not bad, bad


def test_env_guard_flags_switches():
    src = (
        "import os\n"
        "a = os.environ.get('STROM_SPARK_ARROW_TILE_MAX_BYTES')\n"
        "b = os.environ.get('SOME_SWITCH', '1')\n"
        "c = os.environ['OTHER']\n"
        "d = os.getenv('THIRD')\n"
        "e = dict(os.environ)\n"
    )
    names = [n for _, n in _env_reads(ast.parse(src))]
    assert sorted(map(str, names)) == sorted(
        ["STROM_SPARK_ARROW_TILE_MAX_BYTES", "SOME_SWITCH", "OTHER", "THIRD", "None"]
    )


_UDF_FLOW = """
import sys
sys.path.insert(0, {root!r})
from strom_spark import CosineTopK, Flow, get_spark

spark = get_spark("cwd_probe")
df = spark.createDataFrame(
    [(i, [float(i), 1.0, -0.5]) for i in range(6)],
    "vec_id bigint, embedding array<double>",
)
out = CosineTopK("c", "q", "o", k=2)(Flow({{"c": df, "q": df.limit(2)}}))["o"]
plan = out._jdf.queryExecution().executedPlan().toString()
assert "MapInArrow" in plan, plan
print("ROWS", out.count())
spark.stop()
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A flow whose Python UDF references strom_spark runs from a working
    directory that does not contain the package: get_spark ships the
    package root to the workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", STROM_SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _UDF_FLOW.format(root=PACKAGE_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS 4" in proc.stdout
    assert "ModuleNotFoundError" not in proc.stderr
