"""Guard on the package's environment-variable surface: only the
deployment settings of ``session.get_spark`` are read from the
environment.  Thresholds are module constants (tests monkeypatch them),
so a new ``os.environ`` / ``os.getenv`` read in the package fails here."""

from __future__ import annotations

import ast
import pathlib

import aliyun_maxcompute_data_collectors_spark as pkg

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
           "SPARK_GRAFT_DRIVER_MEM"}


def _env_reads(tree: ast.AST) -> list:
    """Names read via os.environ.get / os.environ[...] / os.getenv; a
    non-literal name is reported as None."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            is_get = (isinstance(f, ast.Attribute) and f.attr == "get"
                      and isinstance(f.value, ast.Attribute)
                      and f.value.attr == "environ")
            is_getenv = isinstance(f, ast.Attribute) and f.attr == "getenv"
            if is_get or is_getenv:
                arg = node.args[0] if node.args else None
                out.append(arg.value if isinstance(arg, ast.Constant) else None)
        elif (isinstance(node, ast.Subscript)
              and isinstance(node.value, ast.Attribute)
              and node.value.attr == "environ"):
            key = node.slice
            out.append(key.value if isinstance(key, ast.Constant) else None)
    return out


def test_env_reads_are_the_deployment_settings():
    root = pathlib.Path(pkg.__file__).parent
    reads = {}
    for path in sorted(root.rglob("*.py")):
        for name in _env_reads(ast.parse(path.read_text())):
            reads.setdefault(name, []).append(str(path.relative_to(root)))
    assert set(reads) == ALLOWED, reads
    assert sum(len(v) for v in reads.values()) == 3, reads
    assert set(sum(reads.values(), [])) == {"session.py"}, reads
