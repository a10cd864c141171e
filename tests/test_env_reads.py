"""The package's settings come from its callers and from the host, not
from environment knobs: it reads ``SPARK_GRAFT_CPUS`` (the host's task
slots) and ``SPARK_DRIVER_MEMORY`` and nothing else from the
environment.  A new ``os.environ``/``os.getenv`` read fails here, so an
environment knob cannot land unnoticed."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pandas_sigproc_spark"

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _key(node) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal key {ast.unparse(node)}>"


def _env_reads(tree) -> list[tuple[int, str]]:
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        is_environ = (
            isinstance(node, ast.Attribute) and node.attr == "environ"
        ) or (isinstance(node, ast.Name) and node.id == "environ")
        is_getenv = (
            isinstance(node, ast.Attribute) and node.attr == "getenv"
        ) or (isinstance(node, ast.Name) and node.id == "getenv")
        if not (is_environ or is_getenv):
            continue
        up = parent.get(node)
        if is_getenv and isinstance(up, ast.Call) and up.func is node and up.args:
            reads.append((node.lineno, _key(up.args[0])))
        elif isinstance(up, ast.Subscript) and up.value is node:
            reads.append((node.lineno, _key(up.slice)))
        elif isinstance(up, ast.Compare) and node in up.comparators:
            reads.append((node.lineno, _key(up.left)))
        elif (
            isinstance(up, ast.Attribute)
            and isinstance(parent.get(up), ast.Call)
            and parent[up].func is up
            and parent[up].args
        ):
            reads.append((node.lineno, _key(parent[up].args[0])))
        else:
            reads.append((node.lineno, f"<whole environment: {ast.unparse(up or node)}>"))
    return sorted(reads)


def test_package_reads_only_the_allowed_env_vars():
    found = {}
    for f in sorted(PKG.rglob("*.py")):
        for line, key in _env_reads(ast.parse(f.read_text())):
            found.setdefault(key, []).append(f"{f.relative_to(PKG.parent)}:{line}")
    extra = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not extra, f"environment reads beyond {sorted(ALLOWED)}: {extra}"
    assert set(found) == ALLOWED, found


def test_the_scan_sees_every_read_form():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ['A']\n"
        "b = os.environ.get('B', 'x')\n"
        "c = 'C' in os.environ\n"
        "d = os.getenv('D')\n"
        "e = getenv('E')\n"
        "f = environ.get(name)\n"
        "g = dict(os.environ)\n"
    )
    keys = [k for _, k in _env_reads(ast.parse(src))]
    assert keys[:5] == ["A", "B", "C", "D", "E"]
    assert keys[5].startswith("<non-literal key name")
    assert keys[6].startswith("<whole environment: dict(os.environ)")
