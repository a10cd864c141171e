"""Every top-level ``def``/``class`` in the package must be used: its name
has to appear somewhere other than its own definition line — in the
package, the driver entry, the production oracles, the tools, the
benchmark harness or the tests.  A definition nothing names is dead code
(a loser of an A/B left behind, a twin nobody calls) and should go."""

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pandas_sigproc_spark"


def _search_files():
    files = [REPO / "__spark_entry__.py", REPO / "oracle_prod.py"]
    for d in ("pandas_sigproc_spark", "tools", "perfbench", "tests"):
        files += sorted((REPO / d).rglob("*.py"))
    return files


def test_every_top_level_definition_is_referenced():
    word = re.compile(r"\w+")
    sources = {f: f.read_text() for f in _search_files()}
    uses = Counter(w for src in sources.values() for w in word.findall(src))
    dead = []
    for f in sorted(PKG.rglob("*.py")):
        lines = sources[f].splitlines()
        for node in ast.parse(sources[f]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            on_def_line = word.findall(lines[node.lineno - 1]).count(node.name)
            if uses[node.name] == on_def_line:
                dead.append(f"{f.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)
