"""Every in-repo import of a project name resolves (no Spark session).

Most imports of catalog helpers sit inside test bodies or tool ``main()``s,
and some tools (``dump_plans.py``, ``scaling_curve.py``) are never run by
the suite, so a name that moves or disappears would otherwise surface only
at run time. This walks every ``from fastembed_rs_spark… import N`` and
``from bench import N`` (function-local ones included) and checks that the
module exists and defines ``N`` or has a submodule ``N``.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "tools").glob("*.py"))
    files += sorted((REPO / "tests").glob("*.py"))
    files += sorted((REPO / "fastembed_rs_spark").rglob("*.py"))
    return files


def _project_imports() -> list[tuple[str, int, str, str | None]]:
    """(file, line, module, name) per imported project name; name is None
    for a plain ``import fastembed_rs_spark.x``."""
    out = []
    for path in _sources():
        rel = str(path.relative_to(REPO))
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = node.module or ""
                if mod == "bench" or mod.split(".")[0] == "fastembed_rs_spark":
                    for alias in node.names:
                        if alias.name != "*":
                            out.append((rel, node.lineno, mod, alias.name))
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "fastembed_rs_spark":
                        out.append((rel, node.lineno, alias.name, None))
    return out


def _resolves(mod: str, name: str | None) -> bool:
    try:
        m = importlib.import_module(mod)
        if name is None or hasattr(m, name):
            return True
        importlib.import_module(f"{mod}.{name}")
        return True
    except ImportError:
        return False


def test_project_imports_resolve():
    imports = _project_imports()
    # the walk must see function-local imports (bench's tool helpers are
    # imported inside tools/scale_proof.py's functions)
    assert any(mod == "bench" for _, _, mod, _ in imports)
    bad = [
        f"{f}:{line}: from {mod} import {name}" if name else f"{f}:{line}: import {mod}"
        for f, line, mod, name in imports
        if not _resolves(mod, name)
    ]
    assert not bad, "unresolved imports:\n" + "\n".join(bad)
