"""Every ``limeqo_spark`` name the scripts, the bench entry points and the
benchmark harness import must exist: deleting or renaming library code
must not leave a caller pointing at nothing. Static (AST) and Spark-free:
modules are imported, nothing is run."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
CALLERS = sorted(
    [*ROOT.glob("scripts/*.py"), *ROOT.glob("perfbench/*.py"), ROOT / "bench.py",
     ROOT / "__spark_entry__.py"]
)


def _library_references(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each limeqo_spark import in ``path``, plus
    (line, module, attr) for each attribute read off an imported module."""
    tree = ast.parse(path.read_text(), filename=str(path))
    refs: list[tuple[int, str, str | None]] = []
    modules: dict[str, str] = {}  # local name -> limeqo_spark module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("limeqo_spark"):
            for alias in node.names:
                if alias.name == "*":
                    continue
                refs.append((node.lineno, node.module, alias.name))
                sub = f"{node.module}.{alias.name}"
                if _is_module(sub):
                    modules[alias.asname or alias.name] = sub
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("limeqo_spark"):
                    refs.append((node.lineno, alias.name, None))
                    if alias.asname:
                        modules[alias.asname] = alias.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            refs.append((node.lineno, modules[node.value.id], node.attr))
    return refs


def _is_module(dotted: str) -> bool:
    try:
        return importlib.util.find_spec(dotted) is not None
    except ModuleNotFoundError:
        return False


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_caller_imports_resolve(path):
    missing = []
    for line, module, name in _library_references(path):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name) and not _is_module(f"{module}.{name}"):
            missing.append(f"{path.name}:{line}: {module}.{name}")
    assert not missing, "names that no longer exist: " + ", ".join(missing)


def test_callers_reference_the_library():
    """The walk sees the imports at all (guards against a vacuous pass)."""
    refs = [r for p in CALLERS for r in _library_references(p)]
    assert len({(m, n) for _, m, n in refs}) >= 20
