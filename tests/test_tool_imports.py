"""Import guard for the scripts outside the package: bench.py, tools/*.py
and perfbench/*.py import engine functions inside main(), where a renamed
or removed function would only fail when someone next runs the script.
Each `from neural_search_spark… import name` is resolved here instead,
without starting Spark."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [ROOT / "bench.py", *(ROOT / "tools").glob("*.py"), *(ROOT / "perfbench").glob("*.py")]
)


def _engine_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every engine import in `path`; name is None
    for a plain `import neural_search_spark…`."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module and (
            node.module.split(".")[0] == "neural_search_spark"
        ):
            out.extend((node.lineno, node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend(
                (node.lineno, a.name, None)
                for a in node.names
                if a.name.split(".")[0] == "neural_search_spark"
            )
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    # `from pkg import submodule` also works for a not-yet-imported submodule
    return hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}") is not None


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_engine_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing


def test_session_daemon_module_resolves():
    # the JVM starts this module by name on the first Python task, so a
    # rename would otherwise fail only there
    modules = [
        node.args[1].value
        for node in ast.walk(ast.parse((ROOT / "neural_search_spark" / "session.py").read_text()))
        if isinstance(node, ast.Call)
        and len(node.args) == 2
        and all(isinstance(a, ast.Constant) for a in node.args)
        and node.args[0].value == "spark.python.daemon.module"
    ]
    assert len(modules) == 1, modules
    spec = importlib.util.find_spec(modules[0])
    assert spec is not None, modules[0]
    assert 'if __name__ == "__main__":' in Path(spec.origin).read_text(), spec.origin


def test_guard_sees_function_level_imports():
    # the guard must reach imports nested inside main(), not only the
    # module top level
    found = _engine_imports(ROOT / "tools" / "profile_wand.py")
    assert ("neural_search_spark.query.segment_search", "wand_topk") in {
        (module, name) for _, module, name in found
    }
