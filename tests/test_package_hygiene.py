"""Static hygiene of the package and its tools (no Spark session).

- No top-level name is bound twice in a package module: when two
  modules are merged, a second binding of a private constant or helper
  silently wins over the first, changing the queries that read it.
- Every ``market_pulse_data_pipeline_spark`` import in ``tools/*.py``
  and ``bench.py`` resolves, including the ones inside functions that
  only run from the command line.
"""

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "market_pulse_data_pipeline_spark"
MODULES = sorted((ROOT / PKG).rglob("*.py"))
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _top_level_bindings(tree: ast.Module) -> list[tuple[str, int]]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (n.id, node.lineno)
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out += [
                ((a.asname or a.name).split(".")[0], node.lineno)
                for a in node.names
            ]
    return out


@pytest.mark.parametrize(
    "path", MODULES, ids=lambda p: str(p.relative_to(ROOT))
)
def test_no_top_level_name_bound_twice(path):
    seen: dict[str, int] = {}
    dups = []
    for name, line in _top_level_bindings(ast.parse(path.read_text())):
        if name in seen:
            dups.append(f"{name} (lines {seen[name]} and {line})")
        seen.setdefault(name, line)
    assert dups == []


def _package_imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.startswith(PKG)]
    return out


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_script_package_imports_resolve(path):
    unresolved = []
    for module, name in _package_imports(path):
        try:
            mod = importlib.import_module(module)
            if name is not None and not hasattr(mod, name):
                importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            unresolved.append(f"{module}: {name}")
    assert unresolved == []
