"""Every script still resolves what it takes from the engine and from
its sibling scripts, so a deletion that strands one fails here instead
of at the script's next run. The scripts are main-guarded: importing
one starts no Spark."""

import ast
import importlib
import importlib.util
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted([*REPO.glob("tools/*.py"), *REPO.glob("jobs/*.py"),
                  REPO / "bench.py"])
# engine imports inside code strings that a script runs in a child
_EMBEDDED = re.compile(r"^\s*from\s+(konlspark[\w.]*)\s+import\s+(.+)$",
                       re.M)
# a script launched by path, e.g. os.path.join(REPO, "tools", "x.py")
_SCRIPT_PATH = re.compile(r"(?:(tools|jobs)/)?\w+\.py")


def _imports(tree):
    """``(module, names)`` for every absolute import in ``tree``,
    including those inside functions and code strings."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, []
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            for m in _EMBEDDED.finditer(node.value):
                yield m.group(1), [n.strip() for n in m.group(2).split(",")]


def _launched(tree):
    """Every string constant that names a script file."""
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and _SCRIPT_PATH.fullmatch(node.value)):
            yield node.value


@pytest.mark.parametrize("path", SCRIPTS,
                         ids=lambda p: str(p.relative_to(REPO)))
def test_script_references_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(str(path.parent))  # as `python <script>`
    spec = importlib.util.spec_from_file_location(
        f"_script_{path.parent.name}_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    siblings = {p.stem for p in path.parent.glob("*.py")}
    tree = ast.parse(path.read_text())
    for module, names in _imports(tree):
        if module.split(".")[0] not in {"konlspark", "tools", "jobs",
                                        *siblings}:
            continue
        target = importlib.import_module(module)
        for name in names:
            assert hasattr(target, name) or (
                hasattr(target, "__path__")
                and importlib.util.find_spec(f"{module}.{name}")), \
                f"{path.name}: {module}.{name}"
    for ref in _launched(tree):
        assert any((d / ref).is_file() for d in
                   (path.parent, REPO, REPO / "tools", REPO / "jobs")), \
            f"{path.name}: {ref}"
