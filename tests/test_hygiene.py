"""Source hygiene without a linter: every import in the crawlspark
package is used — a module-level one somewhere in its module, one inside
a function somewhere in that function."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "crawlspark"


def _imports(nodes) -> dict[str, int]:
    """Bound name → line of each import statement among ``nodes``."""
    imported: dict[str, int] = {}
    for node in nodes:
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                imported[a.asname or a.name] = node.lineno
    return imported


def _names(tree: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}


def _report(path: Path, imported: dict[str, int], used: set[str]) -> list[str]:
    return [f"{path.relative_to(PKG.parent)}:{line} {name}"
            for name, line in sorted(imported.items(), key=lambda kv: kv[1])
            if name not in used]


def _unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    used = _names(tree)
    for node in ast.walk(tree):  # names re-exported through __all__
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)}
    return _report(path, _imports(tree.body), used)


def _unused_function_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    out: list[str] = []
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += _report(path, _imports(ast.walk(fn)), _names(fn))
    return sorted(set(out))


def test_no_unused_module_imports():
    unused = [u for p in sorted(PKG.rglob("*.py")) for u in _unused_imports(p)]
    assert unused == []


def test_no_unused_function_imports():
    unused = [u for p in sorted(PKG.rglob("*.py")) for u in _unused_function_imports(p)]
    assert unused == []
