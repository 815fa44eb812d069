"""Source hygiene without a linter: every import in the crawlspark
package is used — a module-level one somewhere in its module, one inside
a function somewhere in that function — every undecorated top-level
function or class and every module-level assignment in it is referenced
somewhere, and every CrawlConfig field is set by some caller."""

import ast
import dataclasses
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "crawlspark"


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
    return [f"{path.relative_to(ROOT)}:{line} {name}"
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


def _referenced(tree: ast.AST) -> set[str]:
    """Names a module reads: bare names (not assignment targets),
    attributes and imported names."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _repo_referenced() -> set[str]:
    sources = [*PKG.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"),
               *(ROOT / "perfbench").rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
               ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    used: set[str] = set()
    for p in sources:
        used |= _referenced(ast.parse(p.read_text(), filename=str(p)))
    return used


def _top_level(kinds) -> list[tuple[Path, ast.stmt]]:
    return [(p, node) for p in sorted(PKG.rglob("*.py"))
            for node in ast.parse(p.read_text(), filename=str(p)).body
            if isinstance(node, kinds)]


def test_no_unreferenced_top_level_defs():
    """Decorated defs register themselves (query packs, UDFs); any other
    top-level function or class nobody names is dead code."""
    used = _repo_referenced()
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {node.name}"
        for p, node in _top_level((ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        if not node.decorator_list and node.name not in used
    ]
    assert dead == []


def _assigned(node: ast.Assign | ast.AnnAssign) -> list[str]:
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_no_unreferenced_module_assignments():
    """A module-level name nothing reads (a constant, or a SQL fragment
    only a deleted query used) is dead code; dunder names are exempt."""
    used = _repo_referenced()
    dead = [
        f"{p.relative_to(ROOT)}:{node.lineno} {name}"
        for p, node in _top_level((ast.Assign, ast.AnnAssign))
        for name in _assigned(node)
        if not name.startswith("__") and name not in used
    ]
    assert dead == []


def test_every_crawl_config_field_is_passed_somewhere():
    """A CrawlConfig field no caller ever sets is a constant in disguise:
    each field must appear as a call keyword outside crawl.py."""
    from crawlspark.crawl import CrawlConfig

    sources = [*(p for p in PKG.rglob("*.py") if p != PKG / "crawl.py"),
               *(ROOT / "scripts").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
               *(ROOT / "tests").rglob("*.py"), ROOT / "bench.py"]
    passed = {kw.arg for p in sources
              for n in ast.walk(ast.parse(p.read_text(), filename=str(p)))
              if isinstance(n, ast.Call) for kw in n.keywords}
    unset = [f.name for f in dataclasses.fields(CrawlConfig) if f.name not in passed]
    assert unset == []
