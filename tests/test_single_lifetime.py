"""One lifetime for shared frames: inside the package, only the crawl
engine's engine-lifetime fixtures (built in `CrawlEngine.__init__`) are
persisted, and every other shared frame is the one lineage cut,
`session.cut_lazy` — the only place `localCheckpoint(eager=False)` may be
called. An operator that persisted a frame would leave it cached until some
caller cleared the whole session's cache."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "crawlspark"
PERSIST_ALLOWED = {("engine.py", "CrawlEngine.__init__")}
CUT_ALLOWED = {("session.py", "cut_lazy")}


def _is_lazy_checkpoint(call: ast.Call) -> bool:
    eager = [kw.value for kw in call.keywords if kw.arg == "eager"] + call.args[:1]
    return any(isinstance(v, ast.Constant) and v.value is False for v in eager)


def _lifetime_calls(tree):
    """(kind, enclosing function's qualified name, line) of every
    `.persist()`/`.cache()` call ("persist") and every non-eager
    `.localCheckpoint()` call ("cut")."""
    found = set()

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                attr = child.func.attr
                if attr in ("persist", "cache"):
                    found.add(("persist", scope, child.lineno))
                elif attr == "localCheckpoint" and _is_lazy_checkpoint(child):
                    found.add(("cut", scope, child.lineno))
            visit(child, inner)

    visit(tree, "")
    return found


def test_only_fixtures_persist_and_one_cut():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for kind, scope, line in _lifetime_calls(ast.parse(path.read_text(), str(path))):
            allowed = PERSIST_ALLOWED if kind == "persist" else CUT_ALLOWED
            if (rel, scope) not in allowed:
                stray.append(f"{rel}:{line} {kind} in {scope or '<module>'}")
    assert not stray, stray


def test_scan_finds_persists_and_cuts():
    src = (
        "a = df.persist()\n"
        "class K:\n"
        "    def __init__(self, d):\n"
        "        self.d = d.cache()\n"
        "        self.e = d.persist(StorageLevel.DISK_ONLY)\n"
        "def f(d):\n"
        "    x = d.localCheckpoint(eager=False)\n"
        "    y = d.localCheckpoint(False)\n"
        "    z = d.localCheckpoint()\n"
        "    return d.localCheckpoint(eager=True)\n"
    )
    got = {(kind, scope, line) for kind, scope, line in _lifetime_calls(ast.parse(src))}
    assert got == {
        ("persist", "", 1),
        ("persist", "K.__init__", 4),
        ("persist", "K.__init__", 5),
        ("cut", "f", 7),
        ("cut", "f", 8),
    }
