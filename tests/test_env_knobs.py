"""No hidden knobs: the package reads no `CRAWLSPARK_*` environment variable
except the deployment setting for the driver's memory. Behaviour is chosen
through `CrawlConfig` and function arguments, where tests and callers see it.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "crawlspark"
ALLOWED = {("session.py", "CRAWLSPARK_DRIVER_MEM")}


def _env_reads(tree):
    """(name, line) of every CRAWLSPARK_* literal inside an expression that
    touches os.environ or os.getenv."""
    found = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Call, ast.Subscript, ast.Compare)):
            continue
        names = {n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)}
        names |= {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}
        if not names & {"environ", "getenv"}:
            continue
        for c in ast.walk(node):
            if isinstance(c, ast.Constant) and str(c.value).startswith("CRAWLSPARK_"):
                found.add((c.value, c.lineno))
    return found


def test_no_crawlspark_env_knobs():
    reads = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for name, line in _env_reads(ast.parse(path.read_text(), str(path))):
            if (rel, name) not in ALLOWED:
                reads.append(f"{rel}:{line} {name}")
    assert not reads, reads


def test_scan_finds_env_reads():
    src = 'import os\na = os.environ.get("CRAWLSPARK_X")\nb = os.getenv("CRAWLSPARK_Y", "0")\n'
    src += 'c = os.environ["CRAWLSPARK_Z"]\nd = "CRAWLSPARK_W" in os.environ\ne = "CRAWLSPARK_V"\n'
    got = {name for name, _ in _env_reads(ast.parse(src))}
    assert got == {"CRAWLSPARK_X", "CRAWLSPARK_Y", "CRAWLSPARK_Z", "CRAWLSPARK_W"}
