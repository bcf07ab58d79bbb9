"""Ratchet: every top-level package name, and every method of a reached
class, is reached from a non-test entry point, or is listed in
``TEST_ONLY`` (methods as ``Class.method``) with the reason it stays.

Static and name-based (no Spark session): the reachable set is seeded
with every identifier, attribute, imported name and identifier-shaped
string literal in the entry points (string literals count because
perfbench wraps package functions by name), then closed over the
references inside each reached package definition.  A reached class
contributes its bases, decorators, class-level statements and dunder
methods; any other method counts as reached once its name is, and only
then contributes its body.  A name matches every definition that
carries it, so the reach errs toward "reached".  New package code that
only tests call fails this test; delete it, or add it to ``TEST_ONLY``
with a reason.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cex_crawler_spark"
ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "bench_extra.py",
                "perfbench", "tools", "scripts")

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# name -> why it stays although no entry point reaches it
TEST_ONLY = {
    # the paper's crawl and the reference's outputs
    "requeue": "the crawl's un-see sweep, the delete path the cuckoo "
               "filter exists for",
    "build_cuckoo": "named cuckoo builder beside build_bloom; the crawl "
                    "builds both kinds through build_filter",
    "effective_host_policy": "folds fetched robots.txt bodies into the "
                             "host-policy dim (robots rules)",
    "translate_robots_rules": "robots rule → regex form; only "
                              "effective_host_policy calls it",
    "robots_txt_for_policy": "renders prefixes back to robots.txt for "
                             "the robots round-trip tests",
    "export_csv": "reference CSV output (K4/K5)",
    "reference_column_order": "reference pivot-CSV column order "
                              "(main.py:81-84)",
    "render_dashboard_html": "reference static-HTML dashboard (K6/F5)",
    "DASHBOARD_COLS": "render_dashboard_html's column list",
    "_CN_DATE": "render_dashboard_html's date pattern",
    "_PAGE": "render_dashboard_html's page template",
    "_parsed_time": "render_dashboard_html's time parser",
    "PandasBatchExtractor": "the reference's model-extraction slot (U1)",
    "FallbackExtractor": "the reference's analyze→fallback degradation",
    # exactness twins: the inverse or pure-Python form a test compares with
    "py_simhash64": "pure-Python twin of simhash64",
    "decode_frontcoded": "inverse of the front-coded key encoding",
    "decompress_adjacency": "inverse of compress_adjacency",
    "hll_distinct": "one-shot HLL distinct the merged sketches are "
                    "compared with",
    # methods
    "CuckooFilter64.delete_many": "the cuckoo un-see path requeue uses, "
                                  "the delete the cuckoo filter exists for",
    "SnapshotCatalog.vacuum": "snapshot expiry, the catalog's storage "
                              "bound",
}


def _files(rel: str):
    p = ROOT / rel
    files = [p] if p.is_file() else sorted(p.rglob("*.py"))
    return [f for f in files if not f.name.startswith("test_")]


def _refs(node: ast.AST) -> set[str]:
    """Identifiers, attributes, imported names and identifier-shaped
    string literals anywhere under ``node``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.match(n.value):
                out.add(n.value)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _methods(cls: ast.ClassDef) -> list[ast.AST]:
    """The methods a reference by name reaches (dunders run implicitly,
    so they belong to the class itself)."""
    return [n for n in cls.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not _is_dunder(n.name)]


def _node_refs(node: ast.AST) -> set[str]:
    if not isinstance(node, ast.ClassDef):
        return _refs(node)
    methods = _methods(node)
    out: set[str] = set()
    for part in (*node.bases, *node.keywords, *node.decorator_list,
                 *(n for n in node.body if n not in methods)):
        out |= _refs(part)
    return out


def _package_defs() -> tuple[dict[str, list[ast.AST]], set[str],
                             set[tuple[str, str]], set[str]]:
    """Definition name -> the nodes that define it (top-level def, class
    and assignment names, and the names of non-dunder methods), the
    top-level names, the (class, method) pairs, plus the references of
    top-level statements that run on import (anything that is not a
    definition, an import or a docstring)."""
    defs: dict[str, list[ast.AST]] = {}
    top: set[str] = set()
    methods: set[tuple[str, str]] = set()
    on_import: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(stmt)
                top.add(stmt.name)
                if isinstance(stmt, ast.ClassDef):
                    for m in _methods(stmt):
                        defs.setdefault(m.name, []).append(m)
                        methods.add((stmt.name, m.name))
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = (stmt.targets if isinstance(stmt, ast.Assign)
                           else [stmt.target])
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            defs.setdefault(n.id, []).append(stmt)
                            top.add(n.id)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif (isinstance(stmt, ast.Expr)
                  and isinstance(stmt.value, ast.Constant)):
                continue
            else:
                on_import |= _refs(stmt)
    return defs, top, methods, on_import


def _unreached() -> set[str]:
    defs, top, methods, on_import = _package_defs()
    todo = set(on_import)
    for rel in ENTRY_POINTS:
        for f in _files(rel):
            todo |= _refs(ast.parse(f.read_text()))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs.get(name, ()):
            todo |= _node_refs(node) - reached
    return ({n for n in top if n not in reached and not _is_dunder(n)}
            | {f"{c}.{m}" for c, m in methods
               if c in reached and m not in reached})


def test_unreached_package_names_are_the_frozen_test_only_set():
    unreached = _unreached()
    assert sorted(unreached - TEST_ONLY.keys()) == [], (
        "package names no entry point reaches: delete them, or list "
        "each in TEST_ONLY with the reason it stays"
    )
    assert sorted(TEST_ONLY.keys() - unreached) == [], (
        "TEST_ONLY names that are now reached or gone: drop them"
    )
