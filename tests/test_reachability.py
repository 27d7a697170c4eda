"""No package def may be reachable only from ``tests/``.

A name-reachability scan over the AST. The roots are every non-test
caller: the driver contract (``__spark_entry__.py``), ``bench.py``,
``tools/``, ``perfbench/`` and the package's own module-level code (the
CLI's ``__main__`` guard, registries, constants). A package def is
reached when its bare name occurs in a reached body, as a name, an
attribute or an identifier-shaped string constant (so ``getattr`` names
count); reached bodies add their names until nothing changes. Imports,
``__all__`` lists and docstrings name a def without calling it, so they
do not count.

A def no root reaches fails the test, whether tests call it or nothing
does, unless ``ALLOWED`` keeps it with a reason. The scan matches bare
names, so it over-approximates: a test-only def that shares its name
with a live one passes. What it flags is certain: no non-test code
names the def at all.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pgferry_spark"
ROOT_FILES = ["__spark_entry__.py", "bench.py"]
ROOT_DIRS = ["tools", "perfbench"]

_IDENT = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")

# Package defs that only tests call, kept on purpose.
ALLOWED = {
    # paper scope, runnable only against live MySQL / MSSQL servers
    "sources/mysql_introspect.py":
        "MySQL catalog introspection; needs a live server",
    "sources/mssql_introspect.py":
        "MSSQL catalog introspection; needs a live server",
    "sources/jdbc.py::mysql_source":
        "MySQL source factory; needs a live server",
    # called by Spark's Python data source API, not by name
    "sources/sink.py::_PsqlCopyWriter":
        "Spark instantiates it through PsqlCopyDataSource.writer",
    "sources/sink.py::PsqlCopyDataSource.writer":
        "Spark calls it when a write uses the psql_copy format",
    # documented escape hatch
    "sources/parquet.py::invalidate_parquet_memo":
        "clears the read memo after a lake file is rewritten in place",
    # reference implementations a staying test compares a live one with
    "sources/zipnum.py::zipnum_lookup":
        "per-key reference for zipnum_bulk_lookup",
    "functions/text.py::winnow_fingerprints":
        "per-document reference for winnow_fingerprints_batch",
    "functions/text.py::char_kgram_hashes":
        "k-gram reference under winnow_fingerprints",
    # readers of what live writers produce
    "sources/zipnum.py::read_zipnum_files":
        "reads publish_zipnum_sharded's files",
    "sources/zipnum.py::parse_cluster_idx":
        "parses publish_zipnum_sharded's and foreign cluster.idx files",
    "sources/zipnum.py::cdx11_parse":
        "reads cdx11_lines' output",
    "sources/warc.py::parse_warc_gz_index":
        "reads the gzip WARC writers' output",
    "sources/warc.py::read_warc_files":
        "reads write_warc_files' output",
    # fixture writers for live readers
    "multimodal/jpeg.py::encode_jpeg_ycbcr":
        "makes colour JPEGs for decode_jpeg_gray; nothing else can",
    "sources/layout.py::write_bucketed":
        "bucketed input for crawl_snapshot_merge and incremental_dedup",
    "sources/layout.py::exchange_count":
        "counts the shuffles the bucketed inputs avoid",
}


def _names(node: ast.AST) -> set[str]:
    """Names a subtree uses: loads, attributes and identifier-shaped
    string constants, minus imports, ``__all__`` and docstrings."""
    skip: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            skip.add(id(n))
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            skip.add(id(n))
        body = getattr(n, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            skip.add(id(body[0]))
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(n.value.split("."))
        stack.extend(ast.iter_child_nodes(n))
    return out


def _defs(tree: ast.Module, rel: str):
    """``(key, name, node)`` per module-level def, class and method;
    plus the module's top-level statements that are not defs."""
    defs, top = [], []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append((f"{rel}::{stmt.name}", stmt.name, stmt))
        elif isinstance(stmt, ast.ClassDef):
            defs.append((f"{rel}::{stmt.name}", stmt.name, stmt))
            for m in stmt.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs.append(
                        (f"{rel}::{stmt.name}.{m.name}", m.name, m)
                    )
        else:
            top.append(stmt)
    return defs, top


def _class_names(cls: ast.ClassDef) -> set[str]:
    """What a class uses apart from its methods: bases, keywords,
    decorators and class-level statements."""
    out: set[str] = set()
    for n in [*cls.bases, *cls.keywords, *cls.decorator_list, *cls.body]:
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out |= _names(n)
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _owner(key: str) -> str | None:
    """The class key a method key belongs to, else None."""
    rel, qual = key.split("::")
    return f"{rel}::{qual.split('.')[0]}" if "." in qual else None


def _allowed(key: str, allowed) -> bool:
    return key in allowed or key.split("::")[0] in allowed


def _reach(defs, used: set[str], allowed) -> set[str]:
    """Keys of the defs reached from ``used``; allowed defs count as
    reached, and so does what they use."""
    used = set(used)
    live: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, name, names in defs:
            if key in live:
                continue
            owner = _owner(key)
            hit = name in used or (
                name.startswith("__") and name.endswith("__")
            )
            if _allowed(key, allowed) or (
                hit and (owner is None or owner in live)
            ):
                live.add(key)
                used |= names
                grew = True
    return live


def scan(allowed=()) -> dict[str, str]:
    """``{key: status}`` per package def (``path::name`` or
    ``path::Class.method``): ``"live"`` when a non-test root reaches
    it, ``"tests"`` when only tests do, else ``"dead"``. ``allowed``
    keys (or whole ``path`` modules) count as live."""
    defs = []  # (key, name, names its body uses)
    used: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        d, top = _defs(_parse(path), rel)
        for key, name, node in d:
            names = (
                _class_names(node) if isinstance(node, ast.ClassDef)
                else _names(node)
            )
            defs.append((key, name, names))
        for stmt in top:
            used |= _names(stmt)
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    for path in roots:
        used |= _names(_parse(path))
    tested = set(used)
    for path in sorted((REPO / "tests").rglob("*.py")):
        if path.name != Path(__file__).name:
            tested |= _names(_parse(path))

    live = _reach(defs, used, allowed)
    reached = _reach(defs, tested, allowed)
    return {
        key: "live" if key in live else "tests" if key in reached else "dead"
        for key, _, _ in defs
    }


def test_no_package_def_is_reached_only_from_tests():
    status = scan(ALLOWED)
    orphans = sorted(
        f"{k} ({s})" for k, s in status.items() if s != "live"
    )
    assert not orphans, (
        "package defs no non-test code reaches (delete them, or allowlist "
        f"one with its reason): {orphans}"
    )


def test_allowlist_names_only_defs_tests_alone_reach():
    status = scan()
    stale = []
    for allowed in ALLOWED:
        keys = [
            k for k in status if k == allowed or k.startswith(allowed + "::")
        ]
        if not keys or all(status[k] == "live" for k in keys):
            stale.append(allowed)
    assert not stale, f"allowlisted defs that are gone or live: {stale}"
