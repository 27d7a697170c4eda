"""No package def may be reachable only from ``tests/``.

A reachability scan over the AST. The roots are every non-test caller:
the driver contract (``__spark_entry__.py``), ``bench.py``, ``tools/``,
``perfbench/``, the package's own module-level code (the CLI's
``__main__`` guard, constants), and every builder registered as an
entry (a def decorated with ``entries.registry.register``). Reached
bodies add what they reference until nothing changes. Imports,
``__all__`` lists and docstrings name a def without calling it, so they
do not count.

A reference is matched through its module, not by bare name: a plain
name is the file's own def or what the file imported under that name,
``mod.attr`` is ``attr`` of the module ``mod`` is bound to, and an
import that re-exports a def reaches the def it re-exports. So a def
is not kept alive by a same-named def in another module, nor by a
string that happens to spell its name (entry names often equal operator
names). Methods are matched by bare name: an attribute of an object, or
an identifier-shaped string (a ``getattr`` or ``patch`` name), reaches
every method so named once its class is reached.

A def no root reaches fails the test, whether tests call it or nothing
does, unless ``ALLOWED`` keeps it with a reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pgferry_spark"
ROOT_FILES = ["__spark_entry__.py", "bench.py"]
ROOT_DIRS = ["tools", "perfbench"]
REGISTER = ("entries/registry.py", "register")

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
    "sources/jdbc.py::read_table":
        "partitioned JDBC read; only the Derby and live-server tests call"
        " it, no SourceBackend wires it",
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


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _module_key(dotted: str) -> str | None:
    """Package-relative file of a dotted ``pgferry_spark`` module."""
    parts = dotted.split(".")
    if parts[0] != "pgferry_spark":
        return None
    base = PACKAGE.joinpath(*parts[1:])
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path.relative_to(PACKAGE).as_posix()
    return None


def _dotted(key: str) -> str:
    parts = key[: -len(".py")].split("/")
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(["pgferry_spark", *parts])


class Scope:
    """What the names of one file refer to: its own module-level defs
    and its imports (anywhere in the file), as targets ``("mod", key)``
    or ``("def", key, name)``."""

    def __init__(self, tree: ast.Module, key: str | None):
        self.key = key
        self.defs = {
            s.name for s in tree.body
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
        }
        self.imports: dict[str, set[tuple]] = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        mod = _module_key(a.name)
                        if mod:
                            self._bind(a.asname, ("mod", mod))
                    elif a.name.split(".")[0] == "pgferry_spark":
                        self._bind("pgferry_spark", ("mod", "__init__.py"))
            elif isinstance(n, ast.ImportFrom):
                base = self._from_base(n)
                if base is None:
                    continue
                for a in n.names:
                    sub = _module_key(f"{base}.{a.name}")
                    mod = _module_key(base)
                    target = (
                        ("mod", sub) if sub
                        else ("def", mod, a.name) if mod else None
                    )
                    if target:
                        self._bind(a.asname or a.name, target)

    def _bind(self, alias: str, target: tuple) -> None:
        self.imports.setdefault(alias, set()).add(target)

    def _from_base(self, n: ast.ImportFrom) -> str | None:
        if not n.level:
            return n.module
        if self.key is None:
            return None
        parts = _dotted(self.key).split(".")
        if not self.key.endswith("__init__.py"):
            parts.pop()
        parts = parts[: len(parts) - (n.level - 1)]
        return ".".join(parts + ([n.module] if n.module else []))

    def resolve(self, node: ast.AST) -> set[tuple]:
        if isinstance(node, ast.Name):
            out = set(self.imports.get(node.id, ()))
            if self.key and node.id in self.defs:
                out.add(("def", self.key, node.id))
            return out
        if isinstance(node, ast.Attribute):
            out = set()
            for t in self.resolve(node.value):
                if t[0] == "mod":
                    sub = _module_key(f"{_dotted(t[1])}.{node.attr}")
                    out.add(("mod", sub) if sub else ("def", t[1], node.attr))
            return out
        return set()


def _skipped(node: ast.AST) -> set[int]:
    """Imports, ``__all__`` and docstrings: they name without using."""
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
    return skip


def _refs(node: ast.AST, scope: Scope) -> set[tuple]:
    """What a subtree references: ``("def", key, name)`` for a resolved
    module-level def, ``("attr", name)`` for an attribute of an object
    or an identifier-shaped string (methods match these by bare name)."""
    skip = _skipped(node)
    out: set[tuple] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in skip:
            continue
        if isinstance(n, (ast.Name, ast.Attribute)):
            targets = scope.resolve(n)
            out |= {t for t in targets if t[0] == "def"}
            if isinstance(n, ast.Attribute) and not targets:
                out.add(("attr", n.attr))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out.update(("attr", p) for p in n.value.split("."))
        stack.extend(ast.iter_child_nodes(n))
    return out


def _registered(node: ast.AST, scope: Scope) -> bool:
    return any(
        isinstance(d, ast.Call)
        and ("def", *REGISTER) in scope.resolve(d.func)
        for d in getattr(node, "decorator_list", ())
    )


def _class_refs(cls: ast.ClassDef, scope: Scope) -> set[tuple]:
    """What a class uses apart from its methods: bases, keywords,
    decorators and class-level statements."""
    out: set[tuple] = set()
    for n in [*cls.bases, *cls.keywords, *cls.decorator_list, *cls.body]:
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out |= _refs(n, scope)
    return out


def _owner(key: str) -> str | None:
    """The class key a method key belongs to, else None."""
    rel, qual = key.split("::")
    return f"{rel}::{qual.split('.')[0]}" if "." in qual else None


def _allowed(key: str, allowed) -> bool:
    return key in allowed or key.split("::")[0] in allowed


class Package:
    """Every package def as ``key -> (refs of its body, is a root)``,
    the package's module-level refs, and each module's re-exports."""

    def __init__(self):
        self.defs: dict[str, tuple[set[tuple], bool]] = {}
        self.top: set[tuple] = set()
        self.reexports: dict[tuple, set[tuple]] = {}
        for path in sorted(PACKAGE.rglob("*.py")):
            rel = path.relative_to(PACKAGE).as_posix()
            tree = _parse(path)
            scope = Scope(tree, rel)
            for alias, targets in scope.imports.items():
                if alias not in scope.defs:
                    self.reexports[("def", rel, alias)] = {
                        t for t in targets if t[0] == "def"
                    }
            for stmt in tree.body:
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    self.defs[f"{rel}::{stmt.name}"] = (
                        _refs(stmt, scope), _registered(stmt, scope)
                    )
                elif isinstance(stmt, ast.ClassDef):
                    self.defs[f"{rel}::{stmt.name}"] = (
                        _class_refs(stmt, scope), False
                    )
                    for m in stmt.body:
                        if isinstance(m, (ast.FunctionDef,
                                          ast.AsyncFunctionDef)):
                            self.defs[f"{rel}::{stmt.name}.{m.name}"] = (
                                _refs(m, scope), False
                            )
                else:
                    self.top |= _refs(stmt, scope)

    def canonical(self, refs: set[tuple]) -> set[tuple]:
        """Follow re-exports to the module that defines each def."""
        out, todo = set(), list(refs)
        while todo:
            r = todo.pop()
            if r in out:
                continue
            out.add(r)
            todo.extend(self.reexports.get(r, ()))
        return out

    def reach(self, used: set[tuple], allowed) -> set[str]:
        """Keys of the defs reached from ``used``; roots and allowed
        defs count as reached, and so does what they use."""
        used = self.canonical(used | self.top)
        live: set[str] = set()
        grew = True
        while grew:
            grew = False
            for key, (refs, root) in self.defs.items():
                if key in live:
                    continue
                rel, qual = key.split("::")
                owner = _owner(key)
                if owner is None:
                    hit = ("def", rel, qual) in used
                else:
                    name = qual.split(".")[1]
                    hit = owner in live and (
                        ("attr", name) in used
                        or (name.startswith("__") and name.endswith("__"))
                    )
                if root or hit or _allowed(key, allowed):
                    live.add(key)
                    used |= self.canonical(refs)
                    grew = True
        return live


def _file_refs(path: Path) -> set[tuple]:
    tree = _parse(path)
    return _refs(tree, Scope(tree, None))


def scan(allowed=()) -> dict[str, str]:
    """``{key: status}`` per package def (``path::name`` or
    ``path::Class.method``): ``"live"`` when a non-test root reaches
    it, ``"tests"`` when only tests do, else ``"dead"``. ``allowed``
    keys (or whole ``path`` modules) count as live."""
    pkg = Package()
    roots = [REPO / f for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots += sorted((REPO / d).rglob("*.py"))
    used: set[tuple] = set()
    for path in roots:
        used |= _file_refs(path)
    tested = set(used)
    for path in sorted((REPO / "tests").rglob("*.py")):
        if path.name != Path(__file__).name:
            tested |= _file_refs(path)

    live = pkg.reach(used, allowed)
    reached = pkg.reach(tested, allowed)
    return {
        key: "live" if key in live else "tests" if key in reached else "dead"
        for key in pkg.defs
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
