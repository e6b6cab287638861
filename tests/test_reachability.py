"""Guard against code that only tests call, and against unused imports.

The product is what the registry, the retail pipelines, streaming and
the benchmark run. This test takes the name-reference closure of every
top-level definition in ``dynamic_etl_spark/`` from those roots and
asserts that what it does not reach is exactly the commented keep-list
below. A second implementation of something the product already does,
or a helper whose last product caller went away, fails it: route the
product through it, or delete it with the tests that check nothing else.

References are the names a definition's code uses (``Name`` ids and
``Attribute`` attrs); docstrings and comments are not references, and an
import is not one until code uses the imported name. Names resolve by
name alone, not by module, which errs toward reaching too much.
Module-level ``Assign``/``AnnAssign`` statements are definitions whose
value is followed, so a constant consumed by another constant is reached
through it. Other module-level statements run on import and are treated
as roots.

The second check is the unused-import rule of a linter (F401), which
this repository does not install: an AST scan of ``dynamic_etl_spark/``
and ``tests/`` for imported names no code in the module uses. A
re-export says so with ``# noqa: F401`` on its import statement.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO_ROOT, "dynamic_etl_spark")
ROOT_PACKAGES = ("registry", "pipelines", "streaming")
ROOT_PATHS = ("perfbench", "bench.py")

# Definitions the product does not call, each kept for a stated reason.
KEEP = {
    # The reference's I/O boundary: the source reads from and writes to a
    # JDBC store; the retail day runs on files and keeps these as the seam.
    ("io/sources.py", "read_jdbc"),
    ("io/sinks.py", "write_jdbc"),
    # Operator maintenance, run by hand on a committed table root.
    ("io/sinks.py", "compact_table"),
    ("io/sinks.py", "_hive_partition_cols"),
    # The only retention for the _versions/ snapshots the streaming sinks write.
    ("io/versioned.py", "vacuum"),
    # References the tests compare the product against:
    # srp_banded_rows must be bit-identical to the per-row signature,
    ("ops/ann.py", "hyperplane_signature"),
    ("ops/ann.py", "_srp_bit"),
    # the decoder tests read pixels and samples through these tuple-list
    # surfaces and compare them with the generating functions,
    ("ops/multimodal.py", "decode_bmp"),
    ("ops/multimodal.py", "decode_wav"),
    ("ops/multimodal.py", "decode_frames"),
    # and the KLL tests assert these error and state bounds.
    ("ops/kll.py", "kll_rank_error_bound"),
    ("ops/kll.py", "kll_state_bound"),
    # Package metadata.
    ("__init__.py", "__version__"),
}


def _parse(path: str) -> ast.Module:
    """The module's AST without docstrings, so words in them are not references."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    for n in ast.walk(tree):
        body = getattr(n, "body", None)
        if (
            isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            n.body = body[1:]
    return tree


def _names_used(node: ast.AST) -> set[str]:
    used: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
    return used


def _assigned_names(stmt: ast.stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _python_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def unreached_definitions() -> set[tuple[str, str]]:
    """(module path, name) of every top-level definition the roots do not reach."""
    defs: dict[tuple[str, str], set[str]] = defaultdict(set)
    by_name: dict[str, set[tuple[str, str]]] = defaultdict(set)
    frontier: set[str] = set()
    for path in _python_files(PACKAGE):
        rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
        is_root = rel.split("/", 1)[0] in ROOT_PACKAGES
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                keys = [(rel, stmt.name)]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                keys = [(rel, name) for name in _assigned_names(stmt)]
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            else:
                frontier |= _names_used(stmt)
                continue
            used = _names_used(stmt)
            for key in keys:
                defs[key] |= used
                by_name[key[1]].add(key)
                if is_root:
                    frontier |= used | {key[1]}
    for root in ROOT_PATHS:
        for path in _python_files(os.path.join(REPO_ROOT, root)):
            frontier |= _names_used(_parse(path))
    reached: set[tuple[str, str]] = set()
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        seen.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            frontier |= defs[key] - seen
    return set(defs) - reached


def test_only_the_keep_list_is_unreached_from_the_product():
    unreached = unreached_definitions()
    assert not unreached - KEEP, (
        "defined in dynamic_etl_spark/ but not reached from the product: "
        f"{sorted(unreached - KEEP)}; route the product through it or delete it"
    )
    assert not KEEP - unreached, (
        f"the product now reaches (or no longer defines) {sorted(KEEP - unreached)}; "
        "drop it from KEEP"
    )


def unused_imports() -> list[str]:
    """``file:line name`` of every imported name its module never uses."""
    found = []
    for root in (PACKAGE, os.path.join(REPO_ROOT, "tests")):
        for path in _python_files(root):
            with open(path) as fh:
                source = fh.read()
            lines = source.splitlines()
            tree = ast.parse(source, filename=path)
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for stmt in ast.walk(tree):
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    continue
                if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                    continue
                span = lines[stmt.lineno - 1 : stmt.end_lineno]
                if any("noqa: F401" in line for line in span):
                    continue
                for alias in stmt.names:
                    name = alias.asname or alias.name.split(".")[0]
                    if name not in used:
                        rel = os.path.relpath(path, REPO_ROOT)
                        found.append(f"{rel}:{alias.lineno} {name}")
    return found


def test_no_unused_imports():
    unused = unused_imports()
    assert not unused, (
        f"imported but never used: {unused}; delete the import, or mark a "
        "re-export with # noqa: F401"
    )
