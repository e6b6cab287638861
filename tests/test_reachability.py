"""Guard against code and options that only tests use, and against
unused imports.

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

The second check applies the same rule to options: every defaulted
parameter of a top-level function in ``dynamic_etl_spark/`` and every
defaulted field of a dataclass there is a value a caller may set. A call
from the product (``dynamic_etl_spark/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``) sets it by keyword or by position; a call that
forwards ``*args`` or ``**kwargs`` sets every option of its callee.
Calls resolve by name alone, like references, and through a name
bound to a function (``pick = G.sql_pick_from``). An option no product call
sets is a constant with a code path only tests select: make it one, or
put it on the commented ``KEEP_OPTIONS``.

The third check extends that rule from options no product call sets to
options every product call sets alike: a parameter or field to which all
product calls give the same literal (a call that leaves it unset gives
its default; a non-literal argument or ``*``/``**`` forwarding counts as
a second value) is a constant too. Strings and lists of strings are
exempt: a column, table or label name binds an operator to its input
and selects no behaviour. Make the value a module constant, and where a
DuckDB twin repeats it, have both sides read that constant; or put the
option on the commented ``KEEP_ONE_VALUE``.

The fourth check is the unused-import rule of a linter (F401), which
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


# Options no product call sets, each kept for a stated reason.
KEEP_OPTIONS = {
    # The JDBC seam (KEEP): the reference's store takes these as the
    # connection's tuning and its partitioned reads.
    *(
        ("io/sources.py", "read_jdbc", p)
        for p in (
            "predicates", "partition_column", "lower_bound", "upper_bound",
            "num_partitions", "fetch_size", "options",
        )
    ),
    *(("io/sinks.py", "write_jdbc", p) for p in ("mode", "batch_size", "options")),
    # Operator maintenance run by hand (KEEP): the operator sizes the
    # compacted files and chooses the rebalance,
    ("io/sinks.py", "compact_table", "target_file_bytes"),
    ("io/sinks.py", "compact_table", "rebalance"),
    # and the retention of the versioned snapshots.
    ("io/versioned.py", "vacuum", "keep_versions"),
    ("io/versioned.py", "vacuum", "min_orphan_age_s"),
    # The references the tests compare the product against (KEEP): the
    # per-row SRP signature at the banded form's bits and seed, and the
    # KLL bounds at the sketch sizes and merge counts a test runs.
    ("ops/ann.py", "hyperplane_signature", "bits"),
    ("ops/ann.py", "hyperplane_signature", "seed"),
    ("ops/kll.py", "kll_state_bound", "k"),
    ("ops/kll.py", "kll_rank_error_bound", "k"),
    ("ops/kll.py", "kll_rank_error_bound", "n_merges"),
    # SRP banding must widen with the corpus: 32 bits in 4 bands suit the
    # registry's corpus, and the 100k-vector scale test needs 64 bits in
    # 2 bands to keep its buckets unsaturated (tests/test_scale_stress.py).
    ("ops/ann.py", "cosine_near_dup_pairs", "bits"),
    ("ops/ann.py", "cosine_near_dup_pairs", "bands"),
    # Test seams for properties the product relies on: generation is
    # independent of the partition count, and the test session pins its
    # parallelism (tests/conftest.py).
    ("generate.py", "_base", "partitions"),
    ("session.py", "get_spark", "master"),
    ("session.py", "get_spark", "shuffle_partitions"),
}
# Options every product call gives the same literal, each kept for a
# stated reason. None is: each such value is a module constant.
KEEP_ONE_VALUE: set[tuple[str, str, str]] = set()
OPTION_ROOT_PATHS = ("dynamic_etl_spark", "perfbench", "bench.py", "__spark_entry__.py")


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


def _is_dataclass(node: ast.ClassDef) -> bool:
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(target, "id", getattr(target, "attr", None)) == "dataclass":
            return True
    return False


def _signatures():
    """Every top-level function and dataclass in ``dynamic_etl_spark/``:
    ``{(module path, name): (positional names, all names, {option: default})}``
    and the module paths that define each name."""
    sigs: dict[tuple[str, str], tuple[list[str], list[str], dict[str, ast.expr]]] = {}
    by_name: dict[str, list[str]] = defaultdict(list)
    for path in _python_files(PACKAGE):
        rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = stmt.args
                params = [p.arg for p in a.posonlyargs + a.args]
                names = params + [p.arg for p in a.kwonlyargs]
                defaults = dict(zip(params[len(params) - len(a.defaults):], a.defaults))
                defaults.update(
                    (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
                )
            elif isinstance(stmt, ast.ClassDef) and _is_dataclass(stmt):
                fields = [
                    f for f in stmt.body
                    if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                ]
                params = names = [f.target.id for f in fields]
                defaults = {f.target.id: f.value for f in fields if f.value is not None}
            else:
                continue
            sigs[(rel, stmt.name)] = (params, names, defaults)
            by_name[stmt.name].append(rel)
    return sigs, by_name


def _product_calls(by_name: dict[str, list[str]]):
    """``(callee name, call)`` of every call in the product to a name
    ``dynamic_etl_spark/`` defines, resolved by name alone."""
    for root in OPTION_ROOT_PATHS:
        for path in _python_files(os.path.join(REPO_ROOT, root)):
            tree = _parse(path)
            # ``pick = G.sql_pick_from`` makes ``pick(...)`` a call of it
            aliases = {
                n.targets[0].id: target
                for n in ast.walk(tree)
                if isinstance(n, ast.Assign)
                and len(n.targets) == 1
                and isinstance(n.targets[0], ast.Name)
                and (target := getattr(n.value, "id", getattr(n.value, "attr", None))) in by_name
            }
            for call in ast.walk(tree):
                if isinstance(call, ast.Call):
                    name = getattr(call.func, "id", getattr(call.func, "attr", None))
                    name = aliases.get(name, name)
                    if name in by_name:
                        yield name, call


def _forwards(call: ast.Call) -> bool:
    return any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    )


def unset_options() -> set[tuple[str, str, str]]:
    """(module path, function or dataclass, option) of every defaulted
    parameter or field no product call sets."""
    sigs, by_name = _signatures()
    options = {
        (rel, name, p) for (rel, name), (_, _, defaults) in sigs.items() for p in defaults
    }
    set_: set[tuple[str, str, str]] = set()
    for name, call in _product_calls(by_name):
        keywords = {k.arg for k in call.keywords}
        for rel in by_name[name]:
            params = sigs[(rel, name)][0]
            given = set(params[: len(call.args)]) | keywords
            set_ |= {
                o for o in options
                if o[:2] == (rel, name) and (_forwards(call) or o[2] in given)
            }
    return options - set_


def test_only_the_keep_list_options_are_unset_by_the_product():
    unset = unset_options()
    assert not unset - KEEP_OPTIONS, (
        "options in dynamic_etl_spark/ no product call sets: "
        f"{sorted(unset - KEEP_OPTIONS)}; make each a constant and delete the "
        "code path only another value selects, or keep-list it with a reason"
    )
    assert not KEEP_OPTIONS - unset, (
        f"the product now sets (or no longer defines) {sorted(KEEP_OPTIONS - unset)}; "
        "drop it from KEEP_OPTIONS"
    )


def _literal(node: ast.expr) -> str | None:
    """The ``repr`` of a literal argument (``1``, ``1.0`` and ``True``
    stay distinct), or None for any other argument."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return None


def _names_a_schema(literal: str) -> bool:
    """A string, or a list or tuple of strings: a column, table or label
    name binds an operator to its input and selects no behaviour."""
    v = ast.literal_eval(literal)
    return isinstance(v, str) or (
        isinstance(v, (list, tuple)) and all(isinstance(x, str) for x in v)
    )


def single_valued_options() -> dict[tuple[str, str, str], str]:
    """{(module path, function or dataclass, option): value} of every
    parameter or field that all product calls give the same literal,
    strings and lists of strings aside. A call that leaves an option
    unset gives its default; a non-literal argument or ``*``/``**``
    forwarding counts as a second value. Options no product call sets
    are ``unset_options``'s."""
    sigs, by_name = _signatures()
    values: dict[tuple[str, str, str], set] = defaultdict(set)
    for name, call in _product_calls(by_name):
        for rel in by_name[name]:
            params, names, defaults = sigs[(rel, name)]
            given = dict(zip(params, call.args))
            given.update((k.arg, k.value) for k in call.keywords if k.arg)
            for p in names:
                node = given.get(p, defaults.get(p))
                if node is not None:
                    values[(rel, name, p)].add(None if _forwards(call) else _literal(node))
    unset = unset_options()
    return {
        option: value
        for option, vals in values.items()
        if len(vals) == 1 and (value := next(iter(vals))) is not None
        and option not in unset and not _names_a_schema(value)
    }


def test_only_the_keep_list_options_take_one_value_in_the_product():
    single = single_valued_options()
    assert not single.keys() - KEEP_ONE_VALUE, (
        "options in dynamic_etl_spark/ every product call gives one literal: "
        f"{sorted((o, single[o]) for o in single.keys() - KEEP_ONE_VALUE)}; make "
        "each a module constant that the oracle twin reads too, or keep-list it "
        "with a reason"
    )
    assert not KEEP_ONE_VALUE - single.keys(), (
        f"the product now gives more than one value to (or no longer defines) "
        f"{sorted(KEEP_ONE_VALUE - single.keys())}; drop it from KEEP_ONE_VALUE"
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
