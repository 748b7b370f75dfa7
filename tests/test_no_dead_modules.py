"""Every module of the package must be imported by the package itself,
the jobs, the scripts, bench.py, the driver entry point or the tests,
and every module but five must be reachable through imports from a
non-test entry point. Four (`TEST_DRIVEN`: snapshot reconciliation,
the pipeline spec, stateful streaming and windows) are public API that
only the tests drive, each kept for a reference feature; the fifth
(`PENDING_DELETION`: the PNG codec) is due to go. Any other module
only the tests reach is dead code. Also pins
that operators and plans do their filesystem I/O through the object
store. Pure AST scans — no Spark."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "qwatch_spark"


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: pathlib.Path, name: str) -> set[str]:
    """Dotted module names `path` imports, with every `from pkg import
    name` target that may itself be a module."""
    is_pkg = path.name == "__init__.py"
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            bases = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here[: len(here) - node.level + 1]
                base = ".".join([*pkg, *([base] if base else [])])
            bases = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        out.update(bases)
    return out


def test_every_package_module_is_imported():
    importers = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    used: set[str] = set()
    modules = {}
    for p in importers:
        name = _module_name(p)
        if name.startswith(PKG):
            modules[name] = p
        used |= _imported(p, name) - {name}
    dead = sorted(
        str(p.relative_to(ROOT))
        for name, p in modules.items()
        if p.name != "__init__.py" and name not in used
    )
    assert not dead, f"modules nothing imports: {dead}"


# modules only the tests drive, each kept because it maps to a
# reference feature (COVERAGE.md S3, S4 and the §2.9 streaming rows)
TEST_DRIVEN = {
    "operators.reconcile",
    "plans.pipeline",
    "streaming.stateful",
    "streaming.windows",
}
# the last module of the deleted media stack, kept with its own tests
# for now; it is to be deleted together with tests/test_png_codec.py
PENDING_DELETION = {"functions.png"}


def test_every_package_module_is_reachable_from_an_entry_point():
    """Follow imports transitively from the jobs, the scripts,
    perfbench, bench.py and the driver entry point. A module outside
    `TEST_DRIVEN` that none of them reaches runs only under its own
    tests, so no workload, query or bench ever exercises it."""
    modules = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}

    def deps(path: pathlib.Path) -> set[str]:
        # `import a.b.c` runs a/__init__ and a/b/__init__ too
        out = set()
        for m in _imported(path, _module_name(path)):
            parts = m.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
        return out & modules.keys()

    entries = [
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    todo = set().union(*map(deps, entries))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= deps(modules[name]) - seen
    assert f"{PKG}.operators.apply" in seen, seen  # the scan found the engine
    unreachable = {n.removeprefix(f"{PKG}.") for n in modules.keys() - seen}
    stray = sorted(unreachable - TEST_DRIVEN - PENDING_DELETION)
    assert not stray, f"modules only the tests reach: {stray}"


def _config_fields() -> list[str]:
    tree = ast.parse((ROOT / PKG / "config.py").read_text())
    (cls,) = [
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig"
    ]
    return [
        n.target.id for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    ]


def test_every_config_field_is_read():
    """Every PipelineConfig field must be read as an attribute somewhere
    in the package or the jobs outside config.py itself: a field the
    engine never reads is an option that changes nothing."""
    read: set[str] = set()
    for p in [*(ROOT / PKG).rglob("*.py"), *(ROOT / "jobs").rglob("*.py")]:
        if p == ROOT / PKG / "config.py":
            continue
        read.update(
            node.attr
            for node in ast.walk(ast.parse(p.read_text(), str(p)))
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
        )
    fields = _config_fields()
    assert "n_buckets" in fields, fields  # the class body was parsed
    unread = [f for f in fields if f not in read]
    assert not unread, f"PipelineConfig fields nothing reads: {unread}"


# filesystem calls that bypass the object store: the engine's operators
# and plans do their driver-side I/O through `plans/objectstore.py`, so
# the same code runs on a local path and on `s3://`
_FS_CALLS = {"os.stat", "os.makedirs", "os.listdir", "os.replace", "os.path.isfile"}
_FS_MODULES = {"shutil", "glob"}


def _dotted(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return None if base is None else f"{base}.{node.attr}"
    return None


def _fs_calls(path: pathlib.Path) -> list[str]:
    """`path:line name` of every call in `path` to `_FS_CALLS` or into
    `_FS_MODULES`, seeing through `import x as y` and `from x import y`."""
    tree = ast.parse(path.read_text(), str(path))
    alias: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                top = a.name.split(".")[0]
                alias[a.asname or top] = a.name if a.asname else top
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for a in node.names:
                alias[a.asname or a.name] = f"{node.module}.{a.name}"
    out = []
    for node in ast.walk(tree):
        name = _dotted(node.func) if isinstance(node, ast.Call) else None
        if name is None:
            continue
        head, _, rest = name.partition(".")
        full = alias.get(head, head) + (f".{rest}" if rest else "")
        if full in _FS_CALLS or full.split(".")[0] in _FS_MODULES:
            out.append(f"{path.relative_to(ROOT)}:{node.lineno} {full}")
    return out


def test_operators_and_plans_do_io_through_the_object_store():
    mods = [
        p
        for d in ("operators", "plans")
        for p in sorted((ROOT / PKG / d).rglob("*.py"))
        if p != ROOT / PKG / "plans" / "objectstore.py"
    ]
    assert len(mods) > 10, mods  # the scan found the package
    bad = [hit for p in mods for hit in _fs_calls(p)]
    assert not bad, f"filesystem calls outside the object store: {bad}"


def _names(tree) -> list[str]:
    """Every identifier `tree` names: loads and stores, attribute
    names, imported names and identifier-shaped string constants (a
    `monkeypatch.setattr(mod, "name", ...)` names its target)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append(node.id)
        elif isinstance(node, ast.Attribute):
            out.append(node.attr)
        elif isinstance(node, ast.alias):
            out.append(node.name.rpartition(".")[2])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                out.append(node.value)
    return out


def test_every_package_function_is_referenced():
    """Every top-level function and class of the package must be named
    somewhere outside its own definition — in the package, the jobs,
    the scripts, bench.py, the driver entry point or the tests. A
    helper nothing names is dead code, the function-level twin of a
    module nothing imports."""
    from collections import Counter

    files = [
        *(ROOT / PKG).rglob("*.py"),
        *(ROOT / "jobs").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    named: Counter = Counter()
    defs = []  # (where, name, names inside the definition)
    for p in files:
        tree = ast.parse(p.read_text(), str(p))
        named.update(_names(tree))
        if p.is_relative_to(ROOT / PKG):
            defs += [
                (f"{p.relative_to(ROOT)}:{n.lineno}", n.name, Counter(_names(n)))
                for n in tree.body
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            ]
    assert len(defs) > 100, len(defs)  # the scan found the package
    dead = [
        f"{where} {name}"
        for where, name, own in defs
        if named[name] - own[name] <= 0
    ]
    assert not dead, f"package functions and classes nothing names: {dead}"
