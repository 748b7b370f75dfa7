"""Every module of the package must be imported by the package itself,
the jobs, the scripts, bench.py, the driver entry point or the tests.
Library operators that only the tests drive (reconcile, multimodal,
streaming windows, ...) are public API; a module that nothing imports
and no test covers is dead code. Pure AST scan — no Spark."""

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
