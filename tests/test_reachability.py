"""Every module under ``quanta_spark/`` must be reachable by imports from
the product's entry points: the pipeline compiler, the CLI, DLQ replay,
the session factory, the streaming engine, and the scripts that drive
them (perfbench, the scaling bench, the spark-submit job). The closure
follows every ``import`` statement in a module, function-level (lazy)
imports included. A module outside it is dead code and fails this test;
code the product does not use belongs in ``quanta_contrib/``, which the
engine must never import.

The same holds per top-level function and class, by name: a def is
reached when reached code mentions its name (as an identifier or an
attribute), starting from the entry points, the names the entry scripts
use and every module-level statement of the package (the stage
``register(...)`` calls, the compiler's kind tables). Strings (docstrings,
``__all__`` entries) and comments are not mentions.

Pure AST analysis — no Spark needed.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRY_MODULES = [
    "quanta_spark.plans.pipeline",  # compile_pipeline
    "quanta_spark.cli",  # main
    "quanta_spark.sinks.replay",  # replay_dlq
    "quanta_spark.session",  # get_spark
    "quanta_spark.streaming.engine",
]
ENTRY_SCRIPTS = [
    "bench_scaling.py",
    os.path.join("scripts", "submit_job.py"),
    *sorted(
        os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    ),
]
ENTRY_NAMES = [
    "compile_pipeline",
    "main",  # cli.main
    "replay_dlq",
    "get_spark",
    "start_pipeline",
    "run_to_completion",
    # the observability API the package's metrics build on
    "attach_metrics",
    "MetricsHttpServer",
]
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def package_modules(root: str, package: str) -> dict[str, str]:
    """Dotted module name -> file path for every .py under ``package``."""
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(root, package)):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            mod = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
            out[mod.removesuffix(".__init__")] = path
    return out


def _imported_names(tree: ast.AST, mod: str, is_pkg: bool) -> set[str]:
    """Every dotted name an import statement anywhere in ``tree`` may
    load: ``from a import b`` yields both ``a`` and ``a.b`` (b may be a
    submodule); relative imports resolve against ``mod``."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = mod.split(".")
                anchor = parts if is_pkg else parts[:-1]
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def import_closure(
    root: str, package: str, entry_modules: list[str], entry_files: list[str] = ()
) -> set[str]:
    """Modules of ``package`` reachable from the entry modules and the
    imports of the entry files. Importing ``a.b.c`` also runs
    ``a/__init__`` and ``a/b/__init__``, so parents count as reached."""
    mods = package_modules(root, package)
    seen: set[str] = set()
    todo = list(entry_modules)
    for path in entry_files:
        with open(os.path.join(root, path)) as f:
            todo.extend(_imported_names(ast.parse(f.read()), "__main__", False))
    while todo:
        name = todo.pop()
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in mods and m not in seen:
                seen.add(m)
                path = mods[m]
                with open(path) as f:
                    tree = ast.parse(f.read())
                todo.extend(_imported_names(tree, m, path.endswith("__init__.py")))
    return seen


def unreachable_modules(
    root: str, package: str, entry_modules: list[str], entry_files: list[str] = ()
) -> list[str]:
    reached = import_closure(root, package, entry_modules, entry_files)
    return sorted(set(package_modules(root, package)) - reached)


def _mentions(node: ast.AST) -> set[str]:
    """Names ``node`` mentions: identifiers and attribute names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def unreached_defs(
    root: str, package: str, entry_names: list[str], entry_files: list[str] = ()
) -> list[str]:
    """Dotted names of the top-level functions and classes of ``package``
    that no reached code mentions."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    reached = set(entry_names)
    for path in entry_files:
        with open(os.path.join(root, path)) as f:
            reached |= _mentions(ast.parse(f.read()))
    for mod, path in package_modules(root, package).items():
        with open(path) as f:
            tree = ast.parse(f.read())
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((f"{mod}.{stmt.name}", stmt))
            else:
                reached |= _mentions(stmt)
    todo = list(reached)
    while todo:
        for _, node in defs.get(todo.pop(), ()):
            new = _mentions(node) - reached
            reached |= new
            todo.extend(new)
    return sorted(q for name, ds in defs.items() if name not in reached for q, _ in ds)


def test_every_package_module_is_reachable():
    assert unreachable_modules(REPO, "quanta_spark", ENTRY_MODULES, ENTRY_SCRIPTS) == []


def test_every_package_def_is_reached():
    defined = set()
    for path in package_modules(REPO, "quanta_spark").values():
        with open(path) as f:
            defined |= {s.name for s in ast.parse(f.read()).body if isinstance(s, _DEFS)}
    assert set(ENTRY_NAMES) <= defined
    assert unreached_defs(REPO, "quanta_spark", ENTRY_NAMES, ENTRY_SCRIPTS) == []


def test_engine_never_imports_contrib():
    offenders = []
    for mod, path in package_modules(REPO, "quanta_spark").items():
        with open(path) as f:
            tree = ast.parse(f.read())
        names = _imported_names(tree, mod, path.endswith("__init__.py"))
        offenders += [f"{mod} -> {n}" for n in sorted(names) if n.split(".")[0] == "quanta_contrib"]
    assert offenders == []


def test_stray_module_is_reported(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "core.py").write_text(
        "from .sub import helper\n\ndef run():\n    from pkg import lazy\n"
    )
    (pkg / "sub" / "helper.py").write_text("import os\n")
    (pkg / "lazy.py").write_text("")
    (pkg / "stray.py").write_text("import pkg.core\n")
    (tmp_path / "script.py").write_text("from pkg.sub.helper import os\n")

    assert unreachable_modules(str(tmp_path), "pkg", ["pkg.core"]) == ["pkg.stray"]
    # reached only through the script's import: sub, sub.helper and parents
    assert import_closure(str(tmp_path), "pkg", [], ["script.py"]) == {
        "pkg", "pkg.sub", "pkg.sub.helper"
    }


def test_stray_def_is_reported(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('"""Only a docstring mentions stray()."""\n')
    (pkg / "core.py").write_text(
        "TABLE = {'k': lambda: _used()}\n\n"
        "def run():\n    return helper.go()\n\n"
        "def go():\n    pass\n\n"
        "def _used():\n    pass\n\n"
        "class Tool:\n    def run(self):\n        return 1\n\n"
        "def stray():\n    'run() go()'\n    return stray()\n\n"
        "__all__ = ['stray']\n"
    )
    (tmp_path / "script.py").write_text("from pkg.core import Tool\nTool().run()\n")

    # run is an entry, go is mentioned as an attribute, _used by a
    # module-level table and Tool by the script; stray only by itself,
    # docstrings and __all__
    assert unreached_defs(str(tmp_path), "pkg", ["run"], ["script.py"]) == ["pkg.core.stray"]
    assert unreached_defs(str(tmp_path), "pkg", [], []) == [
        "pkg.core.Tool", "pkg.core.go", "pkg.core.run", "pkg.core.stray"
    ]
