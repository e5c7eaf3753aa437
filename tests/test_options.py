"""Every defaulted parameter of a module-level package function is set
by some caller: a static walk finds each call of that function in the
package, the entry points, ``bench*.py``, ``jobs/``, ``scripts/``,
``perfbench/`` and ``tests/``, and counts a parameter as set when a call
passes it by keyword or by position. A call is matched to a function by
(module, name): ``f(...)`` where ``f`` is defined in, or imported from,
the function's module (re-exports followed), or ``m.f(...)`` where ``m``
is bound to that module by an import, so a same-named function or method
elsewhere sets nothing. Imports are read from the whole file, function
bodies included. ``*args``/``**kwargs`` at a call set nothing: the walk
cannot see their keys, so a parameter must be named by some call. A
parameter that no call sets is a constant dressed as an option."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "osm_addr_bot_spark"
CALLER_GLOBS = (
    "osm_addr_bot_spark/**/*.py",
    "__spark_entry__.py",
    "bench*.py",
    "jobs/**/*.py",
    "scripts/**/*.py",
    "perfbench/**/*.py",
    "tests/**/*.py",
)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position or None for keyword-only) of each parameter
    that has a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(p.arg, i) for i, p in enumerate(positional) if i >= first]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _bindings(tree: ast.Module, module: str | None, is_package: bool, modules: set[str]) -> dict:
    """Local name -> ("mod", module) or ("obj", module, name) for every
    import in the file and, in a package module, every top-level def."""
    out: dict = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname:
                    out[alias.asname] = ("mod", alias.name)
                else:
                    head = alias.name.split(".")[0]
                    out[head] = ("mod", head)
        elif isinstance(node, ast.ImportFrom):
            source = node.module or ""
            if node.level:
                base = (module or "").split(".")
                base = base[: len(base) - node.level + (1 if is_package else 0)]
                source = ".".join(base + ([source] if source else []))
            for alias in node.names:
                full = f"{source}.{alias.name}"
                target = ("mod", full) if full in modules else ("obj", source, alias.name)
                out[alias.asname or alias.name] = target
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = ("obj", module, node.name) if module else ("local",)
    return out


def unset_parameters() -> list[str]:
    trees = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        trees[_module_name(path)] = (path, ast.parse(path.read_text(), str(path)))
    modules = set(trees)
    params: dict[tuple[str, str], list[tuple[str, int | None]]] = {}
    binds = {}
    for module, (path, tree) in trees.items():
        binds[module] = _bindings(tree, module, path.name == "__init__.py", modules)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                params[(module, node.name)] = _defaulted(node)

    def resolve(module: str, name: str, depth: int = 0):
        """The package function (module, name) names, re-exports followed."""
        if (module, name) in params:
            return module, name
        target = binds.get(module, {}).get(name)
        if depth < 10 and target and target[0] == "obj" and target[1:] != (module, name):
            return resolve(target[1], target[2], depth + 1)
        return None

    def callee(func: ast.expr, local: dict):
        if isinstance(func, ast.Name):
            target = local.get(func.id)
            return resolve(target[1], target[2]) if target and target[0] == "obj" else None
        chain = []
        while isinstance(func, ast.Attribute):
            chain.insert(0, func.attr)
            func = func.value
        target = local.get(func.id) if isinstance(func, ast.Name) else None
        if not chain or not target or target[0] != "mod":
            return None
        module = target[1]
        while len(chain) > 1 and f"{module}.{chain[0]}" in modules:
            module = f"{module}.{chain.pop(0)}"
        return resolve(module, chain[0]) if len(chain) == 1 else None

    set_ = set()
    for path in {f for g in CALLER_GLOBS for f in ROOT.glob(g)}:
        tree = ast.parse(path.read_text(), str(path))
        module = _module_name(path)
        local = binds[module] if module in binds else _bindings(tree, None, False, modules)
        for call in ast.walk(tree):
            fn = callee(call.func, local) if isinstance(call, ast.Call) else None
            if fn is None:
                continue
            keywords = {k.arg for k in call.keywords}
            n_args = sum(not isinstance(a, ast.Starred) for a in call.args)
            for name, pos in params[fn]:
                if name in keywords or (pos is not None and pos < n_args):
                    set_.add((*fn, name))
    return sorted(
        f"{module}.{fn}({name})"
        for (module, fn), entries in params.items()
        for name, _ in entries
        if (module, fn, name) not in set_
    )


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = unset_parameters()
    assert unset == [], f"{len(unset)} parameters no caller sets: {unset}"
