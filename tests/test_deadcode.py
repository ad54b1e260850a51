"""Every top-level function and class of the package is used somewhere.

A name counts as used when some ``.py`` file of the repo loads it
outside its own definition: the package, ``__spark_entry__.py``,
``bench*.py``, ``scripts/``, ``perfbench/`` or ``tests/``. A load is
read from the syntax tree, not from the text:

- a bare name that no enclosing function binds (a parameter, an
  assignment, a loop target, ...) and that resolves to the definition:
  the defining module's own name, or a name imported from that module;
- an attribute ``m.name`` where ``m`` is the defining module, imported
  under any alias.

So a column, a parameter or a dict key that happens to share the name
does not count. Dunder names are exempt. A name that fails here is code
that nothing runs: delete it rather than exempt it.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "geotiff_processor_spark"
PKG = PACKAGE.name


def _searched_files():
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    for d in ("scripts", "perfbench", "tests"):
        files += (ROOT / d).rglob("*.py")
    # skip caches and hidden work dirs such as perfbench/.work
    return [f for f in files
            if not any(p == "__pycache__" or p.startswith(".")
                       for p in f.relative_to(ROOT).parts)]


def _module_of(path: Path) -> str | None:
    """Dotted name of a package module, None outside the package."""
    if PACKAGE not in path.parents:
        return None
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_module(module: str | None, path: Path,
                     node: ast.ImportFrom) -> str | None:
    if not node.level:
        return node.module
    if module is None:
        return None
    base = module.split(".")
    if path.name != "__init__.py":
        base = base[:-1]
    base = base[:len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


_COMPREHENSIONS = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda,
           *_COMPREHENSIONS)


def _local_names(fn: ast.AST) -> set[str]:
    """Names a function, lambda or comprehension binds itself (not in
    nested functions); imports are resolved separately."""
    bound: set[str] = set()
    args = getattr(fn, "args", None)
    if args is not None:
        bound.update(a.arg for a in args.posonlyargs + args.args
                     + args.kwonlyargs)
        bound.update(a.arg for a in (args.vararg, args.kwarg) if a)
    if isinstance(fn, _COMPREHENSIONS):
        body = [g.target for g in fn.generators]
    else:
        body = fn.body if isinstance(fn.body, list) else [fn.body]
    stack = list(body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            bound.add(node.id)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            bound.add(node.name)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            bound.add(node.name)
            stack.extend(node.decorator_list)
            continue
        if isinstance(node, (ast.Lambda, *_COMPREHENSIONS)):
            continue
        stack.extend(ast.iter_child_nodes(node))
    return bound


def _loads(path: Path, tree: ast.Module, modules: set[str]):
    """(module, name, line) of every load of a package definition."""
    module = _module_of(path)
    mod_alias: dict[str, str] = {}          # alias -> package module
    def_alias: dict[str, tuple] = {}        # alias -> (module, name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in modules and a.asname:
                    mod_alias[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom):
            src = _imported_module(module, path, node)
            if src is None or src.split(".")[0] != PKG:
                continue
            for a in node.names:
                name = a.asname or a.name
                if f"{src}.{a.name}" in modules:
                    mod_alias[name] = f"{src}.{a.name}"
                else:
                    def_alias[name] = (src, a.name)
    own = {n.name for n in tree.body if module and isinstance(
        n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}

    def visit(node, scopes):
        if isinstance(node, _SCOPES):
            scopes = scopes + [_local_names(node)]
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if not any(node.id in s for s in scopes):
                if node.id in def_alias:
                    yield (*def_alias[node.id], node.lineno)
                elif node.id in own:
                    yield module, node.id, node.lineno
        elif (isinstance(node, ast.Attribute)
              and isinstance(node.ctx, ast.Load)
              and isinstance(node.value, ast.Name)
              and node.value.id in mod_alias
              and not any(node.value.id in s for s in scopes)):
            yield mod_alias[node.value.id], node.attr, node.lineno
        for c in ast.iter_child_nodes(node):
            yield from visit(c, scopes)

    yield from visit(tree, [])


def unused_definitions(sources: dict[Path, str]) -> list[str]:
    """``path:line name`` of each package definition nothing loads."""
    trees = {f: ast.parse(text, filename=str(f))
             for f, text in sources.items()}
    modules = {_module_of(f) for f in trees if _module_of(f)}
    defs = {}          # (module, name) -> (path, first line, last line)
    for path, tree in trees.items():
        module = _module_of(path)
        if module is None:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([node.lineno]
                            + [d.lineno for d in node.decorator_list])
                defs[(module, node.name)] = (path, first, node.end_lineno)
    used = set()
    for path, tree in trees.items():
        for module, name, line in _loads(path, tree, modules):
            where = defs.get((module, name))
            if where and not (where[0] == path
                              and where[1] <= line <= where[2]):
                used.add((module, name))
    return sorted(f"{path.relative_to(ROOT)}:{first} {name}"
                  for (module, name), (path, first, _last) in defs.items()
                  if (module, name) not in used
                  and not (name.startswith("__") and name.endswith("__")))


def _sources() -> dict[Path, str]:
    return {f: f.read_text(encoding="utf-8") for f in _searched_files()}


def test_every_package_function_and_class_is_referenced():
    unused = unused_definitions(_sources())
    assert not unused, "referenced nowhere: " + ", ".join(unused)


def test_a_name_shared_with_columns_and_parameters_is_not_a_use():
    """``url`` is a column, a parameter and a loop variable all over the
    repo, so a whole-word search finds it everywhere; a package function
    of that name that nothing calls still fails."""
    sources = _sources()
    planted = PACKAGE / "functions" / "parsing.py"
    line = sources[planted].count("\n") + 3
    sources[planted] += "\n\ndef url(page):\n    return page\n"
    assert unused_definitions(sources) == [
        f"{planted.relative_to(ROOT)}:{line} url"]
