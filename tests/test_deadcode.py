"""Every top-level function and class of the package is used somewhere.

A name counts as used when it appears, as a whole word, in some ``.py``
file of the repo outside its own definition: the package,
``__spark_entry__.py``, ``bench*.py``, ``scripts/``, ``perfbench/`` or
``tests/``. Dunder names are exempt. A name that fails here is code that
nothing runs: delete it rather than exempt it.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "geotiff_processor_spark"
WORD = re.compile(r"\w+")


def _searched_files():
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    for d in ("scripts", "perfbench", "tests"):
        files += (ROOT / d).rglob("*.py")
    # skip caches and hidden work dirs such as perfbench/.work
    return [f for f in files
            if not any(p == "__pycache__" or p.startswith(".")
                       for p in f.relative_to(ROOT).parts)]


def _definitions(path: Path, lines: list[str]):
    """(name, first line, last line) of each top-level def and class,
    decorators included; line numbers are 1-based and inclusive."""
    for node in ast.parse("".join(lines), filename=str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def test_every_package_function_and_class_is_referenced():
    texts = {f: f.read_text(encoding="utf-8").splitlines(keepends=True)
             for f in _searched_files()}
    # a name is one \w+ run, so its whole-word matches are its word count
    words = Counter(w for lines in texts.values()
                    for w in WORD.findall("".join(lines)))
    unused = []
    for path in sorted(f for f in texts if PACKAGE in f.parents):
        lines = texts[path]
        for name, first, last in _definitions(path, lines):
            if name.startswith("__") and name.endswith("__"):
                continue
            inside = WORD.findall("".join(lines[first - 1:last]))
            if words[name] == inside.count(name):
                unused.append(f"{path.relative_to(ROOT)}:{first} {name}")
    assert not unused, "referenced nowhere: " + ", ".join(unused)
