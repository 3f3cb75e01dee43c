"""Every top-level name in the package is used somewhere.

Walks the top-level functions, classes and assignments of each module in
``kgcompass_spark/`` and fails on any non-dunder name that no other line of
the package, ``__spark_entry__.py``, the bench, ``perfbench/``, ``scripts/`` or
``tests/`` mentions (word-boundary text match, so a docstring or comment
mention counts). Lines inside the name's own definition do not count.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "kgcompass_spark"
SEARCHED = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "bench.py",
            ROOT / "perfbench", ROOT / "scripts", ROOT / "tests"]
_WORD = re.compile(r"\w+")


def _sources() -> dict[Path, list[str]]:
    files = []
    for p in SEARCHED:
        files += [p] if p.is_file() else sorted(p.rglob("*"))
    return {f: f.read_text().splitlines() for f in files
            if f.suffix in (".py", ".sh")}


def _top_level_defs(tree: ast.Module):
    """(name, first line, last line) of each top-level def/class/assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, (ast.Attribute, ast.Subscript)):
                    continue  # mutates an existing object, binds no name
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno


def test_no_unreferenced_top_level_names():
    # a word-boundary match of an identifier is exactly a maximal \w+ run
    # equal to it, so counting runs per line answers every name at once
    sources = _sources()
    words = {f: [Counter(_WORD.findall(line)) for line in lines]
             for f, lines in sources.items()}
    total = Counter()
    for per_line in words.values():
        for c in per_line:
            total.update(c)
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse("\n".join(sources[path]))
        for name, first, last in _top_level_defs(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            own = sum(c[name] for c in words[path][first - 1:last])
            if total[name] == own:
                dead.append(f"{path.relative_to(ROOT)}:{first} {name}")
    assert not dead, "unreferenced top-level names:\n" + "\n".join(dead)
