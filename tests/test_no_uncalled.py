"""No uncalled code in the package.

Every top-level function, class and UPPER_CASE constant of
`spatial4n_spark/` must be named somewhere outside its own definition:
in the package, the tests, `scripts/`, `perfbench/` or the entry
scripts. A definition nothing names is dead weight; it is either given
a caller or a test, or deleted.
"""
import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "spatial4n_spark"
READERS = ([p for d in ("spatial4n_spark", "tests", "scripts", "perfbench")
            for p in sorted((ROOT / d).rglob("*.py"))]
           + [ROOT / f for f in ("bench.py", "bench_scaling.py",
                                 "__spark_entry__.py")])


def _definitions(tree):
    """(name, first line, last line) of each top-level function, class
    and UPPER_CASE constant of a module."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                if isinstance(t, ast.Name) and t.id.isupper():
                    yield t.id, node.lineno, node.end_lineno


def test_every_package_definition_is_named_elsewhere():
    texts = {p: p.read_text() for p in READERS if p.exists()}
    uncalled = []
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines()
        for name, first, last in _definitions(ast.parse(texts[path])):
            word = re.compile(r"\b%s\b" % re.escape(name))
            outside = "\n".join(lines[:first - 1] + lines[last:])
            if not (word.search(outside) or any(
                    word.search(t) for p, t in texts.items() if p != path)):
                uncalled.append(f"{path.relative_to(ROOT)}:{first} {name}")
    assert not uncalled, "named nowhere else:\n" + "\n".join(uncalled)
