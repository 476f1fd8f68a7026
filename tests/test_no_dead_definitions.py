"""Every top-level definition in the package is referenced somewhere.

A function, class or module-level assignment that no Python file of
the package, ``tests/``, ``benchmark/`` or the root scripts mentions
outside its own definition is dead code.
Decorated definitions are exempt (``@register`` and friends reach them
through a registry), as are dunder names.  A mention is any whole-word
occurrence in code: comments and docstrings are blanked out first, so
prose naming a function does not keep it alive, while every other
string literal stays, so names looked up by string (``getattr``,
``mock.patch``) count too.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "universal_pdf_extractor_spark"


def _scanned_files() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
             *(ROOT / "benchmark").rglob("*.py"), *ROOT.glob("*.py")]
    return sorted(set(files))


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each undecorated top-level
    function/class and each name bound by a top-level assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield name.id, node.lineno, node.end_lineno


def _code_only(source: str) -> str:
    """``source`` with every comment and docstring replaced by spaces;
    line and column positions are unchanged."""
    rows = source.split("\n")
    spans = [(tok.start, tok.end)
             for tok in tokenize.generate_tokens(io.StringIO(source).readline)
             if tok.type == tokenize.COMMENT]

    def char_col(row: int, byte_col: int) -> int:
        # the AST counts columns in UTF-8 bytes, tokenize in characters
        return len(rows[row - 1].encode()[:byte_col].decode())

    docstring_owners = (ast.Module, ast.ClassDef, ast.FunctionDef,
                        ast.AsyncFunctionDef)
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, docstring_owners)
                and ast.get_docstring(node, clean=False) is not None):
            doc = node.body[0]
            spans.append(((doc.lineno, char_col(doc.lineno, doc.col_offset)),
                          (doc.end_lineno,
                           char_col(doc.end_lineno, doc.end_col_offset))))
    for (r0, c0), (r1, c1) in spans:
        for r in range(r0, r1 + 1):
            row = rows[r - 1]
            lo = c0 if r == r0 else 0
            hi = c1 if r == r1 else len(row)
            rows[r - 1] = row[:lo] + " " * (hi - lo) + row[hi:]
    return "\n".join(rows)


def _word_index(sources: dict[Path, str]) -> dict[str, set[tuple[Path, int]]]:
    """word -> every (file, line) it occurs on in code."""
    index: dict[str, set[tuple[Path, int]]] = {}
    for path, text in sources.items():
        for lineno, line in enumerate(_code_only(text).split("\n"), start=1):
            for word in re.findall(r"\w+", line):
                index.setdefault(word, set()).add((path, lineno))
    return index


def test_no_unreferenced_top_level_definitions():
    sources = {p: p.read_text() for p in _scanned_files()}
    index = _word_index(sources)
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(sources[path], filename=str(path))
        for name, first, last in _definitions(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if all(p == path and first <= n <= last for p, n in index[name]):
                dead.append(f"{path.relative_to(ROOT)}:{first} {name}")
    assert not dead, "definitions nothing references:\n" + "\n".join(dead)
