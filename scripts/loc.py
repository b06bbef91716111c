#!/usr/bin/env python
"""Count non-test source lines: every line that holds code, leaving out
blank lines, comment-only lines and docstrings.

    python scripts/loc.py urbanistic_polygons_spark/ scripts/

Prints one ``<lines> <root>`` line per root (a file, or the ``.py`` files
under a directory, recursively) and a total when given more than one
root.  A line counts once however many tokens it holds; a multi-line
string that is not a docstring counts every line it spans.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: Path) -> int:
    """Code lines of one Python file."""
    src = path.read_text()
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def main(roots: list[str]) -> None:
    total = 0
    for root in roots:
        r = Path(root)
        files = [r] if r.is_file() else sorted(r.rglob("*.py"))
        n = sum(count(p) for p in files)
        total += n
        print(n, root)
    if len(roots) > 1:
        print(total, "total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["urbanistic_polygons_spark"])
