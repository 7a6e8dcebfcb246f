#!/usr/bin/env python
"""Count code lines: lines that carry a token other than a comment,
a docstring or whitespace.

Usage: python tools/code_lines.py [path ...]

Each path is a ``.py`` file or a directory searched recursively
(default: the ``torcdb_spark`` package). Prints one line per file,
``<code lines>  <path>``, sorted by path, then the total. A docstring
is the first statement of a module, class or function when that
statement is a string literal; every line it spans is dropped. A line
that holds code and a trailing comment counts once.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


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


def code_lines(source: str) -> int:
    """Number of code lines in one module's source text."""
    doc = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(root, n) for n in names if n.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(repo, "torcdb_spark")]
    total = 0
    for path in sorted(f for p in paths for f in _files(p)):
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {os.path.relpath(path)}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
