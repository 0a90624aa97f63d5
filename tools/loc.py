#!/usr/bin/env python
"""Count code lines per Python file and in total:

    python tools/loc.py [PATH ...]

PATH is a file or a directory (searched for ``*.py``); the default is
the ``b3_analytics_engine_spark`` package. A code line is a line that
holds at least one token other than a comment, and that is not part of
a module, class or function docstring. Blank lines, comment-only
lines and docstring lines do not count.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "b3_analytics_engine_spark")

_NON_CODE = {
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
    """Number of code lines in ``source`` (see the module docstring)."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                out.extend(os.path.join(d, n) for n in names if n.endswith(".py"))
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str] | None = None) -> int:
    paths = (sys.argv[1:] if argv is None else argv) or [PACKAGE]
    total = 0
    for f in _files(paths):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {os.path.relpath(f)}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
