#!/usr/bin/env python3
"""Count code lines of Python files: lines that hold at least one token
other than a comment, a docstring, or whitespace.

A line is counted once however many tokens it holds; a multi-line
string that is not a docstring counts every line it spans.  Docstrings
are the leading string-literal statements of a module, class or
function body (``ast``).

Usage:
    python3 scripts/count_code_lines.py FILE...

Prints ``<count> <file>`` per file and, for more than one file, a
``<count> total`` line.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src, path))
    code: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _SKIP:
                continue
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        n = count_code_lines(path)
        total += n
        print(f"{n} {path}")
    if len(argv) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
