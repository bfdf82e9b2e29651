#!/usr/bin/env python
"""Count the code lines of Python files: lines that are not blank, not
comments and not docstrings.

A line counts when any token other than a comment, newline or indent
touches it, and it is not inside a module, class or function docstring
(found with ``ast``). Directories are walked for ``*.py`` files. One
line per file, then the total:

    python scripts/count_code_lines.py fourmc_spark/operators/text.py
    python scripts/count_code_lines.py fourmc_spark
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER)
_DOC_OWNERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
               ast.ClassDef)


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            doc.update(range(first.lineno, first.end_lineno + 1))
    code = {
        line
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in _SKIP
        for line in range(t.start[0], t.end[0] + 1)
    }
    return len(code - doc)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                out += [os.path.join(root, n) for n in sorted(names)
                        if n.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in _files(argv):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
