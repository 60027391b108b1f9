"""Count code lines in Python files: lines that carry at least one
token other than a comment, and are not part of a docstring.

    python tools/code_lines.py replicator_spark [more paths...]

Prints one ``<lines> <file>`` row per file and a ``<lines> total`` row.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(src: str) -> int:
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(paths: list[str]) -> None:
    total = 0
    for root in paths:
        p = pathlib.Path(root)
        for f in sorted(p.rglob("*.py") if p.is_dir() else [p]):
            n = code_lines(f.read_text())
            total += n
            print(n, f)
    print(total, "total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["replicator_spark"])
