"""Count the code lines of the engine: the lines spanned by any token other
than comments, newlines and indentation, minus module, class and function
docstring lines, over ``mindocr_spark/`` and ``jobs/``.

Usage: python tools/code_lines.py [--per-file] [root]

``root`` is the repository checkout to count (default: the current
directory). Prints the total; ``--per-file`` first prints one
``<lines> <path>`` row per file.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize

DIRS = ("mindocr_spark", "jobs")
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=".")
    ap.add_argument("--per-file", action="store_true")
    args = ap.parse_args()
    total = 0
    for d in DIRS:
        for dirpath, dirnames, filenames in os.walk(os.path.join(args.root, d)):
            dirnames.sort()
            for name in sorted(filenames):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    n = code_lines(f.read())
                if args.per_file:
                    print(n, os.path.relpath(path, args.root))
                total += n
    print(total)


if __name__ == "__main__":
    main()
