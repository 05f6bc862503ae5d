"""Count code lines: non-blank lines that are neither comments nor
docstrings.

A line counts when it holds at least one token other than a comment,
newline or indentation token (``tokenize``), and it is not inside a
module, class or function docstring (``ast``).

    python tools/code_lines.py vectordb_acc_and_speed_exp_spark/api.py
    python tools/code_lines.py vectordb_acc_and_speed_exp_spark   # a tree

Prints one ``<lines>  <path>`` row per file and a total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(src)))


def _files(target: str):
    if os.path.isfile(target):
        yield target
        return
    for d, _, fs in sorted(os.walk(target)):
        for f in sorted(fs):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def main(argv: list[str]) -> None:
    total = 0
    for target in argv or ["vectordb_acc_and_speed_exp_spark"]:
        for p in _files(target):
            n = code_lines(p)
            total += n
            print(f"{n:6d}  {p}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
