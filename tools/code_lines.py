"""Count code lines of Python sources: lines that are not blank, not
comment-only and not part of a docstring (module, class or function).
A line counts once however many tokens it holds; a statement spread
over several lines counts every line it spans.  Prints one row per
file, a subtotal per directory and a grand total.  Usage:

    python tools/code_lines.py flox_spark/operators flox_spark/streaming
    python tools/code_lines.py flox_spark --dirs-only
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def code_lines(path: str) -> int:
    with open(path, "rb") as fh:
        src = fh.read()
    rows: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _NOT_CODE:
            rows.update(range(tok.start[0], tok.end[0] + 1))
    return len(rows - _docstring_lines(ast.parse(src)))


def _py_files(root: str) -> list[str]:
    if os.path.isfile(root):
        return [root]
    out = []
    for d, subdirs, files in os.walk(root):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    dirs_only = "--dirs-only" in argv
    roots = [a for a in argv if not a.startswith("--")] or ["flox_spark"]
    total = 0
    for root in roots:
        per_dir: dict[str, int] = {}
        for f in _py_files(root):
            n = code_lines(f)
            per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + n
            if not dirs_only:
                print(f"{n:7d}  {f}")
        for d, n in per_dir.items():
            print(f"{n:7d}  {d}/ (directory)")
        total += sum(per_dir.values())
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
