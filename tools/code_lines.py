"""Count code lines of a Python tree: blank, comment-only and docstring
lines excluded (a line counts when it holds any token of code).

Usage: python tools/code_lines.py [DIR] [-v]
  DIR defaults to sales_data_etl_pipeline_spark; -v lists every file.
Compare two commits by running it in a checkout of each.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def code_lines(src: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first, "value", None), ast.Constant
            ) and isinstance(first.value.value, str):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "-v"]
    root = pathlib.Path(args[0] if args else "sales_data_etl_pipeline_spark")
    total = 0
    for path in sorted(root.rglob("*.py")):
        n = code_lines(path.read_text())
        total += n
        if "-v" in sys.argv:
            print(n, path)
    print("TOTAL", total)


if __name__ == "__main__":
    main()
