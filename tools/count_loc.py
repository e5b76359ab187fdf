"""Count code lines under a directory: lines that hold a Python token,
minus blank lines, comment-only lines and module/class/function
docstrings.

    python tools/count_loc.py gcpdatapipelines_spark
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                docs.update(range(first.lineno, first.end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "gcpdatapipelines_spark")
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))
