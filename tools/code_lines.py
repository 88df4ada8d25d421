"""Count the code lines of Python sources.

A code line is a line covered by a ``tokenize`` token other than COMMENT,
NL, NEWLINE, INDENT, DEDENT (and the ENDMARKER past the last line), and
not part of a docstring: the first-statement string constant of a module,
class or function body, found with ``ast``. Blank lines, comments and
docstrings therefore never count; a multi-line expression counts every
line it spans.

Usage: python tools/code_lines.py [path ...]

Each path is a ``.py`` file or a directory searched for ``*.py``
(default: the package). Prints ``<count> <file>`` per file, then
``<total> TOTAL``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "flink_realtime_datawarehouse_v3_spark"
NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
BODIES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(source: str) -> int:
    """Number of code lines in ``source`` (see the module docstring)."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, BODIES) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.difference_update(range(first.lineno, first.end_lineno + 1))
    return len(lines)


def main(argv: list[str]) -> None:
    files = []
    for arg in argv or [str(PACKAGE)]:
        p = Path(arg)
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(n, f)
    print(total, "TOTAL")


if __name__ == "__main__":
    main(sys.argv[1:])
