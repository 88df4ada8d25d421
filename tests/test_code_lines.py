"""tools/code_lines.py on a tiny sample, checked without starting Spark."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "code_lines", Path(__file__).resolve().parents[1] / "tools" / "code_lines.py"
)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

SAMPLE = '''"""Module docstring,
two lines."""

import os  # a trailing comment does not hide code

# a comment line


class A:
    """Class docstring."""

    x = 1


def f(a,
      b):
    """Function docstring
    over three
    lines."""
    s = """not a docstring:
    a string assigned in the body"""
    return (a +
            b)
'''


def test_code_lines_sample():
    # counted: import os; class A:; x = 1; def f(a,; b):; s = """...
    # (2 lines); return (a +; b) -> 9
    assert code_lines.code_lines(SAMPLE) == 9


def test_code_lines_empty_and_docstring_only():
    assert code_lines.code_lines("") == 0
    assert code_lines.code_lines('"""Only a docstring."""\n') == 0
