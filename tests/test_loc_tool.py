"""tools/loc.py counts code lines only: docstrings, comments and blank
lines never move the count, so a line-count target cannot be met by
deleting or reflowing them."""

from __future__ import annotations

import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_loc():
    spec = importlib.util.spec_from_file_location("loc_tool_test", os.path.join(_REPO, "tools", "loc.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


code_lines = _load_loc().code_lines

SNIPPET = '''"""Module docstring."""

import os  # a trailing comment leaves its line counted


def f(x):
    """A docstring
    over two lines."""
    # a comment line
    return os.path.join(x,
                        "y")
'''


def test_counts_code_lines_only():
    # import, def, and the two lines of the return statement
    assert code_lines(SNIPPET) == 4


def test_comments_docstrings_and_blanks_do_not_move_the_count():
    stripped = "import os\ndef f(x):\n    return os.path.join(x,\n                        'y')\n"
    assert code_lines(stripped) == code_lines(SNIPPET)
    # a string that is part of an expression is code, not a docstring
    assert code_lines('x = """a\nb"""\n') == 2
