"""Count code lines: lines holding a token that is not a comment, a blank
or a docstring. A docstring here is any statement that is a string literal
alone, so deleting comments or reflowing docstrings cannot move the count.

Usage: python tools/loc.py FILE [FILE ...]   (prints one count per file and a total)
"""

from __future__ import annotations

import io
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    rows: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            if not (len(stmt) == 1 and stmt[0].type == tokenize.STRING):
                for t in stmt:
                    rows.update(range(t.start[0], t.end[0] + 1))
            stmt = []
        elif tok.type not in _SKIP:
            stmt.append(tok)
    return len(rows)


def main(paths: list[str]) -> int:
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
