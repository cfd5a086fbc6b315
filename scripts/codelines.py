"""Count code lines: lines holding a Python token that is not a comment or
a docstring, so blank lines, comments and docstrings do not count.

Usage: python scripts/codelines.py [PATH ...]   (default: gensor_spark)
Prints one line per path (a .py file or a directory searched recursively)
and a total when given several.
"""

from __future__ import annotations

import ast
import sys
import tokenize
from pathlib import Path

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(path: Path) -> int:
    src = path.read_text(encoding="utf-8")
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def count(root: Path) -> int:
    files = [root] if root.is_file() else sorted(root.rglob("*.py"))
    return sum(code_lines(p) for p in files)


if __name__ == "__main__":
    roots = [Path(a) for a in sys.argv[1:]] or [Path("gensor_spark")]
    totals = [count(r) for r in roots]
    for r, n in zip(roots, totals):
        print(f"{n:>8}  {r}")
    if len(roots) > 1:
        print(f"{sum(totals):>8}  total")
