"""Count code lines per Python file: lines that carry a token other than
a comment or whitespace, minus docstrings and other bare string
statements. Tokenize-based, so a multi-line expression counts every line
it spans.

Usage: python tools/code_lines.py <dir> [top_n]
Prints the top_n largest files (default 10) and the total. Exits non-zero
when <dir> is not a directory or holds no .py file, so a mistyped path
cannot report a total of 0.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            doc.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    root = sys.argv[1]
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    if not os.path.isdir(root):
        sys.exit(f"code_lines: {root!r} is not a directory")
    counts = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    counts[os.path.relpath(path, root)] = code_lines(fh.read())
    if not counts:
        sys.exit(f"code_lines: no .py file under {root!r}")
    for path, n in sorted(counts.items(), key=lambda kv: -kv[1])[:top_n]:
        print(f"{n:7d}  {path}")
    print(f"{sum(counts.values()):7d}  total ({len(counts)} files)")


if __name__ == "__main__":
    main()
