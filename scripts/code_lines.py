"""Count code lines: non-blank lines outside comments and docstrings.

A line counts when any token other than a comment, a docstring or
layout (newline, indent, dedent) starts, ends or spans it. A docstring
is a string literal that forms a whole statement (the first statement
of a module, class or function, or any other bare string statement).

Usage: python scripts/code_lines.py PATH [PATH ...]

Each path is a ``.py`` file or a directory searched recursively. Prints
one line per file and the total.
"""

from __future__ import annotations

import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.COMMENT, tokenize.NL)
    ]
    lines: set = set()
    for i, tok in enumerate(toks):
        if tok.type in _LAYOUT:
            continue
        if tok.type == tokenize.STRING:
            before = toks[i - 1].type if i else tokenize.NEWLINE
            after = toks[i + 1].type if i + 1 < len(toks) else tokenize.NEWLINE
            statement_start = before in (
                tokenize.NEWLINE,
                tokenize.INDENT,
                tokenize.DEDENT,
            )
            if statement_start and after in (tokenize.NEWLINE, tokenize.ENDMARKER):
                continue  # a docstring
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _files(path: str) -> list:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if f.endswith(".py")
    )


def main(paths: list) -> int:
    if not paths:
        print("usage: python scripts/code_lines.py PATH [PATH ...]", file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        for f in _files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
