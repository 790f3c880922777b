"""Tokenizer for the declarative ML DSL.

A small regex scanner replacing the reference's Lark lexer
(reference: dsl/parser.py:13-136 defines the grammar's terminals:
CNAME names, signed numbers, JSON-style double-quoted strings, and
SQL-style single-quoted strings with ``''`` escaping). Numbers are
lexed unsigned; sign is handled at parse level so ``a - 1`` and
``epochs=-5`` both work without a contextual lexer.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class DSLSyntaxError(ValueError):
    """Raised for malformed DSL text (lexing or parsing)."""


@dataclass(frozen=True)
class Token:
    kind: str  # NAME | NUMBER | DSTRING | SQSTRING | OP | EOF
    value: str
    pos: int  # character offset into the source text

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Token({self.kind}, {self.value!r}@{self.pos})"


_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<COMMENT>--[^\n]*)
  | (?P<NUMBER>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<DSTRING>"(?:\\.|[^"\\])*")
  | (?P<SQSTRING>'(?:''|[^'])*')
  | (?P<NAME>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>\|\|?|!=?|<>|<=|>=|=>|[.,()\[\]{}:=<>+\-*/%;&~])
    """,
    re.VERBOSE,
)


def tokenize(text: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    n = len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise DSLSyntaxError(
                f"Unexpected character {text[pos]!r} at position {pos}"
            )
        kind = m.lastgroup or ""
        if kind == "NUMBER" and m.end() < n and text[m.end()] in "eE":
            # a dangling exponent ('1e', '2.5E+') would otherwise
            # split into NUMBER + NAME and surface as a confusing
            # downstream parse error — or pass unflagged through
            # raw-slice captures. (Adjacent NON-exponent letters stay
            # legal: the COMPUTE grammar's size suffixes lex as
            # NUMBER '64' + NAME 'K'.) The NUMBER regex already
            # consumed any VALID exponent, so e/E here is malformed.
            raise DSLSyntaxError(
                f"Malformed number {text[pos:m.end() + 1]!r} at"
                f" position {pos}"
            )
        if kind not in ("WS", "COMMENT"):
            # SQL `--`-to-end-of-line comments skip like whitespace
            # (ADJACENT dashes only: `a - -1` still lexes as two ops)
            tokens.append(Token(kind, m.group(), pos))
        pos = m.end()
    tokens.append(Token("EOF", "", n))
    return tokens
