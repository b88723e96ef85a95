"""Trusted golden-output parser for N-Triples / N-Quads 1.2.

Port of the reference's test oracle ``parseNTriples12`` + ``NT12LineParser``
(/root/reference/src/helpers.ts:169-343). Used to

* load golden ``.nt`` / ``.nq`` fixture files into quad tuples for the
  P/R parity harness, and
* re-parse the canonical triple-term strings produced by
  :func:`..terms.serialize_term` (round-trip for the flat Spark schema).

Like the reference oracle it is line-based, skips comments and VERSION
directives, and supports triple terms ``<<( s p o )>>``.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .terms import Term

_VERSION = re.compile(r"^VERSION\s+", re.I)
_BNODE_CHAR = re.compile(r"[a-zA-Z0-9_.\-]")


class _LineParser:
    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def peek(self) -> Optional[str]:
        return self.text[self.pos] if self.pos < len(self.text) else None

    def advance(self) -> str:
        ch = self.text[self.pos]
        self.pos += 1
        return ch

    def skip_ws(self) -> None:
        while self.pos < len(self.text) and self.text[self.pos].isspace():
            self.pos += 1

    def parse_term(self) -> Term:
        self.skip_ws()
        ch = self.peek()
        if ch == "<":
            if self.text[self.pos : self.pos + 3] == "<<(":
                return self.parse_triple_term()
            return self.parse_iri()
        if ch == "_":
            return self.parse_bnode()
        if ch == '"':
            return self.parse_literal()
        if ch == "?":  # extension: serialized N3 quickVar
            self.advance()
            start = self.pos
            while self.pos < len(self.text) and not self.text[self.pos].isspace():
                self.pos += 1
            return ("var", self.text[start : self.pos])
        raise ValueError(f"unexpected character {ch!r} at {self.pos} in: {self.text}")

    def parse_iri(self) -> Term:
        assert self.advance() == "<"
        start = self.pos
        while self.peek() != ">":
            if self.peek() is None:
                raise ValueError(f"unterminated IRI in: {self.text}")
            self.advance()
        iri = self.text[start : self.pos]
        self.advance()
        return ("iri", iri)

    def parse_bnode(self) -> Term:
        self.advance()  # _
        self.advance()  # :
        start = self.pos
        while self.pos < len(self.text) and _BNODE_CHAR.match(self.text[self.pos]):
            self.pos += 1
        return ("bnode", self.text[start : self.pos])

    def parse_literal(self) -> Term:
        self.advance()  # opening "
        out: list[str] = []
        while self.peek() != '"':
            if self.peek() is None:
                raise ValueError(f"unterminated literal in: {self.text}")
            ch = self.advance()
            if ch == "\\":
                esc = self.advance()
                if esc == "n":
                    out.append("\n")
                elif esc == "r":
                    out.append("\r")
                elif esc == "t":
                    out.append("\t")
                elif esc == "b":
                    out.append("\b")
                elif esc == "f":
                    out.append("\f")
                elif esc == "\\":
                    out.append("\\")
                elif esc == '"':
                    out.append('"')
                elif esc == "u":
                    hexs = self.text[self.pos : self.pos + 4]
                    self.pos += 4
                    out.append(chr(int(hexs, 16)))
                elif esc == "U":
                    hexs = self.text[self.pos : self.pos + 8]
                    self.pos += 8
                    out.append(chr(int(hexs, 16)))
                else:
                    out.append(esc)
            else:
                out.append(ch)
        self.advance()  # closing "
        value = "".join(out)

        if self.peek() == "@":
            self.advance()
            start = self.pos
            while self.pos < len(self.text) and re.match(r"[a-zA-Z0-9\-]", self.text[self.pos]):
                self.pos += 1
            return ("literal", value, self.text[start : self.pos], None)
        if self.text[self.pos : self.pos + 2] == "^^":
            self.pos += 2
            dt = self.parse_iri()
            return ("literal", value, None, dt[1])
        return ("literal", value, None, None)

    def parse_triple_term(self) -> Term:
        self.pos += 3  # <<(
        self.skip_ws()
        s = self.parse_term()
        self.skip_ws()
        p = self.parse_term()
        self.skip_ws()
        o = self.parse_term()
        self.skip_ws()
        if self.text[self.pos : self.pos + 3] != ")>>":
            raise ValueError(f"expected )>> at {self.pos} in: {self.text}")
        self.pos += 3
        return ("tripleterm", (s, p, o))


def parse_nt12(text: str) -> List[Tuple[Term, Term, Term, Optional[Term]]]:
    """Parse NT/NQ 1.2 content into quads — helpers.ts:169-203."""
    quads = []
    for line in text.split("\n"):
        trimmed = line.strip()
        if not trimmed or trimmed.startswith("#"):
            continue
        if _VERSION.match(trimmed):
            continue
        p = _LineParser(trimmed)
        s = p.parse_term()
        p.skip_ws()
        pred = p.parse_term()
        p.skip_ws()
        o = p.parse_term()
        p.skip_ws()
        g: Optional[Term] = None
        if p.peek() is not None and p.peek() != ".":
            g = p.parse_term()
            p.skip_ws()
        if p.peek() == ".":
            p.advance()
        quads.append((s, pred, o, g))
    return quads


def parse_term_string(text: str) -> Term:
    """Parse a single canonical term string (inverse of serialize_term)."""
    return _LineParser(text).parse_term()
