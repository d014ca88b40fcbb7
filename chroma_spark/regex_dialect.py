"""ChromaRegex-parity regex dialect: parse → HIR, validate, extract literals.

The reference wraps every ``$regex`` pattern in ``ChromaRegex``
(``rust/types/src/regex/mod.rs:11-66``): the pattern is parsed to an HIR at
validation time — unsupported constructs fail the PLAN, never mid-query —
with capture groups flattened to their inner pattern and look-assertions
(anchors, word boundaries) treated as Empty for analysis
(``rust/types/src/regex/hir.rs:28-77``). The HIR then feeds literal
extraction (``rust/types/src/regex/literal_expr.rs``) so the FTS index can
prefilter candidates before the real regex runs.

This module is the Spark twin. The supported dialect is the intersection
of what the reference's regex crate, Java's ``rlike`` and DuckDB/RE2's
``regexp_matches`` agree on, so one validated pattern produces identical
matches in both execution engines and the oracle:

- literals, ``.``, character classes (ranges, negation, ``\\d \\w \\s``
  and friends, ``\\p{...}``), alternation, groups, all quantifiers
  (greedy + lazy), anchors ``^ $ \\A \\z``, word boundaries ``\\b \\B``,
  inline flags limited to ``(?imsU)`` forms.
- REJECTED (``WhereError`` at validation): lookahead/lookbehind,
  backreferences, named groups / named backrefs, conditionals, atomic
  groups and possessive quantifiers — none exist in RE2, so they can never
  run on the oracle side (the reference's parser rejects them too).

``required_literals`` mirrors literal_expr's idea one level up: maximal
literal runs every match must contain (AND semantics; alternation and
optional repetitions contribute nothing). The where compiler turns them
into ``contains()`` prefilters in front of ``rlike`` — substring checks
are orders of magnitude cheaper than regex automata on a 100 TB scan, and
semantically redundant, so both engines stay value-identical.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class RegexDialectError(ValueError):
    """Pattern is invalid or outside the supported dialect."""


# --- HIR nodes (ChromaHir analog: Empty / Literal / Class / Repetition /
# Concat / Alternation; captures are flattened away at parse time) ---


@dataclass
class Empty:
    pass


@dataclass
class Lit:
    text: str


@dataclass
class Cls:
    # contents are opaque — classes never contribute required literals
    source: str


@dataclass
class Rep:
    min: int
    max: int | None
    sub: "Node"


@dataclass
class Cat:
    parts: list = field(default_factory=list)


@dataclass
class Alt:
    parts: list = field(default_factory=list)


Node = Empty | Lit | Cls | Rep | Cat | Alt

_QUANTIFIABLE = (Lit, Cls, Rep, Cat, Alt)
_CLASS_ESCAPES = set("dDwWsS")
# \v is a single U+000B in RE2/Python but the vertical-whitespace CLASS in
# Java 8+, and \e is absent from Python re — both rejected, not mapped
_CHAR_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "f": "\f", "a": "\a"}
_LOOK_ESCAPES = set("bBAz")  # valid in Java + RE2 + the reference's crate


class _Parser:
    def __init__(self, pattern: str):
        self.p = pattern
        self.i = 0
        self.flags: set[str] = set()

    def error(self, msg: str) -> RegexDialectError:
        return RegexDialectError(f"{msg} at position {self.i} in {self.p!r}")

    def peek(self) -> str | None:
        return self.p[self.i] if self.i < len(self.p) else None

    def take(self) -> str:
        c = self.p[self.i]
        self.i += 1
        return c

    # alternation := concat ('|' concat)*
    def parse_alternation(self) -> Node:
        parts = [self.parse_concat()]
        while self.peek() == "|":
            self.take()
            parts.append(self.parse_concat())
        return parts[0] if len(parts) == 1 else Alt(parts)

    def parse_concat(self) -> Node:
        parts: list[Node] = []
        while (c := self.peek()) is not None and c not in "|)":
            node = self.parse_quantified()
            if isinstance(node, Empty):
                continue
            # merge adjacent literal runs (hir.rs flattens them the same way)
            if isinstance(node, Lit) and parts and isinstance(parts[-1], Lit):
                parts[-1] = Lit(parts[-1].text + node.text)
            else:
                parts.append(node)
        if not parts:
            return Empty()
        return parts[0] if len(parts) == 1 else Cat(parts)

    def parse_quantified(self) -> Node:
        atom = self.parse_atom()
        while (c := self.peek()) is not None and (
            c in "*+?" or (c == "{" and self._quantifier_ahead())
        ):
            if isinstance(atom, Empty):
                raise self.error("quantifier with nothing to repeat")
            if c in "*+?":
                self.take()
                lo, hi = {"*": (0, None), "+": (1, None), "?": (0, 1)}[c]
            else:
                lo, hi = self._parse_brace_quantifier()
            if self.peek() == "+":
                raise self.error("possessive quantifiers are outside the supported dialect")
            if self.peek() == "?":
                self.take()  # lazy — same match SET, only leftmost semantics differ
            # NOTE: bare literal runs reach here one char at a time (merging
            # happens in parse_concat AFTER quantification), so a multi-char
            # Lit can only be a flattened group — the quantifier correctly
            # binds the whole literal: (abcd)+ requires "abcd", abcd+ binds
            # only the final "d".
            atom = Rep(lo, hi, atom)
        return atom

    def _quantifier_ahead(self) -> bool:
        import re as _re

        return _re.match(r"\{\d+(,\d*)?\}", self.p[self.i :]) is not None

    def _parse_brace_quantifier(self) -> tuple[int, int | None]:
        import re as _re

        m = _re.match(r"\{(\d+)(?:(,)(\d*))?\}", self.p[self.i :])
        assert m is not None
        self.i += m.end()
        lo = int(m.group(1))
        hi = None if m.group(2) and not m.group(3) else int(m.group(3) or lo)
        if hi is not None and hi < lo:
            raise self.error(f"bad repetition range {{{lo},{hi}}}")
        return lo, hi

    def parse_atom(self) -> Node:
        c = self.peek()
        if c == "(":
            return self._parse_group()
        if c == "[":
            return self._parse_class()
        if c == ".":
            self.take()
            return Cls(".")
        if c in "^$":
            self.take()
            return Empty()  # Look -> Empty (hir.rs:32)
        if c == "\\":
            return self._parse_escape()
        if c in "*+?":
            raise self.error("quantifier with nothing to repeat")
        if c == "{":
            # not a well-formed quantifier (parse_quantified handles those):
            # RE2/Python treat a stray '{' as a literal, Java throws
            # 'Illegal repetition' at compile time — reject at validation
            raise self.error("literal '{' must be escaped (Java rejects stray braces)")
        return Lit(self.take())

    def _parse_group(self) -> Node:
        self.take()  # '('
        if self.peek() == "?":
            self.take()
            c = self.peek()
            if c == ":":
                self.take()
                inner = self.parse_alternation()
                self._expect_close()
                return inner
            if c in ("=", "!"):
                raise self.error("lookahead is outside the supported dialect (not in RE2)")
            if c == "<":
                raise self.error(
                    "lookbehind / named groups are outside the supported dialect"
                )
            if c == "P":
                raise self.error("named groups are outside the supported dialect")
            if c == ">":
                raise self.error("atomic groups are outside the supported dialect")
            if c == "(":
                raise self.error("conditionals are outside the supported dialect")
            # inline flags: (?ims) or (?ims:...) — the flags whose meaning
            # Java, RE2 AND Python's re agree on ((?U) means Unicode-case in
            # Java but ungreedy in RE2 — rejected)
            flags = ""
            while (f := self.peek()) is not None and f in "ims":
                flags += self.take()
            self.flags.update(flags)
            if self.peek() == ":":
                self.take()
                inner = self.parse_alternation()
                self._expect_close()
                return inner
            if self.peek() == ")" and flags:
                self.take()
                return Empty()
            raise self.error("unsupported group syntax")
        inner = self.parse_alternation()  # plain capture -> flattened (hir.rs:52)
        self._expect_close()
        return inner

    def _expect_close(self) -> None:
        if self.peek() != ")":
            raise self.error("unclosed group")
        self.take()

    def _parse_class(self) -> Node:
        start = self.i
        self.take()  # '['
        if self.peek() == "^":
            self.take()
        if self.peek() == "]":
            self.take()  # first ']' is a literal member
        while (c := self.peek()) is not None and c != "]":
            if c == "\\":
                self.take()
                e = self.peek()
                if e is None:
                    raise self.error("dangling escape in character class")
                # class-internal escapes restricted to the three-engine set:
                # perl classes, the shared control chars, \xHH, and escaped
                # punctuation; \uXXXX / \v / \e / \p / octal diverge
                if e.isalnum() and e not in "dDwWsSntrfax":
                    raise self.error(
                        f"escape \\{e} inside a character class is outside the supported dialect"
                    )
                self.take()
                if e == "x":
                    import re as _re

                    if _re.match(r"[0-9a-fA-F]{2}", self.p[self.i :]) is None:
                        raise self.error(r"\x needs two hex digits")
                    self.i += 2
            elif c == "[" and self.p[self.i : self.i + 2] == "[:":
                raise self.error("POSIX class names are outside the supported dialect")
            elif c == "&" and self.p[self.i : self.i + 2] == "&&":
                # Java: class intersection; RE2/Python: two literal '&'s
                raise self.error("class intersection '&&' is outside the supported dialect")
            else:
                self.take()
        if self.peek() != "]":
            raise self.error("unclosed character class")
        self.take()
        return Cls(self.p[start : self.i])

    def _parse_escape(self) -> Node:
        self.take()  # '\\'
        c = self.peek()
        if c is None:
            raise self.error("dangling escape")
        if c.isdigit():
            raise self.error(
                "backreferences / octal escapes are outside the supported dialect"
            )
        self.take()
        if c in _CLASS_ESCAPES:
            return Cls(f"\\{c}")
        if c in _LOOK_ESCAPES:
            return Empty()
        if c == "Z":
            raise self.error(r"\Z is outside the supported dialect (absent from RE2)")
        if c in ("p", "P"):
            # \p{...} exists in Java/RE2/the reference but NOT in Python's
            # re — validate_regex compiles with re, and the pure-Python
            # twin (validate_payloads, the test models) must be able to
            # evaluate every validated pattern
            raise self.error(r"\p{...} classes are outside the supported dialect")
        if c == "k":
            raise self.error("named backreferences are outside the supported dialect")
        if c in _CHAR_ESCAPES:
            return Lit(_CHAR_ESCAPES[c])
        if c == "x":
            import re as _re

            m = _re.match(r"[0-9a-fA-F]{2}", self.p[self.i :])
            if m is None:
                raise self.error(r"\x needs two hex digits")
            self.i += 2
            return Lit(chr(int(m.group(0), 16)))
        if c == "u":
            # \uXXXX exists in Java and Python but NOT in RE2 (which only
            # has \x{...}) — a validated pattern would crash the oracle
            raise self.error(r"\uXXXX escapes are outside the supported dialect (absent from RE2)")
        if c.isalpha():
            raise self.error(f"unknown escape \\{c}")
        return Lit(c)  # escaped metachar -> literal


def parse(pattern: str) -> Node:
    """Parse ``pattern`` into the supported-dialect HIR; raises
    :class:`RegexDialectError` on anything outside it."""
    return _parse(pattern)[0]


def _parse(pattern: str) -> tuple[Node, set[str]]:
    if not isinstance(pattern, str) or pattern == "":
        raise RegexDialectError("pattern must be a non-empty string")
    p = _Parser(pattern)
    node = p.parse_alternation()
    if p.i != len(pattern):
        raise p.error("unbalanced ')'")
    return node, p.flags


def prefilter_literals(pattern: str, min_len: int = 3) -> list[str]:
    """Required literals safe to use as ``contains`` guards for this
    pattern — empty when an inline ``(?i)`` makes exact-substring
    implication unsound."""
    node, flags = _parse(pattern)
    if "i" in flags:
        return []
    return required_literals(node, min_len=min_len)


def required_literals(node: Node, min_len: int = 3) -> list[str]:
    """Literal substrings EVERY match must contain (literal_expr.rs one
    level up): maximal literal runs outside alternations and optional
    repetitions. Runs shorter than ``min_len`` prune too little to pay for
    their scan predicate (the reference's trigram N=3 bar)."""

    def walk(n: Node) -> list[str]:
        if isinstance(n, Lit):
            return [n.text]
        if isinstance(n, Rep):
            return walk(n.sub) if n.min >= 1 else []
        if isinstance(n, Cat):
            out: list[str] = []
            for part in n.parts:
                out.extend(walk(part))
            return out
        return []  # Empty / Cls / Alt contribute nothing

    seen: set[str] = set()
    out = []
    for lit in walk(node):
        if len(lit) >= min_len and lit not in seen:
            seen.add(lit)
            out.append(lit)
    return out
