"""A minimal SQL predicate parser for manifest-level file skipping.

``read_where`` historically took a conjunction of ``(col, op, val)``
triples; real scan predicates are expression TREES (Iceberg binds an
expression, Delta/Spark push a Catalyst tree). This module parses the
supported SQL subset into an And/Or/leaf AST that plans/pruning.py evaluates
compositionally against per-file manifest stats:

    AND  — a file is excluded if ANY child proves exclusion
    OR   — a file is excluded only if EVERY child proves exclusion
    leaf — col <op> literal, col IS [NOT] NULL, col IN (...),
           col BETWEEN a AND b   (expanded to >= AND <=)

``IN`` lists prune through the same per-leaf path as ``=`` so they
hit the equality index (exact set / bloom); unsupported constructs
(NOT, functions, column-to-column compares, !=) raise ParseError —
the caller falls back to a plain filtered scan, never to wrong
pruning. Evaluation is three-valued-logic safe by construction:
leaves only return "excluded" when stats PROVE no row matches, and
unknown always evaluates to "keep".

Grammar (case-insensitive keywords):

    expr     := term (OR term)*
    term     := factor (AND factor)*
    factor   := '(' expr ')' | predicate
    predicate:= ident op literal
               | ident IS [NOT] NULL
               | ident IN '(' literal (',' literal)* ')'
               | ident BETWEEN literal AND literal
    op       := '=' | '==' | '<' | '<=' | '>' | '>='
    literal  := number | 'single-quoted string' | TRUE | FALSE
               | TIMESTAMP '...' | DATE '...'   (kept as TypedLiteral)
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class ParseError(ValueError):
    pass


@dataclass
class Pred:
    col: str
    op: str  # one of =, <, <=, >, >=, is_null, is_not_null
    val: object = None


@dataclass(frozen=True)
class TypedLiteral:
    """An ANSI ``TIMESTAMP '...'``/``DATE '...'`` literal, kept as
    written: pruning (plans/pruning.py) reads the body into its typed
    value, and the row filter applies the literal as Spark reads it."""

    kind: str  # TIMESTAMP | DATE
    text: str


@dataclass
class And:
    children: list


@dataclass
class Or:
    children: list


_TOKEN = re.compile(
    r"""\s*(?:
        (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<str>'(?:[^']|'')*')
      | (?P<op><=|>=|==|=|<|>|\(|\)|,)
      | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "IS", "NULL", "IN", "BETWEEN", "TRUE", "FALSE"}


def _tokenize(s: str) -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if m is None:
            rest = s[pos:].strip()
            if not rest:
                break
            raise ParseError(f"unsupported token at: {rest[:30]!r}")
        pos = m.end()
        if m.lastgroup == "num":
            t = m.group("num")
            out.append(("lit", float(t) if ("." in t or "e" in t or "E" in t) else int(t)))
        elif m.lastgroup == "str":
            out.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.lastgroup == "op":
            out.append(("op", m.group("op")))
        else:
            w = m.group("word")
            up = w.upper()
            if up in _KEYWORDS:
                out.append(("kw", up))
            else:
                out.append(("ident", w))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, object]]):
        self.toks = tokens
        self.i = 0

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, kind, value=None):
        k, v = self._next()
        if k != kind or (value is not None and v != value):
            raise ParseError(f"expected {value or kind}, got {v!r}")
        return v

    def parse(self):
        node = self._expr()
        if self.i != len(self.toks):
            raise ParseError(f"trailing input at {self.toks[self.i]!r}")
        return node

    def _expr(self):
        parts = [self._term()]
        while self._peek() == ("kw", "OR"):
            self._next()
            parts.append(self._term())
        return parts[0] if len(parts) == 1 else Or(parts)

    def _term(self):
        parts = [self._factor()]
        while self._peek() == ("kw", "AND"):
            self._next()
            parts.append(self._factor())
        return parts[0] if len(parts) == 1 else And(parts)

    def _factor(self):
        k, v = self._peek()
        if (k, v) == ("op", "("):
            self._next()
            node = self._expr()
            self._expect("op", ")")
            return node
        if (k, v) == ("kw", "NOT"):
            raise ParseError("NOT is not supported (no sound pruning under negation)")
        return self._predicate()

    def _literal(self):
        k, v = self._next()
        if k == "lit":
            return v
        if k == "kw" and v in ("TRUE", "FALSE"):
            return v == "TRUE"
        if k == "ident" and isinstance(v, str) and v.upper() in ("TIMESTAMP", "DATE"):
            # ANSI typed literals stay typed: pruning compares them as
            # datetime/date values in the column's own type, never as
            # text
            k2, v2 = self._next()
            if k2 != "lit" or not isinstance(v2, str):
                raise ParseError(f"expected string after {v}")
            return TypedLiteral(v.upper(), v2)
        raise ParseError(f"expected literal, got {v!r}")

    def _predicate(self):
        k, col = self._next()
        if k != "ident":
            raise ParseError(f"expected column name, got {col!r}")
        k, v = self._next()
        if k == "op":
            if v not in ("=", "==", "<", "<=", ">", ">="):
                raise ParseError(f"unsupported operator {v!r}")
            return Pred(col, "=" if v == "==" else v, self._literal())
        if (k, v) == ("kw", "IS"):
            if self._peek() == ("kw", "NOT"):
                self._next()
                self._expect("kw", "NULL")
                return Pred(col, "is_not_null")
            self._expect("kw", "NULL")
            return Pred(col, "is_null")
        if (k, v) == ("kw", "IN"):
            self._expect("op", "(")
            vals = [self._literal()]
            while self._peek() == ("op", ","):
                self._next()
                vals.append(self._literal())
            self._expect("op", ")")
            # IN == OR of equalities: each leaf hits the equality
            # index / bounds independently
            return Or([Pred(col, "=", x) for x in vals]) if len(vals) > 1 else Pred(col, "=", vals[0])
        if (k, v) == ("kw", "BETWEEN"):
            lo = self._literal()
            self._expect("kw", "AND")
            hi = self._literal()
            return And([Pred(col, ">=", lo), Pred(col, "<=", hi)])
        raise ParseError(f"unsupported predicate on {col!r} at {v!r}")


def parse_predicate(s: str):
    """Parse the supported SQL subset into an And/Or/Pred tree.
    Raises ParseError on anything outside the grammar — callers must
    fall back to an unpruned scan, never guess."""
    toks = _tokenize(s)
    if not toks:
        raise ParseError("empty predicate")
    return _Parser(toks).parse()


def evaluate_excludes(node, leaf_excludes) -> bool:
    """True iff the tree PROVES a file holds no matching row.
    ``leaf_excludes(Pred) -> bool`` is the per-file stats check
    (pruning's bounds/null-count/equality-index evaluator). AND
    excludes when any child does; OR only when all children do —
    unknown leaves return False and propagate as "keep"."""
    if isinstance(node, Pred):
        return leaf_excludes(node)
    if isinstance(node, And):
        return any(evaluate_excludes(c, leaf_excludes) for c in node.children)
    if isinstance(node, Or):
        return all(evaluate_excludes(c, leaf_excludes) for c in node.children)
    raise TypeError(f"not a predicate node: {node!r}")
