"""One expression compiler for Kettle's expression steps.

The Formula step (OpenFormula, plans/openformula.py) and the
ScriptValuesMod step (a JavaScript subset, plans/jsexpr.py) both compile a
text expression straight to native Catalyst expressions (JVM codegen, no
per-row interpreter). This module holds everything the two share; each
dialect is a `Dialect` of tables:

  tokens     [(kind, regex)] tried in order; `skip` is what lies between
             tokens (whitespace, and comments in JS)
  levels     binary operators, low → high precedence: [({op: fn}, right)],
             each fn maps two `TV`s to a `TV`; `right` marks a
             right-associative level
  unary      {op: fn(TV) -> TV}, prefix operators above every level
  postfix    optional hook(parser, TV) -> TV | None, applied after each
             primary until it returns None
  ternary    whether `cond ? a : b` sits below the lowest level
  atoms      {token kind: fn(text) -> TV} for literals beyond numbers
  functions  {NAME: ((min_arity, max_arity), builder[, result type])}; a
             builder maps the argument Columns to a Column. `fold` looks
             names up upper-cased; `seps` separate arguments.

A primary is a number, an atom, `( expr )`, a function call (a name
followed by `(`), or a bare name, which the caller's resolver turns into a
TV (a column, a script variable, a constant). Anything outside the tables
raises NotImplementedError naming the construct.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

MANY = float("inf")  # max_arity of a variadic function


class TV:
    """A compiled expression with its statically-inferred type:
    'str' | 'num' | 'bool' | None (unknown — e.g. a column absent from the
    supplied schema). Only JS `+` reads the type."""

    __slots__ = ("col", "t")

    def __init__(self, col: Column, t: str | None = None):
        self.col = col
        self.t = t


def binop(fn, t: str | None = None):
    """A level entry from a Column operator: (TV, TV) -> TV of type `t`."""
    return lambda a, b: TV(fn(a.col, b.col), t)


def concat(a: Column, b: Column) -> Column:
    """Text concatenation with both operands coerced to string (OpenFormula
    `&`, JS string `+`)."""
    return F.concat(a.cast("string"), b.cast("string"))


def nary(fn):
    """A 1..n builder from Spark's least/greatest, which need two columns:
    one argument is its own minimum and maximum."""
    return lambda a: fn(*a) if len(a) > 1 else a[0]


@dataclass
class Dialect:
    name: str  # error-message prefix
    tokens: list
    levels: list
    unary: dict
    functions: dict
    atoms: dict
    seps: tuple = (",",)
    fold: bool = False
    postfix: Callable | None = None
    ternary: bool = False
    skip: str = r"\s*"
    _tok: re.Pattern = field(init=False, repr=False)
    _skip: re.Pattern = field(init=False, repr=False)

    def __post_init__(self):
        self._tok = re.compile("|".join(f"(?P<{k}>{p})" for k, p in self.tokens))
        self._skip = re.compile(self.skip)

    def tokenize(self, src: str) -> list[tuple[str, str, int]]:
        """(kind, text, offset) tokens ending in 'eof', or in 'bad' at the
        first text no pattern matches (raised when the parser reaches it)."""
        out, pos = [], 0
        while True:
            pos = self._skip.match(src, pos).end()
            m = self._tok.match(src, pos)
            if m is None:
                kind = "eof" if pos == len(src) else "bad"
                return out + [(kind, src[pos:pos + 30].strip(), pos)]
            out.append((m.lastgroup, m.group(), pos))
            pos = m.end()


class Parser:
    """Precedence climbing over a Dialect's tables. `name` resolves a bare
    name that is not a function call."""

    def __init__(self, d: Dialect, src: str, name: Callable[[str], TV]):
        self.d, self.name = d, name
        self.toks = d.tokenize(src)
        self.i = 0

    def fail(self, msg: str):
        raise NotImplementedError(f"{self.d.name}: {msg}")

    def peek(self) -> tuple[str, str]:
        kind, val, _ = self.toks[self.i]
        if kind == "bad":
            self.fail(f"cannot tokenize {val!r}")
        return kind, val

    def take(self, op: str | None = None) -> tuple[str, str]:
        kind, val = self.peek()
        if op is not None and (kind, val) != ("op", op):
            self.fail(f"expected {op!r}, got {val!r}")
        self.i += 1
        return kind, val

    def at(self, *ops: str) -> bool:
        kind, val = self.peek()
        return kind == "op" and val in ops

    def accept(self, *ops: str) -> bool:
        if self.at(*ops):
            self.i += 1
            return True
        return False

    def parse(self) -> TV:
        e = self.expr()
        if self.peek()[0] != "eof":
            self.fail(f"trailing tokens at {self.peek()[1]!r}")
        return e

    def expr(self, level: int = 0) -> TV:
        if level == len(self.d.levels):
            return self.unary()
        ops, right = self.d.levels[level]
        e = self.expr(level + 1)
        while self.at(*ops):
            op = self.take()[1]
            e = ops[op](e, self.expr(level if right else level + 1))
        if level == 0 and self.d.ternary and self.accept("?"):
            a = self.expr()
            self.take(":")
            b = self.expr()
            return TV(F.when(e.col, a.col).otherwise(b.col), a.t or b.t)
        return e

    def unary(self) -> TV:
        if self.at(*self.d.unary):
            return self.d.unary[self.take()[1]](self.unary())
        e = self.primary()
        while self.d.postfix and (nxt := self.d.postfix(self, e)) is not None:
            e = nxt
        return e

    def primary(self) -> TV:
        kind, val = self.take()
        if kind == "num":
            return TV(F.lit(float(val) if "." in val else int(val)), "num")
        if kind == "name":
            return self.call(val, self.d.functions) if self.at("(") else self.name(val)
        if kind in self.d.atoms:
            return self.d.atoms[kind](val)
        if (kind, val) == ("op", "("):
            e = self.expr()
            self.take(")")
            return e
        self.fail(f"unexpected token {val!r}")

    def call(self, name: str, table: dict, recv: tuple = ()) -> TV:
        """`name(args)` through `table`; `recv` holds a method's receiver,
        passed first to the builder and not counted in the arity."""
        key = name.upper() if self.d.fold else name
        if key not in table:
            self.fail(f"unsupported {'method' if recv else 'function'} {name}()")
        (lo, hi), fn, *t = table[key]
        self.take("(")
        args = [] if self.at(")") else [self.expr()]
        while args and self.accept(*self.d.seps):
            args.append(self.expr())
        self.take(")")
        if not lo <= len(args) <= hi:
            self.fail(f"{name} arity {len(args)} (want {lo}..{hi})")
        return TV(fn([a.col for a in [*recv, *args]]), *t)
