"""Catalyst function tables for alias expressions (`["=", dst, expr]`).

The reference compiles these to a pandas `DataFrame.eval` string
(qcache/qframe/query.py:78-116) so its function surface is "whatever
numexpr supports". We build a Spark `Column` tree directly from these
tables, keyed by the names in grammar.py — same surface, but the
expression stays inside Catalyst's whole-stage codegen instead of a
string round-trip.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .grammar import COMPARISONS

UNARY_FUNCTIONS = {
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "arcsin": F.asin,
    "arccos": F.acos,
    "arctan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "arcsinh": F.asinh,
    "arccosh": F.acosh,
    "arctanh": F.atanh,
    "log": F.log,
    "log10": F.log10,
    "log1p": F.log1p,
    "exp": F.exp,
    "expm1": F.expm1,
    "sqrt": F.sqrt,
    "abs": F.abs,
    "floor": F.floor,
    "ceil": F.ceil,
    "sign": F.signum,
    "upper": F.upper,
    "lower": F.lower,
    "length": F.length,
    "trim": F.trim,
    "-": lambda c: -c,
}

# Division/modulo compile to try_divide/try_mod: under Spark's ANSI
# mode (the 4.x default, kept on) plain `/` RAISES on a zero divisor,
# but the reference's contract is a value (engine inf, null on the
# JSON wire — test_api.py:109-116). try_* yields null → matches the
# wire contract without giving up ANSI's loud failures elsewhere.
# Shifts take a literal bit count (the grammar checks it).
BINARY_OPERATORS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: F.try_divide(a, b),
    "**": lambda a, b: F.pow(a, b),
    "%": lambda a, b: F.try_mod(a, b),
    "//": lambda a, b: F.floor(F.try_divide(a, b)),
    "&": lambda a, b: a.bitwiseAND(b),
    "|": lambda a, b: a.bitwiseOR(b),
    "^": lambda a, b: a.bitwiseXOR(b),
    "<<": F.shiftleft,
    ">>": F.shiftright,
    **COMPARISONS,
}
