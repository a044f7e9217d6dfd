"""Exactness audit for money aggregates (VERDICT r9 item 1).

Three keys across rounds 8-9 failed a scale gate the same way: a raw
``sum(double)`` over a large group of 2dp money values crossed a cent
boundary because float addition order is partition/scheduling-dependent.
Round 10 closed the class systematically: every ``sum``/``avg`` over a
money/value expression must run in exact fixed point — snap each row to
integer cents (``CAST(floor(x * 100 + 0.5) AS BIGINT)``; e4 for 2dp×2dp
products), sum the integers (associative — order cannot matter), and
divide/round once at the final projection. Engine code builds those
expressions with ``functions/money.py`` (``cents``, ``cents_floor``,
``vol_e4``, ``money_sum`` and the SQL twins), the one module that spells
the snap out.

This module holds two mechanical tripwires:

- :func:`find_unguarded` walks every registered oracle's SQL (Spark and
  oracle are written in pairs, so an unguarded oracle implies an
  unguarded plan — and a Spark-only regression fails the driver's value
  hash at the next gate) and flags any ``sum(``/``avg(`` whose argument
  references a money column without the fixed-point guard;
- :func:`find_handwritten_cents` walks the package's Python and flags a
  cents snap, ``F.round(x * 100)`` or ``F.floor(x * 100 + 0.5)``, outside
  ``functions/money.py``. A truncation such as ``F.floor(x * 100)`` is
  not a snap and passes.

``tests/test_invariants.py`` (``test_no_unguarded_money_sums``,
``test_no_handwritten_cents``) fails on new hits;
``scripts/audit_float_sums.py`` prints both reports.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

# Double-typed fixed-decimal (2dp) columns across the fixture tables —
# the columns whose double sums are NOT exact. Integer-valued doubles
# (l_quantity, p_size, ...) are excluded: their sums are exact below
# 2^53 regardless of order.
MONEY_COLUMNS = (
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "o_totalprice",
    "c_acctbal",
    "s_acctbal",
    "p_retailprice",
    "ps_supplycost",
    "value",  # events.value (2dp)
)

_MONEY_RE = re.compile(r"\b(" + "|".join(MONEY_COLUMNS) + r")\b", re.I)

# The exact fixed-point guard: a round()/floor() requantization cast to
# BIGINT *inside* the aggregate argument.
_GUARD_RE = re.compile(r"cast\s*\(\s*(round|floor)\s*\(.*as\s+bigint\s*\)", re.I | re.S)

# Integer CASE arms (``sum(CASE WHEN <money pred> THEN 1 ELSE 0 END)``):
# money only appears in the predicate; the summed values are integers.
_INT_CASE_RE = re.compile(
    r"^case when .* then \d+(\s+else \d+)?\s+end$", re.I | re.S
)


def iter_agg_args(sql: str):
    """Yield ``(fn, normalized_arg)`` for every balanced-paren ``sum(`` /
    ``avg(`` call in ``sql`` (including window aggregates)."""
    for m in re.finditer(r"\b(sum|avg)\s*\(", sql, re.I):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        arg = re.sub(r"\s+", " ", sql[m.end() : i - 1]).strip()
        yield m.group(1).lower(), arg


def is_guarded(arg: str) -> bool:
    """True if the aggregate argument is exactness-safe by construction."""
    return bool(_GUARD_RE.search(arg)) or bool(_INT_CASE_RE.match(arg))


def find_unguarded(oracles: dict[str, str]) -> dict[str, list[tuple[str, str]]]:
    """Map key -> [(fn, arg), ...] for every unguarded money aggregate."""
    hits: dict[str, list[tuple[str, str]]] = {}
    for key, sql in sorted(oracles.items()):
        for fn, arg in iter_agg_args(sql):
            if _MONEY_RE.search(arg) and not is_guarded(arg):
                hits.setdefault(key, []).append((fn, arg))
    return hits


# Keys where an unguarded money aggregate is ACCEPTED, with the reason a
# reviewer needs. Adding a key here requires the same in-code note at the
# operator. Everything else must carry the fixed-point guard.
JUSTIFIED: dict[str, str] = {
    # avg/stddev feed a z-score rounded to 6dp; z-scores are O(1), so
    # ulp noise (~1e-12) sits six orders below the rounding grain, and
    # the stddev denominator has no exact integer form anyway. The
    # acceptance (incl. collision probability) is documented at the
    # operator's docstring and pinned by its oracle-parity test.
    "q_grouped_map": "O(1) z-score rounded to 6dp; stddev has no exact form",
}


_PACKAGE = Path(__file__).resolve().parent
_MONEY_MODULE = _PACKAGE / "functions" / "money.py"


def engine_sources() -> list[Path]:
    """The package's Python files that must not spell the cents snap:
    all of them except ``functions/money.py``."""
    return [p for p in sorted(_PACKAGE.rglob("*.py")) if p != _MONEY_MODULE]


def _is_const(node: ast.AST, value) -> bool:
    return (
        isinstance(node, ast.Constant)
        and type(node.value) is type(value)
        and node.value == value
    )


def _is_times_100(node: ast.AST) -> bool:
    """``node`` is ``x * 100`` (either operand order)."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and (_is_const(node.left, 100) or _is_const(node.right, 100))
    )


def _is_snap(call: ast.Call) -> bool:
    """``call`` is ``F.round(x * 100, ...)`` or ``F.floor(x * 100 + 0.5)``."""
    if not (
        isinstance(call.func, ast.Attribute)
        and isinstance(call.func.value, ast.Name)
        and call.func.value.id == "F"
        and call.args
    ):
        return False
    arg = call.args[0]
    if call.func.attr == "round":
        return _is_times_100(arg)
    if call.func.attr == "floor":
        return (
            isinstance(arg, ast.BinOp)
            and isinstance(arg.op, ast.Add)
            and any(
                _is_times_100(a) and _is_const(b, 0.5)
                for a, b in ((arg.left, arg.right), (arg.right, arg.left))
            )
        )
    return False


def find_handwritten_cents(paths) -> list[tuple[str, int, str]]:
    """``(path, line, source)`` for every cents snap in ``paths`` —
    ``F.round(x * 100)`` or ``F.floor(x * 100 + 0.5)`` written by hand
    instead of through ``functions/money.py``."""
    hits = []
    for path in paths:
        tree = ast.parse(Path(path).read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _is_snap(node):
                hits.append((str(path), node.lineno, ast.unparse(node)))
    return sorted(hits)
