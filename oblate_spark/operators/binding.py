"""Bind an outer expression once per row for a higher-order lambda.

Catalyst does not hoist a lambda's outer subexpressions: in
``transform(arr, i -> substr(regexp_replace(text, ...), i, k))`` the
``regexp_replace`` runs once per array element, not once per row.
Projecting the value into a helper column first does not reliably help
either: ``CollapseProject`` re-inlines a column that is referenced once,
even when that one reference sits inside a lambda.

:func:`let` passes the value into the lambda as a bound variable
instead, so it is evaluated once per row whatever the optimizer does
with the surrounding projections. ``tests/test_plan_quality.py`` lints
every registered query's optimized plan for lambda bodies that still
hold such an unbound subtree.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F

__all__ = ["let"]


def let(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` with ``value`` evaluated once per row.

    Expands to ``element_at(transform(array(value), fn), 1)``: a
    one-element array whose only element is bound to ``fn``'s variable.
    The result equals ``fn(value)`` for every input, NULL included
    (``array(NULL)`` is a one-element array, so ``fn`` still sees NULL).
    """
    return F.element_at(F.transform(F.array(value), fn), 1)
