"""Evaluate a per-row expression once and share it with lambdas.

Spark evaluates a higher-order function's lambda body once per
element and does not share subexpressions across that boundary: a
``transform(seq, i -> slice(split(text), i, n))`` re-splits the text
at every position, so a W-token row is tokenized ~W times. Binding the
array to a lambda variable first — ``element_at(transform(array(v),
x -> body(x)), 1)`` — evaluates ``v`` once; every nested lambda then
reads the variable instead of re-running the expression behind it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F


def _bind(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    NULL ``value`` reaches ``body`` as NULL, so the bound form returns
    exactly what ``body`` applied to the expression itself returns."""
    return F.element_at(F.transform(F.array(value), body), 1)
