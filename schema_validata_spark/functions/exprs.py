"""Expression-level utilities shared across operators.

``let_col`` is the load-bearing one: Spark has no let-binding in its
expression language, and two Catalyst facts make that expensive for
array pipelines —

* building one Column tree in Python that references the same
  sub-Column several times DUPLICATES the subtree (there is no sharing
  in the logical plan), and
* higher-order functions (transform/filter/aggregate) are evaluated
  outside whole-stage-codegen subexpression elimination, so a lambda
  body that references an outer non-attribute expression re-evaluates
  that expression on EVERY element visit.

The combination turns "transform over positions of an array built from
this row" into O(len²) per row: measured 260 s for word-3-shingles
over 20k × 400-word docs, vs ~1 s let-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def let_col(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per
    row and pass the result to ``body`` as a bound lambda variable.

    Implemented as ``element_at(transform(array(value), body), 1)`` —
    the single-element array is materialized once, so every reference
    to the lambda variable inside ``body`` is an O(1) read instead of
    a re-evaluation of the full subtree. Cost: one 1-element array
    allocation per row — noise next to what it saves whenever
    ``value`` is an array/string derivation referenced from inside a
    higher-order-function lambda (see module docstring). NULL
    propagates naturally: ``array(NULL)`` holds one NULL element and
    ``body`` receives it."""
    return F.element_at(F.transform(F.array(value), body), 1)
