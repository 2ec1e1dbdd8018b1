"""Expression-level let-binding for expensive column expressions.

Why this exists: a staged projection
(``.select(expensive(text).alias("_x"))``) protects an expensive
expression from duplication by CollapseProject (which refuses to inline
non-cheap expressions referenced more than once) — but NOT from filter
pushdown. ``PushPredicateThroughNonJoin`` substitutes the alias into
the pushed Filter condition at every reference, and the duplicated
higher-order lambdas get fresh variable ids, which defeats codegen
common-subexpression elimination. Measured in this repo: the Gopher
quality predicate inlined a document tokenizer ~30x, 42s for 5k docs at
sf0.1 (see operators/text.py:quality_filter).

``let(x, body)`` compiles to ``transform(array(x), v -> body(v))[1]``:
the array wraps the expensive expression so the lambda binds it to a
variable evaluated ONCE per row however many times ``body`` references
it — and the binding survives pushdown, alias substitution, and
projection collapse intact, because it is a single expression tree.

NULL semantics: ``array(x)`` is a 1-element array containing NULL when
x is NULL, so ``body`` still runs with a NULL argument (match whatever
null behavior the unbound expression had). Nest ``let`` for derived
values (tokens -> trigrams). Emit ALL downstream outputs as fields of
one struct inside the innermost body so a pushed filter inlines exactly
one evaluation.

``let_sql`` is the same shape as SQL text, for chains whose bodies
apply the ``*_sql`` primitives to the bound variable (a Column lambda
variable cannot be spliced into SQL text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``value`` to a per-row variable and evaluate ``body`` on it.

    ``value`` is evaluated exactly once per row regardless of how many
    times ``body`` references its argument, even after the optimizer
    inlines the whole expression into a Filter or another Project.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def let_sql(value: str, name: str, body: str) -> str:
    """SQL text of ``let``: bind the SQL expression ``value`` to the
    lambda variable ``name`` and evaluate ``body`` (SQL text that
    refers to ``name``) on it, once per row."""
    return f"element_at(transform(array({value}), {name} -> {body}), 1)"
