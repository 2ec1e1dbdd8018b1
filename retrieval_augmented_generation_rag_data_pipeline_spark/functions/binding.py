"""Expression-level let-binding for expensive SQL expressions.

Why this exists: a staged projection
(``.selectExpr(f"{expensive} AS _x")``) protects an expensive
expression from duplication by CollapseProject (which refuses to inline
non-cheap expressions referenced more than once) — but NOT from filter
pushdown. ``PushPredicateThroughNonJoin`` substitutes the alias into
the pushed Filter condition at every reference, and the duplicated
higher-order lambdas get fresh variable ids, which defeats codegen
common-subexpression elimination. Measured in this repo: the Gopher
quality predicate inlined a document tokenizer ~30x, 42s for 5k docs at
sf0.1 (see operators/text.py:quality_filter).

``let_sql(x, "v", body)`` compiles to ``transform(array(x), v -> body)[1]``:
the array wraps the expensive expression so the lambda binds it to a
variable evaluated ONCE per row however many times ``body`` references
it — and the binding survives pushdown, alias substitution, and
projection collapse intact, because it is a single expression tree.

NULL semantics: ``array(x)`` is a 1-element array containing NULL when
x is NULL, so ``body`` still runs with a NULL argument (match whatever
null behavior the unbound expression had). Nest ``let_sql`` for derived
values (tokens -> trigrams). Emit ALL downstream outputs as fields of
one struct inside the innermost body so a pushed filter inlines exactly
one evaluation.

A lambda variable shadows a column of the same name inside ``body``,
so a body that also reads an outer column names its variables apart
from that column (``_``-prefixed names in this package).
"""

from __future__ import annotations


def let_sql(value: str, name: str, body: str) -> str:
    """Bind the SQL expression ``value`` to the lambda variable ``name``
    and evaluate ``body`` (SQL text that refers to ``name``) on it, once
    per row, even after the optimizer inlines the whole expression into
    a Filter or another Project."""
    return f"element_at(transform(array({value}), {name} -> {body}), 1)"
