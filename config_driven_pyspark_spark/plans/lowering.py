"""Lower a PathNode tree to native Column expressions — one Project total.

Role parity: the reference's ``_apply`` / ``_create_array_transform``
(``/root/reference/src/config_driven_pyspark/functioniser.py:86-128``).
Plan-shape choices, both deliberate:

- The whole transform is ONE ``df.select`` (a single Catalyst ``Project``),
  never a ``withColumn`` loop — the reference documents loop plans becoming
  "enormous … or just break Spark" (``README.md:78``).
- Arrays lower to one ``F.transform`` per array level (``ArrayTransform``
  higher-order function), with ALL child rewrites and the node's own
  function fused into a single element lambda. The reference emits one
  ``transform`` per struct member plus one per node function
  (``functioniser.py:96-110``); fusing them is semantically identical
  (composition of per-element maps) and yields a smaller expression tree.
- Maps lower to one ``F.transform_values`` per map level (``TransformValues``
  higher-order function); paths continue into the map's value type. Wrapper
  order is preserved: ``array<map<T>>`` nests ``transform(transform_values)``.

- Struct members are read from the value *before* the node's rewrite,
  never from the partially rebuilt ``withField`` chain, so the analysed
  expression grows linearly with the number of touched leaves (see
  ``_apply_at_value``). ``drop_nested`` lowers through the same walker, with
  each parent's drops as its node function.

Untouched columns and untouched struct subtrees never enter the plan:
roots without a PathNode pass through as bare ``F.col`` (parity with
``functioniser.py:91-93``; ``README.md:92``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from config_driven_pyspark_spark.plans.path_tree import PathNode


def _apply_at_value(ctx: Column, node: PathNode) -> Column:
    """Apply ``node``'s children and function to the *value* Column ``ctx``
    (i.e. after any array unwrapping — ``ctx`` is an element, not an array).

    Child order: children first, then the node's own function, so a function
    configured on a struct path sees its transformed members (matches the
    reference's ``_apply`` tail order, ``functioniser.py:95-112``).

    Every child is read from ``ctx`` — the value before this node's rewrite —
    and the ``withField`` chain grows in a separate accumulator. Reading a
    sibling back out of the growing chain instead would embed the whole chain
    twice per sibling and double the analysed tree with each one; reading
    from ``ctx`` yields the same values (member names are distinct, so no
    earlier ``withField`` could have changed the member being read).
    """
    out = ctx
    for child in node.children.values():
        out = out.withField(child.name, _lower_node(ctx.getField(child.name), child))
    if node.function is not None:
        out = node.function(out)
    return out


def _wrap_levels(
    ctx: Column,
    wrappers: tuple[str, ...],
    node: PathNode,
    key_fn=None,
) -> Column:
    """Wrap the value-level computation in nested ``F.transform`` (array
    levels) / ``F.transform_values`` (map levels), outermost first.
    ``key_fn`` (the node's ``{keys}`` transform, if any) is consumed at the
    first map level reached — ``F.transform_keys`` over the
    already-value-rewritten map — and not propagated further down."""
    if not wrappers:
        return _apply_at_value(ctx, node)
    head, rest = wrappers[0], wrappers[1:]
    if head == "a":
        return F.transform(
            ctx, lambda element: _wrap_levels(element, rest, node, key_fn)
        )
    out = F.transform_values(ctx, lambda _key, value: _wrap_levels(value, rest, node))
    if key_fn is not None:
        out = F.transform_keys(out, lambda key, _value: key_fn(key))
    return out


def _lower_node(ctx: Column, node: Optional[PathNode]) -> Column:
    if node is None:
        return ctx
    return _wrap_levels(ctx, node.wrappers, node, node.key_function)


def lower_root(ctx: Column, node: Optional[PathNode]) -> Column:
    """Lower one root column's PathNode (or pass it through untouched)."""
    return _lower_node(ctx, node)
