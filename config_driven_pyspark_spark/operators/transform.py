"""NestedTransformer — config-driven nested-field transforms, the reference's
core capability re-expressed Spark-first.

API/semantics parity with the reference's ``Functioniser``
(``/root/reference/src/config_driven_pyspark/functioniser.py:16-207``), all
behaviors pinned by tests in ``tests/test_transform.py``:

- ``add(path, fn)`` registers one flattened-path → Column-function mapping;
  string names resolve custom registry first then the full
  ``pyspark.sql.functions`` namespace, else ``ValueError``; a bare ``Column``
  becomes a constant; repeat-add on one path composes (later applied after
  earlier). Chainable.
- ``apply(df)`` resolves every path against the DataFrame schema
  (case-insensitive, arrays implicit) and emits ONE ``df.select`` — a single
  Catalyst Project. Untouched columns pass through byte-identical; new root
  columns are appended after existing ones, sorted alphabetically; struct
  members rewrite via ``withField``/``getField``; arrays map element-wise via
  ``F.transform`` (one per ``[]`` level — improving on the reference's
  single-level boolean, SURVEY.md §1.2); functions applied to other columns
  see *pre-transform* input values (everything lands in one select over the
  original df — ``README.md:36-41`` semantics).
- missing leaf → warning + attempt-create (new root, or new member on an
  existing parent struct at any depth, including inside arrays); missing
  parent → ``ValueError``. Creating functions must ignore their input arg.
- ``register_function(name, fn)`` adds by-name custom functions that shadow
  Spark builtins; ``reset()`` clears per-DataFrame state but keeps the
  custom registry.

At scale this whole operator is a zero-shuffle narrow Project over whatever
partitioning the input already has. The lowering reads every struct member
from the value before its rewrite, so the analysed expression tree is linear
in the number of touched leaves; untouched columns never enter it. That
bound has to hold at analysis: ``OptimizeUpdateFields`` collapses chained
``UpdateFields`` nodes only in the optimizer, after the analyser has walked
the whole tree.
"""

from __future__ import annotations

import logging
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from config_driven_pyspark_spark.functions.registry import (
    DfFunction,
    FunctionLike,
    FunctionRegistry,
    compose,
)
from config_driven_pyspark_spark.plans.lowering import lower_root
from config_driven_pyspark_spark.plans.path_tree import (
    PathNode,
    build_path_tree,
    resolve_tokens,
)
from config_driven_pyspark_spark.schema import flatten_schema, strip_brackets, wrappers_of

_transform_logger = logging.getLogger(__name__)


class NestedTransformer:
    """Applies configured Column functions to (possibly deeply nested) fields."""

    def __init__(self) -> None:
        self.registry = FunctionRegistry()
        self.reset()

    def reset(self) -> None:
        """Clear configured functions + cached flat schema for a new DataFrame.

        The custom function registry survives (parity:
        ``functioniser.py:29-32`` — ``reset`` does not touch
        ``_custom_functions``).
        """
        self.functions: dict[str, DfFunction] = {}
        self.flat_schema: list[str] = []

    def add(self, field: str, function: FunctionLike) -> "NestedTransformer":
        """Register a function for a flattened field path; chainable."""
        field = field.lower()
        fn = self.registry.resolve(function)
        if field in self.functions:
            self.functions[field] = compose(self.functions[field], fn)
        else:
            self.functions[field] = fn
        return self

    def register_function(self, name: str, func: Union[Column, DfFunction]) -> None:
        """Register a custom by-name function (shadows Spark builtins)."""
        self.registry.register(name, func)

    def apply(self, df: DataFrame) -> DataFrame:
        """Apply all configured functions in a single ``select``."""
        self.flat_schema = flatten_schema(df)
        tree = build_path_tree(self.functions, self.flat_schema)

        existing = {c.lower() for c in df.columns}
        new_roots = sorted(
            node.name for key, node in tree.children.items() if key not in existing
        )
        # original column order first, then created roots alphabetically
        # (pinned by reference test test_functioniser.py:92-107)
        root_names = list(df.columns) + new_roots

        select_cols: list[Column] = []
        for root in root_names:
            # created roots get a dummy context; their functions ignore it
            ctx = F.col(root) if root.lower() in existing else F.lit(None)
            select_cols.append(lower_root(ctx, tree.child(root)).alias(root))
        return df.select(*select_cols)


# ---------------------------------------------------------------------------
# nested drop — the extension the reference sketches but never implements
# (``/root/reference/README.md:98-102`` describes a nested drop-based select
# as future work). Same path addressing as NestedTransformer: dotted,
# case-insensitive, array/map levels implicit from the schema.
# ---------------------------------------------------------------------------


def drop_nested(df: DataFrame, paths: list[str]) -> DataFrame:
    """Drop columns OR nested struct fields by flattened path, in one
    ``select``.

    ``"a"`` drops a root column (plain ``df.drop`` semantics); ``"a.b.c"``
    drops field ``c`` from struct ``a.b``, rebuilding only the ancestors on
    the path — through array levels with ``F.transform`` and map levels with
    ``F.transform_values`` (``Column.dropFields`` on the parent context).
    Paths are case-insensitive with containers implicit, exactly like
    ``NestedTransformer.add``. A path that resolves to nothing warns and is
    skipped (mirroring the transformer's missing-leaf warning contract).

    Scale: a zero-shuffle narrow Project; dropping early also lets Catalyst
    prune the dropped leaves out of the parquet ``ReadSchema`` when nothing
    else references them.
    """
    flat = flatten_schema(df)
    root = PathNode("<root>")
    # parent path (lowercased names; () for the top level) → leaves to drop
    drops: dict[tuple[str, ...], list[str]] = {}
    for path in paths:
        tokens = resolve_tokens(path, flat)
        if tokens is None:
            _transform_logger.warning(
                "Field %s not found in input schema; nothing to drop.", path
            )
            continue
        *parents, leaf = tokens.split(".")
        node = root
        for segment in parents:
            node = node.put_child(PathNode(strip_brackets(segment), wrappers_of(segment)))
        key = tuple(strip_brackets(s).lower() for s in parents)
        drops.setdefault(key, []).append(strip_brackets(leaf))

    # a dropped struct takes its drop subtree with it, whatever the path order
    for parent, leaves in drops.items():
        node = root
        for name in parent:
            node = node.child(name) if node is not None else None
        if node is None:  # an ancestor struct is itself dropped
            continue
        for leaf in leaves:
            node.children.pop(leaf.lower(), None)
        if parent:
            node.function = lambda c, leaves=leaves: c.dropFields(*leaves)

    dropped_roots = {leaf.lower() for leaf in drops.get((), [])}
    return df.select(*(
        lower_root(F.col(c), root.child(c)).alias(c)
        for c in df.columns
        if c.lower() not in dropped_roots
    ))
