"""nested_wide: one config-driven nested transform over a wide nested table.

One job parses a YAML pipeline whose ``transform`` stage touches every
leaf (the reference README's YAML usage), runs it, and forces the result
through an order-insensitive hash. The check compares that hash with the
same leaves computed by a plain-Column projection that does not use the
library.

Width is deliberate. Each struct's siblings are rewritten through a
``withField`` chain; when this benchmark was written, lowering read each
sibling from the growing chain (``plans/lowering.py``), so the analysed
expression tree and ``NestedTransformer.apply`` time roughly doubled per
sibling. 36 leaves in 6 nested groups of 6 plus 4 array leaves ended in
``java.lang.OutOfMemoryError: Java heap space`` inside ``df.select`` with
a 4 GB Spark driver heap. The widths below (11 leaves; 9 leaves beside a
3-leaf inner struct; 10 leaves inside an array) finish there with the
transform the largest share of the job, so the growth shows as time and
as ``transform.expr_nodes``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from perfbench.harness import Tracer, force

#: rows of the generated table; at this size the execution alone (the
#: forced hash pass) takes about 2 s on four cores
ROWS = 200_000
FILES = 8

# leaf name → (type, function spec as written in the YAML)
STRING_FNS = ["upper", "lower", "trim", "reverse"]
INT_FNS = ["abs", "negative", {"fn": "pmod", "args": [97]}, {"cast": "bigint"}]
DOUBLE_FNS = ["abs", {"fn": "round", "args": [2]}, "floor", "negative"]


def _leaves(prefix: str, n: int) -> list[tuple[str, str]]:
    """``n`` sibling leaves cycling string / int / double."""
    kinds = ["string", "int", "double"]
    return [(f"{prefix}{i}", kinds[i % 3]) for i in range(n)]


ACCT = _leaves("a", 11)
SHIP = _leaves("s", 9)
ADDR = _leaves("z", 3)
LINE = _leaves("l", 10)


def _fn_for(kind: str, i: int):
    table = {"string": STRING_FNS, "int": INT_FNS, "double": DOUBLE_FNS}[kind]
    return table[i % len(table)]


def _field_map() -> dict[str, object]:
    """Flattened path → function spec for every leaf of the table."""
    fields: dict[str, object] = {}
    for i, (name, kind) in enumerate(ACCT):
        fields[f"acct.{name}"] = _fn_for(kind, i)
    for i, (name, kind) in enumerate(SHIP):
        fields[f"ship.{name}"] = _fn_for(kind, i + 1)
    for i, (name, kind) in enumerate(ADDR):
        fields[f"ship.addr.{name}"] = _fn_for(kind, i + 2)
    for i, (name, kind) in enumerate(LINE):
        fields[f"lines.{name}"] = _fn_for(kind, i + 3)
    fields["grid"] = {"fn": "round", "args": [1]}
    fields["tags"] = "upper"
    return fields


def _yaml_value(spec) -> str:
    if isinstance(spec, str):
        return spec
    if "cast" in spec:
        return "{cast: %s}" % spec["cast"]
    return "{fn: %s, args: [%s]}" % (spec["fn"], ", ".join(str(a) for a in spec["args"]))


def pipeline_yaml() -> str:
    lines = [
        "pipeline:",
        '  - {stage: source, format: parquet, path: "${input}"}',
        "  - stage: transform",
        "    fields:",
    ]
    lines += [f"      {path}: {_yaml_value(spec)}" for path, spec in _field_map().items()]
    return "\n".join(lines) + "\n"


# -- independent reference: plain Column projection ------------------------


def _apply_plain(col: Column, spec) -> Column:
    if isinstance(spec, str):
        return getattr(F, spec)(col)
    if "cast" in spec:
        return col.cast(spec["cast"])
    return getattr(F, spec["fn"])(col, *spec["args"])


def _plain_struct(src, leaves, offset, extra=()) -> Column:
    cols = [
        _apply_plain(src.getField(name), _fn_for(kind, i + offset)).alias(name)
        for i, (name, kind) in enumerate(leaves)
    ]
    return F.struct(*cols, *extra)


def reference_projection(df: DataFrame) -> DataFrame:
    addr = _plain_struct(F.col("ship.addr"), ADDR, 2).alias("addr")
    return df.select(
        F.col("id"),
        _plain_struct(F.col("acct"), ACCT, 0).alias("acct"),
        _plain_struct(F.col("ship"), SHIP, 1, extra=(addr,)).alias("ship"),
        F.transform("lines", lambda e: _plain_struct(e, LINE, 3)).alias("lines"),
        F.transform("grid", lambda row: F.transform(row, lambda v: F.round(v, 1))).alias("grid"),
        F.transform("tags", lambda t: F.upper(t)).alias("tags"),
    )


# -- generated input ---------------------------------------------------------

_WORDS = [f" k{v}X " for v in range(1000)]
_TAGS = [f"t{v}" for v in range(50)]


def _strings(rng, words: list[str], n: int):
    import pyarrow as pa

    idx = pa.array(rng.integers(0, len(words), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(words)).dictionary_decode()


def _leaf_array(rng, kind: str, n: int):
    import pyarrow as pa

    if kind == "string":
        return _strings(rng, _WORDS, n)
    if kind == "int":
        return pa.array(rng.integers(-1000, 1001, n, dtype=np.int32))
    return pa.array(rng.integers(0, 1_000_000, n) / 1000.0 - 500.0)


def _struct(rng, leaves, n: int, extra=()):
    import pyarrow as pa

    arrays = [_leaf_array(rng, kind, n) for _, kind in leaves] + [a for _, a in extra]
    names = [name for name, _ in leaves] + [name for name, _ in extra]
    return pa.StructArray.from_arrays(arrays, names=names)


def _offsets(lengths) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)


def generate(seed: int, path: str) -> None:
    """Write the nested input table for ``seed`` to ``path`` (numpy and
    pyarrow only, so input generation does not depend on the engine)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = ROWS
    acct = _struct(rng, ACCT, n)
    ship = _struct(rng, SHIP, n, extra=[("addr", _struct(rng, ADDR, n))])
    line_offsets = _offsets(rng.integers(1, 5, n))
    lines = pa.ListArray.from_arrays(line_offsets, _struct(rng, LINE, int(line_offsets[-1])))
    cells = pa.array(rng.integers(0, 100_000, 12 * n) / 997.0)
    rows = pa.ListArray.from_arrays(np.arange(0, 12 * n + 1, 4, dtype=np.int32), cells)
    grid = pa.ListArray.from_arrays(np.arange(0, 3 * n + 1, 3, dtype=np.int32), rows)
    tag_offsets = _offsets(rng.integers(1, 4, n))
    tags = pa.ListArray.from_arrays(tag_offsets, _strings(rng, _TAGS, int(tag_offsets[-1])))
    table = pa.table({
        "id": np.arange(n, dtype=np.int64),
        "acct": acct, "ship": ship, "lines": lines, "grid": grid, "tags": tags,
    })
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-n // FILES)
    for f in range(FILES):
        pq.write_table(table.slice(f * step, step), f"{path}/part-{f:05d}.parquet")


def fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive (count, xor, sum) of a 64-bit hash of every row."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.shiftright(h, 24)).alias("s"),
    )


def expr_nodes(df: DataFrame) -> int:
    """Node count of the analysed plan's top-level expressions."""
    jvm = df.sparkSession._jvm
    identity = getattr(jvm.scala, "Predef$").__getattr__("MODULE$").__getattr__("$conforms")()
    exprs = df._jdf.queryExecution().analyzed().expressions()
    return sum(int(exprs.apply(i).map(identity).size()) for i in range(exprs.size()))


class NestedWide:
    name = "nested_wide"

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.input = f"{work_dir}/nested_input"
        self.yaml = pipeline_yaml()
        self.rows_per_job = ROWS
        self.expected = None

    def prepare(self) -> None:
        generate(self.seed, self.input)

    def reference(self) -> None:
        src = self.spark.read.parquet(self.input)
        self.expected = tuple(fingerprint(reference_projection(src)).first())

    def install_traces(self) -> None:
        from config_driven_pyspark_spark import pipeline as P
        from config_driven_pyspark_spark.operators.transform import NestedTransformer

        self.tr.wrap(NestedTransformer, "apply", "transform.apply")
        self.tr.wrap(P, "stage_source", "sources.read")

    def reset(self) -> None:
        pass

    def job(self) -> dict[str, bool]:
        from config_driven_pyspark_spark import Pipeline

        with self.tr.span("pipeline.parse"):
            pipe = Pipeline.from_yaml(self.yaml)
        with self.tr.span("pipeline.build"):
            out = pipe.run(self.spark, variables={"input": self.input})
        got = force(self.tr, fingerprint(out))[0]
        if self.tr.traced:
            self.tr.note("transform.expr_nodes", expr_nodes(out))
        return {"transform": tuple(got) == self.expected}

    def after_job(self) -> dict[str, bool]:
        return {}

