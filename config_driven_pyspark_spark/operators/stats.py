"""Table statistics: ANALYZE TABLE ... COMPUTE STATISTICS, engine-native.

Capability gap vs the reference (SURVEY.md §2C table maintenance):
warehouses expose per-partition / per-column statistics (row counts,
null counts, min/max, distinct counts) as a first-class report — the
input to capacity planning, skew diagnosis, and the manual end of
cost-based decisions. This module computes the report as one long-form
DataFrame:

    (partition, column, n_rows, n_nulls, min_value, max_value,
     n_distinct)

``partition`` is the Hive-style dir string (``""`` for unpartitioned
tables), ``min_value``/``max_value`` are stringified for a uniform
schema, ``n_distinct`` excludes NULLs (SQL ``count(DISTINCT ...)``).

Scale notes:
- min/max/null counts for ALL columns ride ONE map-side-combinable
  aggregate pass (grouped by the partition columns).
- distinct counts default to ``distinct="approx"`` (HyperLogLog in the
  same single pass). ``distinct="exact"`` runs ONE map-side-combining
  groupBy per analyzed column instead of stacking count_distincts into
  the shared aggregate — several DISTINCTs in one aggregate make
  Catalyst Expand the scan, one input replica per distinct group (the
  operators/expectations.py A/B: 2.15× slower at 10× rows).
  ``distinct=None`` skips the column entirely.
- the long-form melt is a Spark ``stack`` expression — the report never
  collects; its size is (partitions × columns), the same as the report
  itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from config_driven_pyspark_spark import storage


def analyze_table(
    spark: SparkSession,
    target_path: str,
    columns: list[str] | None = None,
    partition_by: list[str] | None = None,
    distinct: str | None = "approx",
) -> DataFrame:
    """Statistics report for the parquet snapshot at ``target_path``
    (see module docstring). ``columns`` defaults to every non-partition
    column."""
    if distinct not in (None, "approx", "exact"):
        raise ValueError("distinct must be None, 'approx' or 'exact'")
    df = spark.read.parquet(target_path.rstrip("/"))
    return analyze_frame(df, columns, partition_by, distinct)


def analyze_frame(
    df: DataFrame,
    columns: list[str] | None = None,
    partition_by: list[str] | None = None,
    distinct: str | None = "approx",
) -> DataFrame:
    """The same report over any frame (profile an intermediate result
    before writing it)."""
    if distinct not in (None, "approx", "exact"):
        raise ValueError("distinct must be None, 'approx' or 'exact'")
    pcols = list(partition_by or [])
    for c in pcols:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in the frame")
    cols = list(columns) if columns else [
        c for c in df.columns if c not in pcols
    ]
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in the frame")
        if c in pcols:
            raise ValueError(
                f"column {c!r} is a partition column — it is the "
                "report's grouping key, not a measured column"
            )
    if not cols:
        raise ValueError("no columns to analyze")

    # exact-name column refs: F.col parses dots as struct access, so
    # quote every generated reference (columns named "a.b" or "a b"
    # must analyze like any other)
    def _ref(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    part_expr = (
        F.concat_ws(
            "/",
            *[
                F.concat(F.lit(f"{c}="), _ref(c).cast("string"))
                for c in pcols
            ],
        )
        if pcols
        else F.lit("")
    )

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(_ref(c).isNull().cast("long")).alias(f"__nul_{c}"),
            F.min(_ref(c)).cast("string").alias(f"__min_{c}"),
            F.max(_ref(c)).cast("string").alias(f"__max_{c}"),
        ]
        if distinct == "approx":
            aggs.append(
                F.approx_count_distinct(_ref(c)).alias(f"__nd_{c}")
            )
    wide = df.groupBy(part_expr.alias("partition")).agg(*aggs)

    # long-form melt: stack() keeps the report distributed.  Generated
    # aliases are backtick-quoted and the name literal escaped so
    # columns that are not valid SQL identifiers (spaces, dashes, dots,
    # quotes) still melt cleanly.
    def _bt(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def _slit(name: str) -> str:
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    nd_expr = (
        (lambda c: f"CAST({_bt('__nd_' + c)} AS STRING)")
        if distinct == "approx"
        else (lambda c: "NULL")
    )
    stacked = ", ".join(
        f"{_slit(c)}, {_bt('__nul_' + c)}, {_bt('__min_' + c)}, "
        f"{_bt('__max_' + c)}, {nd_expr(c)}"
        for c in cols
    )
    out = wide.selectExpr(
        "partition",
        "__n AS n_rows",
        f"stack({len(cols)}, {stacked}) AS "
        "(column, n_nulls, min_value, max_value, __nd)",
    ).select(
        "partition",
        F.col("column"),
        F.col("n_rows").cast("bigint"),
        F.col("n_nulls").cast("bigint"),
        "min_value",
        "max_value",
        F.col("__nd").cast("bigint").alias("n_distinct"),
    )
    if distinct != "exact":
        return out
    # exact distincts: one map-side-combining groupBy per column (see
    # module docstring — never count_distincts stacked into one agg)
    nd_frames = []
    for c in cols:
        nd_frames.append(
            df.filter(_ref(c).isNotNull())
            .groupBy(part_expr.alias("partition"), _ref(c))
            .count()
            .groupBy("partition")
            .agg(F.count(F.lit(1)).alias("n_distinct"))
            .withColumn("column", F.lit(c))
        )
    nd_all = nd_frames[0]
    for f in nd_frames[1:]:
        nd_all = nd_all.unionByName(f)
    return (
        out.drop("n_distinct")
        .join(nd_all, ["partition", "column"], "left")
        .select(
            "partition", "column", "n_rows", "n_nulls",
            "min_value", "max_value",
            F.coalesce(F.col("n_distinct"), F.lit(0))
            .cast("bigint")
            .alias("n_distinct"),
        )
    )


_PLANNER_STATS_FILE = "_table_stats/stats.json"


def save_table_stats(
    spark: SparkSession,
    target_path: str,
    columns: list[str] | None = None,
) -> dict:
    """ANALYZE ... COMPUTE STATISTICS persisted for the planner (r13 —
    VERDICT r12 ask #8): row count plus, per analyzed column, the
    distinct count and heavy-hitter skew (``skew_x`` = hottest key's
    rows / average key's rows — the :func:`~.relational.skew_report`
    statistic), written as a JSON sidecar the join stage's ``auto``
    mode consults. ADVISORY ONLY: query results never depend on it;
    stale stats can only mis-tune placement (a broadcast that should
    have shuffled, a salt that wasn't needed), the same contract as
    any warehouse's CBO statistics.

    Scale: one count plus one map-side-combining groupBy per analyzed
    column (never count_distincts stacked into one aggregate — the
    Expand lesson); the collect is two numbers per column."""
    df = spark.read.parquet(target_path.rstrip("/"))
    cols = list(columns) if columns else list(df.columns)
    per: dict[str, dict] = {}
    n = df.count()
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in the table")
        row = (
            df.groupBy(F.col("`" + c.replace("`", "``") + "`"))
            .count()
            .agg(
                F.count(F.lit(1)).alias("d"),
                F.max("count").alias("m"),
            )
            .collect()[0]
        )
        d, m = int(row["d"] or 0), int(row["m"] or 0)
        per[c] = {
            "n_distinct": d,
            "skew_x": round(m / (n / d), 3) if n and d else 0.0,
        }
    doc = {"version": 1, "n_rows": int(n), "columns": per}
    import json

    storage.write_bytes(
        spark,
        f"{target_path.rstrip('/')}/{_PLANNER_STATS_FILE}",
        json.dumps(doc).encode(),
    )
    return doc


def load_table_stats(spark: SparkSession, target_path: str) -> dict | None:
    """The persisted planner stats, or None (absent or not a version-1
    stats doc — consumers fall back to un-hinted plans, zero behavior
    change). A file that cannot be read raises."""
    doc = storage.read_json(
        spark, f"{target_path.rstrip('/')}/{_PLANNER_STATS_FILE}"
    )
    return doc if doc is not None and doc.get("version") == 1 else None


def plan_join_strategy(
    left_stats: dict | None,
    right_stats: dict | None,
    keys: list[str] | None,
    how: str = "inner",
    broadcast_max_rows: int = 1_000_000,
    skew_threshold: float = 16.0,
    max_salt: int = 64,
) -> dict:
    """Stats-informed join placement (pure function — unit-testable):

    - right side's recorded rows at or under ``broadcast_max_rows`` →
      ``{"broadcast": True}`` (a broadcast-hash join removes the
      fact-side shuffle; the threshold is rows because the persisted
      stats are row-based — tune per deployment like
      ``spark.sql.autoBroadcastJoinThreshold``);
    - else, the LEFT side's hottest join key at or past
      ``skew_threshold``× the average key → ``{"salt": s}`` with ``s``
      the skew factor rounded up to a power of two, capped at
      ``max_salt`` (only for inner/left joins with column-list keys —
      :func:`~.relational.salted_join`'s domain);
    - anything else (including ABSENT stats) → ``{}``: the un-hinted
      plan, so tables without ANALYZE output behave exactly as before.
    """
    if (
        right_stats is not None
        and isinstance(right_stats.get("n_rows"), int)
        and right_stats["n_rows"] <= broadcast_max_rows
    ):
        return {"broadcast": True}
    if (
        left_stats is not None
        and keys
        and how in ("inner", "left")
    ):
        skews = [
            (left_stats.get("columns") or {}).get(k, {}).get("skew_x")
            for k in keys
        ]
        skews = [s for s in skews if isinstance(s, (int, float))]
        if skews and max(skews) >= skew_threshold:
            salt = 2
            while salt < min(max_salt, max(skews)):
                salt *= 2
            return {"salt": min(salt, max_salt)}
    return {}


def stage_analyze(df, spec: dict, spark: SparkSession | None = None):
    """``{"stage": "analyze", "path": ...?, "columns": [...]?,
    "partition_by": [...]?, "distinct": "approx"|"exact"|null,
    "save": bool?}`` — source-like with ``path`` (analyze the
    snapshot), otherwise analyzes the incoming frame. ``save: true``
    (path mode) additionally persists the planner stats the join
    stage's ``auto`` mode consults (:func:`save_table_stats`)."""
    s = spark if spark is not None else df.sparkSession
    distinct = spec.get("distinct", "approx")
    if spec.get("path"):
        if spec.get("save"):
            save_table_stats(s, spec["path"], spec.get("columns"))
        return analyze_table(
            s, spec["path"], spec.get("columns"),
            spec.get("partition_by"), distinct,
        )
    return analyze_frame(
        df, spec.get("columns"), spec.get("partition_by"), distinct
    )
