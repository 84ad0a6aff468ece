"""lakehouse: a CDC merge, a deletion-vector delete, time travel, a change
feed read and a join + aggregate pipeline on one versioned table.

One job applies a CDC batch with ``merge_upsert`` (updates, inserts and
delete flags; version 1), deletes rows through a deletion vector with
``delete_where_dv`` (version 2), reads version 1 back with
``read_table_version``, reads the keyed change feed from version 0 to 2
with ``table_changes``, and runs a ``Pipeline`` that joins the live table
to a customer dimension, aggregates by segment and writes the report.
One batch, not a sequence: each merge costs about 2 s of mostly fixed
work, and a second one does not fit a run's share of the time budget.

The table is reset from a pristine copy outside the timed region, so
every job starts from the same version-0 state and does the same work.
Every output is checked against a DuckDB replay of the same batch and delete.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.harness import Tracer, force, tree_bytes, tree_files

ROWS = 100_000
REGIONS = 8
CUSTOMERS = 5_000
SEGMENTS = 6
UPDATES, INSERTS, DELETES = 2_000, 1_000, 500
#: regions a CDC batch writes to; fixed so that every seed rewrites the
#: same partitions and only keys and values depend on the seed
TOUCHED = (2, 5)
#: deletion-vector delete: about 10% of the rows of one other region
DV_CONDITION = "qty = 3 AND region = 6"
COLUMNS = ["order_id", "customer_id", "qty", "amount_cents", "status", "region"]

#: order-insensitive fingerprint, computed the same way by Spark and DuckDB
FINGERPRINT = [
    "count(*) AS n",
    "sum(order_id) AS a",
    "sum((order_id * 31 + customer_id) % 1000003) AS b",
    "sum(qty * 7 + status) AS c",
    "sum(amount_cents) AS d",
    "sum(region * (order_id % 997)) AS e",
]

PIPELINE = """
pipeline:
  - {stage: source, format: parquet, path: "${customers}", name: customers}
  - {stage: table_read, path: "${table}"}
  - {stage: join, right: customers, on: [customer_id], how: inner}
  - stage: aggregate
    group_by: [segment]
    aggs: {n: "count(*)", qty: "sum(qty)", amount: "sum(amount_cents)"}
  - {stage: sink, format: parquet, mode: overwrite, path: "${report}"}
"""


def _fp_spark(df: DataFrame) -> DataFrame:
    return df.selectExpr(*FINGERPRINT)


def _fp_duck(con, relation: str) -> tuple:
    return tuple(int(v) for v in con.sql(f"SELECT {', '.join(FINGERPRINT)} FROM {relation}").fetchone())


def _changes_spark(df: DataFrame) -> DataFrame:
    return df.groupBy("_change_type").agg(*[F.expr(e) for e in FINGERPRINT]).orderBy("_change_type")


class Lakehouse:
    name = "lakehouse"

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tr = tracer
        self.lake = f"{work_dir}/lake"  # the table root: table plus its sidecars
        self.table = f"{self.lake}/orders"
        self.pristine = f"{work_dir}/pristine"
        self.customers = f"{work_dir}/customers"
        self.batch = f"{work_dir}/batch"
        self.report = f"{work_dir}/report"
        self.plain = f"{work_dir}/plain"
        self.rows_per_job = ROWS + UPDATES + INSERTS + DELETES
        self.expected: dict[str, object] = {}
        self.batch_bytes = 0

    # -- inputs ------------------------------------------------------------

    def _frames(self):
        """(base table, customer dimension, CDC batch) as pandas frames.
        The batch holds updates, inserts and, after the updates, delete
        flags."""
        import pandas as pd

        rng = np.random.default_rng(self.seed)
        ids = np.arange(ROWS)
        base = pd.DataFrame({
            "order_id": ids.astype("int64"),
            "customer_id": rng.integers(0, CUSTOMERS, ROWS).astype("int32"),
            "qty": rng.integers(1, 11, ROWS).astype("int32"),
            "amount_cents": rng.integers(0, 1_000_000, ROWS).astype("int64"),
            "status": rng.integers(0, 3, ROWS).astype("int32"),
            "region": (ids % REGIONS).astype("int32"),
        })
        customers = pd.DataFrame({
            "customer_id": np.arange(CUSTOMERS, dtype="int32"),
            "segment": rng.integers(0, SEGMENTS, CUSTOMERS).astype("int32"),
        })
        touched = np.array(TOUCHED)
        candidates = np.flatnonzero(np.isin(ids % REGIONS, touched))
        existing = rng.choice(candidates, size=UPDATES + DELETES, replace=False)
        j = np.arange(INSERTS)
        keys = np.concatenate([existing, ROWS + REGIONS * j + touched[j % 2]])
        n = len(keys)
        idx = np.arange(n)
        batch = pd.DataFrame({
            "order_id": keys.astype("int64"),
            "customer_id": rng.integers(0, CUSTOMERS, n).astype("int32"),
            "qty": rng.integers(1, 11, n).astype("int32"),
            "amount_cents": rng.integers(0, 1_000_000, n).astype("int64"),
            "status": rng.integers(0, 3, n).astype("int32"),
            "region": (keys % REGIONS).astype("int32"),
            "_deleted": (idx >= UPDATES) & (idx < UPDATES + DELETES),
        })
        return base, customers, batch

    def prepare(self) -> None:
        """Write the inputs with pyarrow (so set-up does not depend on the
        engine's writers): the table partitioned by region in the same
        ``region=<n>/`` layout Spark writes, then enable its history."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from config_driven_pyspark_spark.operators import history as Hist

        for path in (self.lake, self.pristine, self.customers, self.batch):
            shutil.rmtree(path, ignore_errors=True)
        base, customers, batch = self._frames()
        for region, part in base.groupby("region"):
            os.makedirs(f"{self.table}/region={region}")
            table = pa.Table.from_pandas(part.drop(columns="region"), preserve_index=False)
            pq.write_table(table, f"{self.table}/region={region}/part-00000.parquet")
        Hist.enable_table_history(self.spark, self.table, ["region"])
        shutil.copytree(self.lake, self.pristine)
        for path, frame in ((self.customers, customers), (self.batch, batch)):
            os.makedirs(path)
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), f"{path}/part-00000.parquet")

    def reset(self) -> None:
        shutil.rmtree(self.lake)
        shutil.copytree(self.pristine, self.lake)

    # -- independent reference: DuckDB replay -------------------------------

    def reference(self) -> None:
        import duckdb

        con = duckdb.connect()
        con.sql(
            f"CREATE TABLE t AS SELECT {', '.join(COLUMNS)} FROM "
            f"read_parquet('{self.pristine}/orders/*/*.parquet', hive_partitioning = true)"
        )
        con.sql("CREATE TABLE v0 AS SELECT * FROM t")
        cols = ", ".join(COLUMNS)
        batch = f"read_parquet('{self.batch}/*.parquet')"
        live = "order_id IN (SELECT order_id FROM t)"
        self.expected["merge"] = tuple(int(v) for v in con.sql(
            f"SELECT count(*) FILTER (NOT _deleted AND NOT {live}), "
            f"count(*) FILTER (_deleted AND {live}) FROM {batch}"
        ).fetchone())
        con.sql(f"DELETE FROM t WHERE order_id IN (SELECT order_id FROM {batch})")
        con.sql(f"INSERT INTO t SELECT {cols} FROM {batch} WHERE NOT _deleted")
        self.expected["time_travel"] = _fp_duck(con, "t")  # version 1
        self.expected["dv_delete"] = int(con.sql(f"SELECT count(*) FROM t WHERE {DV_CONDITION}").fetchone()[0])
        con.sql(f"DELETE FROM t WHERE {DV_CONDITION}")
        self.expected["current"] = _fp_duck(con, "t")
        differs = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in COLUMNS[1:])
        a_cols = ", ".join(f"a.{c}" for c in COLUMNS)
        b_cols = ", ".join(f"b.{c}" for c in COLUMNS)
        con.sql(f"""
            CREATE TABLE ch AS
            SELECT {cols}, 'insert' AS _change_type FROM t WHERE order_id NOT IN (SELECT order_id FROM v0)
            UNION ALL SELECT {cols}, 'delete' FROM v0 WHERE order_id NOT IN (SELECT order_id FROM t)
            UNION ALL SELECT {a_cols}, 'update_preimage' FROM v0 a JOIN t b USING (order_id) WHERE {differs}
            UNION ALL SELECT {b_cols}, 'update_postimage' FROM v0 a JOIN t b USING (order_id) WHERE {differs}
        """)
        self.expected["changes"] = [
            (r[0], *[int(v) for v in r[1:]])
            for r in con.sql(
                f"SELECT _change_type, {', '.join(FINGERPRINT)} FROM ch GROUP BY _change_type ORDER BY _change_type"
            ).fetchall()
        ]
        self.expected["report"] = [
            tuple(int(v) for v in r)
            for r in con.sql(
                f"SELECT segment, count(*), sum(qty), sum(amount_cents) FROM t "
                f"JOIN read_parquet('{self.customers}/*.parquet') USING (customer_id) "
                f"GROUP BY segment ORDER BY segment"
            ).fetchall()
        ]
        con.close()
        # write amplification base: the batch written once as plain parquet
        self.batch_bytes = tree_bytes(self.batch)

    # -- the job -----------------------------------------------------------

    def install_traces(self) -> None:
        from config_driven_pyspark_spark import pipeline as P
        from config_driven_pyspark_spark.operators import deletes as D
        from config_driven_pyspark_spark.operators import relational as R

        self.tr.wrap(P, "stage_source", "sources.read")
        self.tr.wrap(P, "stage_sink", "sources.write")
        self.tr.wrap(D, "read_table", "deletes.read")
        self.tr.wrap(R, "stage_join", "relational.join")
        self.tr.wrap(R, "stage_aggregate", "relational.aggregate")

    def _diff(self, before: dict[str, int]) -> tuple[dict[str, int], dict[str, int]]:
        """(files now under the table root, files new since ``before``)."""
        after = tree_files(self.lake)
        return after, {p: n for p, n in after.items() if before.get(p) != n}

    def _note_table_files(self, new: dict[str, int]) -> None:
        data = [p for p in new if p.endswith(".parquet") and "/_dv" not in p and "__" not in p.split("/")[0]]
        self.tr.note("table.files_written", len(data))
        self.tr.note("table.bytes_written", sum(new.values()))
        self.tr.note("table.meta_files", len(new) - len(data))

    def job(self) -> dict[str, bool]:
        from config_driven_pyspark_spark import Pipeline
        from config_driven_pyspark_spark.operators import deletes as D
        from config_driven_pyspark_spark.operators import history as Hist
        from config_driven_pyspark_spark.operators import table as T

        tr, spark = self.tr, self.spark
        files = tree_files(self.lake) if tr.traced else {}
        written = 0
        ok: dict[str, bool] = {}
        with tr.span("op.merge"):
            with tr.span("table.merge"):
                stats = T.merge_upsert(
                    spark.read.parquet(self.batch), self.table, ["order_id"],
                    delete_col="_deleted", partition_by=["region"],
                )
        ok["merge"] = (stats["n_inserted"], stats["n_deleted"]) == self.expected["merge"]
        if tr.traced:
            files, new = self._diff(files)
            self._note_table_files(new)
            written += sum(new.values())

        with tr.span("op.dv_delete"):
            with tr.span("deletes.delete"):
                stats = D.delete_where_dv(spark, self.table, DV_CONDITION, partition_by=["region"])
        ok["dv_delete"] = stats["n_matched"] == self.expected["dv_delete"]
        if tr.traced:
            files, new = self._diff(files)
            self.tr.note("deletes.dv_files", len(new))
            self.tr.note("table.meta_files", len(new))
            written += sum(new.values())

        with tr.span("op.time_travel"):
            with tr.span("history.read_version"):
                old = Hist.read_table_version(spark, self.table, 1)
            got = force(tr, _fp_spark(old))[0]
        ok["time_travel"] = tuple(got) == self.expected["time_travel"]

        with tr.span("op.cdf_read"):
            with tr.span("history.changes"):
                changes = Hist.table_changes(spark, self.table, 0, 2, keys=["order_id"])
            got = force(tr, _changes_spark(changes))
        got = [(r[0], *[int(v) for v in r[1:]]) for r in got]
        ok["cdf_read"] = got == self.expected["changes"]
        tr.note("history.changes_rows", sum(r[1] for r in got))

        with tr.span("op.scan_join"):
            with tr.span("pipeline.parse"):
                pipe = Pipeline.from_yaml(PIPELINE)
            with tr.span("pipeline.build"):
                pipe.run(spark, variables={"customers": self.customers, "table": self.table, "report": self.report})
            got = force(tr, spark.read.parquet(self.report).orderBy("segment"))
        ok["scan_join"] = [tuple(int(v) for v in r) for r in got] == self.expected["report"]

        if tr.traced:
            tr.note("sources.bytes_written", tree_bytes(self.report))
            tr.note("write_amp", written / self.batch_bytes)
        return ok

    def after_job(self) -> dict[str, bool]:
        """Outside timing: check the live state the job left behind and,
        in traced jobs, the space amplification of the table root."""
        from config_driven_pyspark_spark.operators import deletes as D

        live = getattr(D.read_table, "__wrapped__", D.read_table)(self.spark, self.table)
        if self.tr.traced:
            live.write.mode("overwrite").parquet(self.plain)
            self.tr.note("space_amp", tree_bytes(self.lake) / tree_bytes(self.plain))
        got = _fp_spark(live).first()
        return {"current": tuple(int(v) for v in got) == self.expected["current"]}

