"""Table versioning: time travel / RESTORE / history / vacuum
(operators/history.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from config_driven_pyspark_spark import Pipeline
from config_driven_pyspark_spark.operators import history as H
from config_driven_pyspark_spark.operators.table import (
    compact_table,
    delete_where,
    merge_upsert,
    update_where,
)


def _rows(df, cols=("k", "status", "val")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _seed(spark, path, partitioned=True):
    df = spark.createDataFrame(
        [
            (i, "P" if i % 3 == 0 else ("F" if i % 3 == 1 else "O"),
             float(i))
            for i in range(30)
        ],
        "k int, status string, val double",
    )
    w = df.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("status")
    w.parquet(path)
    return _rows(df)


def test_versions_across_scoped_merges(spark, tmp_path):
    tgt = str(tmp_path / "t")
    v0 = _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    assert H.table_current_version(spark, tgt) == 0

    batch = spark.createDataFrame(
        [(0, "P", 100.0), (99, "P", 999.0)],
        "k int, status string, val double",
    )
    stats = merge_upsert(batch, tgt, ["k"], partition_by=["status"])
    assert stats["rewrite"] == "partition"
    v1 = _rows(spark.read.parquet(tgt))

    update_where(
        spark, tgt, {"val": "val + 1000"}, "val < 5",
        partition_by=["status"],
    )
    v2 = _rows(spark.read.parquet(tgt))
    assert H.table_current_version(spark, tgt) == 2

    for w, exp in [(0, v0), (1, v1), (2, v2)]:
        assert _rows(H.read_table_version(spark, tgt, w)) == exp
    with pytest.raises(ValueError, match="at version 2"):
        H.read_table_version(spark, tgt, 3)


def test_retention_stores_only_replaced_partitions(spark, tmp_path):
    """Storage ∝ churn: a scoped merge touching only status=P retains
    only that directory — untouched partitions are never copied."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    batch = spark.createDataFrame(
        [(0, "P", 100.0)], "k int, status string, val double"
    )
    merge_upsert(batch, tgt, ["k"], partition_by=["status"])
    entry = os.listdir(f"{tgt}__history/v1")
    assert "status=P" in entry
    assert "status=F" not in entry and "status=O" not in entry


def test_created_partition_absent_at_older_versions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    v0 = _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    batch = spark.createDataFrame(
        [(200, "Z", 7.0)], "k int, status string, val double"
    )
    merge_upsert(batch, tgt, ["k"], partition_by=["status"])
    assert _rows(H.read_table_version(spark, tgt, 0)) == v0
    assert (200, "Z", 7.0) in _rows(H.read_table_version(spark, tgt, 1))


def test_full_mode_and_unpartitioned(spark, tmp_path):
    tgt = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k int, val double"
    )
    df.write.parquet(tgt)
    H.enable_table_history(spark, tgt)
    merge_upsert(
        spark.createDataFrame([(1, 11.0), (50, 50.0)], "k int, val double"),
        tgt, ["k"],
    )
    delete_where(spark, tgt, "k < 3")
    got0 = sorted((r.k, r.val) for r in
                  H.read_table_version(spark, tgt, 0).collect())
    assert got0 == [(i, float(i)) for i in range(10)]
    got1 = sorted((r.k, r.val) for r in
                  H.read_table_version(spark, tgt, 1).collect())
    assert (1, 11.0) in got1 and (50, 50.0) in got1 and len(got1) == 11
    hist = {r.version: (r.op, r.mode)
            for r in H.table_history(spark, tgt).collect()}
    assert hist == {1: ("merge", "full"), 2: ("delete", "full")}


def test_restore_is_a_new_version(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    v1 = _rows(spark.read.parquet(tgt))
    delete_where(spark, tgt, "status = 'P'", partition_by=["status"])
    v2 = _rows(spark.read.parquet(tgt))

    out = H.restore_table(spark, tgt, 1)
    assert out["new_version"] == 3
    assert _rows(spark.read.parquet(tgt)) == v1
    # pre-restore state still reachable
    assert _rows(H.read_table_version(spark, tgt, 2)) == v2


def test_compaction_is_a_content_preserving_version(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(2):  # several merge batches -> several files
        merge_upsert(
            spark.createDataFrame(
                [(1000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    v2 = _rows(spark.read.parquet(tgt))
    compact_table(spark, tgt, partition_by=["status"], min_files=2)
    assert H.table_current_version(spark, tgt) == 3
    assert _rows(spark.read.parquet(tgt)) == v2
    assert _rows(H.read_table_version(spark, tgt, 2)) == v2


def test_vacuum_truncates_contiguously(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    states = [_rows(spark.read.parquet(tgt))]
    for i in range(4):
        merge_upsert(
            spark.createDataFrame(
                [(2000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
        states.append(_rows(spark.read.parquet(tgt)))
    out = H.vacuum_table_history(spark, tgt, keep_last=2)
    assert out == {"dropped": 2, "kept": 2}
    # readable: floor..current
    assert _rows(H.read_table_version(spark, tgt, 2)) == states[2]
    assert _rows(H.read_table_version(spark, tgt, 4)) == states[4]
    with pytest.raises(ValueError, match="unreadable"):
        H.read_table_version(spark, tgt, 1)


def test_crash_gap_refuses_older_reads(spark, tmp_path):
    """A stale .pending marker (crash between first rename and manifest
    commit) permanently gates reconstruction below it — never a
    silently-wrong as-of read."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    # simulate the crash trace
    open(f"{tgt}__history/v2.pending", "w").close()
    merge_upsert(
        spark.createDataFrame(
            [(1, "F", 200.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )  # becomes v3
    assert H.table_current_version(spark, tgt) == 3
    v2_live = _rows(H.read_table_version(spark, tgt, 2))
    assert (1, "F", 200.0) not in v2_live
    with pytest.raises(ValueError, match="unreadable"):
        H.read_table_version(spark, tgt, 1)


def test_failed_swap_leaves_no_gap(spark, tmp_path):
    """An in-process abort (staged-count mismatch happens before
    retention; here: layout mismatch via partition_by) must not burn a
    version."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    with pytest.raises(ValueError, match="partition_by"):
        merge_upsert(
            spark.createDataFrame(
                [(0, "P", 1.0)], "k int, status string, val double"
            ),
            tgt, ["k"],  # no partition_by -> pinned-layout mismatch
        )
    assert H.table_current_version(spark, tgt) == 0
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 1.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    assert H.table_current_version(spark, tgt) == 1
    assert not os.path.exists(f"{tgt}__history/v1.pending")


def test_history_disabled_swaps_unchanged(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 1.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    assert not os.path.exists(f"{tgt}__history")


def test_schema_evolution_preserves_old_versions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k int, val double"
    )
    df.write.parquet(tgt)
    H.enable_table_history(spark, tgt)
    batch = spark.createDataFrame(
        [(1, 11.0, "new")], "k int, val double, extra string"
    )
    merge_upsert(batch, tgt, ["k"], allow_new_columns=True)
    old = H.read_table_version(spark, tgt, 0)
    assert old.columns == ["k", "val"]
    assert sorted((r.k, r.val) for r in old.collect()) == [
        (i, float(i)) for i in range(5)
    ]


def test_pipeline_stages(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    got = Pipeline([
        {"stage": "time_travel", "path": tgt, "version": 0},
    ]).run(spark)
    assert (0, "P", 0.0) in _rows(got)
    hist = Pipeline([
        {"stage": "table_history", "path": tgt},
    ]).run(spark)
    assert [r.version for r in hist.collect()] == [1]
    restored = Pipeline([
        {"stage": "source", "format": "parquet", "path": tgt,
         "name": "t"},
        {"stage": "table_restore", "path": tgt, "version": 0,
         "return": "table"},
    ]).run(spark)
    assert (0, "P", 0.0) in _rows(restored)
    Pipeline([
        {"stage": "source", "format": "parquet", "path": tgt,
         "name": "t"},
        {"stage": "vacuum_history", "path": tgt, "keep_last": 1},
    ]).run(spark)
    assert H.table_current_version(spark, tgt) == 2


def test_table_changes_keyed(spark, tmp_path):
    """Delta-CDF semantics: insert / delete / update pre+post pairs,
    identical rows silent; the diff scope is only touched partitions."""
    from config_driven_pyspark_spark.operators.history import (
        table_changes,
    )

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    batch = spark.createDataFrame(
        [
            (0, "P", 100.0),    # update (val changes)
            (3, "P", 3.0),      # identical re-delivery -> silent
            (99, "P", 999.0),   # insert
            (6, "P", 0.0),      # delete
        ],
        "k int, status string, val double",
    ).withColumn("gone", F.col("k") == 6)
    merge_upsert(
        batch, tgt, ["k"], delete_col="gone", partition_by=["status"],
    )
    ch = table_changes(spark, tgt, 0, 1, keys=["k"])
    got = sorted(
        (r.k, r._change_type, r.val) for r in ch.collect()
    )
    assert got == [
        (0, "update_postimage", 100.0),
        (0, "update_preimage", 0.0),
        (6, "delete", 6.0),
        (99, "insert", 999.0),
    ]


def test_table_changes_multiset_and_range(spark, tmp_path):
    from config_driven_pyspark_spark.operators.history import (
        table_changes,
    )

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    delete_where(spark, tgt, "k = 1", partition_by=["status"])
    # keyless multiset diff across the whole 0->2 range
    ch = table_changes(spark, tgt, 0, 2)
    got = sorted((r.k, r._change_type) for r in ch.collect())
    assert got == [(0, "delete"), (0, "insert"), (1, "delete")]
    # empty range
    assert table_changes(spark, tgt, 1, 1, keys=["k"]).count() == 0
    # full range defaults to current
    assert table_changes(spark, tgt, 0).count() == 3


def test_table_changes_stage(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(777, "Z", 7.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    out = Pipeline([
        {"stage": "table_changes", "path": tgt, "from_version": 0,
         "keys": ["k"]},
    ]).run(spark)
    assert [(r.k, r._change_type) for r in out.collect()] == [
        (777, "insert")
    ]


def test_streaming_merge_sink_is_versioned(spark, tmp_path):
    """Composition: a stream_sink format=merge draining into a
    history-enabled snapshot records one version per micro-batch, and
    CDF over the whole range equals the net change."""
    from config_driven_pyspark_spark.operators.history import (
        table_changes,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    ddl = "k int, status string, val double"
    # two source files -> maxFilesPerTrigger=1 forces two micro-batches
    spark.createDataFrame([(1, "P", 1.0), (2, "O", 2.0)], ddl).coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame([(1, "P", 10.0), (3, "P", 3.0)], ddl).coalesce(
        1
    ).write.mode("append").parquet(src)

    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])

    Pipeline([
        {"stage": "source", "format": "parquet", "path": src,
         "streaming": True, "schema": ddl,
         "options": {"maxFilesPerTrigger": "1"}},
        {"stage": "stream_sink", "format": "merge", "path": tgt,
         "keys": ["k"], "partition_by": ["status"],
         "checkpoint": str(tmp_path / "ckpt"),
         "trigger": "available_now"},
    ]).run(spark)

    assert H.table_current_version(spark, tgt) == 2
    hist = H.table_history(spark, tgt).collect()
    assert [r.op for r in hist] == ["merge", "merge"]
    ch = table_changes(spark, tgt, 0, 2, keys=["k"])
    got = {(r.k, r._change_type): r.val for r in ch.collect()}
    # k=1 updated twice -> one pre/post pair 1.0->10.0 net;
    # k=2 updated (2.0 over seed val 2.0 -> identical, silent);
    # k=3 existed in seed (val 3.0) -> identical, silent
    assert got == {
        (1, "update_preimage"): 1.0,
        (1, "update_postimage"): 10.0,
    }


def test_restore_is_partition_scoped(spark, tmp_path):
    """Restore rewrites ONLY the partitions that diverged since the
    target version: untouched partition files stay byte-identical,
    partitions created since are deleted, and restoring to the current
    version is a no-op."""
    import glob

    tgt = str(tmp_path / "t")
    v0 = _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])

    def _fprints(d):
        return {
            f: (os.path.getsize(f), os.stat(f).st_mtime_ns)
            for f in glob.glob(f"{tgt}/status={d}/part-*.parquet")
        }

    f_before, o_before = _fprints("F"), _fprints("O")
    # v1 touches P only; v2 creates Z
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    merge_upsert(
        spark.createDataFrame(
            [(500, "Z", 5.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    out = H.restore_table(spark, tgt, 0)
    assert out["rewrite"] == "partition"
    assert out["new_version"] == 3
    assert _rows(spark.read.parquet(tgt)) == v0
    assert not os.path.exists(f"{tgt}/status=Z")
    # the F and O partitions were never rewritten by the restore
    assert _fprints("F") == f_before and _fprints("O") == o_before
    # restore to current = no-op, no version burned
    noop = H.restore_table(spark, tgt, 3)
    assert noop == {"restored_version": 3, "new_version": 3,
                    "n_rows": None, "rewrite": "none"}
    assert H.table_current_version(spark, tgt) == 3


def test_restore_drops_key_stats_before_the_swap(spark, tmp_path, monkeypatch):
    """A scoped restore drops the key-stats sidecars before its first
    rename. Here a crash right after the swap must not leave the entries
    of the pre-restore state, which are narrower than the restored data:
    a pruned read would miss the restored row and the next merge of its
    key would abort on the staged-count check."""
    from config_driven_pyspark_spark.operators import table as T

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)  # status=P holds k = 0, 3, ..., 27
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(27, "P", 0.0, True)],
            "k int, status string, val double, gone boolean",
        ),
        tgt, ["k"], delete_col="gone", partition_by=["status"],
    )
    doc = T._read_key_stats(spark, tgt)
    assert doc["partitions"]["status=P"]["k"]["max"] == 24

    swap = T._stage_verify_swap

    def crash_after_swap(*args, **kwargs):
        swap(*args, **kwargs)
        raise RuntimeError("crash after the swap")

    monkeypatch.setattr(T, "_stage_verify_swap", crash_after_swap)
    with pytest.raises(RuntimeError, match="crash after the swap"):
        H.restore_table(spark, tgt, 0)
    monkeypatch.undo()
    assert spark.read.parquet(tgt).filter("k = 27").count() == 1
    assert T.scan_table(spark, tgt, ["status"], key_eq={"k": 27}).count() == 1
    stats = merge_upsert(
        spark.createDataFrame(
            [(27, "P", 1.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    assert stats["n_matched"] == 1 and stats["n_updated"] == 1


def test_vacuum_age_based(spark, tmp_path):
    """older_than_seconds drops entries by commit age (chronological =
    oldest-first prefix, so readability still truncates contiguously);
    both bounds combine as drop-what-violates-either."""
    import json

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(3):
        merge_upsert(
            spark.createDataFrame(
                [(3000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    # backdate v1 and v2 by a day (drop the Hadoop .crc the local FS
    # keeps for the file we rewrite behind its back)
    for v in (1, 2):
        mf = f"{tgt}__history/v{v}/_manifest.json"
        doc = json.load(open(mf))
        doc["ts"] -= 86_400
        json.dump(doc, open(mf, "w"))
        crc = f"{tgt}__history/v{v}/._manifest.json.crc"
        if os.path.exists(crc):
            os.remove(crc)
    out = H.vacuum_table_history(spark, tgt, older_than_seconds=3600)
    assert out == {"dropped": 2, "kept": 1}
    with pytest.raises(ValueError, match="unreadable"):
        H.read_table_version(spark, tgt, 1)
    assert H.read_table_version(spark, tgt, 2).count() > 0
    with pytest.raises(ValueError, match="needs keep_last"):
        H.vacuum_table_history(spark, tgt)


def test_timestamp_as_of(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the highest version committed at or
    before the timestamp; the time_travel stage and restore_table take
    timestamps; pre-history timestamps and version/timestamp conflicts
    refuse (VERDICT r12 ask #3)."""
    from datetime import datetime, timezone

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    states = [_rows(spark.read.parquet(tgt))]
    for i in range(2):
        merge_upsert(
            spark.createDataFrame(
                [(7000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
        states.append(_rows(spark.read.parquet(tgt)))
    ts = H.commit_timestamps(spark, tgt)
    assert set(ts) == {0, 1, 2} and ts[0] < ts[1] < ts[2]
    # boundaries: exact commit time -> that version; between -> lower;
    # after the last -> current; between enable and v1 -> 0
    assert H.resolve_timestamp_version(spark, tgt, ts[1]) == 1
    assert H.resolve_timestamp_version(
        spark, tgt, (ts[1] + ts[2]) / 2) == 1
    assert H.resolve_timestamp_version(spark, tgt, ts[2] + 10) == 2
    assert H.resolve_timestamp_version(
        spark, tgt, (ts[0] + ts[1]) / 2) == 0
    with pytest.raises(ValueError, match="history begins"):
        H.resolve_timestamp_version(spark, tgt, ts[0] - 10)
    # ISO-8601 strings parse (naive = UTC); use the midpoint, not the
    # exact commit time — isoformat truncates to microseconds, which
    # could round an exact boundary just below ts[1]
    iso = datetime.fromtimestamp(
        (ts[1] + ts[2]) / 2, tz=timezone.utc
    ).replace(tzinfo=None).isoformat()
    assert H.resolve_timestamp_version(spark, tgt, iso) == 1
    with pytest.raises(ValueError, match="cannot parse"):
        H.resolve_timestamp_version(spark, tgt, "not-a-time")
    # the stage surface
    out = H.stage_time_travel(
        None, {"path": tgt, "timestamp": ts[1]}, spark
    )
    assert _rows(out) == states[1]
    with pytest.raises(ValueError, match="exactly one"):
        H.stage_time_travel(
            None, {"path": tgt, "version": 1, "timestamp": ts[1]}, spark
        )
    with pytest.raises(ValueError, match="exactly one"):
        H.stage_time_travel(None, {"path": tgt}, spark)
    # RESTORE ... TIMESTAMP AS OF
    res = H.restore_table(spark, tgt, timestamp=(ts[1] + ts[2]) / 2)
    assert res["restored_version"] == 1 and res["new_version"] == 3
    assert _rows(spark.read.parquet(tgt)) == states[1]
    with pytest.raises(ValueError, match="exactly one"):
        H.restore_table(spark, tgt, 1, timestamp=ts[1])
    with pytest.raises(ValueError, match="exactly one"):
        H.restore_table(spark, tgt)


def test_timestamp_as_of_vacuumed_refuses(spark, tmp_path):
    """A timestamp that can only be ordered against vacuumed entries
    refuses rather than guessing a version."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(3):
        merge_upsert(
            spark.createDataFrame(
                [(7100 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    ts = H.commit_timestamps(spark, tgt)
    H.vacuum_table_history(spark, tgt, keep_last=1)
    # after the surviving entry: fine
    assert H.resolve_timestamp_version(spark, tgt, ts[3] + 10) == 3
    with pytest.raises(ValueError, match="vacuumed"):
        H.resolve_timestamp_version(spark, tgt, (ts[1] + ts[2]) / 2)
    H.vacuum_table_history(spark, tgt, keep_last=0)
    with pytest.raises(ValueError, match="vacuumed"):
        H.resolve_timestamp_version(spark, tgt, ts[3] + 10)


def test_table_changes_by_timestamp(spark, tmp_path):
    """The table_changes stage accepts from_timestamp/to_timestamp
    (Delta's startingTimestamp idiom): bounds resolve through
    resolve_timestamp_version; mixing version and timestamp on one
    bound refuses."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(2):
        merge_upsert(
            spark.createDataFrame(
                [(7300 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    ts = H.commit_timestamps(spark, tgt)
    by_ts = H.stage_table_changes(
        None,
        {"path": tgt, "from_timestamp": (ts[0] + ts[1]) / 2,
         "to_timestamp": ts[2] + 5, "keys": ["k"]},
        spark,
    )
    by_v = H.stage_table_changes(
        None, {"path": tgt, "from_version": 0, "to_version": 2,
               "keys": ["k"]}, spark,
    )
    assert sorted(map(tuple, by_ts.collect())) == sorted(
        map(tuple, by_v.collect())
    )
    with pytest.raises(ValueError, match="at most one"):
        H.stage_table_changes(
            None,
            {"path": tgt, "from_version": 0, "from_timestamp": ts[1]},
            spark,
        )
    with pytest.raises(ValueError, match="from_version or"):
        H.stage_table_changes(None, {"path": tgt}, spark)


def test_cdf_commit_timestamp(spark, tmp_path):
    """Per-version CDF can emit Delta's _commit_timestamp column from
    the manifest commit times; the net range diff refuses it."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(2):
        merge_upsert(
            spark.createDataFrame(
                [(7200 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    ts = H.commit_timestamps(spark, tgt)
    out = H.table_changes(
        spark, tgt, 0, 2, keys=["k"], per_version=True,
        include_timestamp=True,
    )
    assert "_commit_timestamp" in out.columns
    got = {
        (r._commit_version,
         round(r._commit_timestamp.timestamp(), 3))
        for r in out.collect()
    }
    assert got == {(1, round(ts[1], 3)), (2, round(ts[2], 3))}
    with pytest.raises(ValueError, match="per_version"):
        H.table_changes(
            spark, tgt, 0, 2, keys=["k"], include_timestamp=True
        )


def test_vacuum_never_resets_version_counter(spark, tmp_path):
    """Dropping EVERY entry (keep_last=0, or an idle table past the age
    bound) must not recycle version numbers: downstream time-travel /
    CDF cursors hold version ints and reuse would silently change what
    they mean (ADVICE r12 — Delta never reuses versions)."""
    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    for i in range(3):
        merge_upsert(
            spark.createDataFrame(
                [(4000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
    assert H.table_current_version(spark, tgt) == 3
    out = H.vacuum_table_history(spark, tgt, keep_last=0)
    assert out == {"dropped": 3, "kept": 0}
    # the table is STILL at version 3 (live read ok, older refused)
    assert H.table_current_version(spark, tgt) == 3
    assert H.read_table_version(spark, tgt, 3).count() == 33
    with pytest.raises(ValueError, match="unreadable"):
        H.read_table_version(spark, tgt, 2)
    # the next swap allocates 4, never 1
    merge_upsert(
        spark.createDataFrame(
            [(5000, "P", 1.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    assert H.table_current_version(spark, tgt) == 4
    hist = {r.version for r in H.table_history(spark, tgt).collect()}
    assert hist == {4}


def test_vacuum_age_keep_set_made_contiguous(spark, tmp_path):
    """A wall-clock regression between commits can make the age rule's
    keep set non-contiguous (an OLD entry with a NEWER ts). The vacuum
    must expand to the contiguous suffix instead of deleting a
    mid-range entry — which would strand kept-but-older entries above
    the readable floor (ADVICE r12)."""
    import json

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    states = [_rows(spark.read.parquet(tgt))]
    for i in range(3):
        merge_upsert(
            spark.createDataFrame(
                [(6000 + i, "P", float(i))],
                "k int, status string, val double",
            ),
            tgt, ["k"], partition_by=["status"],
        )
        states.append(_rows(spark.read.parquet(tgt)))
    # clock regression: v2 committed "a day ago" while v1 and v3 are
    # fresh — the raw age keep set would be {1, 3}, a hole at 2
    mf = f"{tgt}__history/v2/_manifest.json"
    doc = json.load(open(mf))
    doc["ts"] -= 86_400
    json.dump(doc, open(mf, "w"))
    crc = f"{tgt}__history/v2/._manifest.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    out = H.vacuum_table_history(spark, tgt, older_than_seconds=3600)
    # contiguity guard: v2 survives because v1 (older number) was kept
    assert out == {"dropped": 0, "kept": 3}
    for w in (1, 2, 3):
        assert _rows(H.read_table_version(spark, tgt, w)) == states[w]


def test_concurrent_versioned_disjoint_merges(spark, tmp_path):
    """r13: version numbers are allocated by CAS on the pending
    marker's atomic create, so two DISJOINT scoped merges on a
    history-enabled table run concurrently, take distinct versions,
    and every version still reconstructs exactly."""
    import threading

    tgt = str(tmp_path / "t")
    v0 = _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    errs: list = []

    def run(status, key):
        try:
            merge_upsert(
                spark.createDataFrame(
                    [(key, status, -1.0)],
                    "k int, status string, val double",
                ),
                tgt, ["k"], partition_by=["status"],
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=run, args=("P", 0))
    t2 = threading.Thread(target=run, args=("O", 2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert H.table_current_version(spark, tgt) == 2
    hist = sorted(
        (r.version, r.mode)
        for r in H.table_history(spark, tgt).collect()
    )
    assert hist == [(1, "partition"), (2, "partition")]
    # v0 reconstructs exactly; v2 is the final state; v1 is the state
    # after whichever writer committed first (scopes disjoint, so it
    # differs from v0 in exactly one of the two keys)
    assert _rows(H.read_table_version(spark, tgt, 0)) == v0
    final = _rows(spark.read.parquet(tgt))
    assert _rows(H.read_table_version(spark, tgt, 2)) == final
    assert {r for r in final if r[2] == -1.0} == {
        (0, "P", -1.0), (2, "O", -1.0)
    }
    v1 = _rows(H.read_table_version(spark, tgt, 1))
    changed = {r for r in v1 if r[2] == -1.0}
    assert changed in ({(0, "P", -1.0)}, {(2, "O", -1.0)})
    # net CDF over the whole range sees both updates
    chg = {
        (r.k, r._change_type)
        for r in H.table_changes(spark, tgt, 0, 2, keys=["k"]).collect()
    }
    assert chg == {
        (0, "update_preimage"), (0, "update_postimage"),
        (2, "update_preimage"), (2, "update_postimage"),
    }
    # no leftover markers or suffixed debris
    import glob as _glob

    assert not _glob.glob(f"{tgt}__history/*.pending")
    assert not _glob.glob(f"{tgt}__staging*")
    assert not _glob.glob(f"{tgt}__premerge*")


def test_table_changes_per_version(spark, tmp_path):
    """per_version attributes each change to the swap that made it; a
    key updated twice appears once per updating version."""
    from config_driven_pyspark_spark.operators.history import (
        table_changes,
    )

    tgt = str(tmp_path / "t")
    _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 100.0), (700, "P", 7.0)],
            "k int, status string, val double",
        ),
        tgt, ["k"], partition_by=["status"],
    )
    merge_upsert(
        spark.createDataFrame(
            [(0, "P", 200.0)], "k int, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    ch = table_changes(spark, tgt, 0, 2, keys=["k"], per_version=True)
    got = sorted(
        (r._commit_version, r.k, r._change_type, r.val)
        for r in ch.collect()
    )
    assert got == [
        (1, 0, "update_postimage", 100.0),
        (1, 0, "update_preimage", 0.0),
        (1, 700, "insert", 7.0),
        (2, 0, "update_postimage", 200.0),
        (2, 0, "update_preimage", 100.0),
    ]
    # plain range diff nets the double update into one pair
    net = table_changes(spark, tgt, 0, 2, keys=["k"])
    assert sorted((r.k, r._change_type) for r in net.collect()) == [
        (0, "update_postimage"), (0, "update_preimage"),
        (700, "insert"),
    ]


def test_keyless_diff_chunked_expansion(spark, tmp_path, monkeypatch):
    """r16 (ADVICE r15): the keyless multiset diff explodes a row's net
    multiplicity in bounded CHUNKs — a heavily duplicated row (bulk
    delete of identical rows) must not materialize one array ∝ its
    duplicate count. Patch the chunk tiny so the multi-chunk path runs
    on real data, and pin the exact multiset either side of it."""
    from config_driven_pyspark_spark.operators import history as H2
    from config_driven_pyspark_spark.operators.history import table_changes

    monkeypatch.setattr(H2, "_KEYLESS_CDF_CHUNK", 7)
    tgt = str(tmp_path / "t")
    # 100 identical rows + 3 identical others
    df = spark.range(103).selectExpr(
        "CASE WHEN id < 100 THEN 1 ELSE 2 END AS k",
        "'x' AS status",
        "0.5 AS val",
    )
    df.write.mode("overwrite").partitionBy("status").parquet(tgt)
    H.enable_table_history(spark, tgt, ["status"])
    # bulk delete of the duplicated slice: net multiplicity -100 for
    # the k=1 row value (14+ chunks at CHUNK=7), -3 for k=2
    delete_where(spark, tgt, "k = 1", partition_by=["status"])
    ch = table_changes(spark, tgt, 0, 1)
    got = [(r.k, r._change_type) for r in ch.collect()]
    assert sorted(got) == [(1, "delete")] * 100
    # and a mixed insert/delete diff still balances exactly
    merge_upsert(
        spark.createDataFrame(
            [(9, "x", 1.0)], "k bigint, status string, val double"
        ),
        tgt, ["k"], partition_by=["status"],
    )
    ch2 = table_changes(spark, tgt, 1, 2)
    assert [(r.k, r._change_type) for r in ch2.collect()] == [
        (9, "insert")
    ]


def test_manifest_records_schema_and_reads_use_it(spark, tmp_path):
    """r16: version manifests record the staged schema (nullable-
    relaxed) so historical reads skip parquet schema inference; dv-mode
    entries inherit it by walk-back; entries WITHOUT a recorded schema
    (pre-r16) still read correctly via inference."""
    import json as _json

    from config_driven_pyspark_spark.operators.deletes import (
        delete_where_dv,
    )

    tgt = str(tmp_path / "t")
    expect = _seed(spark, tgt)
    H.enable_table_history(spark, tgt, ["status"])
    batch = spark.createDataFrame(
        [(1, "F", 101.0)], "k int, status string, val double"
    )
    merge_upsert(batch, tgt, ["k"], partition_by=["status"])  # v1
    man1 = _json.loads(
        open(f"{tgt}__history/v1/_manifest.json").read()
    ) if os.path.exists(f"{tgt}__history/v1/_manifest.json") else None
    assert man1 is not None and "schema" in man1, man1
    fields = {
        f["name"]: f for f in _json.loads(man1["schema"])["fields"]
    }
    assert set(fields) == {"k", "status", "val"}
    assert all(f["nullable"] for f in fields.values())

    # dv commit records the scan schema; older versions stay exact
    delete_where_dv(spark, tgt, "k = 4", ["status"])  # v2, mode dv
    man2 = _json.loads(open(f"{tgt}__history/v2/_manifest.json").read())
    assert man2["mode"] == "dv" and "schema" in man2
    v0 = H.read_table_version(spark, tgt, 0)
    assert _rows(v0) == expect
    # partition columns append LAST on read — identical to inference
    assert [f.name for f in v0.schema.fields] == ["k", "val", "status"]

    # strip the recorded schemas (simulate pre-r16 manifests): reads
    # must fall back to inference and return the same rows
    for v in (1, 2):
        p = f"{tgt}__history/v{v}/_manifest.json"
        doc = _json.loads(open(p).read())
        doc.pop("schema", None)
        open(p, "w").write(_json.dumps(doc))
        crc = f"{tgt}__history/v{v}/._manifest.json.crc"
        if os.path.exists(crc):  # hadoop LocalFileSystem checksum sidecar
            os.remove(crc)
    assert _rows(H.read_table_version(spark, tgt, 0)) == expect
