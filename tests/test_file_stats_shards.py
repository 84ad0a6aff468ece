"""Sharded ``_file_stats`` sidecar (r14 — VERDICT r13 ask #2): per-
partition-directory shard JSONs replace the single driver-RMW doc, so
per-commit sidecar I/O is bounded by the touched scope and pruning
reads load only the candidate dirs' shards.
"""

from __future__ import annotations

import json
import os

from config_driven_pyspark_spark.operators import table as T


def _synthetic_doc(n_dirs=200, files_per_dir=100):
    files = {}
    for d in range(n_dirs):
        for f in range(files_per_dir):
            lo = d * 1000 + f * 10
            files[f"p={d}/part-{f:05d}.parquet"] = {
                "k": {"min": lo, "max": lo + 9, "has_null": False}
            }
    return {"version": 2, "keys": ["k"], "files": files}


def test_scoped_update_touches_only_its_shards(spark, tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    doc = _synthetic_doc()  # 20,000 file entries across 200 dirs
    T._write_file_stats(spark, base, doc)
    shard_dir = f"{base}/{T._FILE_STATS_SHARDS}"
    shards = sorted(
        n for n in os.listdir(shard_dir) if n.endswith(".json")
    )  # (the local FS also writes .crc siblings)
    assert len(shards) == 200
    before = {
        n: open(f"{shard_dir}/{n}", "rb").read() for n in shards
    }
    # a partition-scoped commit folds entries for ONE dir
    staged = {
        "p=7/part-99999.parquet": {
            "k": {"min": -5, "max": -1, "has_null": False}
        }
    }
    T._update_file_stats(spark, base, ["k"], ["p=7"], staged)
    after = {
        n: open(f"{shard_dir}/{n}", "rb").read()
        for n in sorted(os.listdir(shard_dir)) if n.endswith(".json")
    }
    changed = [n for n in after if after[n] != before.get(n)]
    assert changed == [f"{T._shard_name('p=7')}.json"]
    # the touched shard was REPLACED wholesale (swap semantics: every
    # file in the dir was rewritten, old entries drop)
    new_shard = json.loads(after[changed[0]])
    assert list(new_shard["files"]) == ["p=7/part-99999.parquet"]


def test_pruning_read_loads_only_candidate_shards(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "t")
    os.makedirs(base)
    T._write_file_stats(spark, base, _synthetic_doc())
    # fake on-disk files matching two candidate dirs
    for d in ("p=3", "p=9"):
        os.makedirs(f"{base}/{d}")
        for f in range(3):
            open(f"{base}/{d}/part-{f:05d}.parquet", "w").write("x")
    reads: list[str] = []
    real = T._read_json_doc

    def counting(spark_, path):
        reads.append(path)
        return real(spark_, path)

    monkeypatch.setattr(T, "_read_json_doc", counting)
    got = T._file_skip_paths(
        spark, base, ["p=3", "p=9"], 1, ["k"],
        {"k": (3005, 3012, False)},
    )
    shard_reads = [p for p in reads if T._FILE_STATS_SHARDS in p]
    assert len(shard_reads) == 2          # candidate dirs only, not 200
    # and the ranges still prune: only p=3 files intersect 3005..3012
    assert got is not None
    assert all("/p=3/" in p for p in got)
    assert len(got) == 2                   # files 0 (3000-3009) + 1 (3010-3019)


def test_candidate_cap_falls_back_to_dir_granularity(spark, tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    T._write_file_stats(spark, base, _synthetic_doc(n_dirs=10))
    dirs = [f"p={d}" for d in range(T._MAX_SHARD_READS + 1)]
    assert T._file_skip_paths(
        spark, base, dirs, 1, ["k"], {"k": (0, 1, False)}
    ) is None


def test_bloom_cap_applies_per_shard(spark, tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    big = {
        f"p=0/part-{i:06d}.parquet": {
            "k": {"min": i, "max": i, "has_null": False},
            "bloom": {"k": "AAAA"},
        }
        for i in range(T._MAX_BLOOM_FILES + 1)
    }
    small = {
        "p=1/part-000000.parquet": {
            "k": {"min": 0, "max": 0, "has_null": False},
            "bloom": {"k": "AAAA"},
        }
    }
    T._write_file_stats(
        spark, base,
        {"version": 2, "keys": ["k"], "files": {**big, **small}},
    )
    merged = T._read_file_stats(spark, base)["files"]
    # the oversized dir's shard dropped its blooms; the small dir kept its
    assert "bloom" not in merged[f"p=0/part-000000.parquet"]
    assert "bloom" in merged["p=1/part-000000.parquet"]


def test_mismatched_key_shard_reads_as_unknown(spark, tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    T._write_file_stats(spark, base, _synthetic_doc(n_dirs=2))
    # corrupt one shard's key set: its files must read as unknown
    shard = f"{base}/{T._FILE_STATS_SHARDS}/{T._shard_name('p=0')}.json"
    doc = json.loads(open(shard).read())
    doc["keys"] = ["other"]
    open(shard, "w").write(json.dumps(doc))
    crc = f"{os.path.dirname(shard)}/.{os.path.basename(shard)}.crc"
    if os.path.exists(crc):  # stale checksum would read as corrupt
        os.remove(crc)
    entries = T._read_file_stats_shards(spark, base, ["p=0", "p=1"], ["k"])
    assert all(rel.startswith("p=1/") for rel in entries)


def test_file_stats_collect_cap_leaves_no_sidecar(spark, tmp_path, monkeypatch):
    """r16 (VERDICT r15 #7): above _FILE_STATS_MAX_FILES the per-file
    stats collect returns None and every maintenance site leaves NO
    sidecar behind (absent stats probe everything; a stale or partial
    sidecar could lose rows). Cap patched to 0 so any real snapshot
    exceeds it; the merges stay correct without stats."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(T, "_FILE_STATS_MAX_FILES", 0)
    base = str(tmp_path / "t")
    seed = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    # bootstrap (sidecar-able: partition col not a key) must skip both docs
    T.merge_upsert(seed, base, ["k"], partition_by=["p"])
    assert T._read_key_stats(spark, base) is None
    assert T._read_file_stats_meta(spark, base) is None
    # a follow-up scoped merge still works (probe-everything path) and
    # still leaves no stats
    batch = spark.createDataFrame([(3, 1, 999)], "k long, p int, v long")
    stats = T.merge_upsert(batch, base, ["k"], partition_by=["p"])
    assert stats["n_updated"] == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(base).collect()}
    assert got[3] == 999 and len(got) == 40
    assert T._read_key_stats(spark, base) is None
    assert T._read_file_stats_meta(spark, base) is None
    # and the direct collect reports the overflow as None
    snap = spark.read.parquet(base)
    assert T._collect_file_key_stats(spark, base, snap.schema, ["k"]) is None


def test_only_the_sidecar_functions_write_the_sidecars():
    """Outside the functions that own the key-stats sidecars, no function
    in ``table.py`` or ``history.py`` enters the sidecar mutex, writes or
    collects the stats, or builds the per-partition doc: each op states
    keep, drop or maintain to the swap, which applies it in one place."""
    import ast
    import pathlib

    owners = {
        "_write_key_stats", "_update_file_stats",
        "_sidecars_before_promote", "_rebuild_sidecars",
    }
    banned = {
        "_SidecarMutex", "_write_key_stats", "_write_file_stats",
        "_collect_file_key_stats",
    }
    pkg = pathlib.Path(T.__file__).resolve().parent
    offenders: list[str] = []

    def walk(node, fn, name):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if inner not in owners:
                callee = None
                if isinstance(child, ast.Call):
                    f = child.func
                    callee = getattr(f, "id", None) or getattr(f, "attr", None)
                builds_doc = isinstance(child, ast.Dict) and any(
                    isinstance(k, ast.Constant) and k.value == "partitions"
                    for k in child.keys
                )
                if callee in banned or builds_doc:
                    offenders.append(f"{name}:{child.lineno} in {inner}")
            walk(child, inner, name)

    for name in ("table.py", "history.py"):
        walk(ast.parse((pkg / name).read_text()), None, name)
    assert offenders == []
