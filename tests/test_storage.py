"""Table-metadata I/O (``storage.py``) on both of its routes: a plain path
takes the local Python route, the same directory's ``file://`` URI takes
the Hadoop ``FileSystem`` route (checksummed, with ``.crc`` sidecars)."""

from __future__ import annotations

import pathlib
import re

import pytest

from config_driven_pyspark_spark import storage


@pytest.fixture(params=["local", "hadoop"])
def root(request, tmp_path):
    """``(path string, its directory on disk)`` for each route."""
    return (str(tmp_path) if request.param == "local" else tmp_path.as_uri()), tmp_path


def test_routes(spark, tmp_path):
    assert storage.local_path(spark, str(tmp_path)) == str(tmp_path)
    assert storage.local_path(spark, f"file:{tmp_path}") == str(tmp_path)
    assert storage.local_path(spark, tmp_path.as_uri()) is None


def test_round_trip(spark, root):
    base, _ = root
    storage.write_bytes(spark, f"{base}/a/b/doc.json", b'{"v": 1}')
    assert storage.read_bytes(spark, f"{base}/a/b/doc.json") == b'{"v": 1}'
    assert storage.read_json(spark, f"{base}/a/b/doc.json") == {"v": 1}
    storage.write_bytes(spark, f"{base}/a/b/doc.json", b"[1, 2]")
    assert storage.read_bytes(spark, f"{base}/a/b/doc.json") == b"[1, 2]"
    assert storage.read_json(spark, f"{base}/a/b/doc.json") is None  # not an object
    storage.write_bytes(spark, f"{base}/a/b/doc.json", b"{torn")
    assert storage.read_json(spark, f"{base}/a/b/doc.json") is None


@pytest.mark.parametrize("first", ["local", "hadoop"])
def test_overwrite_across_routes(spark, tmp_path, first):
    """A write on one route then the other leaves no stale ``.crc`` that
    would make the Hadoop route reject the new bytes."""
    paths = {"local": str(tmp_path / "m"), "hadoop": (tmp_path / "m").as_uri()}
    second = "hadoop" if first == "local" else "local"
    storage.write_bytes(spark, paths[first], b"first")
    storage.write_bytes(spark, paths[second], b"second, longer")
    for route in paths.values():
        assert storage.read_bytes(spark, route) == b"second, longer"


def test_absent_and_directory_read_as_none(spark, root):
    base, disk = root
    (disk / "d").mkdir()
    for name in ("missing", "d", "missing/deeper"):
        assert storage.read_bytes(spark, f"{base}/{name}") is None
        assert storage.read_json(spark, f"{base}/{name}") is None


def test_list_dir_same_on_both_routes(spark, tmp_path):
    storage.write_bytes(spark, (tmp_path / "f.json").as_uri(), b"{}")  # leaves .f.json.crc
    (tmp_path / ".inflight-v1").mkdir()
    (tmp_path / "p=1").mkdir()
    (tmp_path / "_x").write_bytes(b"")
    assert (tmp_path / ".f.json.crc").exists()
    want = [(".inflight-v1", True), ("_x", False), ("f.json", False), ("p=1", True)]
    assert sorted(storage.list_dir(spark, str(tmp_path))) == want
    assert sorted(storage.list_dir(spark, tmp_path.as_uri())) == want
    for base in (str(tmp_path), tmp_path.as_uri()):
        assert storage.list_dir(spark, f"{base}/missing") == []


def test_exists(spark, root):
    base, disk = root
    (disk / "d").mkdir()
    (disk / "f").write_bytes(b"x")
    assert storage.exists(spark, f"{base}/d")
    assert storage.exists(spark, f"{base}/f")
    assert not storage.exists(spark, f"{base}/missing")


def test_local_route_sends_no_py4j_commands(spark, tmp_path):
    from tests.conftest import py4j_calls

    base = str(tmp_path)
    storage.exists(spark, base)  # caches the handle
    with py4j_calls() as calls:
        storage.write_bytes(spark, f"{base}/m.json", b'{"a": 1}')
        assert storage.read_bytes(spark, f"{base}/m.json") == b'{"a": 1}'
        assert storage.list_dir(spark, base) == [("m.json", False)]
    assert calls.n == 0


def test_corrupt_batch_marker_raises_on_hadoop_route(spark, tmp_path):
    """The exactly-once marker of ``incremental_agg``: bytes that no
    longer match their checksum must not read as "no batch applied"."""
    from config_driven_pyspark_spark.operators.table import (
        _read_batch_marker,
        _write_batch_marker,
    )

    uri = tmp_path.as_uri()
    _write_batch_marker(spark, uri, 3)
    assert _read_batch_marker(spark, uri) == 3
    assert (tmp_path / "._last_batch_id.crc").exists()
    (tmp_path / "_last_batch_id").write_bytes(b"7")
    with pytest.raises(Exception, match="Checksum"):
        _read_batch_marker(spark, uri)


def test_only_storage_touches_the_filesystem_directly():
    """Filesystem handles, whole-file reads, atomic replaces and directory
    scans live in ``storage.py`` alone, so the local fast path and the
    read contract cannot drift apart between modules again."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "config_driven_pyspark_spark"
    banned = re.compile(r"IOUtils|scandir|os\.replace|getFileSystem")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "storage.py" or path.parent != pkg
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []


def test_delete(spark, root):
    base, disk = root
    storage.write_bytes(spark, f"{base}/d/f.json", b"{}")
    storage.write_bytes(spark, f"{base}/g.json", b"{}")
    assert storage.delete(spark, f"{base}/g.json", False)
    assert sorted(p.name for p in disk.iterdir()) == ["d"]  # no .g.json.crc left
    assert not storage.delete(spark, f"{base}/g.json", False)  # absent
    assert not storage.delete(spark, f"{base}/missing/deeper", True)
    with pytest.raises(Exception):
        storage.delete(spark, f"{base}/d", False)  # not empty
    assert storage.delete(spark, f"{base}/d", True)
    assert storage.list_dir(spark, base) == []


def test_local_delete_drops_a_hadoop_checksum(spark, tmp_path):
    storage.write_bytes(spark, (tmp_path / "m.json").as_uri(), b"{}")
    assert (tmp_path / ".m.json.crc").exists()
    assert storage.delete(spark, str(tmp_path / "m.json"), False)
    assert list(tmp_path.iterdir()) == []


def test_handle_cache_keys_on_scheme_and_authority(spark, tmp_path, monkeypatch):
    """Two buckets or namenodes of one scheme are two filesystems; paths
    without an authority share one handle per scheme. The remote entries
    are seeded, so no remote filesystem is contacted."""
    monkeypatch.setattr(spark, "_cdp_fs_cache", {}, raising=False)
    for p in (str(tmp_path / "a"), str(tmp_path / "b"), f"file:{tmp_path}/a",
              (tmp_path / "b").as_uri()):
        storage.fs(spark, p)
    assert sorted(spark._cdp_fs_cache) == ["", "file://"]
    seeded = {a: (None, object(), False) for a in ("hdfs://nn1:8020", "hdfs://nn2:8020")}
    spark._cdp_fs_cache.update(seeded)
    assert storage.fs(spark, "hdfs://nn1:8020/t")[1] is seeded["hdfs://nn1:8020"][1]
    assert storage.fs(spark, "hdfs://NN2:8020/t")[1] is seeded["hdfs://nn2:8020"][1]
    assert storage._cache_key("s3a://bucket-a/t") == "s3a://bucket-a"
    assert storage._cache_key("s3a://bucket-b/t") == "s3a://bucket-b"


def test_create_new(spark, root):
    base, _ = root
    assert storage.create_new(spark, f"{base}/m", b"first")
    assert not storage.create_new(spark, f"{base}/m", b"second")
    assert storage.read_bytes(spark, f"{base}/m") == b"first"


def test_create_new_has_one_winner_among_threads(spark, tmp_path):
    """The sidecar mutex is one ``create_new``: of many concurrent local
    claims exactly one may win, or two writers would both rewrite the
    stats docs."""
    import threading

    for attempt in range(20):
        path = str(tmp_path / f"m{attempt}")
        won: list[bool] = []
        threads = [
            threading.Thread(
                target=lambda i=i: won.append(
                    storage.create_new(spark, path, str(i).encode())
                )
            )
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
        assert len(won) == 8 and won.count(True) == 1
