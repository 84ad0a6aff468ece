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
