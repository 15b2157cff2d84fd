"""Crash points of the metadata-file primitives (``operators/metafile``),
plus a source guard that keeps them the package's only copy.

A crash after the tmp write leaves a ``<name>.tmp-<hex>`` behind; a
failed rename must raise, clean its tmp and leave the destination's old
content; a replace leaves no tmp or checksum file behind; binary files
round-trip byte for byte."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import uuid

import numpy as np
import pytest

from lambda_kafka_to_s3_parquet_spark.operators import dedup as dd
from lambda_kafka_to_s3_parquet_spark.operators import metafile as mf
from lambda_kafka_to_s3_parquet_spark.operators.snapshots import (
    current_version,
    is_snapshot_table,
    snapshot_append,
    snapshot_read,
)

from .conftest import py4j_commands

PACKAGE = pathlib.Path(mf.__file__).resolve().parents[1]


def _tmps(dirpath) -> list[str]:
    return sorted(
        n for n in os.listdir(dirpath) if ".tmp-" in n and not n.endswith(".crc")
    )


def _leave_tmp(path: str, content: bytes) -> str:
    """What a crash right after the tmp write leaves behind."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(content)
    return tmp


def test_leftover_tmp_is_invisible_and_blocks_nothing(spark, tmp_path):
    replaced = str(tmp_path / "meta.json")
    mf._replace_text(spark, replaced, '{"v": 1}')
    leftover = _leave_tmp(replaced, b'{"v": "torn')
    assert mf._read_text(spark, replaced) == '{"v": 1}'
    mf._replace_text(spark, replaced, '{"v": 2}')
    assert mf._read_text(spark, replaced) == '{"v": 2}'
    # the overwrite rename moved the tmp; no tmp or .crc of it is left
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["meta.json", os.path.basename(leftover)]
    )

    created = str(tmp_path / "latest-00001")
    _leave_tmp(created, b"v00001-dead.json")
    # a name only a crashed writer ever touched is still absent
    assert mf._read_bytes(spark, created) is None
    mf._create_atomic(spark, created, "v00001-beef.json")
    assert mf._read_text(spark, created) == "v00001-beef.json"
    # the fresh-name CAS still refuses an existing destination
    with pytest.raises(OSError):
        mf._create_atomic(spark, created, "v00001-loser.json")
    assert mf._read_text(spark, created) == "v00001-beef.json"
    assert os.path.exists(leftover)  # untouched: cleaning is not the reader's job


class _RenameFails:
    """The real Hadoop FileSystem or FileContext, except that every rename
    fails the way its API reports it: ``FileSystem.rename`` returns
    false, the overwrite ``FileContext.rename`` throws."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst, *options):
        if options:
            raise OSError("injected rename failure")
        return False

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _fail_renames(monkeypatch) -> None:
    """Route the primitives through :class:`_RenameFails` from now on."""
    real_fs, real_fc = mf._fs_path, mf._file_context

    def resolve(spark, path):
        fs, hpath = real_fs(spark, path)
        return _RenameFails(fs), hpath

    monkeypatch.setattr(mf, "_fs_path", resolve)
    monkeypatch.setattr(
        mf, "_file_context", lambda spark, hpath: _RenameFails(real_fc(spark, hpath))
    )


def test_failed_rename_raises_and_cleans_its_tmp(spark, tmp_path, monkeypatch):
    created = str(tmp_path / "latest-00001")
    replaced = str(tmp_path / "meta.json")
    mf._create_atomic(spark, created, "old marker")
    mf._replace_text(spark, replaced, "old meta")
    _fail_renames(monkeypatch)

    with pytest.raises(OSError, match="atomic create failed"):
        mf._create_atomic(spark, created, "new marker")
    assert _tmps(tmp_path) == []
    assert mf._read_text(spark, created) == "old marker"

    fresh = str(tmp_path / "latest-00002")
    with pytest.raises(OSError, match="atomic create failed"):
        mf._create_atomic(spark, fresh, "never visible")
    assert _tmps(tmp_path) == []
    assert mf._read_text(spark, fresh) is None

    with pytest.raises(OSError, match="replace failed"):
        mf._replace_text(spark, replaced, "new meta")
    assert _tmps(tmp_path) == []
    # one overwrite rename: a failure there leaves the old content
    assert mf._read_text(spark, replaced) == "old meta"


def test_read_bytes_absent_and_binary(spark, tmp_path):
    path = str(tmp_path / "bloom.bin")
    assert mf._read_bytes(spark, path) is None
    assert mf._read_text(spark, path) is None
    payload = bytes(range(256)) * 5
    mf._write_in_place(spark, path, payload)
    assert mf._read_bytes(spark, path) == payload
    mf._write_in_place(spark, path, b"\x00\xff")  # shorter: no residue
    assert mf._read_bytes(spark, path) == b"\x00\xff"
    mf._replace_text(spark, path, payload[::-1])
    assert mf._read_bytes(spark, path) == payload[::-1]

    store = str(tmp_path / "store")
    assert not dd._read_bloom(spark, store, 1024).any()  # absent: zeros
    bits = np.frombuffer(payload[:128], dtype=np.uint8)
    dd._write_bloom(spark, store, bits)
    assert np.array_equal(dd._read_bloom(spark, store, 1024), bits)


def test_missing_bloom_delta_of_registered_append_raises(spark, tmp_path):
    store = str(tmp_path / "grams")
    text = "the quick brown fox jumps over the lazy dog again and again"
    batch = spark.createDataFrame(
        [(1, text), (2, text), (3, "an unrelated short line of words")],
        "doc_id long, text string",
    )
    dd.incremental_duplicated_spans(spark, store, batch, k=4, bloom_bits=1 << 12)
    meta = dd._gram_meta(spark, store)
    (entry,) = [a for a in meta["appends"] if a.get("bloom_delta")]
    assert len(dd._read_bloom_delta(spark, store, entry["id"])) > 0

    os.remove(f"{store}/appends/{entry['id']}/{dd.BLOOM_DELTA_FILE}")
    with pytest.raises(FileNotFoundError, match="bloom delta"):
        dd._read_bloom_delta(spark, store, entry["id"])
    with pytest.raises(FileNotFoundError):
        dd._load_bloom(spark, store, meta)


def _calls(tree: ast.Module):
    """(top-level function name, called attribute, receiver) per call."""
    for top in tree.body:
        name = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                recv = node.func.value
                recv_name = recv.id if isinstance(recv, ast.Name) else None
                yield name, node.func.attr, recv_name


def test_metadata_file_io_has_one_implementation():
    """Small-file reads, stream creates and FS renames live only in
    ``operators/metafile.py``; the band store's rebucket directory swap
    is the one other FS rename. ``os.rename`` (local staged replays in
    ``plans/``) is a separate mechanism and not scanned here. No module
    walks ``spark._jvm`` to a class package by package (one py4j round
    trip per level, every time): JVM classes come from ``_jclass``."""
    strays = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        src = path.read_text()
        if re.search(r"jvm\.(org|com|java|scala)\.", src):
            strays.append((rel, "jvm package walk"))
        if rel == "operators/metafile.py":
            continue
        if "_marker_fs" in src or "_zone_maps" in src:
            strays.append((rel, "legacy name"))
        for fn, attr, recv in _calls(ast.parse(src)):
            if attr in ("readAllBytes", "create"):
                strays.append((rel, fn, attr))
            elif attr == "rename" and recv != "os":
                if rel == "operators/dedup.py" and fn in (
                    "_recover_rebucket", "rebucket_band_store"
                ):
                    continue
                strays.append((rel, fn, attr))
    assert strays == []


def test_glob_reads_a_literal_dir_in_a_fixed_number_of_calls(spark, tmp_path):
    """``_glob`` matches its dir literally (metacharacters, commas) and
    names every match in a fixed number of JVM calls, however many
    match; an escaped pattern matches the name it spells."""
    mf._glob(spark, str(tmp_path), "*")  # resolves the static members once
    calls = set()
    for name, n in (("a[1]", 2), ("b{x,y}", 3), ("c*?", 30), ("d,e", 1)):
        d = tmp_path / name
        d.mkdir()
        (d / "other").mkdir()
        want = [f"k=1,{i}" for i in range(n)]
        for sub in want:
            (d / sub).mkdir()
        got = []
        sent = py4j_commands(spark, lambda: got.extend(mf._glob(spark, str(d), "k=*")))
        assert sorted(got) == sorted(want)
        calls.add(len(sent))
    assert len(calls) == 1 and calls.pop() <= 8
    (tmp_path / "a[1]" / "m[0]").mkdir()
    assert mf._glob(spark, str(tmp_path / "a[1]"), mf._glob_escape("m[0]")) == ["m[0]"]
    assert mf._glob(spark, str(tmp_path / "absent"), "*") == []


def _table_of(spark, path: str, commits: int) -> str:
    for i in range(commits):
        snapshot_append(spark, path, spark.createDataFrame([(i,)], "id long"))
    return path


def test_snapshot_metadata_round_trips_do_not_grow_with_history(spark, tmp_path):
    """The driver's py4j round trips for the version lookup and for a
    read whose frame is memoized are the same on a 5-commit table as on
    a 40-commit table: the metadata plane costs a fixed number of JVM
    calls, not a few per retained version. ``is_snapshot_table`` is one
    existence probe."""
    small = _table_of(spark, str(tmp_path / "small"), 5)
    large = _table_of(spark, str(tmp_path / "large"), 40)

    def costs(table):
        snapshot_read(spark, table)  # builds and memoizes the frame
        version = len(py4j_commands(spark, lambda: current_version(spark, table)))
        read = len(py4j_commands(spark, lambda: snapshot_read(spark, table)))
        return version, read

    assert costs(small) == costs(large)
    version, read = costs(large)
    assert version <= 8 and read <= 16, (version, read)
    for table in (large, str(tmp_path / "absent")):
        assert len(py4j_commands(spark, lambda: is_snapshot_table(spark, table))) <= 4
