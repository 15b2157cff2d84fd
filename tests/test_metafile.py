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
import uuid

import numpy as np
import pytest

from lambda_kafka_to_s3_parquet_spark.operators import dedup as dd
from lambda_kafka_to_s3_parquet_spark.operators import metafile as mf

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
    ``plans/``) is a separate mechanism and not scanned here."""
    strays = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        src = path.read_text()
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
