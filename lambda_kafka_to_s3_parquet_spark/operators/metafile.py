"""Small metadata files on any Hadoop filesystem — one implementation of
each protocol the engine publishes its metadata through.

* :func:`_read_bytes` / :func:`_read_text` — one open-and-catch round
  trip; ``None`` when the file is absent.
* :func:`_write_in_place` — a plain overwrite at the final name. A crash
  mid-write can leave the file torn; its readers must fail stop on a
  parse error, never read it as absent.
* :func:`_create_atomic` — tmp + rename to a FRESH name: the
  compare-and-swap. Rename-to-existing fails on every Hadoop filesystem,
  so exactly one of N racing creators wins.
* :func:`_replace_text` — tmp + one overwrite rename: the old content
  or the new one, never a torn file (see its docstring for the one
  crash point some filesystems keep, which readers must guard).

All three writers take ``str`` (written as UTF-8) or ``bytes``. Paths
resolve through :func:`_fs_path`, so every protocol works on any
supported scheme (local, hdfs, s3a); :func:`_glob` lists a dir's
matching children in a fixed number of JVM calls. JVM classes are
reached through :func:`_jclass`. No package imports: every module may
import this one.
"""

from __future__ import annotations

import functools
import re
import uuid

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError


class _Class(JavaClass):
    """A :class:`JavaClass` that resolves each static member once: py4j
    otherwise asks the JVM what ``Cls.name`` is on every access."""

    def __getattr__(self, name):
        member = super().__getattr__(name)
        object.__setattr__(self, name, member)
        return member


@functools.lru_cache(maxsize=64)
def _class_on(gateway_client, fqn: str) -> _Class:
    return _Class(fqn, gateway_client)


def _jclass(spark, fqn: str) -> JavaClass:
    """The JVM class ``fqn`` (``$`` before a nested class's name).
    Walking to a class through ``spark._jvm`` attribute by attribute
    costs one py4j round trip per package level on every use (six for a
    Hadoop class); this proxy is built once per gateway and costs none."""
    return _class_on(spark._jvm._gateway_client, fqn)


def _fs_path(spark, path: str):
    """Hadoop FileSystem + Path for ``path`` — resolved through the JVM so
    metadata works on any supported scheme (local, hdfs, s3a) exactly
    like the tables beside it, not just local disk."""
    hpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _glob_escape(path: str) -> str:
    """``path`` with Hadoop glob metacharacters escaped, so it matches
    only itself."""
    return re.sub(r"([\\*?\[\]{}])", r"\\\1", path)


def _glob(spark, literal: str, pattern: str) -> list[str]:
    """The paths under dir ``literal`` that match the glob ``pattern``,
    relative to ``literal`` (``latest-*`` -> ``["latest-00003", ...]``);
    ``[]`` when none match or ``literal`` is absent. ``literal`` matches
    as written, metacharacters and all. Eight JVM calls at most, however
    many paths match: the listing comes back as ONE string (reading each
    returned status costs three calls), cut at the qualified prefix so a
    comma in a table path or a partition value never splits an entry."""
    fs, hpat = _fs_path(spark, f"{_glob_escape(literal.rstrip('/'))}/{pattern}")
    statuses = fs.globStatus(hpat)
    if statuses is None:
        return []
    listing = _jclass(spark, "org.apache.commons.lang3.ArrayUtils").toString(
        _jclass(spark, "org.apache.hadoop.fs.FileUtil").stat2Paths(statuses)
    )[1:-1]
    if not listing:
        return []
    qualified = fs.makeQualified(hpat).toString()
    prefix = re.sub(r"\\(.)", r"\1", qualified[: len(qualified) - len(pattern)])
    if not listing.startswith(prefix):
        raise RuntimeError(f"glob of {qualified!r} listed {listing!r}")
    return listing[len(prefix):].split("," + prefix)


def _read_bytes(spark, path: str) -> bytes | None:
    """Read a small metadata file; ``None`` when absent. Open-and-catch
    rather than exists()+open: metadata reads are the driver's hot loop
    and the pre-check doubles the filesystem round-trips (it is also a
    TOCTOU no-op — the open can still race a delete either way)."""
    fs, p = _fs_path(spark, path)
    try:
        stream = fs.open(p)
    except Exception as e:
        if "FileNotFoundException" in str(e):
            return None
        raise
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _read_text(spark, path: str) -> str | None:
    """:func:`_read_bytes` decoded as UTF-8."""
    raw = _read_bytes(spark, path)
    return None if raw is None else raw.decode("utf-8")


def _write_stream(fs, hpath, content: str | bytes) -> None:
    data = content.encode("utf-8") if isinstance(content, str) else content
    stream = fs.create(hpath, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def _write_in_place(spark, path: str, content: str | bytes) -> None:
    """Overwrite ``path`` directly. Used where a missing file would be
    worse than a torn one: a torn file fails its reader's parse (stop),
    while an absent one can read as "nothing there yet"."""
    fs, p = _fs_path(spark, path)
    _write_stream(fs, p, content)


def _create_atomic(spark, path: str, content: str | bytes) -> None:
    """Write via temp file + rename to a FRESH destination (never an
    overwrite) — atomic on every Hadoop filesystem. Used for the
    visibility markers, whose names are unique by construction, and for
    manifests written into fresh dirs. Raises ``OSError`` when the
    destination already exists (the CAS loss)."""
    fs, final = _fs_path(spark, path)
    tmp = final.suffix(f".tmp-{uuid.uuid4().hex}")
    _write_stream(fs, tmp, content)
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise IOError(f"atomic create failed for {path} (already exists?)")


def _file_context(spark, hpath):
    """Hadoop ``FileContext`` for ``hpath``'s filesystem: the API whose
    rename can overwrite (``FileSystem.rename`` refuses an existing
    destination)."""
    return _jclass(spark, "org.apache.hadoop.fs.FileContext").getFileContext(
        hpath.toUri(), spark._jsc.hadoopConfiguration()
    )


def _replace_text(spark, path: str, content: str | bytes) -> None:
    """Write with OVERWRITE semantics: tmp + one
    ``FileContext.rename(tmp, path, OVERWRITE)``, the call Spark's
    ``FileContextBasedCheckpointFileManager`` publishes checkpoint files
    with. A rename that fails raises, removes its tmp and leaves the old
    content in place. On HDFS the overwrite rename is one atomic NameNode
    operation; where the filesystem's binding has no native one (the
    local filesystem among them), Hadoop's generic fallback deletes the
    old file and renames inside that same call, so only a crash exactly
    there can leave NO file at ``path``.
    Readers of a replaced file therefore still treat an absent file
    beside data that needs it as a crashed publish, never "empty" (the
    gram store, band store and ``load_pq_index`` fail stop on it).
    Used for the single-writer registries that are rewritten in place:
    the band/gram store metas, the gram-store bloom and the index
    metas."""
    fs, final = _fs_path(spark, path)
    tmp = final.suffix(f".tmp-{uuid.uuid4().hex}")
    _write_stream(fs, tmp, content)
    rename = _jclass(spark, "org.apache.hadoop.fs.Options$Rename")
    overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    overwrite[0] = rename.OVERWRITE
    try:
        _file_context(spark, final).rename(tmp, final, overwrite)
    except (Py4JJavaError, OSError) as e:
        fs.delete(tmp, False)
        raise IOError(f"replace failed for {path}") from e
