"""The commit core shared by the pure-Python table formats
(``delta_py``, ``iceberg_py``).

Both formats run the same optimistic protocol over plain files; this
module owns each mechanism once and the formats pass only what is
theirs (payload bytes, destination names, statistics encoding).

Put-if-absent publish (``publish_if_absent``): the commit payload is
written to a per-call temp file, fsynced, then ``os.link``-ed to the
final name and the directory fsynced. Linking onto an existing name
raises, which IS the put-if-absent semantics both log stores require
(the rename-no-overwrite primitive delta-core uses on HDFS): losing
means another writer owns that version.

Optimistic retry (``retry_commit``): an operation supplies one
``attempt()`` that plans against the CURRENT table state, stages what
it needs, and publishes. A lost publish returns ``LOST`` after the
attempt has removed the files it staged; the loop then replans from
the winner's state (appends reuse files staged once, outside the
attempt, because they never conflict). Every lost race is logged at
INFO, and the budget (``COMMIT_ATTEMPTS``) ends in one RuntimeError.

Staged writes (``stage_parquet``): Spark writes into a dot-prefixed
``.staging-<token>`` scratch dir inside the table (same filesystem, so
moves are renames; invisible to readers, who only scan committed
paths), the parts move to their format-chosen names, zero-row files
are dropped, and each kept file's footer is read exactly once. A
crash anywhere before the publish leaves only unreferenced files,
swept by ``delta_py.vacuum_delta`` / ``iceberg_py.remove_orphan_iceberg_files``.

Footer statistics (``footer_ranges``): one walk over the row-group
min/max statistics of a footer; each format applies its own inclusion
rule and value encoding on top.

Fixtures (``fixture_dir``, ``fixture_tmp``, ``publish_fixture``):
query fixtures are built once per input directory under the system
temp dir and published by an atomic rename, so concurrent callers
race safely.
"""

from __future__ import annotations

import errno
import hashlib
import itertools
import logging
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable
from typing import NamedTuple, TypeVar

_log = logging.getLogger(__name__)

# attempt budget of every optimistic commit loop
COMMIT_ATTEMPTS = 20


# what an attempt returns when another writer won its version slot
LOST = object()

_SEQ = itertools.count()
T = TypeVar("T")


def token() -> str:
    """Unique per process AND per call (two threads of one writer must
    never share a temp or staged name; itertools.count is GIL-atomic);
    deterministic — no entropy. The pid is zero-padded to 7 digits
    (Linux's largest pid_max is 4194304), so the stored paths that
    carry a token are the same length whatever the pid."""
    return f"{os.getpid():07d}-{next(_SEQ)}"


def publish_if_absent(path: str, payload: str) -> bool:
    """Atomically create ``path`` holding ``payload`` iff it does not
    exist yet. Returns False when another writer got there first."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(path)}.tmp{token()}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    _fsync(d)  # persist the link itself
    return True


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def sync_replace(tmp: str, path: str) -> None:
    """Durably move the fully written ``tmp`` onto ``path`` (overwrite
    allowed): fsync the file, ``os.replace`` it, fsync the directory."""
    _fsync(tmp)
    os.replace(tmp, path)
    _fsync(os.path.dirname(path))


def retry_commit(what: str, attempt: Callable[[], T]) -> T:
    """Run ``attempt`` until it returns something other than ``LOST``;
    ``what`` names the operation and table in the log and the error."""
    for n in range(1, COMMIT_ATTEMPTS + 1):
        out = attempt()
        if out is not LOST:
            return out
        _log.info("%s lost commit race (attempt %d of %d)", what, n, COMMIT_ATTEMPTS)
    raise RuntimeError(f"{what} lost {COMMIT_ATTEMPTS} commit races")


def discard(paths: Iterable[str]) -> None:
    """Remove files a lost or skipped attempt staged (already-gone ok)."""
    for p in paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass


class StagedFile(NamedTuple):
    path: str  # final location
    parts: dict[str, str]  # hive dir name -> raw (still quoted) value
    meta: object  # pyarrow.parquet.FileMetaData, read once


def staged_file(path: str, parts: dict[str, str] | None = None) -> StagedFile | None:
    """Footer-read a file about to be committed; a zero-row file is
    removed instead (never commit files with no rows — they bloat the
    log and carry no statistics to skip on)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        os.remove(path)
        return None
    return StagedFile(path, parts or {}, md)


def stage_parquet(
    df,
    root: str,
    dest: Callable[[str], str],
    partition_by: Iterable[str] = (),
    distribute: bool = False,
) -> list[StagedFile]:
    """Write ``df`` as parquet into a scratch dir under ``root``, then
    move every part to ``dest(rel)`` (``rel``: the part's path inside
    the scratch dir, hive ``k=v`` dirs included) and return the
    non-empty ones.

    ``distribute=True`` adds an AQE REBALANCE (on the partition
    columns when partitioned) before the write — the
    distribution-mode=hash posture: a rewrite that scanned N small
    files would otherwise emit ~N (x partition values) small files
    again. AQE owns the sizing. Callers that own their layout
    (compaction's range clustering) keep the default."""
    partition_by = tuple(partition_by)
    staging = os.path.join(root, f".staging-{token()}")
    if distribute:
        # backtick-quote: hint parameters parse as SQL expressions, and
        # physical column-mapping names (col-<uuid>) fail the
        # unquoted-identifier rule
        df = df.hint("rebalance", *[f"`{c}`" for c in partition_by])
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    out: list[StagedFile] = []
    for here, dirs, names in os.walk(staging):
        dirs.sort()
        rel_dir = os.path.relpath(here, staging)
        segs = [] if rel_dir == "." else rel_dir.split(os.sep)
        parts = dict(seg.split("=", 1) for seg in segs)
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            path = dest(os.path.join(*segs, name))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.rename(os.path.join(here, name), path)
            f = staged_file(path, parts)
            if f is not None:
                out.append(f)
    shutil.rmtree(staging, ignore_errors=True)
    return out


def footer_ranges(
    md, skip: tuple[type, ...], cols: Iterable[str] | None = None
) -> dict[str, tuple[object, object, int]]:
    """{column: (min, max, null_count)} aggregated over every row group
    of the footer ``md``, restricted to ``cols`` when given. A column
    with any chunk lacking min/max statistics, or whose statistics are
    of a ``skip`` type, is omitted — partial bounds could under-cover
    the file, and truncated binary/string stats do not round-trip."""
    want = None if cols is None else set(cols)
    acc: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(md.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name in bad or (want is not None and name not in want):
                continue
            st = col.statistics
            if st is None or not st.has_min_max or isinstance(st.min, skip):
                bad.add(name)
                acc.pop(name, None)
                continue
            cur = acc.get(name)
            if cur is None:
                acc[name] = [st.min, st.max, st.null_count or 0]
            else:
                cur[0] = min(cur[0], st.min)
                cur[1] = max(cur[1], st.max)
                cur[2] += st.null_count or 0
    return {n: tuple(v) for n, v in acc.items()}


def fixture_dir(tag: str, sf_dir: str) -> str:
    """Where the fixture ``tag`` built from ``sf_dir`` lives: one per
    input directory under the system temp dir."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"mr_spark_{tag}_{key}")


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def fixture_tmp(dest: str) -> str:
    """This process's build path for the fixture ``dest``, cleared of
    any earlier crashed build."""
    tmp = f"{dest}.tmp{os.getpid()}"
    _remove(tmp)
    return tmp


def publish_fixture(tmp: str, dest: str) -> None:
    """Atomic-rename publish of a fixture built at ``tmp``. Losing a
    concurrent race is fine (theirs won, ours is removed); any other
    failure is raised."""
    try:
        os.rename(tmp, dest)
    except OSError as e:
        if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
        _remove(tmp)
