"""Pure-Python Delta Lake transaction-log codec + reader/writer —
closing the engine's Delta gate in environments without the
delta-spark jars (``io.read_delta`` falls back here; with the jars
present the native path wins).

Format: the public Delta Lake protocol (delta-io PROTOCOL.md). A table
is a directory of ordinary parquet data files plus ``_delta_log/``,
which holds one newline-delimited-JSON *commit* per version
(``%020d.json``, actions: ``protocol`` / ``metaData`` / ``add`` /
``remove`` / ``commitInfo``), periodic parquet *checkpoints*
(``%020d.checkpoint.parquet``: the reconciled action set, one row per
action) and a ``_last_checkpoint`` pointer. Table state at version V =
latest checkpoint ≤ V, then replay commits (cp, V]; per path the
latest ``add`` wins and a ``remove`` tombstones it. Supported protocol
surface: ``minReaderVersion <= 1`` (no deletion vectors / column
mapping — those raise loudly at plan time, never mis-read).

Commit protocol: the shared put-if-absent core in ``lakecommit``
(publish, optimistic retry, staging, footer statistics). Data files
stage under the table root, keeping hive ``k=v`` subdirs and Spark's
part names; each version's JSON publishes through ``try_commit``.
Appends blindly retry with the next number; rewrites
(delete/merge/update/optimize) re-derive their file set against the
new snapshot — delta-core's OptimisticTransaction conflict loop.

Scale shape: the log plane is METADATA-sized — snapshot reconstruction
reads a few KB of JSON (plus one columnar checkpoint read via pyarrow)
and never touches data; the data plane is a plain native parquet
FileScan over the log's active file list, so Catalyst keeps predicate
pushdown, column pruning and whole-stage codegen, and hive-style
``key=value`` layout + an explicit schema recovers partition columns
for free partition pruning. Per-file ``stats`` (numRecords/min/max,
harvested from parquet footers at commit time) give log-level data
skipping: ``skip_files`` prunes the file list BEFORE Spark ever plans
the scan — at 100 TB this is the difference between a merge that
rewrites three files and one that reads the table.

Driver-side materialization policy: the package's data plane is
collect-free (NOTES; VERDICT r7 audits it); a transactional commit,
however, must know its action set on the driver — that is the commit,
not a computation. Every such site goes through
``rowlevel.control_plane_rows``, which documents the bound: frames
collected there are FILE-granularity (O(files touched), like
delta-core's own collected action list) or single-row aggregates,
never row- or data-proportional.

Reference parity: the reference engine (ghostdsb/map_reduce) appends
to its output sinks with no transactional story at all (worker.ex:124,
147 double-append on task retry); this module is the widened-sink
answer (SURVEY.md §2.2 scans/sources + sinks): exactly-once,
versioned, time-travelable table commits over the same plain files.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from map_reduce_spark.registry import register
from map_reduce_spark.sources import lakecommit, rowlevel

_LOG = "_delta_log"
_LAST_CHECKPOINT = "_last_checkpoint"
# vacuum won't reap a staging dir quieter than this (a live writer may
# be mid-stage; see vacuum_delta)
_STAGING_RETENTION_SEC = 600


# --------------------------------------------------------------------
# log plane (driver-side, metadata-sized)
# --------------------------------------------------------------------


def _log_dir(table: str) -> str:
    return os.path.join(table, _LOG)


def _json_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(_log_dir(table), f"{version:020d}.checkpoint.parquet")


# v2 checkpoints (Delta protocol "V2 Checkpoint Table Feature"): a
# top-level file named <version>.checkpoint.<uuid>.{json|parquet}
# holding protocol/metaData/txn plus a checkpointMetadata action and
# sidecar actions; the add/remove file actions live in parquet
# SIDECAR files under _delta_log/_sidecars/.
_V2_CKPT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(?!\d{10}\.\d{10}\.parquet$)[0-9a-zA-Z-]+\.(json|parquet)$"
)
# multipart classic checkpoints: <version>.checkpoint.<part>.<of>.parquet
_MULTI_CKPT_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")


def _find_checkpoint_files(table: str, version: int) -> list[str]:
    """On-disk checkpoint file(s) for ``version`` — classic single-file
    preferred, else the v2 uuid-named form, else the multipart classic
    parts (validated complete: parts 1..N all present)."""
    classic = _checkpoint_path(table, version)
    if os.path.exists(classic):
        return [classic]
    d = _log_dir(table)
    parts: dict[int, str] = {}
    of = None
    for f in sorted(os.listdir(d)):
        m = _V2_CKPT_RE.match(f)
        if m and int(m.group(1)) == version:
            return [os.path.join(d, f)]
        mm = _MULTI_CKPT_RE.match(f)
        if mm and int(mm.group(1)) == version:
            parts[int(mm.group(2))] = os.path.join(d, f)
            of = int(mm.group(3))
    if parts:
        if of is None or sorted(parts) != list(range(1, of + 1)):
            raise RuntimeError(
                f"multipart checkpoint for version {version} in {d!r} is "
                f"INCOMPLETE (have parts {sorted(parts)} of {of}) — "
                "refusing a torn seed"
            )
        return [parts[i] for i in range(1, of + 1)]
    raise FileNotFoundError(
        f"checkpoint for version {version} vanished from {d!r}"
    )


def _list_log(table: str) -> tuple[list[int], list[int]]:
    """(sorted commit versions, sorted checkpoint versions) on disk."""
    d = _log_dir(table)
    if not os.path.isdir(d):
        return [], []
    js, cps = [], set()
    multi: dict[int, tuple[set[int], int]] = {}  # version -> (parts seen, of)
    for f in os.listdir(d):
        m = _V2_CKPT_RE.match(f)
        mm = _MULTI_CKPT_RE.match(f)
        if m:
            cps.add(int(m.group(1)))
        elif mm:
            v = int(mm.group(1))
            seen, _ = multi.setdefault(v, (set(), int(mm.group(3))))
            seen.add(int(mm.group(2)))
        elif f.endswith(".json") and f[:20].isdigit():
            js.append(int(f[:20]))
        elif f.endswith(".checkpoint.parquet") and f[:20].isdigit():
            cps.add(int(f[:20]))
    for v, (seen, of) in multi.items():
        # a torn multipart checkpoint (crashed writer) is NOT usable —
        # leaving it out lets snapshot() seed from an older checkpoint
        # or pure json replay instead of failing on the torn seed
        if seen == set(range(1, of + 1)):
            cps.add(v)
    return sorted(js), sorted(cps)


def latest_version(table: str) -> int | None:
    js, cps = _list_log(table)
    # a checkpointed version with its json commit expired still counts
    # (else a writer would reuse version numbers after log cleanup)
    both = js[-1:] + cps[-1:]
    return max(both) if both else None


def _read_commit(table: str, version: int) -> list[dict]:
    with open(_json_path(table, version), "r", encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def try_commit(table: str, version: int, actions: list[dict]) -> bool:
    """Atomically publish ``version`` iff it does not exist yet
    (``lakecommit.publish_if_absent``). Returns False when another
    writer won the version."""
    payload = "".join(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
    return lakecommit.publish_if_absent(_json_path(table, version), payload)


def _gate_protocol(protocol: dict) -> None:
    """Reader-feature gate. minReaderVersion<=1 always reads;
    minReaderVersion=2 reads (its only reader-visible capability is
    column mapping, implemented in round 9); minReaderVersion=3 reads
    iff every listed readerFeature is one we implement
    (deletionVectors, columnMapping, v2Checkpoint — the latter added
    in round 10 with the sidecar-chasing checkpoint reader). Anything
    else — timestampNtz feature tables — still raises loudly rather
    than mis-reading."""
    mrv = protocol.get("minReaderVersion", 1)
    features = set(protocol.get("readerFeatures") or [])
    if mrv <= 2 and not features:
        return
    ok = {"deletionVectors", "columnMapping", "v2Checkpoint"}
    if mrv == 3 and features <= ok:
        return
    raise NotImplementedError(
        "this pure-Python Delta reader supports protocol "
        "minReaderVersion<=2, or minReaderVersion=3 with readerFeatures "
        f"⊆ {sorted(ok)}; table requires {protocol}"
    )


class DeltaSnapshot:
    """Reconciled table state at one version: the metadata actions plus
    the active file set (path -> add action)."""

    __slots__ = (
        "table", "version", "protocol", "metadata", "adds", "removes", "txns",
    )

    def __init__(self, table, version, protocol, metadata, adds, removes, txns):
        self.table = table
        self.version = version
        self.protocol = protocol
        self.metadata = metadata
        self.adds = adds  # dict: encoded path -> add action
        self.removes = removes  # dict: encoded path -> remove tombstone
        self.txns = txns  # dict: appId -> last committed txn version

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    def column_mapping(self) -> dict[str, str] | None:
        """LOGICAL -> PHYSICAL column names when the table uses column
        mapping (delta.columnMapping.mode = name|id), else None. Both
        modes resolve through the per-field physicalName the spec
        requires writers to record (id mode ALSO writes parquet
        field ids, but the physical names are present and unique, so
        one read path serves both)."""
        mode = (self.metadata.get("configuration") or {}).get(
            "delta.columnMapping.mode"
        )
        if not mode or mode == "none":
            return None
        if mode not in ("name", "id"):
            raise NotImplementedError(f"columnMapping mode {mode!r}")
        out = {}
        for f in self.schema.fields:
            phys = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if not phys:
                raise NotImplementedError(
                    f"columnMapping table lacks physicalName for {f.name!r}"
                )
            out[f.name] = phys
        return out

    def physical_schema(self) -> StructType:
        """The schema under PHYSICAL names — what the parquet files
        (and hive partition dirs) actually carry."""
        mapping = self.column_mapping()
        if not mapping:
            return self.schema
        return StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in self.schema.fields
            ]
        )

    def file_paths(self) -> list[str]:
        """Absolute, url-decoded data file paths (the spec stores
        relative url-encoded paths)."""
        return [
            os.path.join(self.table, urllib.parse.unquote(p))
            for p in sorted(self.adds)
        ]


def _apply_action(state: dict, a: dict) -> None:
    if "protocol" in a:
        state["protocol"] = a["protocol"]
    elif "metaData" in a:
        state["metadata"] = a["metaData"]
    elif "add" in a:
        add = a["add"]
        state["adds"][add["path"]] = add
        state["removes"].pop(add["path"], None)
    elif "remove" in a:
        rem = a["remove"]
        state["adds"].pop(rem["path"], None)
        state["removes"][rem["path"]] = rem
    elif "txn" in a:
        # streaming exactly-once bookkeeping (spec: latest version per
        # appId wins; replay applies commits in ascending order)
        state["txns"][a["txn"]["appId"]] = a["txn"]["version"]
    # commitInfo: informational, no state


def _apply_ckpt_row(state: dict, row: dict) -> list[dict]:
    """Apply one checkpoint/sidecar parquet row (pyarrow normalization:
    map<str,str> surfaces as list-of-pairs, lane padding as Nones).
    Returns any ``sidecar`` actions found for the caller to chase."""
    sidecars: list[dict] = []
    for kind in ("protocol", "metaData", "add", "remove", "txn"):
        v = row.get(kind)
        if v is not None:
            # pyarrow map<str,str> -> list of (k, v) pairs
            if kind == "add" and isinstance(v.get("partitionValues"), list):
                v = dict(v, partitionValues=dict(v["partitionValues"]))
            if kind == "metaData" and isinstance(v.get("configuration"), list):
                v = dict(v, configuration=dict(v["configuration"]))
            if kind in ("protocol", "add"):
                # lane padding writes absent optionals as None —
                # strip them so replayed actions keep the JSON shape
                v = {k: x for k, x in v.items() if x is not None}
            _apply_action(state, {kind: v})
    sc = row.get("sidecar")
    if sc is not None and sc.get("path"):
        sidecars.append(sc)
    return sidecars


def _read_checkpoint(table: str, version: int) -> dict:
    """Seed replay state from a checkpoint — classic single-file or
    MULTIPART parquet (part/of-named shards of one action set), or a
    v2 checkpoint (json or parquet) whose add/remove actions live in
    parquet SIDECAR files under _delta_log/_sidecars/ (Delta protocol:
    V2 Checkpoint Table Feature). Either way the read is
    metadata-sized: one row per action."""
    import pyarrow.parquet as pq

    state = {
        "protocol": None, "metadata": None, "adds": {}, "removes": {}, "txns": {},
    }
    paths = _find_checkpoint_files(table, version)
    sidecars: list[dict] = []
    if paths[0].endswith(".json"):  # v2 json manifest: one action per line
        with open(paths[0], "r", encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "sidecar" in a:
                    sidecars.append(a["sidecar"])
                elif "checkpointMetadata" in a:
                    pass  # version sanity lives in the filename
                else:
                    _apply_action(state, a)
    else:
        for path in paths:
            for row in pq.read_table(path).to_pylist():
                sidecars.extend(_apply_ckpt_row(state, row))
    for sc in sidecars:
        sc_path = sc["path"]
        if not os.path.isabs(sc_path):
            sc_path = os.path.join(_log_dir(table), "_sidecars", sc_path)
        for row in pq.read_table(sc_path).to_pylist():
            extra = _apply_ckpt_row(state, row)
            if extra:
                raise RuntimeError(
                    f"Delta sidecar {sc_path!r} references further "
                    "sidecars — not a spec shape"
                )
    return state


def snapshot(table: str, version: int | None = None) -> DeltaSnapshot:
    """Reconstruct table state at ``version`` (default: latest).

    Seeds from the newest checkpoint ≤ version when one exists, then
    replays the JSON commits after it — O(actions since checkpoint),
    never O(table)."""
    js, cps = _list_log(table)
    if not js and not cps:
        raise FileNotFoundError(f"no Delta log at {table!r}")
    target = max(js[-1:] + cps[-1:]) if version is None else version
    if target not in js and target not in cps:
        # after metadata cleanup a checkpointed version may exist with
        # its json commit expired — still a servable snapshot
        have = sorted(set(js) | set(cps))
        raise ValueError(
            f"version {target} not in Delta log for {table!r} "
            f"(have {have[0]}..{have[-1]})"
        )
    usable = [c for c in cps if c <= target]
    if usable:
        cp = usable[-1]
        state = _read_checkpoint(table, cp)
        replay = [v for v in js if cp < v <= target]
        expect = list(range(cp + 1, target + 1))
    else:
        state = {
            "protocol": None, "metadata": None, "adds": {}, "removes": {},
            "txns": {},
        }
        replay = [v for v in js if v <= target]
        expect = list(range(js[0], target + 1))
    if replay != expect:
        raise RuntimeError(
            f"Delta log for {table!r} is not contiguous: need versions "
            f"{expect}, found {replay}"
        )
    for v in replay:
        for a in _read_commit(table, v):
            _apply_action(state, a)
    if state["protocol"] is None or state["metadata"] is None:
        if not usable and js and js[0] > 0:
            # protocol is written only at genesis (and metaData at
            # genesis/overwrite), so a replay that starts above version
            # 0 with no checkpoint seed can only happen after
            # log-retention cleanup: the retained commit tail serves
            # the CHANGE FEED over that range, not snapshots. Refuse in
            # the same class as any other expired-version time travel.
            raise ValueError(
                f"version {target} of {table!r} is below the earliest "
                "reconstructible version: log-retention cleanup expired "
                "its seed (the retained tail serves the change feed, "
                "not snapshots)"
            )
        raise RuntimeError(f"Delta log for {table!r} lacks protocol/metaData")
    _gate_protocol(state["protocol"])
    return DeltaSnapshot(
        table, target, state["protocol"], state["metadata"],
        state["adds"], state["removes"], state["txns"],
    )


def _ckpt_arrow_types() -> dict:
    """Arrow struct types for checkpoint lanes (shared by the classic
    single-file writer and the v2 manifest+sidecar writer)."""
    import pyarrow as pa

    part_t = pa.map_(pa.string(), pa.string())
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int64()),
            ("sizeInBytes", pa.int64()),
            ("cardinality", pa.int64()),
        ]
    )
    return {
        "add": pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", part_t),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                ("deletionVector", dv_t),
            ]
        ),
        "remove": pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        ),
        "protocol": pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ]
        ),
        "txn": pa.struct([("appId", pa.string()), ("version", pa.int64())]),
        "metaData": pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                # columnMapping mode lives here — dropping it through a
                # checkpoint would misread every physical column as null
                ("configuration", part_t),
            ]
        ),
        "checkpointMetadata": pa.struct(
            [("version", pa.int64()), ("tags", part_t)]
        ),
        "sidecar": pa.struct(
            [
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ]
        ),
    }


def _ckpt_rows(snap: DeltaSnapshot) -> dict[str, list[dict]]:
    """The reconciled action rows both checkpoint forms carry, by
    action column (protocol, metaData, live adds, remove tombstones,
    txn versions)."""
    return {
        "protocol": [
            {
                "minReaderVersion": snap.protocol.get("minReaderVersion", 1),
                "minWriterVersion": snap.protocol.get("minWriterVersion", 2),
                "readerFeatures": snap.protocol.get("readerFeatures"),
                "writerFeatures": snap.protocol.get("writerFeatures"),
            }
        ],
        "metaData": [
            {
                "id": snap.metadata["id"],
                "format": {"provider": "parquet"},
                "schemaString": snap.metadata["schemaString"],
                "partitionColumns": snap.partition_columns,
                "configuration": list(
                    (snap.metadata.get("configuration") or {}).items()
                ),
            }
        ],
        "add": [
            {
                "path": a["path"],
                "partitionValues": list((a.get("partitionValues") or {}).items()),
                "size": a.get("size", 0),
                "modificationTime": a.get("modificationTime", 0),
                "dataChange": bool(a.get("dataChange", True)),
                "stats": a.get("stats"),
                # merge-on-read state MUST survive checkpointing — a
                # checkpoint that dropped the DV would resurrect rows
                "deletionVector": a.get("deletionVector"),
            }
            for _, a in sorted(snap.adds.items())
        ],
        "remove": [
            {
                "path": r["path"],
                "deletionTimestamp": r.get("deletionTimestamp", 0),
                "dataChange": bool(r.get("dataChange", True)),
            }
            for _, r in sorted(snap.removes.items())
        ],
        "txn": [{"appId": app, "version": v} for app, v in sorted(snap.txns.items())],
    }


def _lane_table(lanes: list[tuple[str, list]]):
    """(checkpoint parquet table, row count): one row per action — each
    ``(column, rows)`` lane fills its own consecutive slice of the rows,
    in order, and is null elsewhere."""
    import pyarrow as pa

    t = _ckpt_arrow_types()
    n = sum(len(rows) for _, rows in lanes)
    cols, off = {}, 0
    for name, rows in lanes:
        pad = [None] * (n - off - len(rows))
        cols[name] = pa.array([None] * off + rows + pad, type=t[name])
        off += len(rows)
    return pa.table(cols), n


def _write_ckpt_file(tbl, path: str) -> None:
    """Write a checkpoint or sidecar parquet durably under its final
    name: a per-call temp file, fsynced and renamed, directory fsynced
    — so the ``_last_checkpoint`` pointer published after it never
    names bytes that did not reach disk."""
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp{lakecommit.token()}"
    pq.write_table(tbl, tmp)
    lakecommit.sync_replace(tmp, path)


def _publish_last_checkpoint(table: str, pointer: dict) -> None:
    ptr = os.path.join(_log_dir(table), _LAST_CHECKPOINT)
    tmp = f"{ptr}.tmp{lakecommit.token()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(json.dumps(pointer))
    lakecommit.sync_replace(tmp, ptr)


def write_checkpoint(table: str, snap: DeltaSnapshot) -> None:
    """Spec-layout single-file checkpoint: one row per reconciled
    action (protocol, metaData, live adds, remove tombstones, txn),
    plus the ``_last_checkpoint`` pointer. Written via pyarrow; read
    back by ``_read_checkpoint``. Crash-safe: snapshot() lists
    checkpoint files directly, so the parquet publishes durably
    (``_write_ckpt_file``) before the pointer is replaced."""
    rows = _ckpt_rows(snap)
    tbl, n = _lane_table(
        [(k, rows[k]) for k in ("protocol", "metaData", "add", "remove", "txn")]
    )
    _write_ckpt_file(tbl, _checkpoint_path(table, snap.version))
    _publish_last_checkpoint(table, {"version": snap.version, "size": n})


def write_checkpoint_v2(
    table: str, snap: DeltaSnapshot, sidecar_actions: int = 50_000
) -> str:
    """V2 checkpoint (Delta protocol "V2 Checkpoint Table Feature"):
    a uuid-named top-level manifest
    ``<version>.checkpoint.<uuid>.parquet`` carrying protocol /
    metaData / txn / checkpointMetadata plus ``sidecar`` pointers, with
    the add/remove file actions sharded into parquet SIDECAR files
    under ``_delta_log/_sidecars/``. At 100 TB this is the layout that
    matters: the manifest stays O(1) and each sidecar is independently
    fetchable/cacheable, instead of one monolithic multi-GB parquet.
    Returns the manifest path. Readable back by ``_read_checkpoint``
    (and by any spec reader)."""
    import uuid as _uuid

    rows = _ckpt_rows(snap)
    d = _log_dir(table)
    sc_dir = os.path.join(d, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    # shard file actions into sidecars (adds first, then removes —
    # reconciliation is order-independent across DISTINCT paths, which
    # the active-set/tombstone split guarantees)
    actions = [("add", a) for a in rows["add"]] + [("remove", r) for r in rows["remove"]]
    sidecars = []
    for i in range(0, max(len(actions), 1), sidecar_actions):
        shard = actions[i : i + sidecar_actions]
        tbl, _ = _lane_table(
            [(k, [r for kk, r in shard if kk == k]) for k in ("add", "remove")]
        )
        name = f"{_uuid.uuid4()}.parquet"
        sc_path = os.path.join(sc_dir, name)
        _write_ckpt_file(tbl, sc_path)
        sidecars.append(
            {
                "path": name,
                "sizeInBytes": os.path.getsize(sc_path),
                "modificationTime": 0,
            }
        )
    tbl, n = _lane_table(
        [
            ("protocol", rows["protocol"]),
            ("metaData", rows["metaData"]),
            ("checkpointMetadata", [{"version": snap.version, "tags": []}]),
            ("txn", rows["txn"]),
            ("sidecar", sidecars),
        ]
    )
    final = os.path.join(
        d, f"{snap.version:020d}.checkpoint.{_uuid.uuid4()}.parquet"
    )
    _write_ckpt_file(tbl, final)
    _publish_last_checkpoint(
        table,
        {
            "version": snap.version,
            "size": n + len(actions),
            "sizeInBytes": os.path.getsize(final),
            "v2Checkpoint": {"path": os.path.basename(final)},
        },
    )
    return final


# --------------------------------------------------------------------
# stats (parquet footers only — no data read)
# --------------------------------------------------------------------


def _file_stats(md, stats_cols: tuple[str, ...]) -> str:
    """Delta ``add.stats`` JSON from a parquet footer: numRecords
    always; min/max/nullCount for ``stats_cols`` when the footer
    carries statistics. Bytes/binary columns are skipped (their
    truncated physical stats don't round-trip through JSON)."""
    stats: dict = {"numRecords": md.num_rows}
    ranges = lakecommit.footer_ranges(md, (bytes,), stats_cols) if stats_cols else {}
    cols = [c for c in stats_cols if c in ranges]
    if cols:
        stats["minValues"] = {c: ranges[c][0] for c in cols}
        stats["maxValues"] = {c: ranges[c][1] for c in cols}
        stats["nullCount"] = {c: ranges[c][2] for c in cols}
    return json.dumps(stats, separators=(",", ":"))


def skip_files(snap: DeltaSnapshot, col: str, lo, hi) -> list[str]:
    """Log-level data skipping: active files whose ``add.stats`` range
    on ``col`` intersects [lo, hi] — files with no stats for the column
    are conservatively kept. Runs on the driver over file-granularity
    metadata; the pruned list feeds a native parquet scan. ``col`` is
    the LOGICAL name; under column mapping the stats keys are physical
    and the translation happens here."""
    mapping = snap.column_mapping()
    if mapping:
        col = mapping.get(col, col)
    keep = []
    for path in sorted(snap.adds):
        a = snap.adds[path]
        st = json.loads(a["stats"]) if a.get("stats") else {}
        mins = st.get("minValues", {})
        maxs = st.get("maxValues", {})
        if col in mins and col in maxs:
            if maxs[col] < lo or mins[col] > hi:
                continue
        keep.append(os.path.join(snap.table, urllib.parse.unquote(path)))
    return keep

# --------------------------------------------------------------------
# reader
# --------------------------------------------------------------------


def read_delta_py(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """Read a Delta table as of ``version`` (default: latest) — log
    replay on the driver, then a plain NATIVE parquet scan over the
    active file list (``_scan_snapshot``). ``files`` (from
    ``skip_files``) narrows the scan to a stats-pruned subset."""
    snap = snapshot(table, version)
    return _scan_snapshot(spark, snap, snap.file_paths() if files is None else files)


def _scan_snapshot(spark: SparkSession, snap: DeltaSnapshot, files: list[str]) -> DataFrame:
    """Native parquet scan of ``files`` (absolute paths of ``snap``'s
    active set) — pushdown/pruning/codegen all intact; hive-style
    layout + the log's schema recovers partition columns, so partition
    filters prune at plan time. A narrowed scan is sound under deletion
    vectors too (a DV only removes rows, so per-file min/max stay
    conservative). Active adds carrying a deletionVector apply as a
    merge-on-read anti-join (``_apply_deletion_vectors``). Column
    mapping (name/id mode) scans under PHYSICAL names — parquet columns
    and hive partition dirs both carry them — then projects back to
    logical names, after the DV join (``_metadata`` resolves only on
    the scan relation)."""
    if not files:
        return spark.createDataFrame([], snap.schema)
    mapping = snap.column_mapping()
    reader = spark.read.schema(snap.physical_schema() if mapping else snap.schema)
    if snap.partition_columns:
        reader = reader.option("basePath", snap.table)
    df = reader.parquet(*files)
    if any(a.get("deletionVector") for a in snap.adds.values()):
        df = _apply_deletion_vectors(spark, df, snap, {os.path.abspath(p) for p in files})
    if mapping:
        df = df.select(
            [F.col(phys).alias(logical) for logical, phys in mapping.items()]
        )
    return df


# --------------------------------------------------------------------
# writer
# --------------------------------------------------------------------


def _stage_and_move(
    df: DataFrame, table: str, partition_by: tuple[str, ...],
    distribute: bool = False,
) -> list[lakecommit.StagedFile]:
    """Stage ``df`` into the table dir (``lakecommit.stage_parquet``),
    keeping hive-style partition subdirs and Spark's task-committed
    unique part names."""
    return lakecommit.stage_parquet(
        df, table, lambda rel: os.path.join(table, rel), partition_by, distribute
    )


def _rel(table: str, f: lakecommit.StagedFile) -> str:
    return urllib.parse.quote(os.path.relpath(f.path, table).replace(os.sep, "/"))


def _pvals(f: lakecommit.StagedFile) -> dict[str, str]:
    return {k: urllib.parse.unquote(v) for k, v in f.parts.items()}


def _add_actions(
    table: str,
    staged: list[lakecommit.StagedFile],
    stats_cols: tuple[str, ...],
    data_change: bool = True,
) -> list[dict]:
    acts = []
    for f in staged:
        st = os.stat(f.path)
        acts.append(
            {
                "add": {
                    "path": _rel(table, f),
                    "partitionValues": _pvals(f),
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": data_change,
                    "stats": _file_stats(f.meta, stats_cols),
                }
            }
        )
    return acts


def _meta_action(df_schema: StructType, table: str, partition_by: tuple[str, ...]) -> dict:
    return {
        "metaData": {
            # deterministic table id (NOTES rule 15: no entropy sources)
            "id": hashlib.md5(os.path.abspath(table).encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df_schema.json(),
            "partitionColumns": list(partition_by),
            "configuration": {},
        }
    }


_PROTOCOL_ACTION = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}



def _maybe_checkpoint(table: str, version: int, interval: int) -> None:
    """Automatic checkpoint cut, honoring ``delta.checkpointPolicy``:
    'v2' emits the uuid-manifest + sidecar layout
    (``write_checkpoint_v2``), anything else the classic single
    parquet — so a table that declared the v2Checkpoint feature keeps
    its O(1) manifest through every writer in this module, not just
    explicit ``write_checkpoint_v2`` calls."""
    if interval and version > 0 and version % interval == 0:
        snap = snapshot(table, version)
        policy = (snap.metadata.get("configuration") or {}).get(
            "delta.checkpointPolicy", "classic"
        )
        if policy == "v2":
            write_checkpoint_v2(table, snap)
        else:
            write_checkpoint(table, snap)


def _commit(
    table: str,
    version: int,
    actions: list[dict],
    checkpoint_interval: int = 0,
    owns_files: bool = False,
):
    """One publish of ``actions`` as ``version``: on a win cut the
    automatic checkpoint when due and return the version; on a loss
    return ``lakecommit.LOST``, first removing every add/cdc file of
    ``actions`` when ``owns_files`` (this attempt staged them all)."""
    if try_commit(table, version, actions):
        _maybe_checkpoint(table, version, checkpoint_interval)
        return version
    if owns_files:
        lakecommit.discard(
            os.path.join(table, urllib.parse.unquote(a[k]["path"]))
            for a in actions
            for k in ("add", "cdc")
            if k in a
        )
    return lakecommit.LOST


def enable_v2_checkpoints(table: str) -> int:
    """Switch a table to the v2 checkpoint policy: one commit that
    (a) upgrades the protocol to the feature form with ``v2Checkpoint``
    in reader+writer features (carrying existing capabilities — the
    same discipline as the DV upgrade) and (b) sets
    ``delta.checkpointPolicy=v2``. Every subsequent automatic
    checkpoint then emits the uuid manifest + parquet sidecars.
    Returns the committed version (idempotent: no-op commit-free if
    already enabled)."""

    def attempt():
        snap = snapshot(table)
        cfg = dict(snap.metadata.get("configuration") or {})
        rf = set(snap.protocol.get("readerFeatures") or [])
        wf = set(snap.protocol.get("writerFeatures") or [])
        if cfg.get("delta.checkpointPolicy") == "v2" and "v2Checkpoint" in rf:
            return snap.version
        cfg["delta.checkpointPolicy"] = "v2"
        if snap.column_mapping():
            rf.add("columnMapping")
            wf.add("columnMapping")
        if any(a.get("deletionVector") for a in snap.adds.values()):
            rf.add("deletionVectors")
            wf.add("deletionVectors")
        rf.add("v2Checkpoint")
        wf.add("v2Checkpoint")
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf),
                    "writerFeatures": sorted(wf),
                }
            },
            {"metaData": dict(snap.metadata, configuration=cfg)},
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "engine": "map_reduce_spark",
                }
            },
        ]
        return _commit(table, snap.version + 1, actions)

    return lakecommit.retry_commit(f"v2-checkpoint enablement on {table!r}", attempt)


def write_delta_py(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int:
    """Transactional append/overwrite; returns the committed version.

    Appends never conflict (no removes), so a lost commit race retries
    blindly with the next version. Overwrite re-derives its remove set
    against the CURRENT snapshot inside the retry loop (the optimistic-
    transaction rule: never tombstone from a stale read)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if latest_version(table) is not None:
        mapping = snapshot(table).column_mapping()
        if mapping:
            # appends to a mapped table must stage PHYSICAL column
            # names (+ partition dirs) — logical-named files would
            # read back all-NULL under the physical scan; overwrite
            # would additionally re-commit an unmapped metaData,
            # stranding the whole table
            if mode == "overwrite":
                raise NotImplementedError(
                    "overwrite of a column-mapping table would replace "
                    "its mapped metaData — rebuild via write_mapped_table"
                )
            unknown = set(df.columns) - set(mapping)
            if unknown:
                raise KeyError(
                    f"append to mapped table: unknown columns {sorted(unknown)}"
                )
            df = df.select([F.col(n).alias(p) for n, p in mapping.items()])
            partition_by = tuple(mapping[c] for c in partition_by)
            stats_cols = tuple(mapping[c] for c in stats_cols)
    adds = _add_actions(table, _stage_and_move(df, table, partition_by), stats_cols)

    def attempt():
        cur = latest_version(table)
        v = 0 if cur is None else cur + 1
        actions: list[dict] = []
        if cur is None:
            actions.append(_PROTOCOL_ACTION)
            actions.append(_meta_action(df.schema, table, partition_by))
        elif mode == "overwrite":
            actions.append(_meta_action(df.schema, table, partition_by))
        if mode == "overwrite" and cur is not None:
            prev = snapshot(table)
            actions.extend(
                {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
                for p in sorted(prev.adds)
            )
        actions.extend(adds)
        actions.append({"commitInfo": {"operation": mode.upper(), "engine": "map_reduce_spark"}})
        return _commit(table, v, actions, checkpoint_interval)

    return lakecommit.retry_commit(f"{mode} on {table!r}", attempt)


def _cow_view(
    spark: SparkSession,
    table: str,
    name: str,
    stats_cols: tuple[str, ...],
    checkpoint_interval: int,
):
    """``rowlevel``'s Delta adapter for the public function ``name``:
    each ``open_view(op)`` replays the log once, refuses deletion-
    vector and column-mapping tables (``_gate_dv_rewrite``), scans and
    skips against that one snapshot, and publishes remove(victims) +
    add(rewrite) — plus cdc files when the change feed is on — as the
    next version."""

    def open_view(op: str) -> rowlevel.View:
        snap = snapshot(table)
        _gate_dv_rewrite(snap, name)
        part = tuple(snap.partition_columns)

        def candidates(keys: rowlevel.KeyPlan) -> list[str]:
            lo, hi = keys.bounds
            return [] if lo is None else skip_files(snap, keys.key, lo, hi)

        def publish(victims, out, changes):
            actions = [
                {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": True}}
                for p in sorted(_rel_paths(snap, victims))
            ]
            moved = _stage_and_move(out, table, part, distribute=True)
            actions.extend(_add_actions(table, moved, stats_cols))
            if _cdf_enabled(snap):
                actions.extend(_stage_cdc_files(changes(), table, part))
            actions.append(
                {"commitInfo": {"operation": op.upper(), "engine": "map_reduce_spark"}}
            )
            # a lost race re-derives everything against the new
            # snapshot: the winner may have rewritten our victims
            return _commit(
                table, snap.version + 1, actions, checkpoint_interval, owns_files=True
            )

        return rowlevel.View(
            f"{name} on {table!r}", snap.version, snap.schema, snap.file_paths(),
            lambda files: _scan_snapshot(spark, snap, files), candidates, publish,
        )

    return open_view


def delete_where(
    spark: SparkSession,
    table: str,
    predicate,
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int:
    """Delta DELETE (``rowlevel.delete``): rewrite ONLY the files
    holding predicate-TRUE rows, minus those rows, and commit
    remove+add. Files with no matching row are untouched — at 100 TB a
    selective delete rewrites a handful of files, never the table.
    NULL-predicate rows are kept. Returns the committed version (the
    current one, with no commit, when nothing matches)."""
    view = _cow_view(spark, table, "delete_where", stats_cols, checkpoint_interval)
    return rowlevel.delete(view, predicate)


def _rel_paths(snap: DeltaSnapshot, abs_paths) -> list[str]:
    """Map absolute scan paths (possibly file:-prefixed, from
    ``_metadata.file_path``) back to the log's encoded relative paths,
    in the INPUT's iteration order (callers that pair the result with
    per-path payloads must pass an ordered iterable)."""
    by_real = {}
    for enc in snap.adds:
        ap = os.path.join(snap.table, urllib.parse.unquote(enc))
        by_real[os.path.realpath(ap)] = enc
    out = []
    for p in abs_paths:
        local = p[len("file:"):] if p.startswith("file:") else p
        enc = by_real.get(os.path.realpath(local))
        if enc is None:
            raise RuntimeError(f"rewrite set path {p!r} not in snapshot v{snap.version}")
        out.append(enc)
    return out


def merge_upsert(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key: str,
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int:
    """Delta MERGE (upsert, ``rowlevel.merge``): matched target rows
    take the source row's values, unmatched source rows insert.
    Candidate files come from LOG-LEVEL data skipping — one single-row
    aggregate gives the source key bounds, ``skip_files`` prunes the
    active list against per-file stats, and only files that can
    possibly hold a match are read or rewritten; the commit is
    remove(candidates)+add(rewrite). The source must match the table
    schema exactly and be key-unique. Returns the committed version."""
    view = _cow_view(spark, table, "merge_upsert", stats_cols, checkpoint_interval)
    return rowlevel.merge(view, source, key)


def delta_history_table(spark: SparkSession, table: str) -> DataFrame:
    """The ``DESCRIBE HISTORY`` metadata table: one row per commit
    still in the json log — version, operation (from commitInfo; a
    commit without one renders as 'UNKNOWN'), and the commit's
    add/remove/cdc action counts. Metadata-sized: the log is the
    input, no data file opens. Commits whose json has been expired
    below a checkpoint simply don't appear (matching real DESCRIBE
    HISTORY after log cleanup)."""
    js, _ = _list_log(table)
    if not js:
        raise FileNotFoundError(f"no Delta log at {table!r}")
    rows = []
    for v in js:
        acts = _read_commit(table, v)
        op = "UNKNOWN"
        for a in acts:
            if "commitInfo" in a and a["commitInfo"].get("operation"):
                op = str(a["commitInfo"]["operation"])
        rows.append(
            (
                v,
                op,
                sum(1 for a in acts if "add" in a),
                sum(1 for a in acts if "remove" in a),
                sum(1 for a in acts if "cdc" in a),
            )
        )
    return spark.createDataFrame(
        rows, "version long, operation string, n_adds long, n_removes long, n_cdc long"
    )


@register(
    "delta_history_metadata",
    oracle="""
SELECT * FROM (VALUES
  (0, 'OVERWRITE'), (1, 'APPEND'), (2, 'DELETE')
) AS t(version, operation)
""",
)
def delta_history_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the shared orders fixture: its commit
    history is deterministic by construction (v0 bulk OVERWRITE, v1
    APPEND, v2 selective DELETE) and the operation log must
    render exactly that — a missing commit, a misattributed
    operation, or a phantom version all hash-mismatch. The Delta twin
    of ``iceberg_files_metadata``'s manifest-plane cross-exam."""
    table = ensure_delta_fixture(spark, sf_dir)
    return delta_history_table(spark, table).select(
        F.col("version").cast("int").alias("version"), "operation"
    )


def vacuum_delta(table: str) -> int:
    """Remove data files referenced by NO version still in the log
    (crashed stagings, lost-race rewrites, tombstoned files whose every
    referencing version has been checkpointed away is NOT assumed —
    any file named by any surviving add OR remove action is kept).
    Returns the number of files deleted. Metadata-only pass.

    The reference set seeds from BOTH surviving json commits AND every
    surviving checkpoint's reconstructed state (sidecars chased): after
    ``clean_delta_log`` the early adds exist only in the checkpoint, and
    a json-only sweep would delete the table's live base data (NOTES
    rule 52 — the cleaner's consumers must each handle the retained
    structure)."""
    js, cps = _list_log(table)
    if not js and not cps:
        return 0
    referenced: set[str] = set()
    codec = None

    def _ref(act: dict | None) -> None:
        nonlocal codec
        if not act:
            return
        referenced.add(os.path.realpath(
            os.path.join(table, urllib.parse.unquote(act["path"]))))
        dv = act.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            if codec is None:
                codec = make_dv_codec()
            _, loc = _resolve_dv_location(table, dv, codec)
            referenced.add(os.path.realpath(loc))

    for v in js:
        for a in _read_commit(table, v):
            # cdc change files are referenced table state too — sweeping
            # them would amputate the change feed's history
            _ref(a.get("add") or a.get("remove") or a.get("cdc"))
    for v in cps:
        try:
            state = _read_checkpoint(table, v)
        except (FileNotFoundError, RuntimeError):
            continue  # torn/vanished seed cannot anchor references
        for act in list(state["adds"].values()) + list(state["removes"].values()):
            _ref(act)
    n = 0
    for root, dirs, names in os.walk(table):
        dirs[:] = [d for d in dirs if d != _LOG and not d.startswith(".staging-")]
        if os.path.basename(root).startswith(".staging-"):
            continue
        for name in names:
            is_dv = name.startswith("deletion_vector_") and name.endswith(".bin")
            if not (name.endswith(".parquet") or is_dv):
                continue
            p = os.path.realpath(os.path.join(root, name))
            if p not in referenced:
                os.remove(p)
                n += 1
    # crashed staging dirs are orphans by construction — but a LIVE
    # writer may be mid-stage right now, so only reap dirs quiet for
    # longer than any plausible stage window (the same reason real
    # VACUUM has a retention period)
    import time

    cutoff = time.time() - _STAGING_RETENTION_SEC
    for d in os.listdir(table):
        if d.startswith(".staging-"):
            p = os.path.join(table, d)
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # racing writer moved/removed it: theirs
    return n


def _sidecar_refs(path: str) -> set[str]:
    """Sidecar file basenames referenced by a v2 checkpoint manifest
    (json or parquet form). Classic checkpoints return empty."""
    import pyarrow.parquet as pq

    refs: set[str] = set()
    if path.endswith(".json"):
        with open(path, "r", encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    sc = json.loads(line).get("sidecar")
                    if sc:
                        refs.add(os.path.basename(sc["path"]))
        return refs
    f = pq.ParquetFile(path)
    if "sidecar" not in f.schema_arrow.names:
        return refs
    for row in f.read(columns=["sidecar"]).to_pylist():
        sc = row.get("sidecar")
        if sc:
            refs.add(os.path.basename(sc["path"]))
    return refs


def clean_delta_log(table: str, retain_last: int = 0) -> dict:
    """Expire log metadata superseded by the newest checkpoint — the
    Delta spec's log-cleanup contract (PROTOCOL.md "Delta Log Entries"
    / "Checkpoints": state at and after a checkpoint is reconstructible
    without the earlier entries). At 100 TB this is what keeps a
    long-lived table's ``_delta_log`` listing O(checkpoint cadence)
    instead of O(total commits ever made).

    Removes, with boundary B = the newest complete checkpoint version:
      - json commit files at or below ``B - retain_last``
        (``retain_last`` trailing commits survive so the CDF /
        incremental change readers stay servable over that tail — the
        version-count analog of ``delta.logRetentionDuration``);
      - ``_change_data`` files named only by those expired commits
        (checkpoints carry no cdc actions, so no reader reaches them
        any more; removed AFTER their commits, so a crash in between
        leaves orphans for ``vacuum_delta``, never a dangling commit);
      - checkpoint files strictly below B, in every form (classic
        single-file, complete or torn multipart sets, v2 uuid
        manifests) — superseded seeds;
      - ``_sidecars/*.parquet`` referenced by NO surviving v2 manifest
        (mtime-guarded like the staging reaper: a checkpoint writer
        racing this sweep publishes sidecars BEFORE its manifest, so
        only files older than the stage window are reaped).

    Time travel to an expired version stops working, by design — the
    same trade real log retention makes. Returns ``{"boundary",
    "json_removed", "checkpoints_removed", "sidecars_removed"}``."""
    import time

    out = {
        "boundary": None,
        "json_removed": 0,
        "checkpoints_removed": 0,
        "sidecars_removed": 0,
    }
    _, cps = _list_log(table)
    if not cps:
        return out  # no checkpoint: every commit is load-bearing
    b = cps[-1]
    out["boundary"] = b
    d = _log_dir(table)
    json_floor = b - max(retain_last, 0)
    surviving_manifests: list[str] = []
    expired_cdc: set[str] = set()
    kept_cdc: set[str] = set()
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        m_v2 = _V2_CKPT_RE.match(f)
        m_multi = _MULTI_CKPT_RE.match(f)
        if m_v2:
            v = int(m_v2.group(1))
            if v < b:
                os.remove(p)
                out["checkpoints_removed"] += 1
            else:
                surviving_manifests.append(p)
        elif m_multi:
            if int(m_multi.group(1)) < b:
                os.remove(p)
                out["checkpoints_removed"] += 1
        elif f.endswith(".checkpoint.parquet") and f[:20].isdigit():
            if int(f[:20]) < b:
                os.remove(p)
                out["checkpoints_removed"] += 1
        elif f.endswith(".json") and f[:20].isdigit():
            cdc = {a["cdc"]["path"] for a in _read_commit(table, int(f[:20])) if "cdc" in a}
            if int(f[:20]) <= json_floor:
                os.remove(p)
                out["json_removed"] += 1
                expired_cdc |= cdc
            else:
                kept_cdc |= cdc
    lakecommit.discard(
        os.path.join(table, urllib.parse.unquote(rel))
        for rel in sorted(expired_cdc - kept_cdc)
    )
    sc_dir = os.path.join(d, "_sidecars")
    if os.path.isdir(sc_dir):
        live: set[str] = set()
        for mp in surviving_manifests:
            live |= _sidecar_refs(mp)
        cutoff = time.time() - _STAGING_RETENTION_SEC
        for f in os.listdir(sc_dir):
            if not f.endswith(".parquet") or f in live:
                continue
            p = os.path.join(sc_dir, f)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.remove(p)
                    out["sidecars_removed"] += 1
            except OSError:
                pass  # racing checkpoint writer: theirs
    return out

# --------------------------------------------------------------------
# deletion vectors (round 9): merge-on-read reads + DV DELETE writer
# --------------------------------------------------------------------
# Formats implemented from PUBLIC specs only: the Delta PROTOCOL.md
# "Deletion Vectors" section (DV descriptor on the add action; .bin
# file layout version byte + <int32 BE size><bitmap><int32 BE crc32>;
# z85-encoded UUID path encoding) and the RoaringBitmapArray
# "portable" serialization (magic 1681511377 LE, int64 bitmap count,
# then standard-RoaringFormatSpec 32-bit bitmaps: cookies 12346/12347,
# array/bitmap/run containers).

_ROARING_MAGIC = 1681511377


def make_dv_codec():
    """Self-contained deletion-vector codec. Everything it references
    is defined inside this factory so cloudpickle ships it BY VALUE
    (NOTES rule 6) — executors decode/encode DV blobs without needing
    this module importable. All vectorized via numpy; nothing here is
    per-row Python over data rows (positions move as arrays)."""
    import struct as st
    import zlib as zl

    import numpy as np

    alphabet = (
        "0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    )
    a2i = {c: i for i, c in enumerate(alphabet)}

    def z85_decode(s: str) -> bytes:
        if len(s) % 5:
            raise ValueError("z85 input length must be a multiple of 5")
        out = bytearray()
        for i in range(0, len(s), 5):
            acc = 0
            for c in s[i:i + 5]:
                acc = acc * 85 + a2i[c]
            out += acc.to_bytes(4, "big")
        return bytes(out)

    def z85_encode(b: bytes) -> str:
        if len(b) % 4:  # pad to a 4-byte boundary; decoders truncate
            b = b + b"\x00" * (4 - len(b) % 4)  # back to the known size
        out = []
        for i in range(0, len(b), 4):
            acc = int.from_bytes(b[i:i + 4], "big")
            chunk = []
            for _ in range(5):
                chunk.append(alphabet[acc % 85])
                acc //= 85
            out.extend(reversed(chunk))
        return "".join(out)

    def _roaring32_decode(data: bytes, pos: int):
        (cookie,) = st.unpack_from("<i", data, pos)
        if (cookie & 0xFFFF) == 12347:  # SERIAL_COOKIE: runs possible
            n = ((cookie >> 16) & 0xFFFF) + 1
            pos += 4
            nb = (n + 7) // 8
            run_bits = data[pos:pos + nb]
            pos += nb
            has_offsets = n >= 4
        elif cookie == 12346:  # SERIAL_COOKIE_NO_RUNCONTAINER
            (n,) = st.unpack_from("<i", data, pos + 4)
            pos += 8
            run_bits = b"\x00" * ((n + 7) // 8)
            has_offsets = True
        else:
            raise ValueError(f"bad roaring cookie {cookie}")
        desc = np.frombuffer(data, np.dtype("<u2"), 2 * n, pos)
        keys = desc[0::2].astype(np.int64)
        cards = desc[1::2].astype(np.int64) + 1
        pos += 4 * n
        if has_offsets:
            pos += 4 * n  # containers are serialized in order anyway
        vals = []
        for i in range(n):
            if run_bits[i // 8] & (1 << (i % 8)):
                (n_runs,) = st.unpack_from("<H", data, pos)
                pos += 2
                rr = np.frombuffer(data, np.dtype("<u2"), 2 * n_runs, pos)
                pos += 4 * n_runs
                starts = rr[0::2].astype(np.int64)
                lens = rr[1::2].astype(np.int64) + 1
                v = (
                    np.concatenate(
                        [np.arange(s, s + ln, dtype=np.int64) for s, ln in zip(starts, lens)]
                    )
                    if n_runs
                    else np.empty(0, np.int64)
                )
            elif cards[i] > 4096:
                words = np.frombuffer(data, np.dtype("<u8"), 1024, pos)
                pos += 8192
                bits = np.unpackbits(words.view(np.uint8), bitorder="little")
                v = np.nonzero(bits)[0].astype(np.int64)
            else:
                v = np.frombuffer(data, np.dtype("<u2"), int(cards[i]), pos).astype(np.int64)
                pos += 2 * int(cards[i])
            vals.append(v + (keys[i] << 16))
        return (np.concatenate(vals) if vals else np.empty(0, np.int64)), pos

    def _roaring32_encode(vals: np.ndarray) -> bytes:
        """Standard no-run serialization (cookie 12346): array
        containers <=4096 cardinality, bitmap containers above."""
        keys = (vals >> 16).astype(np.int64)
        uk, starts = np.unique(keys, return_index=True)
        groups = np.split((vals & 0xFFFF).astype(np.int64), starts[1:])
        n = len(uk)
        out = bytearray(st.pack("<ii", 12346, n))
        for k, g in zip(uk, groups):
            out += st.pack("<HH", int(k), len(g) - 1)
        off = len(out) + 4 * n
        offsets = []
        for g in groups:
            offsets.append(off)
            off += 8192 if len(g) > 4096 else 2 * len(g)
        if n:
            out += st.pack(f"<{n}i", *offsets)
        for g in groups:
            if len(g) > 4096:
                bits = np.zeros(65536, np.uint8)
                bits[g] = 1
                out += np.packbits(bits, bitorder="little").tobytes()
            else:
                out += np.sort(g).astype("<u2").tobytes()
        return bytes(out)

    def bitmap_array_decode(data: bytes) -> np.ndarray:
        """Portable RoaringBitmapArray -> sorted int64 row indexes."""
        magic = int.from_bytes(data[:4], "little", signed=True)
        if magic != 1681511377:
            raise ValueError(f"bad RoaringBitmapArray magic {magic}")
        n_maps = int.from_bytes(data[4:12], "little")
        pos = 12
        outs = []
        for hi in range(n_maps):
            v, pos = _roaring32_decode(data, pos)
            if v.size:
                outs.append(v + (hi << 32))
        out = np.concatenate(outs) if outs else np.empty(0, np.int64)
        out.sort()
        return out

    def bitmap_array_encode(positions: np.ndarray) -> bytes:
        """Sorted-unique int64 row indexes -> portable
        RoaringBitmapArray (consecutive 32-bit bitmaps, empties
        serialized so indexes stay implicit, per the format)."""
        positions = np.unique(positions.astype(np.int64))
        his = positions >> 32
        n_maps = int(his[-1]) + 1 if positions.size else 0
        out = bytearray(st.pack("<iq", 1681511377, n_maps))
        for hi in range(n_maps):
            sub = positions[his == hi] & 0xFFFFFFFF
            out += _roaring32_encode(sub)
        return bytes(out)

    def write_dv_file(path: str, data: bytes) -> int:
        """Single-DV .bin file: version byte 1, then
        <int32 BE size><data><int32 BE crc32>. Atomic publish;
        returns the descriptor offset (where the size int starts)."""
        buf = bytearray(b"\x01")
        offset = len(buf)
        buf += st.pack(">i", len(data)) + data + st.pack(">I", zl.crc32(data))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(buf)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        return offset

    def read_dv_blob(path: str, offset: int, size: int) -> bytes:
        with open(path, "rb") as fh:
            version = fh.read(1)
            if version != b"\x01":
                raise ValueError(f"DV file {path!r}: version {version!r} != 1")
            fh.seek(offset)
            (n,) = st.unpack(">i", fh.read(4))
            if n != size:
                raise ValueError(
                    f"DV at {path!r}+{offset}: stored size {n} != descriptor {size}"
                )
            data = fh.read(n)
            (crc,) = st.unpack(">I", fh.read(4))
        if zl.crc32(data) != crc:
            raise ValueError(f"DV at {path!r}+{offset}: checksum mismatch")
        return data

    from types import SimpleNamespace

    return SimpleNamespace(
        z85_decode=z85_decode,
        z85_encode=z85_encode,
        bitmap_array_decode=bitmap_array_decode,
        bitmap_array_encode=bitmap_array_encode,
        write_dv_file=write_dv_file,
        read_dv_blob=read_dv_blob,
    )


def _resolve_dv_location(table: str, dv: dict, codec) -> tuple[str, str]:
    """-> ("inline", payload) or ("file", absolute path)."""
    kind = dv["storageType"]
    if kind == "i":
        return "inline", dv["pathOrInlineDv"]
    if kind == "p":
        return "file", dv["pathOrInlineDv"]
    if kind == "u":
        import uuid as _uuid

        s = dv["pathOrInlineDv"]
        prefix, z = s[:-20], s[-20:]
        name = f"deletion_vector_{_uuid.UUID(bytes=codec.z85_decode(z))}.bin"
        return "file", os.path.join(table, prefix, name) if prefix else os.path.join(table, name)
    raise NotImplementedError(f"DV storageType {kind!r}")


# positions frames whose total cardinality is under this broadcast —
# the data side of the anti-join then needs no shuffle at all
_DV_BROADCAST_CARDINALITY = 4_000_000


def _snapshot_dvs(snap: DeltaSnapshot, sel_paths: set[str] | None) -> list[tuple]:
    """Driver-side (file-granularity) DV descriptor rows for active
    adds carrying one, restricted to ``sel_paths`` when the scan was
    narrowed: (normalized abs data path, kind, payload-or-path,
    offset, size, cardinality)."""
    codec = make_dv_codec()
    rows = []
    for enc in sorted(snap.adds):
        dv = snap.adds[enc].get("deletionVector")
        if not dv:
            continue
        ap = os.path.abspath(os.path.join(snap.table, urllib.parse.unquote(enc)))
        if sel_paths is not None and ap not in sel_paths:
            continue
        kind, loc = _resolve_dv_location(snap.table, dv, codec)
        rows.append(
            (
                ap,
                kind,
                loc,
                int(dv.get("offset") or 0),
                int(dv["sizeInBytes"]),
                int(dv["cardinality"]),
            )
        )
    return rows


def _dv_positions_frame(spark: SparkSession, dv_rows: list[tuple]) -> DataFrame:
    """(``__dv_fp``, ``__dv_pos``) of every deleted row: the
    file-granularity descriptor frame fans out via mapInPandas, each
    task decoding its DV blobs to position ARRAYS (numpy, no per-row
    Python) — O(deleted rows) work on executors, never the driver."""
    codec = make_dv_codec()

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for r in pdf.itertuples():
                if r.kind == "inline":
                    # inline payloads are zero-padded to the z85 4-byte
                    # boundary; sizeInBytes restores the true length
                    data = codec.z85_decode(r.loc)[: r.size]
                else:
                    data = codec.read_dv_blob(r.loc, r.offset, r.size)
                pos = codec.bitmap_array_decode(data)
                yield pd.DataFrame({"__dv_fp": r.fp, "__dv_pos": pos})

    meta = spark.createDataFrame(
        dv_rows, "fp string, kind string, loc string, offset long, size long, card long"
    )
    out = meta.repartition(min(len(dv_rows), 32)).mapInPandas(
        decode, "__dv_fp string, __dv_pos long"
    )
    if sum(r[5] for r in dv_rows) <= _DV_BROADCAST_CARDINALITY:
        out = F.broadcast(out)
    return out


def _apply_deletion_vectors(
    spark: SparkSession, df: DataFrame, snap: DeltaSnapshot, sel_paths: set[str] | None
) -> DataFrame:
    """Merge-on-read: anti-join the scan against DV positions on the
    native (_metadata.file_path, _metadata.row_index) row ids — the
    same shape as ``iceberg_py._apply_positional_deletes``."""
    dv_rows = _snapshot_dvs(snap, sel_paths)
    if not dv_rows:
        return df
    dele = _dv_positions_frame(spark, dv_rows)
    src = df.withColumns(
        {
            "__mr_fp": rowlevel.strip_scheme(F.col("_metadata.file_path")),
            "__mr_pos": F.col("_metadata.row_index"),
        }
    )
    return (
        src.join(
            dele,
            (src["__mr_fp"] == dele["__dv_fp"])
            & (src["__mr_pos"] == dele["__dv_pos"]),
            "left_anti",
        )
        .drop("__mr_fp", "__mr_pos")
    )


def _gate_dv_rewrite(snap: DeltaSnapshot, what: str) -> None:
    """Rewriting operators are not DV- or column-mapping-aware (a
    rewrite that read a DV-carrying file without applying its DV would
    resurrect deleted rows; one that staged files under LOGICAL names
    into a mapped table would strand them behind unreadable columns) —
    gate loudly; deletes on such tables go through
    ``delete_where_dv`` (which handles both)."""
    if any(a.get("deletionVector") for a in snap.adds.values()):
        raise NotImplementedError(
            f"{what} on a deletion-vector table is not supported — use "
            "delete_where_dv for deletes, or rewrite via read + overwrite"
        )
    if snap.column_mapping():
        raise NotImplementedError(
            f"{what} on a column-mapping table is not supported — use "
            "delete_where_dv for deletes, or rewrite via read + overwrite"
        )


def delete_where_dv(
    spark: SparkSession,
    table: str,
    predicate,
    checkpoint_interval: int = 10,
) -> int:
    """Delta DELETE via DELETION VECTORS (merge-on-read): mark matching
    rows deleted in per-file .bin bitmaps instead of rewriting data
    files — at 100 TB a selective delete writes O(deleted rows) of
    compressed bitmap and one commit, never touching a data file.

    SQL NULL semantics (predicate TRUE deletes, NULL keeps), stacking
    deletes union into the file's existing bitmap, and the commit
    upgrades the protocol to readerFeatures=[deletionVectors] on first
    use. DV files are written DISTRIBUTED (one applyInPandas task per
    affected file); the driver holds only file-granularity descriptor
    rows. Returns the committed version."""
    codec = make_dv_codec()
    pred_true = F.coalesce(predicate, F.lit(False))

    def attempt():
        snap = snapshot(table)
        paths = snap.file_paths()
        if not paths:
            return snap.version
        mapping = snap.column_mapping()
        reader = spark.read.schema(
            snap.physical_schema() if mapping else snap.schema
        )
        if snap.partition_columns:
            reader = reader.option("basePath", table)
        src = reader.parquet(*paths).withColumns(
            {
                "__fp": rowlevel.strip_scheme(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )
        if mapping:
            # project physical -> logical AFTER the metadata-column
            # capture so the caller's predicate sees logical names
            src = src.select(
                [F.col(p).alias(n) for n, p in mapping.items()]
                + [F.col("__fp"), F.col("__pos")]
            )
        dv_rows = _snapshot_dvs(snap, None)
        if dv_rows:
            dele = _dv_positions_frame(spark, dv_rows)
            src = src.join(
                dele,
                (src["__fp"] == dele["__dv_fp"]) & (src["__pos"] == dele["__dv_pos"]),
                "left_anti",
            )
        hits = src.filter(pred_true).select("__fp", "__pos")
        old_dv: dict[str, tuple] = {r[0]: r for r in dv_rows}
        table_abs = os.path.abspath(table)

        def write_group(pdf):
            import hashlib as hl
            import uuid as _uuid

            import numpy as np
            import pandas as pd

            fp = pdf["__fp"].iloc[0]
            pos = pdf["__pos"].to_numpy(dtype="int64")
            old = old_dv.get(fp)
            if old is not None:
                _, kind, loc, off, size, _card = old
                data_old = (
                    codec.z85_decode(loc)[:size]
                    if kind == "inline"
                    else codec.read_dv_blob(loc, off, size)
                )
                pos = np.concatenate([pos, codec.bitmap_array_decode(data_old)])
            data = codec.bitmap_array_encode(pos)
            # deterministic DV identity: content-addressed uuid (NOTES
            # rule 15 — no entropy; same content -> same file, so a
            # lost-race rewrite is an idempotent os.replace)
            uu = _uuid.UUID(bytes=hl.md5(fp.encode() + data).digest())
            path = os.path.join(table_abs, f"deletion_vector_{uu}.bin")
            offset = codec.write_dv_file(path, data)
            return pd.DataFrame(
                [
                    {
                        "fp": fp,
                        "payload": codec.z85_encode(uu.bytes),
                        "offset": offset,
                        "size": len(data),
                        "card": int(np.unique(pos).size),
                    }
                ]
            )

        per_file = hits.groupBy("__fp").applyInPandas(
            write_group, "fp string, payload string, offset long, size long, card long"
        )
        rows = rowlevel.control_plane_rows(per_file, "dv delete set")
        if not rows:
            return snap.version
        cdc_actions: list[dict] = []
        if _cdf_enabled(snap):
            # CDF contract: a DV delete is a data-changing rewrite, so
            # it must land row-level cdc files — the newly-deleted set
            # is exactly src.filter(pred) (already DV-anti-joined, so
            # previously-deleted rows don't re-emit). O(deleted rows).
            cdc_actions = _stage_cdc_files(
                src.filter(pred_true)
                .drop("__fp", "__pos")
                .withColumn("_change_type", F.lit("delete")),
                table,
                tuple(snap.partition_columns),
                mapping,
            )
        # ORDER MATTERS: _rel_paths returns paths in input iteration
        # order — pair it with the same ordered list, never a set (a
        # set iteration would attach DVs to the wrong files)
        fps = [r.fp for r in rows]
        rel_by_fp = dict(zip(fps, _rel_paths(snap, fps)))
        actions: list[dict] = []
        if "deletionVectors" not in (snap.protocol.get("readerFeatures") or []):
            # feature-table upgrade must CARRY existing capabilities:
            # dropping columnMapping from readerFeatures here would
            # strand a mapped table behind a misdescribed protocol
            rf = {"deletionVectors"} | set(snap.protocol.get("readerFeatures") or [])
            wf = {"deletionVectors"} | set(snap.protocol.get("writerFeatures") or [])
            if mapping:
                rf.add("columnMapping")
                wf.add("columnMapping")
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": sorted(rf),
                        "writerFeatures": sorted(wf),
                    }
                }
            )
        for r in rows:
            rel = rel_by_fp[r.fp]
            old_add = snap.adds[rel]
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}}
            )
            actions.append(
                {
                    "add": dict(
                        old_add,
                        dataChange=True,
                        deletionVector={
                            "storageType": "u",
                            "pathOrInlineDv": r.payload,
                            "offset": int(r.offset),
                            "sizeInBytes": int(r.size),
                            "cardinality": int(r.card),
                        },
                    )
                }
            )
        actions.extend(cdc_actions)
        actions.append(
            {"commitInfo": {"operation": "DELETE", "engine": "map_reduce_spark"}}
        )
        # a lost race re-derives against the new snapshot (the adds
        # name existing data files, so nothing is discarded; orphan DV
        # bins are content-addressed — a later identical delete reuses
        # them — and invisible to readers, as are this attempt's cdc
        # files)
        return _commit(table, snap.version + 1, actions, checkpoint_interval)

    return lakecommit.retry_commit(f"DV delete on {table!r}", attempt)


# --------------------------------------------------------------------
# registered queries (+ their driver-side fixtures)
# --------------------------------------------------------------------
# Cross-engine bucket (pipeline_ops._hash_bucket twin, seedless):
# first 8 md5 hex chars of the key string, mod n — identical in Spark
# and DuckDB, so the fixture's commit history is SQL-expressible.

_B8_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 8 AS INT)"
)
_B16_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 16 AS INT)"
)


def _bucket(col, n: int):
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % n
    ).cast("int")


def _orders_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture's logical table: orders with exact cents and a
    string partition year (NOTES rules 1/4)."""
    from map_reduce_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
        "o_orderpriority",
        F.year("o_orderdate").cast("string").alias("o_year"),
    )


def ensure_delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Materialize an orders-derived Delta table with a real commit
    history — v0 bulk load (md5-bucket8 < 6), v1 append (buckets 6-7),
    v2 selective DELETE (status 'F' in bucket16 0) which also cuts the
    parquet checkpoint (interval 2) — under the system tmp dir, once
    per sf_dir, atomic-rename published (concurrent callers race
    safely). Hive-partitioned by o_year, range-clustered on o_orderkey
    inside each commit so per-file key stats are disjoint (the layout
    data skipping pays on). The fixture is the test stand-in for a
    corpus that already LIVES in Delta; the operators under measure
    are the log-replay read and the transactional writes."""
    dest = lakecommit.fixture_dir("delta", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    b8 = _bucket(F.col("o_orderkey"), 8)
    b16 = _bucket(F.col("o_orderkey"), 16)
    write_delta_py(
        d.filter(b8 < 6).repartitionByRange(4, "o_orderkey"),
        tmp,
        mode="overwrite",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=2,
    )
    write_delta_py(
        d.filter(b8 >= 6).repartitionByRange(2, "o_orderkey"),
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=2,
    )
    delete_where(
        spark,
        tmp,
        (F.col("o_orderstatus") == "F") & (_bucket(F.col("o_orderkey"), 16) == 0),
        stats_cols=("o_orderkey",),
        checkpoint_interval=2,
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         {_B16_SQL} AS b16
  FROM orders
)
SELECT o_year, o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM d
WHERE NOT (o_orderstatus = 'F' AND b16 = 0) AND o_year >= '1995'
GROUP BY o_year, o_orderstatus
""",
)
def delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the LATEST version of a Delta-resident orders table through
    ``io.read_delta`` — which, with no delta-spark jars in this image,
    takes the pure-Python log-replay path (module docstring) — and
    aggregate recent years. The oracle replays the fixture's whole
    commit history in SQL (v0 load ∪ v1 append minus the v2 delete =
    all orders except status-F rows of md5-bucket16 0), so a wrong
    snapshot reconciliation, a resurrected tombstone, or a checkpoint
    that dropped an action all hash-mismatch.

    Scale shape: log replay reads KBs of metadata; the data scan is a
    native parquet FileScan with the o_year partition filter pruned at
    PLAN time (hive layout + log schema; locked in tests/test_delta).
    """
    from map_reduce_spark.io import read_delta

    df = read_delta(spark, ensure_delta_fixture(spark, sf_dir))
    return (
        df.filter(F.col("o_year") >= "1995")
        .groupBy("o_year", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


@register(
    "delta_time_travel",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         {_B8_SQL} AS b8
  FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents
FROM d
WHERE b8 < 6
GROUP BY o_orderstatus
""",
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: read the fixture AS OF version 0 — the bulk load
    before the append and the delete — straight off the log (versions
    BEFORE the checkpoint replay from JSON alone, so this also locks
    the no-checkpoint path). The oracle is the v0 predicate itself;
    rows the later commits added or deleted must NOT appear, which a
    reader that ignores the version pin fails instantly."""
    df = read_delta_py(spark, ensure_delta_fixture(spark, sf_dir), version=0)
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
    )


def ensure_delta_cdf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A CDF-enabled clone of the customer Delta table with one UPDATE
    and one DELETE landed after the property flip — the change feed
    over (property_version, head] is then exactly: the update's
    pre/postimages plus the delete's rows. Mutations touch DISJOINT
    segments (BUILDING vs MACHINERY) and are content-idempotent on the
    settled clone (re-runs match nothing and no-op), so replay loops
    read a stable feed."""
    import tempfile

    base = ensure_customer_delta(spark, sf_dir)
    key = hashlib.md5(f"{base}:cdf:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_cdfeed_{key}")
    if not os.path.isdir(table):
        clone_delta_table(base, table)
    set_delta_table_property(table, "delta.enableChangeDataFeed", "true")
    update_where(
        spark,
        table,
        (F.col("c_mktsegment") == "BUILDING") & (F.col("acctbal_cents") < 0),
        {"acctbal_cents": F.lit(0).cast("long")},
        stats_cols=("c_custkey",),
    )
    delete_where(
        spark,
        table,
        (F.col("c_mktsegment") == "MACHINERY") & (F.col("acctbal_cents") < 0),
        stats_cols=("c_custkey",),
    )
    return table


@register(
    "delta_cdf_scan",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
upd AS (SELECT * FROM c WHERE c_mktsegment = 'BUILDING' AND cents < 0),
del AS (SELECT * FROM c WHERE c_mktsegment = 'MACHINERY' AND cents < 0),
feed AS (
  SELECT 'update_preimage' AS change_type, c_custkey, cents FROM upd
  UNION ALL
  SELECT 'update_postimage' AS change_type, c_custkey, CAST(0 AS BIGINT) FROM upd
  UNION ALL
  SELECT 'delete' AS change_type, c_custkey, cents FROM del
)
SELECT change_type, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key
FROM feed GROUP BY change_type
""",
)
def delta_cdf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed end to end: a CDF-enabled table lands an
    UPDATE and a DELETE; the feed over (property_flip, head] must be
    exactly the update's pre/postimage rows plus the deleted rows —
    rewritten-but-unchanged rows must NOT appear (the cdc files, not
    the add/remove diff, are the change). The oracle recomputes all
    three row sets relationally; an over-reported carry row, a lost
    preimage, or a postimage with the un-updated balance all
    hash-mismatch."""
    table = ensure_delta_cdf_fixture(spark, sf_dir)
    # the property flip is the first commit after the clone's head (the
    # base fixture is a single overwrite at version 0)
    feed = read_delta_changes_cdf(spark, table, since_version=0)
    return (
        feed.filter(F.col("_change_type") != "insert")
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("acctbal_cents").alias("sum_cents"),
            F.min("c_custkey").alias("min_key"),
        )
    )


@register(
    "streaming_delta_cdf",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
upd AS (SELECT * FROM c WHERE c_mktsegment = 'BUILDING' AND cents < 0),
del AS (SELECT * FROM c WHERE c_mktsegment = 'MACHINERY' AND cents < 0),
feed AS (
  SELECT 'insert' AS change_type, c_custkey, cents FROM c
  UNION ALL
  SELECT 'update_preimage', c_custkey, cents FROM upd
  UNION ALL
  SELECT 'update_postimage', c_custkey, CAST(0 AS BIGINT) FROM upd
  UNION ALL
  SELECT 'delete', c_custkey, cents FROM del
)
SELECT change_type, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key
FROM feed GROUP BY change_type
""",
)
def streaming_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the Change Data Feed: the CDF fixture's full history
    (bulk load, property flip, UPDATE, DELETE) drains through the
    snapshot-offset stream source into a checkpointed foreachBatch
    parquet sink, and the drained rows must aggregate to the batch
    CDF reader's exact feed — a lost commit, a doubled cdc file, or a
    carried row leaking into the stream all hash-mismatch. Pairs with
    ``streaming_iceberg_source`` to close the CDC-consumer story on
    both table formats."""
    import tempfile

    table = ensure_delta_cdf_fixture(spark, sf_dir)
    scratch = os.path.join(
        tempfile.gettempdir(), f"mr_spark_delta_cdf_out_{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    out_dir = os.path.join(scratch, "out")
    chk = os.path.join(scratch, "chk")

    def sink(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_dir)

    # AvailableNow: the runtime itself drains every committed version
    # and terminates — replacing the old count()-poll loop, which
    # launched a full listing+scan job every 200 ms ON TOP of a batch
    # CDF read that only existed to compute the poll target (r11 opt:
    # 4.1 s -> 2.5 s warm at sf0.1, and the drain no longer competes
    # with its own micro-batches for cores). Drained rows are
    # identical: same source, same offsets, same sink.
    q = (
        stream_delta_cdf(spark, table)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(180):
            raise RuntimeError("delta cdf stream stalled")
        if q.exception() is not None:
            raise q.exception()
    finally:
        q.stop()
    return (
        spark.read.parquet(out_dir)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("acctbal_cents").alias("sum_cents"),
            F.min("c_custkey").alias("min_key"),
        )
    )


def ensure_delta_v2ckpt_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A Delta table whose history is only reachable THROUGH a v2
    checkpoint: clone the shared orders fixture (v0 load, v1 append,
    v2 delete), cut a V2 checkpoint (uuid manifest + parquet sidecars)
    at the head, EXPIRE every json commit and classic checkpoint at or
    below it (spec metadata cleanup), then land one more append (the
    'O'-status bucket16-1 slice, duplicated on purpose so a reader
    that loses the post-checkpoint tail is caught by the counts).
    Reading this table exercises: v2 manifest discovery, sidecar
    chasing, checkpoint-only version service, and json replay above
    the checkpoint — the exact layout today's Spark/Databricks writers
    produce at scale."""
    dest = lakecommit.fixture_dir("delta_v2c", sf_dir)
    if os.path.isdir(dest):
        return dest
    base = ensure_delta_fixture(spark, sf_dir)
    tmp = lakecommit.fixture_tmp(dest)
    clone_delta_table(base, tmp)
    snap = snapshot(tmp)
    write_checkpoint_v2(tmp, snap)
    d = _log_dir(tmp)
    for f in os.listdir(d):
        is_json_commit = (
            f.endswith(".json") and f[:20].isdigit() and not _V2_CKPT_RE.match(f)
        )
        if (is_json_commit or f.endswith(".checkpoint.parquet")) and int(
            f[:20]
        ) <= snap.version:
            os.remove(os.path.join(d, f))
    extra = _orders_frame(spark, sf_dir).filter(
        (F.col("o_orderstatus") == "O") & (_bucket(F.col("o_orderkey"), 16) == 1)
    )
    write_delta_py(
        extra,
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=10_000,  # keep the v2 checkpoint the only seed
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_v2_checkpoint_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         {_B16_SQL} AS b16
  FROM orders
),
base AS (
  SELECT * FROM d WHERE NOT (o_orderstatus = 'F' AND b16 = 0)
),
extra AS (
  SELECT * FROM d WHERE o_orderstatus = 'O' AND b16 = 1
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
SELECT o_year, o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM u
WHERE o_year >= '1995'
GROUP BY o_year, o_orderstatus
""",
)
def delta_v2_checkpoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a table whose pre-checkpoint history was EXPIRED: the read
    must seed from the v2 checkpoint manifest, chase its parquet
    sidecars for the add/remove set, then replay the one json commit
    above it. The oracle recomputes the full logical history (load ∪
    append − delete ∪ duplicated post-checkpoint append) relationally,
    so a dropped sidecar, a misapplied tombstone, or a lost
    post-checkpoint commit all hash-mismatch."""
    df = read_delta_py(spark, ensure_delta_v2ckpt_fixture(spark, sf_dir))
    return (
        df.filter(F.col("o_year") >= "1995")
        .groupBy("o_year", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def ensure_delta_v2policy_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A table whose v2 checkpoint was cut by the AUTOMATIC policy
    path, not an explicit ``write_checkpoint_v2`` call: v0 bulk load
    (md5-bucket8 < 6), v1 ``enable_v2_checkpoints`` (protocol feature
    + delta.checkpointPolicy=v2), v2 append of the rest with
    checkpoint_interval=2 — ``_maybe_checkpoint`` fires and must emit
    the uuid manifest + sidecars — then every json commit at or below
    the checkpoint expires and a COW DELETE (status 'F' in bucket16 0)
    lands above it. Reading this table proves the ordinary write path
    round-trips its own v2 layout: manifest discovery, sidecar chase,
    checkpoint-only version service, json replay above the seed."""
    dest = lakecommit.fixture_dir("delta_v2p", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    b8 = _bucket(F.col("o_orderkey"), 8)
    write_delta_py(
        d.filter(b8 < 6),
        tmp,
        mode="overwrite",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )
    enable_v2_checkpoints(tmp)  # v1
    write_delta_py(  # v2: auto v2 checkpoint fires (2 % 2 == 0)
        d.filter(b8 >= 6),
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=2,
    )
    stats = clean_delta_log(tmp)  # spec metadata cleanup at/below the seed
    if stats["boundary"] != 2 or stats["json_removed"] != 3:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"log cleanup did not take effect: {stats}")
    delete_where(  # v3: json replay above the checkpoint-only seed
        spark,
        tmp,
        (F.col("o_orderstatus") == "F") & (_bucket(F.col("o_orderkey"), 16) == 0),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_v2_checkpoint_policy_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         {_B16_SQL} AS b16
  FROM orders
),
u AS (
  SELECT * FROM d WHERE NOT (o_orderstatus = 'F' AND b16 = 0)
)
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM u
WHERE o_year BETWEEN '1996' AND '1999'
GROUP BY o_orderpriority
""",
)
def delta_v2_checkpoint_policy_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a table whose v2 checkpoint came from the AUTOMATIC
    ``delta.checkpointPolicy=v2`` path (VERDICT r10 item 3: the writer
    emits what the reader accepts, end to end). The pre-checkpoint
    history is expired, so a reader that cannot seed from the
    self-written uuid manifest + sidecars fails outright; the oracle
    recomputes the logical history (full load − the COW delete)
    relationally, so a lost sidecar shard or a dropped post-checkpoint
    commit hash-mismatches."""
    df = read_delta_py(spark, ensure_delta_v2policy_fixture(spark, sf_dir))
    return (
        df.filter(F.col("o_year").between("1996", "1999"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_cents"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def clone_delta_table(src: str, dest: str) -> None:
    """Cheap table copy: hardlink the data files (immutable once
    committed), copy the small log files. Used to give mutating tests
    and the merge query a private table without duplicating data."""
    shutil.rmtree(dest, ignore_errors=True)
    for root, dirs, names in os.walk(src):
        dirs[:] = [d for d in dirs if not d.startswith(".staging-")]
        rel = os.path.relpath(root, src)
        troot = dest if rel == "." else os.path.join(dest, rel)
        os.makedirs(troot, exist_ok=True)
        for name in names:
            s = os.path.join(root, name)
            t = os.path.join(troot, name)
            if name.endswith(".parquet") and _LOG not in root:
                os.link(s, t)
            else:
                shutil.copyfile(s, t)


def _customer_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_spark.io import load_table

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )


def ensure_customer_delta(spark: SparkSession, sf_dir: str) -> str:
    """Unpartitioned customer Delta table, range-clustered on
    c_custkey into 8 key-disjoint files (so ``skip_files`` has real
    ranges to prune against). Same cache/publish discipline as
    ``ensure_delta_fixture``."""
    dest = lakecommit.fixture_dir("delta_cust", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    write_delta_py(
        _customer_frame(spark, sf_dir).repartitionByRange(8, "c_custkey"),
        tmp,
        mode="overwrite",
        stats_cols=("c_custkey",),
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_merge_upsert",
    oracle="""
WITH mk AS (SELECT MAX(c_custkey) AS mk FROM customer),
c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
         c_mktsegment
  FROM customer
),
thresh AS (SELECT CAST(floor((mk * 9) / 10) AS BIGINT) AS th, mk FROM mk),
kept AS (
  SELECT c_custkey, c_nationkey, acctbal_cents, c_mktsegment AS seg
  FROM c, thresh WHERE c_custkey <= th
),
upd AS (
  SELECT c_custkey, c_nationkey, acctbal_cents + 777 AS acctbal_cents,
         'MERGED' AS seg
  FROM c, thresh WHERE c_custkey > th
),
ins AS (
  SELECT mk + i AS c_custkey, CAST((mk + i) % 25 AS BIGINT) AS c_nationkey,
         CAST((mk + i) * 13 AS BIGINT) AS acctbal_cents, 'NEWROW' AS seg
  FROM thresh, (SELECT unnest(range(1, 51)) AS i)
),
merged AS (
  SELECT * FROM kept UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins
)
SELECT seg,
       COUNT(*) AS cnt,
       CAST(SUM(acctbal_cents) AS BIGINT) AS sum_cents,
       CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM merged
GROUP BY seg
""",
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE (upsert) into a Delta-resident customer
    table: the top decile of custkeys takes updated rows (balance
    +777 cents, segment 'MERGED'), 50 brand-new keys above the current
    maximum insert ('NEWROW'). The merge runs against a PRIVATE
    hardlink clone of the fixture (mutating queries never share
    state), and its candidate files come from log-level stats
    skipping: the source keys all sit in the top key range, the table
    is range-clustered, so only the top file(s) are read or rewritten
    — locked by tests/test_delta.py. The source is built Spark-side
    from one broadcast MAX (no driver action; the house crossJoin-
    broadcast-of-a-1-row-frame pattern), and the oracle recomputes the
    merged state relationally: kept ∪ updated ∪ inserted.

    The merge is content-idempotent by construction (source values
    derive from the BASE table), so re-running converges — each call
    just adds a version whose reconciled state hashes identically."""
    import tempfile

    base = ensure_customer_delta(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_merge_{key}")
    if not os.path.isdir(table):
        clone_delta_table(base, table)

    cust = _customer_frame(spark, sf_dir)
    mk = cust.agg(F.max("c_custkey").alias("mk"))
    th = F.floor(F.col("mk") * 9 / 10).cast("long")
    upd = (
        cust.crossJoin(F.broadcast(mk))
        .filter(F.col("c_custkey") > th)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("acctbal_cents") + 777).alias("acctbal_cents"),
            F.lit("MERGED").alias("c_mktsegment"),
        )
    )
    newk = F.col("mk") + F.col("id")
    types = dict(cust.dtypes)  # pin inserts to the table's exact types
    ins = (
        spark.range(1, 51)
        .crossJoin(F.broadcast(mk))
        .select(
            newk.cast(types["c_custkey"]).alias("c_custkey"),
            F.concat(F.lit("new#"), newk.cast("string")).alias("c_name"),
            (newk % 25).cast(types["c_nationkey"]).alias("c_nationkey"),
            (newk * 13).cast(types["acctbal_cents"]).alias("acctbal_cents"),
            F.lit("NEWROW").alias("c_mktsegment"),
        )
    )
    merge_upsert(
        spark, table, upd.unionByName(ins), "c_custkey", stats_cols=("c_custkey",)
    )
    out = read_delta_py(spark, table)
    return out.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("cnt"),
        F.sum("acctbal_cents").alias("sum_cents"),
        F.sum("c_nationkey").alias("sum_nation"),
        F.max("c_custkey").alias("max_key"),
    )

# --------------------------------------------------------------------
# OPTIMIZE (small-file compaction) + streaming sink (txn exactly-once)
# --------------------------------------------------------------------


def optimize_compact(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 * 1024 * 1024,
    stats_cols: tuple[str, ...] = (),
    zorder_by: tuple[str, str] | None = None,
    checkpoint_interval: int = 10,
) -> int | None:
    """Delta OPTIMIZE: rewrite each partition's sub-target files into
    ~target-sized ones, committed as remove+add with
    ``dataChange=false`` (the spec's marker that the commit moves
    bytes, not rows — an incremental consumer can skip it entirely).
    File selection is pure log metadata (add.size); partitions with
    fewer than two small files are left untouched. Returns the
    committed version, or None when nothing qualifies.

    Scale shape: the decision plane is O(files) driver metadata; the
    rewrite reads only the victim files and writes
    ceil(bytes/target) outputs. Many-small-files is THE failure mode
    of long-running append streams (the r8 consolidation lesson in
    streaming/jobs.py) — this is the table-format-native cure.

    ``zorder_by=(expr_x, expr_y)`` — two SQL expressions yielding
    0..1023 ints (caller maps raw values; modulo for uniform ints,
    a quantile bucket otherwise) — additionally RANGE-partitions the
    rewrite on their Morton interleave (``pipeline_ops`` Morton code,
    Delta's OPTIMIZE ZORDER): rows close in BOTH dimensions land in
    the same output file, so stats skipping prunes on EITHER column —
    a linear sort can only serve one. When zordering, ALL of a
    partition's files are victims (the clustering is the point, not
    just size)."""

    def attempt():
        snap = snapshot(table)
        _gate_dv_rewrite(snap, "optimize_compact")
        by_part: dict[tuple, list[str]] = {}
        for enc, a in snap.adds.items():
            if zorder_by is not None or a.get("size", 0) < target_bytes:
                k = tuple(sorted((a.get("partitionValues") or {}).items()))
                by_part.setdefault(k, []).append(enc)
        min_group = 1 if zorder_by is not None else 2
        victim_rel = sorted(
            enc
            for encs in by_part.values()
            if len(encs) >= min_group
            for enc in encs
        )
        if not victim_rel:
            return None
        victim_abs = [
            os.path.join(table, urllib.parse.unquote(p)) for p in victim_rel
        ]
        total = sum(snap.adds[p].get("size", 0) for p in victim_rel)
        n_out = max(1, -(-total // target_bytes))  # ceil
        rows = _scan_snapshot(spark, snap, victim_abs)
        if zorder_by is not None:
            from map_reduce_spark.operators.pipeline_ops import _z_spark

            n_out = max(n_out, 4)  # clustering needs >1 file to prune
            rows = (
                rows.withColumn(
                    "__z", F.expr(_z_spark(zorder_by[0], zorder_by[1])).cast("long")
                )
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            rows = rows.coalesce(n_out)
        moved = _stage_and_move(rows, table, tuple(snap.partition_columns))
        actions = [
            {"remove": {"path": p, "deletionTimestamp": 0, "dataChange": False}}
            for p in victim_rel
        ]
        actions.extend(_add_actions(table, moved, stats_cols, data_change=False))
        actions.append(
            {"commitInfo": {"operation": "OPTIMIZE", "engine": "map_reduce_spark"}}
        )
        return _commit(
            table, snap.version + 1, actions, checkpoint_interval, owns_files=True
        )

    return lakecommit.retry_commit(f"optimize on {table!r}", attempt)


def append_stream_batch(
    df: DataFrame,
    table: str,
    app_id: str,
    epoch_id: int,
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int | None:
    """Exactly-once micro-batch append: the commit carries a spec
    ``txn`` action {appId, version=epoch}, and a batch whose epoch is
    already <= the table's recorded txn version for this appId is a
    POST-COMMIT REPLAY (Spark re-runs at most the last uncommitted
    batch after a crash) — skipped without touching data. This is the
    table-format upgrade of the marker-file protocol in
    ``streaming.run_stream_state_fold``: the dedup ledger travels
    inside the same atomic commit as the data. Returns the committed
    version, or None for a skipped replay."""
    if latest_version(table) is not None:
        if snapshot(table).txns.get(app_id, -1) >= epoch_id:
            return None
    moved = _stage_and_move(df, table, partition_by)
    adds = _add_actions(table, moved, stats_cols)

    def attempt():
        cur = latest_version(table)
        v = 0 if cur is None else cur + 1
        actions: list[dict] = []
        if cur is None:
            actions.append(_PROTOCOL_ACTION)
            actions.append(_meta_action(df.schema, table, partition_by))
        elif snapshot(table).txns.get(app_id, -1) >= epoch_id:
            # the writer that beat us was our own appId's previous
            # incarnation committing this very epoch: drop our files
            lakecommit.discard(f.path for f in moved)
            return None
        actions.extend(adds)
        actions.append({"txn": {"appId": app_id, "version": epoch_id}})
        actions.append(
            {"commitInfo": {"operation": "STREAMING UPDATE", "engine": "map_reduce_spark"}}
        )
        return _commit(table, v, actions, checkpoint_interval)

    return lakecommit.retry_commit(f"stream batch on {table!r}", attempt)


def write_stream_delta(
    source: DataFrame,
    table: str,
    app_id: str,
    checkpoint_dir: str,
    stats_cols: tuple[str, ...] = (),
) -> None:
    """Drain a stream into a Delta table via ``foreachBatch`` +
    ``append_stream_batch`` (AvailableNow, so batch jobs can deploy it
    on a schedule; remove the trigger for a continuous run)."""

    def sink(df: DataFrame, epoch_id: int) -> None:
        append_stream_batch(df, table, app_id, epoch_id, stats_cols=stats_cols)

    q = (
        source.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


_FINAL_STATE_ORACLE_BODY = """
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 16 AS INT) AS b16
  FROM orders
)
SELECT o_year,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents
FROM d
WHERE NOT (o_orderstatus = 'F' AND b16 = 0)
GROUP BY o_year
"""


@register("delta_optimize_compact", oracle=_FINAL_STATE_ORACLE_BODY)
def delta_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE on a private clone of the orders fixture: every
    partition's small files compact into target-sized ones under a
    dataChange=false commit, and the per-year aggregate afterwards must
    hash-equal the pre-compaction table state (the same final-state
    oracle the scan query proves against — compaction moves bytes,
    never rows). tests/test_delta_ops.py additionally locks the file
    count drop and the time-travel view of the pre-OPTIMIZE version."""
    import tempfile

    base = ensure_delta_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:opt:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_opt_{key}")
    if not os.path.isdir(table):
        clone_delta_table(base, table)
    optimize_compact(spark, table, stats_cols=("o_orderkey",))
    return (
        read_delta_py(spark, table)
        .groupBy("o_year")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_cents"),
        )
    )


@register(
    "streaming_delta_sink",
    oracle="""
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id
FROM events
GROUP BY event_type
""",
)
def streaming_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest stream landing in a transactional table: events
    stream (AvailableNow) -> foreachBatch -> Delta commits carrying
    spec ``txn`` actions, read back through log replay and aggregated
    per event type. The oracle is the batch SQL over the same events —
    a dropped batch, a double-committed replay, or a torn append all
    mismatch. Replay-under-crash semantics are fault-injected in
    tests/test_delta_ops.py (this run exercises the happy path;
    checkpoint + txn dedup carry the recovery story).

    Scale shape: each micro-batch costs O(batch) — stage, move, one
    put-if-absent link; table state stays readable throughout (readers
    see pre- or post-commit, never partial)."""
    import shutil as _sh
    import tempfile

    from map_reduce_spark.streaming.jobs import stream_events

    scratch = os.path.join(
        tempfile.gettempdir(), f"mr_spark_delta_stream_{os.getpid()}"
    )
    _sh.rmtree(scratch, ignore_errors=True)
    table = os.path.join(scratch, "tbl")
    chk = os.path.join(scratch, "chk")
    src = stream_events(spark, sf_dir).select("event_id", "event_type", "value")
    write_stream_delta(src, table, app_id="events_ingest", checkpoint_dir=chk)
    df = read_delta_py(spark, table)
    return df.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )

# --------------------------------------------------------------------
# incremental consumption (change feed) + schema evolution
# --------------------------------------------------------------------


def make_change_planner(table_abs: str):
    """Closure factory for Delta's one change-range planner: the batch
    readers ``read_delta_changes`` / ``read_delta_changes_cdf`` and the
    ``stream_delta_cdf`` source all plan their ranges here. The
    closure is stdlib-only and pickles by value into the stream's
    plan-time worker (NOTES rule 39).

    ``plan(lo, hi)`` lists the commits in (lo, hi] and returns
    ``(files, rewrites)``. ``files`` is ``[(version, kind, local
    path)]``: a commit carrying ``cdc`` actions contributes its change
    files ALONE (kind 'cdc' — its add/remove actions describe the
    rewrite, not the change), any other commit its data-changing adds
    (kind 'insert'); dataChange=false commits (OPTIMIZE) contribute
    nothing. ``rewrites`` lists the versions with data-changing
    removes. A range with expired commits (``clean_delta_log``)
    raises RuntimeError — skipping them would hand the consumer a
    hole in the feed — and a rewrite without cdc files raises
    NotImplementedError: its per-row changes are unrecoverable.

    ``plan.latest()`` is the newest commit version (-1 for no log)."""
    import json as _json
    import os as _os
    import urllib.parse as _up

    d = _os.path.join(table_abs, "_delta_log")

    def _versions() -> list:
        try:
            names = _os.listdir(d)
        except FileNotFoundError:
            return []
        return sorted(
            int(f[:20])
            for f in names
            if f.endswith(".json") and f[:20].isdigit() and len(f) == 25
        )

    def latest() -> int:
        vs = _versions()
        return vs[-1] if vs else -1

    def plan(lo: int, hi: int) -> tuple:
        have = [v for v in _versions() if lo < v <= hi]
        if have != list(range(lo + 1, hi + 1)):
            raise RuntimeError(
                f"change range ({lo}, {hi}] has expired commits "
                f"(present: {have}) — history below a cleaned log is "
                "unrecoverable; re-read the snapshot (a stream restarts "
                "from a snapshot read + fresh checkpoint)"
            )
        files, rewrites = [], []
        for v in have:
            with open(_os.path.join(d, f"{v:020d}.json"), encoding="utf-8") as fh:
                acts = [_json.loads(line) for line in fh if line.strip()]
            cdc = [a["cdc"]["path"] for a in acts if "cdc" in a]
            if any("remove" in a and a["remove"].get("dataChange", True) for a in acts):
                if not cdc:
                    raise NotImplementedError(
                        f"version {v} rewrites data without cdc files: "
                        "enable delta.enableChangeDataFeed before the "
                        "rewrite (or re-read the snapshot)"
                    )
                rewrites.append(v)
            if cdc:
                files.extend((v, "cdc", p) for p in cdc)
            else:
                files.extend(
                    (v, "insert", a["add"]["path"])
                    for a in acts
                    if "add" in a and a["add"].get("dataChange", True)
                )
        files = [(v, k, _os.path.join(table_abs, _up.unquote(p))) for v, k, p in files]
        return files, rewrites

    plan.latest = latest
    return plan


def _read_change_range(
    spark: SparkSession,
    table: str,
    since_version: int,
    to_version: int | None,
    append_only: bool,
) -> DataFrame:
    """The change rows of (since_version, to_version] as planned by
    ``make_change_planner``: its 'cdc' files and its 'insert' files
    each land in ONE multi-file scan under PHYSICAL names, projected
    back to logical names (column-mapping tables; cdc files follow the
    table's mapping, same as its data files). With ``append_only`` a
    range holding any data-changing rewrite refuses and the frame is
    the table schema alone; otherwise each row also carries
    ``_change_type`` and ``_commit_version`` (a broadcast file→version
    join on ``_metadata.file_path``, so planning stays O(1) in the
    commit count)."""
    plan = make_change_planner(os.path.abspath(table))
    latest = plan.latest()
    if latest < 0:
        raise FileNotFoundError(f"no Delta log at {table!r}")
    hi = latest if to_version is None else to_version
    files, rewrites = plan(since_version, hi)
    if append_only and rewrites:
        raise NotImplementedError(
            f"version {rewrites[0]} rewrites data (dataChange=true remove): "
            "this exact change feed covers append-only ranges; read "
            "read_delta_changes_cdf or re-read the snapshot"
        )
    snap = snapshot(table, hi)  # protocol gate + schema as of range end
    mapping = snap.column_mapping()
    phys = snap.physical_schema()
    ct = StructField("_change_type", StringType(), True)
    extra = ["_change_type"] if append_only else ["_change_type", "_commit_version"]
    frames = []
    for kind, root, fields in (
        ("cdc", os.path.join(table, "_change_data"), phys.fields + [ct]),
        ("insert", table, phys.fields),
    ):
        pairs = [(p, v) for v, k, p in files if k == kind]
        if not pairs:
            continue
        reader = spark.read.schema(StructType(fields))
        if snap.partition_columns:
            reader = reader.option("basePath", root)
        df = reader.parquet(*[p for p, _ in pairs])
        if not append_only:
            vmap = spark.createDataFrame(
                [(os.path.abspath(p), v) for p, v in pairs],
                "__cdf_fp string, _commit_version long",
            )
            df = (
                df.withColumn("__cdf_fp", rowlevel.strip_scheme(F.col("_metadata.file_path")))
                .join(F.broadcast(vmap), "__cdf_fp")
                .drop("__cdf_fp")
            )
        if kind == "insert":
            df = df.withColumn("_change_type", F.lit("insert"))
        if mapping:
            df = df.select([F.col(p).alias(n) for n, p in mapping.items()] + extra)
        frames.append(df)
    cols = [f.name for f in snap.schema.fields] + ([] if append_only else extra)
    if not frames:
        frames = [
            spark.createDataFrame(
                [],
                StructType(
                    snap.schema.fields
                    + [ct, StructField("_commit_version", LongType(), True)]
                ),
            )
        ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(*cols)


def read_delta_changes(
    spark: SparkSession,
    table: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Exact APPEND-ONLY change feed: the rows ingested by commits in
    (since_version, to_version] — the incremental-consumer contract
    the ``txn`` streaming sink produces for.

    Semantics are exact because the reader REFUSES ranges containing a
    data-changing rewrite (a remove with dataChange=true means rows
    moved files; ``read_delta_changes_cdf`` serves those ranges from
    cdc files); OPTIMIZE commits (dataChange=false throughout) are
    transparently skipped — that is the point of the flag: compaction
    moves bytes, so an incremental consumer pays ZERO re-read for it.
    Cost is O(changed files), never O(table): the range planner
    (``make_change_planner``) names exactly the files to scan, and the
    scan itself is native parquet."""
    return _read_change_range(spark, table, since_version, to_version, True)


def _cdf_enabled(snap: DeltaSnapshot) -> bool:
    """True when ``delta.enableChangeDataFeed`` is set on the table —
    rewriting operators then also land row-level change files."""
    cfg = snap.metadata.get("configuration") or {}
    return str(cfg.get("delta.enableChangeDataFeed", "")).lower() == "true"


def set_delta_table_property(table: str, key: str, value: str) -> int:
    """Commit an updated table configuration (metaData action with the
    new key) — how ``delta.enableChangeDataFeed`` is switched on.
    Returns the committed version."""

    def attempt():
        snap = snapshot(table)
        cfg = dict(snap.metadata.get("configuration") or {})
        if cfg.get(key) == value:
            return snap.version
        cfg[key] = value
        actions = [
            {"metaData": dict(snap.metadata, configuration=cfg)},
            {"commitInfo": {"operation": "SET TBLPROPERTIES",
                            "engine": "map_reduce_spark"}},
        ]
        return _commit(table, snap.version + 1, actions)

    return lakecommit.retry_commit(f"property commit on {table!r}", attempt)


def _stage_cdc_files(
    change_df: DataFrame,
    table: str,
    partition_by: tuple[str, ...],
    mapping: dict[str, str] | None = None,
) -> list[dict]:
    """Stage change rows (table columns + ``_change_type``) as parquet
    under ``_change_data/`` (hive-partitioned like the table, per the
    CDF spec) and return their ``cdc`` actions. cdc files are NOT part
    of the table's data — dataChange=false, never in the active set —
    so their cost is O(changed rows), which is the whole point: a CDF
    consumer reads exact row-level deltas instead of diffing
    snapshots. ``change_df``/``partition_by`` arrive under LOGICAL
    names; on a column-mapping table (``mapping`` set) the staged
    files carry PHYSICAL column names and partition dirs, same as the
    table's data files — the CDF reader scans them physically and
    projects back."""
    if mapping:
        change_df = change_df.select(
            [F.col(n).alias(p) for n, p in mapping.items()]
            + [F.col("_change_type")]
        )
        partition_by = tuple(mapping[c] for c in partition_by)
    cdc_root = os.path.join(table, "_change_data")
    return [
        {
            "cdc": {
                "path": _rel(table, f),
                "partitionValues": _pvals(f),
                "size": os.path.getsize(f.path),
                "dataChange": False,
            }
        }
        for f in _stage_and_move(change_df, cdc_root, partition_by, distribute=True)
    ]


def read_delta_changes_cdf(
    spark: SparkSession,
    table: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED over (since_version, to_version]:
    the table schema plus ``_change_type`` ('insert', 'delete',
    'update_preimage', 'update_postimage') and ``_commit_version``.
    Commits classify per the Delta CDF contract in
    ``make_change_planner``: cdc files alone for a rewrite commit
    (rewritten-but-unchanged rows never appear), adds as 'insert' for
    an append, nothing for OPTIMIZE, and a loud refusal for a rewrite
    written without cdc files. Cost is O(changed rows) in cdc files +
    O(appended files), never O(table), and the plan is two scans
    whatever the commit count (``_read_change_range``)."""
    return _read_change_range(spark, table, since_version, to_version, False)


def stream_delta_cdf(spark: SparkSession, table: str) -> DataFrame:
    """Structured-streaming SOURCE over a Delta table's Change Data
    Feed — the CDC-consumer deployment of ``read_delta_changes_cdf``:
    offsets are log versions, each micro-batch delivers exactly the
    change rows of the commits in (start, end], and checkpoint replay
    reconstructs any past range from the immutable log. The
    exactly-once contract is the same as ``stream_iceberg_appends``;
    the change semantics are the batch CDF reader's (cdc files alone
    for rewrite commits, adds-as-inserts for appends, loud refusal on
    pre-enablement rewrites).

    Spark-4 Python DataSource; NOTES rule 39 discipline: the planner
    (``make_change_planner``, shared with the batch readers) and the
    reader are self-contained closures over the table path — commits
    parse with stdlib json in the plan-time worker, data reads are
    executor-side pyarrow RecordBatches. Partitioned tables refuse
    (their change rows would need hive-path reconstruction in the
    worker); the batch reader serves those."""
    snap0 = snapshot(table)
    if snap0.partition_columns:
        raise NotImplementedError(
            "stream_delta_cdf: partitioned tables are served by the "
            "batch read_delta_changes_cdf (hive partition values are "
            "not reconstructed in the stream worker)"
        )
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in snap0.schema.fields
    )
    ddl += ", `_change_type` string, `_commit_version` long"
    table_abs = os.path.abspath(table)
    col_names = [f.name for f in snap0.schema.fields]
    # logical -> physical as a plain dict (pickles by value, NOTES rule
    # 39): change files of a column-mapped table carry physical names
    phys = snap0.column_mapping() or {n: n for n in col_names}

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    planner = make_change_planner(table_abs)  # closure: pickles by value

    class _DeltaCdfReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"v": -1}

        def latestOffset(self):
            return {"v": planner.latest()}

        def partitions(self, start, end):
            parts, _ = planner(start["v"], end["v"])
            return [InputPartition(p) for p in parts] or [InputPartition(None)]

        def read(self, partition):
            if partition.value is None:
                return iter([])
            import pyarrow as _pa

            v, kind, path = partition.value
            import pyarrow.parquet as _pq

            extra = ["_change_type"] if kind == "cdc" else []
            cols = [phys[n] for n in col_names] + extra
            tbl = _pq.read_table(path, columns=cols).select(cols)
            tbl = tbl.rename_columns(col_names + extra)
            if kind != "cdc":
                tbl = tbl.append_column(
                    "_change_type", _pa.array(["insert"] * tbl.num_rows)
                )
            tbl = tbl.append_column(
                "_commit_version", _pa.array([v] * tbl.num_rows, type=_pa.int64())
            )
            return iter(tbl.to_batches(max_chunksize=65536))

        def commit(self, end):
            pass

    class DeltaCdfSource(DataSource):
        @classmethod
        def name(cls):
            return "delta_cdf"

        def schema(self):
            return ddl

        def streamReader(self, schema):
            return _DeltaCdfReader()

    spark.dataSource.register(DeltaCdfSource)
    return spark.readStream.format("delta_cdf").load()


def evolve_schema_for_append(table: str, df_schema: StructType) -> StructType:
    """Schema evolution (mergeSchema) for appends: new columns extend
    the table schema via a fresh metaData action; existing columns must
    keep their exact type (a silent widen would strand old files behind
    an unreadable schema — the same guard merge_upsert enforces).
    Returns the unified schema; caller commits the metaData when it
    differs."""
    snap = snapshot(table)
    cur = {f.name: f for f in snap.schema.fields}
    new = {f.name: f for f in df_schema.fields}
    for name, f in new.items():
        if name in cur and cur[name].dataType != f.dataType:
            raise TypeError(
                f"column {name!r} type change "
                f"{cur[name].dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not schema EVOLUTION; "
                "rewrite via mode='overwrite'"
            )
    added = [f for n, f in new.items() if n not in cur]
    if not added:
        return snap.schema
    return StructType(snap.schema.fields + added)


def append_with_evolution(
    df: DataFrame,
    table: str,
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int:
    """Append allowing NEW columns: commits the widened schemaString
    alongside the adds (one atomic commit — readers see old schema or
    new schema + data, never a torn middle). Files written before the
    evolution read the new columns as NULLs (parquet scan with the
    unified schema), exactly delta's mergeSchema behavior.

    Losing a commit race re-derives BOTH the metaData base and the
    unified schema from the fresh snapshot — if the race winner itself
    evolved the schema (added a column), committing a schemaString
    merged against the stale snapshot would silently drop the winner's
    column from table metadata while its data files remain."""
    snap0 = snapshot(table)
    moved = _stage_and_move(df, table, tuple(snap0.partition_columns))
    adds = _add_actions(table, moved, stats_cols)

    def attempt():
        # merge against the latest schema, THEN take the metaData base
        # (ordering matters — the evolve helper reads the latest
        # snapshot itself; a racer may have committed in between)
        unified = evolve_schema_for_append(table, df.schema)
        snap = snapshot(table)
        actions: list[dict] = []
        if unified.json() != snap.metadata["schemaString"]:
            meta = dict(snap.metadata)
            meta["schemaString"] = unified.json()
            actions.append({"metaData": meta})
        actions.extend(adds)
        actions.append(
            {"commitInfo": {"operation": "APPEND", "engine": "map_reduce_spark"}}
        )
        return _commit(table, snap.version + 1, actions, checkpoint_interval)

    return lakecommit.retry_commit(f"append with evolution on {table!r}", attempt)


@register(
    "delta_changes_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         {_B8_SQL} AS b8
  FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM d
WHERE b8 >= 3 AND b8 < 8
GROUP BY o_orderstatus
""",
)
def delta_changes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption: a scratch table takes four commits —
    v0 bulk load (md5-bucket8 < 3), v1 append (3-5), v2 OPTIMIZE, v3
    append (6-7) — and the change feed since v0 must return exactly
    the appended buckets 3-7: the compaction's rewritten copies of
    buckets 0-2 are dataChange=false and MUST NOT reappear (the
    incremental consumer's no-reprocessing guarantee). The oracle is
    the bucket predicate itself.

    Scale shape: the feed reads only the files the log slice names —
    O(appended rows), with compactions free — which is what lets a
    downstream dedup/index fold consume a 100 TB table's daily drop
    without rescanning history."""
    import tempfile

    key = hashlib.md5(f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_cdf_{key}")
    if not os.path.isdir(table):
        d = _orders_frame(spark, sf_dir)
        b8 = _bucket(F.col("o_orderkey"), 8)
        write_delta_py(
            d.filter(b8 < 3), table, mode="overwrite", stats_cols=("o_orderkey",)
        )
        write_delta_py(
            d.filter((b8 >= 3) & (b8 < 6)), table, mode="append",
            stats_cols=("o_orderkey",),
        )
        optimize_compact(spark, table, stats_cols=("o_orderkey",))
        write_delta_py(
            d.filter(b8 >= 6), table, mode="append", stats_cols=("o_orderkey",)
        )
    changes = read_delta_changes(spark, table, since_version=0)
    return changes.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
    )

# --------------------------------------------------------------------
# composed: incremental dedup index maintained IN the table format
# --------------------------------------------------------------------


@register(
    "delta_ingest_dedup",
    oracle="""
WITH fps AS (
  SELECT md5(text) AS fp, MIN(doc_id) AS owner, COUNT(*) AS n_docs
  FROM documents GROUP BY 1
)
SELECT COUNT(*) AS n_fps,
       CAST(SUM(n_docs) AS BIGINT) AS total_docs,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_fps,
       CAST(SUM(owner) AS BIGINT) AS owner_sum,
       CAST(MIN(owner) AS BIGINT) AS min_owner,
       CAST(MAX(owner) AS BIGINT) AS max_owner
FROM fps
""",
)
def delta_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production loop the r7 verdict asked the table format for:
    documents land in a Delta CORPUS table over three drops
    (md5-bucketed thirds), and after each drop the exact-dedup
    fingerprint INDEX — itself a Delta table — is updated by consuming
    ONLY that drop's change feed and MERGEing the combined state
    (owner = min doc_id, n_docs accumulates). The final index must
    equal the one-shot batch group-by over the whole corpus (fold
    associativity), which the single-row oracle checks via count /
    dup-count / owner-sum invariants.

    Scale shape: each maintenance step reads O(drop) rows (the change
    feed names exactly the new files; compactions would be free) plus
    a batch-sized probe join into the index; the index update is one
    transactional MERGE commit, crash-safe and replayable. Fingerprint
    keys are uniform, so file-range skipping deliberately does NOT
    carry the merge here — candidate bounding for dedup indexes comes
    from band-bucket layout (operators/dedup.py's incremental family);
    this query's subject is the TRANSACTIONAL maintenance contract.
    """
    import tempfile

    from map_reduce_spark.io import load_table

    key = hashlib.md5(f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()).hexdigest()[:12]
    scratch = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_ingest_{key}")
    corpus = os.path.join(scratch, "corpus")
    index = os.path.join(scratch, "index")
    if not os.path.isdir(scratch):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5("text").alias("fp")
        )
        b3 = _bucket(F.col("doc_id"), 3)
        for drop, mode in ((0, "overwrite"), (1, "append"), (2, "append")):
            write_delta_py(
                docs.filter(b3 == drop), corpus, mode=mode,
                stats_cols=("doc_id",),
            )
            feed = read_delta_changes(spark, corpus, since_version=drop - 1,
                                      to_version=drop)
            batch = feed.groupBy("fp").agg(
                F.min("doc_id").alias("owner"), F.count("*").alias("n_docs")
            )
            if latest_version(index) is None:
                write_delta_py(batch, index, mode="overwrite", stats_cols=("fp",))
            else:
                cur = read_delta_py(spark, index).select(
                    F.col("fp"),
                    F.col("owner").alias("owner_cur"),
                    F.col("n_docs").alias("n_cur"),
                )
                combined = batch.join(cur, "fp", "left").select(
                    "fp",
                    F.least(
                        F.col("owner"), F.coalesce("owner_cur", "owner")
                    ).alias("owner"),
                    (F.col("n_docs") + F.coalesce("n_cur", F.lit(0))).alias(
                        "n_docs"
                    ),
                )
                merge_upsert(spark, index, combined, "fp", stats_cols=("fp",))
    idx = read_delta_py(spark, index)
    return idx.agg(
        F.count("*").alias("n_fps"),
        F.sum("n_docs").alias("total_docs"),
        F.sum((F.col("n_docs") > 1).cast("long")).alias("dup_fps"),
        F.sum("owner").alias("owner_sum"),
        F.min("owner").alias("min_owner"),
        F.max("owner").alias("max_owner"),
    )

_ZX_SPARK = "CAST(user_id % 1024 AS BIGINT)"
_ZY_SPARK = "CAST((ts_us div 3600000000) % 1024 AS BIGINT)"


@register(
    "delta_optimize_zorder",
    oracle="""
SELECT CAST(CAST(user_id % 1024 AS BIGINT) % 4 AS BIGINT) AS xb,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(CAST((epoch_us(ts) // 3600000000) % 1024 AS BIGINT)) AS BIGINT)
         AS sum_hx
FROM events
GROUP BY 1
""",
)
def delta_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on a Delta-resident events table: the rewrite
    range-partitions on the Morton interleave of (user bucket, hour
    bucket), so post-OPTIMIZE the per-file min/max stats prune scans
    filtered on EITHER dimension — the 2-D layout a linear sort can't
    give (tests/test_delta_ops.py quantifies the pruning on both axes
    against the pre-zorder layout). Content must be bit-identical to
    the pre-layout table, which the oracle checks against raw events.

    Scale shape: zorder pays one range shuffle of the rewritten bytes
    at OPTIMIZE time to make every later 2-D-filtered scan prune —
    the standard amortization argument, here attached to real
    log-level stats instead of a standalone demo."""
    import tempfile

    from map_reduce_spark.io import load_table

    key = hashlib.md5(f"{os.path.abspath(sf_dir)}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_z_{key}")
    if not os.path.isdir(table):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.expr(_ZX_SPARK).alias("ux"),
            F.expr(_ZY_SPARK).alias("hx"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        # land in event_id order (neither dimension clustered), several
        # files, then let OPTIMIZE impose the 2-D layout
        write_delta_py(
            ev.repartitionByRange(8, "event_id"), table, mode="overwrite",
            stats_cols=("ux", "hx"),
        )
        optimize_compact(
            spark, table, stats_cols=("ux", "hx"), zorder_by=("ux", "hx")
        )
    df = read_delta_py(spark, table)
    return df.groupBy((F.col("ux") % 4).alias("xb")).agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("sum_cents"),
        F.sum("hx").alias("sum_hx"),
    )


# --------------------------------------------------------------------
# deletion-vector fixture + query (round 9)
# --------------------------------------------------------------------


def ensure_delta_dv_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An orders-derived Delta table whose deletes are DELETION
    VECTORS: v0 bulk load (hive-partitioned by o_year, range-clustered
    on o_orderkey), v1 DV DELETE (md5-bucket16 == 3), v2 a second,
    STACKING DV DELETE ('O'-status rows of bucket16 == 5 — files hit
    by both deletes union their bitmaps), then a parquet checkpoint so
    the certified read path replays DV state THROUGH a checkpoint, not
    just JSON commits. Built once per sf_dir under the system tmp dir,
    every mutation inside the build, atomic-rename published."""
    dest = lakecommit.fixture_dir("deltadv", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    b16 = _bucket(F.col("o_orderkey"), 16)
    write_delta_py(
        d.repartitionByRange(6, "o_orderkey"),
        tmp,
        mode="overwrite",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )
    delete_where_dv(spark, tmp, b16 == 3, checkpoint_interval=0)
    delete_where_dv(
        spark, tmp, (F.col("o_orderstatus") == "O") & (b16 == 5),
        checkpoint_interval=0,
    )
    write_checkpoint(tmp, snapshot(tmp))
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_dv_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         {_B16_SQL} AS b16
  FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM d
WHERE NOT (b16 = 3) AND NOT (o_orderstatus = 'O' AND b16 = 5)
GROUP BY o_orderstatus
""",
)
def delta_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector merge-on-read scan (closes the round-8
    verdict's Delta read gap, delta_py.py:164 gate): the snapshot's
    adds carry z85-uuid RoaringBitmapArray DVs — two stacked deletes,
    replayed through a parquet CHECKPOINT — applied as an anti-join on
    the native (_metadata.file_path, _metadata.row_index) row ids. No
    data file was rewritten; the oracle is the surviving predicate
    over raw orders, so a mis-decoded bitmap, a dropped DV in the
    checkpoint, or a wrong row position all hash-mismatch.

    Reference parity: SURVEY.md §2.2 scans/sources, the Delta row of
    the table-format family (delta-io PROTOCOL.md 'Deletion Vectors')."""
    from map_reduce_spark.io import read_delta

    df = read_delta(spark, ensure_delta_dv_fixture(spark, sf_dir))
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --------------------------------------------------------------------
# schema-evolution time travel fixture + query (round 9)
# --------------------------------------------------------------------

_CB8_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 8 AS INT)"
)


def ensure_delta_evo_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A customer-derived Delta table whose schema WIDENED mid-history:
    v0 loads (c_custkey, c_mktsegment, bal_cents) for md5-bucket8 < 4,
    v1 appends buckets 4-7 WITH a new c_nationkey column through
    ``append_with_evolution`` — one atomic commit carrying the widened
    schemaString. Built once per sf_dir, atomic-rename published."""
    from map_reduce_spark.io import load_table

    dest = lakecommit.fixture_dir("deltaevo", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
        "c_nationkey",
    )
    b8 = _bucket(F.col("c_custkey"), 8)
    write_delta_py(
        c.filter(b8 < 4).drop("c_nationkey").repartitionByRange(2, "c_custkey"),
        tmp,
        mode="overwrite",
        stats_cols=("c_custkey",),
    )
    append_with_evolution(
        c.filter(b8 >= 4).repartitionByRange(2, "c_custkey"), tmp,
        stats_cols=("c_custkey",),
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_schema_evolution_travel",
    oracle=f"""
WITH d AS (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
         {_CB8_SQL} AS b8
  FROM customer
)
SELECT 'v0' AS at_version, COUNT(*) AS cnt,
       CAST(SUM(bal_cents) AS BIGINT) AS sum_bal_cents,
       3 AS n_cols, CAST(-1 AS BIGINT) AS null_nation_rows
FROM d WHERE b8 < 4
UNION ALL
SELECT 'latest', COUNT(*),
       CAST(SUM(bal_cents) AS BIGINT),
       4, (SELECT COUNT(*) FROM d WHERE b8 < 4)
FROM d
""",
)
def delta_schema_evolution_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format's schema-evolution contract, certified end to end:
    time travel to v0 renders the table under its ORIGINAL 3-column
    schema (n_cols proves which schemaString served the read), while
    the latest version renders 4 columns with pre-evolution files
    reading the new c_nationkey as NULL — null_nation_rows must equal
    exactly the v0 row count. A reader that pinned the latest schema
    for old versions, or dropped the widened metaData on replay, shows
    up as a wrong n_cols / null count and hash-mismatches."""
    tbl = ensure_delta_evo_fixture(spark, sf_dir)
    v0 = read_delta_py(spark, tbl, version=0)
    cur = read_delta_py(spark, tbl)
    old = (
        v0.agg(
            F.count("*").alias("cnt"),
            F.sum("bal_cents").alias("sum_bal_cents"),
        )
        .withColumn("at_version", F.lit("v0"))
        .withColumn("n_cols", F.lit(len(v0.columns)))
        .withColumn("null_nation_rows", F.lit(-1).cast("long"))
    )
    new = (
        cur.agg(
            F.count("*").alias("cnt"),
            F.sum("bal_cents").alias("sum_bal_cents"),
            F.count_if(F.col("c_nationkey").isNull()).alias("null_nation_rows"),
        )
        .withColumn("at_version", F.lit("latest"))
        .withColumn("n_cols", F.lit(len(cur.columns)))
    )
    cols = ["at_version", "cnt", "sum_bal_cents", "n_cols", "null_nation_rows"]
    return old.select(*cols).unionByName(new.select(*cols))


# --------------------------------------------------------------------
# column mapping (round 9): fresh-mapped-table writer + fixture + query
# --------------------------------------------------------------------


def write_mapped_table(
    df: DataFrame,
    table: str,
    partition_by: tuple[str, ...] = (),
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Create a FRESH column-mapped Delta table (the shape
    delta-spark's `delta.columnMapping.mode = name` produces): parquet
    files and hive partition dirs carry opaque PHYSICAL names
    (col-<hash>, deterministic — NOTES rule 15), the schemaString's
    per-field metadata records delta.columnMapping.id/physicalName,
    and the protocol declares minReaderVersion=2/minWriterVersion=5.
    Single initial commit (v0); appends/deletes then go through the
    mapping-aware paths (``delete_where_dv``)."""
    mapping = {
        name: "col-" + hashlib.md5(
            (os.path.abspath(table) + "\x00" + name).encode()
        ).hexdigest()[:10]
        for name in df.columns
    }
    phys_df = df.select([F.col(n).alias(p) for n, p in mapping.items()])
    moved = _stage_and_move(phys_df, table, tuple(mapping[c] for c in partition_by))
    adds = _add_actions(table, moved, tuple(mapping[c] for c in stats_cols))
    fields = [
        StructField(
            f.name,
            f.dataType,
            f.nullable,
            {
                "delta.columnMapping.id": i + 1,
                "delta.columnMapping.physicalName": mapping[f.name],
            },
        )
        for i, f in enumerate(df.schema.fields)
    ]
    meta = {
        "metaData": {
            "id": hashlib.md5(os.path.abspath(table).encode()).hexdigest(),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": StructType(fields).json(),
            "partitionColumns": list(partition_by),  # LOGICAL names
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(len(fields)),
            },
        }
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        *adds,
        {"commitInfo": {"operation": "CREATE", "engine": "map_reduce_spark"}},
    ]
    if latest_version(table) is not None or not try_commit(table, 0, actions):
        raise ValueError(f"{table!r} already exists; mapped writer creates only")
    return 0


def ensure_delta_cm_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A column-mapped orders table (hive-partitioned by o_year under
    its PHYSICAL dir name) carrying a deletion-vector DELETE on top —
    the full minReaderVersion=3 readerFeatures=[columnMapping,
    deletionVectors] combination — plus a parquet checkpoint so the
    mapping mode and the DVs both replay from the checkpoint path."""
    dest = lakecommit.fixture_dir("deltacm", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    write_mapped_table(
        d.repartitionByRange(4, "o_orderkey"),
        tmp,
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
    )
    delete_where_dv(
        spark, tmp, _bucket(F.col("o_orderkey"), 16) == 7, checkpoint_interval=0
    )
    write_checkpoint(tmp, snapshot(tmp))
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_column_mapping_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) AS o_year,
         {_B16_SQL} AS b16
  FROM orders
)
SELECT o_year,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM d
WHERE NOT (b16 = 7)
GROUP BY o_year
""",
)
def delta_column_mapping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping merge-on-read scan (closes the LAST Delta read
    gate): parquet columns and hive dirs carry opaque physical names
    (col-<hash>), resolved to logical names through the schemaString's
    columnMapping metadata; a deletion-vector DELETE rides on top and
    both replay through a parquet checkpoint. A reader that scanned
    logical names would return all NULLs; one that dropped the
    configuration through the checkpoint would too — either
    hash-mismatches the plain-orders oracle.

    Reference parity: SURVEY.md §2.2 scans/sources, the Delta row
    (delta-io PROTOCOL.md 'Column Mapping')."""
    from map_reduce_spark.io import read_delta

    df = read_delta(spark, ensure_delta_cm_fixture(spark, sf_dir))
    return df.groupBy("o_year").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
    )


def ensure_delta_cm_cdf_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A column-mapped, CDF-enabled orders table with the full r11
    change-writer surface on it: v0 mapped CREATE (hive-partitioned by
    o_year's physical dir name), v1 enables
    ``delta.enableChangeDataFeed``, v2 a deletion-vector DELETE
    (bucket16 7 — stages cdc files under PHYSICAL names), v3 a mapped
    APPEND (status-'O' bucket16 2 slice, physical-named staging).
    Reading its change feed exercises every mapped CDF path at once:
    cdc files scanned physically and projected to logical, the append
    leg ditto, per-commit attribution through the broadcast
    file→version join."""
    dest = lakecommit.fixture_dir("deltacmcdf", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    write_mapped_table(
        d.repartitionByRange(4, "o_orderkey"),
        tmp,
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
    )
    set_delta_table_property(tmp, "delta.enableChangeDataFeed", "true")  # v1
    delete_where_dv(
        spark, tmp, _bucket(F.col("o_orderkey"), 16) == 7, checkpoint_interval=0
    )  # v2: DV delete + physical-named cdc
    write_delta_py(  # v3: mapped append (physical-named staging)
        d.filter(
            (F.col("o_orderstatus") == "O") & (_bucket(F.col("o_orderkey"), 16) == 2)
        ),
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_cdf_mapped_dv_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         {_B16_SQL} AS b16
  FROM orders
),
deleted AS (SELECT * FROM d WHERE b16 = 7),
appended AS (SELECT * FROM d WHERE o_orderstatus = 'O' AND b16 = 2)
SELECT * FROM (
  SELECT 'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version,
         COUNT(*) AS cnt,
         CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
         CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
         CAST(MAX(o_orderkey) AS BIGINT) AS max_key
  FROM deleted
  UNION ALL
  SELECT 'insert', CAST(3 AS BIGINT), COUNT(*),
         CAST(SUM(price_cents) AS BIGINT),
         CAST(MIN(o_orderkey) AS BIGINT),
         CAST(MAX(o_orderkey) AS BIGINT)
  FROM appended
) t
""",
)
def delta_cdf_mapped_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over a COLUMN-MAPPED table carrying a
    deletion-vector DELETE and a mapped append (the two r11 CDF
    completions in one driver row): the DV delete's cdc files and the
    append's data files both scan under physical names and project
    back to logical, versions attach via the broadcast file→version
    join. The oracle recomputes both change sets relationally, so
    NULLed mapped columns (the pre-fix symptom), a lost cdc shard, or
    misattributed commits all hash-mismatch."""
    feed = read_delta_changes_cdf(
        spark, ensure_delta_cm_cdf_fixture(spark, sf_dir), since_version=1
    )
    return feed.groupBy(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").alias("commit_version"),
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


def ensure_delta_logclean_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A table whose log went through REAL retention cleanup
    (``clean_delta_log``), not test-side ``os.remove``: v0 load
    (md5-bucket8 ≤ 4), v1 enables CDF, v2 append (bucket8 5-6), v3 a
    COW DELETE staging cdc (status 'F', bucket16 1), v4 append
    (bucket8 7) whose ``checkpoint_interval=4`` cuts a classic
    checkpoint. ``clean_delta_log(retain_last=2)`` then expires json
    commits 0-2 while keeping 3-4 — the CDF tail stays servable, time
    travel below the checkpoint is gone, and the cleanup's effect is
    HARD-ASSERTED here (boundary 4, exactly 3 commits expired) so a
    silently inert cleaner reddens the driver row instead of passing
    on an uncleaned log. A post-clean ``vacuum_delta`` then runs and
    must sweep NOTHING: the base data's only references live in the
    checkpoint, so a json-only reference sweep (the pre-fix bug)
    deletes live files and the oracle catches the loss."""
    dest = lakecommit.fixture_dir("deltalogclean", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    b8 = _bucket(F.col("o_orderkey"), 8)
    b16 = _bucket(F.col("o_orderkey"), 16)
    write_delta_py(
        d.filter(b8 <= 4),
        tmp,
        mode="overwrite",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )  # v0
    set_delta_table_property(tmp, "delta.enableChangeDataFeed", "true")  # v1
    write_delta_py(
        d.filter(b8.isin(5, 6)),
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )  # v2
    delete_where(
        spark,
        tmp,
        (F.col("o_orderstatus") == "F") & (b16 == 1),
        stats_cols=("o_orderkey",),
        checkpoint_interval=0,
    )  # v3: COW delete, stages cdc
    write_delta_py(
        d.filter(b8 == 7),
        tmp,
        mode="append",
        partition_by=("o_year",),
        stats_cols=("o_orderkey",),
        checkpoint_interval=4,
    )  # v4: classic checkpoint cut here
    stats = clean_delta_log(tmp, retain_last=2)
    if stats["boundary"] != 4 or stats["json_removed"] != 3:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"log cleanup did not take effect: {stats}")
    for v in (3, 4):
        if not os.path.exists(_json_path(tmp, v)):
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(f"retain_last=2 lost commit {v}")
    swept = vacuum_delta(tmp)  # post-clean vacuum must see the
    if swept:  # checkpoint's references — a json-only sweep would
        shutil.rmtree(tmp, ignore_errors=True)  # delete live base data
        raise RuntimeError(f"vacuum after log cleanup swept {swept} live files")
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_log_retention_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
         {_B8_SQL} AS b8, {_B16_SQL} AS b16
  FROM orders
),
deleted AS (
  SELECT * FROM d WHERE b8 <= 6 AND o_orderstatus = 'F' AND b16 = 1
),
inserted AS (SELECT * FROM d WHERE b8 = 7),
state AS (
  SELECT * FROM d
  WHERE (b8 <= 6 AND NOT (o_orderstatus = 'F' AND b16 = 1)) OR b8 = 7
)
SELECT * FROM (
  SELECT 'state' AS leg, COUNT(*) AS cnt,
         CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
         CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
         CAST(MAX(o_orderkey) AS BIGINT) AS max_key
  FROM state
  UNION ALL
  SELECT 'cdf_delete', COUNT(*), CAST(SUM(price_cents) AS BIGINT),
         CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
  FROM deleted
  UNION ALL
  SELECT 'cdf_insert', COUNT(*), CAST(SUM(price_cents) AS BIGINT),
         CAST(MIN(o_orderkey) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
  FROM inserted
) t
""",
)
def delta_log_retention_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table AFTER spec log-retention cleanup
    (``clean_delta_log``): the current state must seed from the
    surviving checkpoint (json commits 0-2 are expired), and the
    change feed must still serve the retained tail (the v3 COW delete
    + v4 append kept by ``retain_last=2``). The oracle recomputes all
    three legs relationally, so an over-eager cleaner (lost tail
    commit, broken seed) or an inert one (fixture hard-asserts the
    expiry) reddens this row."""
    tbl = ensure_delta_logclean_fixture(spark, sf_dir)
    aggs = (
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    state = (
        read_delta_py(spark, tbl)
        .agg(*aggs)
        .select(F.lit("state").alias("leg"), "cnt", "sum_cents", "min_key", "max_key")
    )
    cdf = (
        read_delta_changes_cdf(spark, tbl, since_version=2)
        .groupBy(F.concat(F.lit("cdf_"), F.col("_change_type")).alias("leg"))
        .agg(*aggs)
    )
    return state.unionByName(cdf)


def ensure_delta_part_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Orders as a hive-partitioned Delta table (``o_year`` string
    partition column recovered from the directory layout at read
    time), cached per sf_dir with the usual atomic publish. The year
    column is derived TZ-free from the µs epoch so the fixture is
    byte-identical under any session timezone."""
    dest = lakecommit.fixture_dir("delta_part", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    if o.schema["o_orderdate"].dataType.simpleString() == "timestamp":
        o = o.withColumn(
            "o_orderdate",
            F.expr(
                "timestampadd(MICROSECOND, unix_micros(o_orderdate), "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    d = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "totalprice_cents"
        ),
        F.year("o_orderdate").cast("string").alias("o_year"),
        "o_orderpriority",
    )
    write_delta_py(
        d.repartition(2), tmp, mode="overwrite", partition_by=("o_year",),
        stats_cols=("o_orderkey",),
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "delta_partition_prune",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR) IN ('1996', '1997')
GROUP BY o_orderpriority
""",
)
def delta_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-time partition pruning on a hive-partitioned Delta table —
    the Delta-side twin of ``iceberg_partition_prune``, taking the
    OTHER pruning path: the reader recovers the partition column from
    the directory layout, so Catalyst itself prunes the scan
    (PartitionFilters in the FileScan, locked by
    tests/test_delta.py::test_partition_prune_plan) rather than the
    driver-side manifest walk. At 100 TB both paths end the same way:
    scan cost follows the predicate's partition footprint."""
    df = read_delta_py(spark, ensure_delta_part_fixture(spark, sf_dir))
    return (
        df.filter(F.col("o_year").isin("1996", "1997"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
        )
    )


def update_where(
    spark: SparkSession,
    table: str,
    predicate,
    set_exprs: dict,
    stats_cols: tuple[str, ...] = (),
    checkpoint_interval: int = 10,
) -> int:
    """Delta UPDATE (``rowlevel.update``): rewrite only the files
    containing predicate-TRUE rows, applying ``set_exprs`` (column →
    Column) to those rows and carrying every other row — NULL-predicate
    rows included — unchanged. Returns the committed version."""
    view = _cow_view(spark, table, "update_where", stats_cols, checkpoint_interval)
    return rowlevel.update(view, predicate, set_exprs)


def restore_table(
    spark: SparkSession,
    table: str,
    version: int,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Delta RESTORE: commit a NEW version whose active file set is
    exactly the target version's — removes for files added since,
    re-adds for files removed since. Pure log arithmetic (no data
    moves, no data reads): time travel that the table's HEAD follows,
    with the full history intact above it. The standard recovery move
    after a bad write."""
    target = snapshot(table, version)
    # the gate must hold at BOTH ends: restoring INTO a DV/column-
    # mapping state re-adds files this writer's rewriting operators
    # (and a pre-fix reader of the restored state) must not mishandle
    _gate_dv_rewrite(target, "restore_table (target snapshot)")

    def attempt():
        cur = snapshot(table)
        _gate_dv_rewrite(cur, "restore_table")
        actions: list[dict] = []
        # restoring across a schema / partition-column / table-config
        # change must re-commit the TARGET's metaData (real Delta
        # RESTORE does) — otherwise the restored files read under the
        # current schema, silently misrendering old data
        meta_changed = cur.metadata != target.metadata
        if meta_changed:
            actions.append({"metaData": target.metadata})
        for rel in sorted(set(cur.adds) - set(target.adds)):
            actions.append(
                {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": True}}
            )
        for rel in sorted(set(target.adds) - set(cur.adds)):
            actions.append({"add": dict(target.adds[rel], dataChange=True)})
        if not actions:
            return cur.version  # already at the target state
        if _cdf_enabled(cur) or _cdf_enabled(target):
            # RESTORE is a data-changing rewrite; silently committing
            # it without cdc actions would make the range unreadable
            # for CDF consumers despite the table-level enablement.
            # Stage exact row-level changes: rows of files dropped by
            # the restore are deletes, rows of files it re-adds are
            # inserts (carried files cancel by construction — the diff
            # is file-granular). Costs O(changed files) of reads; the
            # no-CDF path stays pure log arithmetic.
            if meta_changed:
                raise NotImplementedError(
                    "restore_table across a schema/metadata change on a "
                    "CDF-enabled table: change rows cannot be rendered "
                    "under one schema — disable "
                    "delta.enableChangeDataFeed for the restore, or "
                    "rebuild via read + overwrite"
                )

            def _scan(rels: list[str]) -> DataFrame:
                reader = spark.read.schema(cur.schema)
                if cur.partition_columns:
                    reader = reader.option("basePath", table)
                return reader.parquet(
                    *[os.path.join(table, urllib.parse.unquote(r)) for r in rels]
                )

            legs = []
            dropped = sorted(set(cur.adds) - set(target.adds))
            readded = sorted(set(target.adds) - set(cur.adds))
            if dropped:
                legs.append(_scan(dropped).withColumn("_change_type", F.lit("delete")))
            if readded:
                legs.append(_scan(readded).withColumn("_change_type", F.lit("insert")))
            change = legs[0]
            for leg in legs[1:]:
                change = change.unionByName(leg)
            actions.extend(
                _stage_cdc_files(change, table, tuple(cur.partition_columns))
            )
        actions.append(
            {"commitInfo": {"operation": "RESTORE", "engine": "map_reduce_spark"}}
        )
        return _commit(table, cur.version + 1, actions)

    return lakecommit.retry_commit(f"restore on {table!r}", attempt)


@register(
    "delta_update_where",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
         c_mktsegment
  FROM customer
),
updated AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_mktsegment = 'BUILDING' AND cents < 0
              THEN 0 ELSE cents END AS cents,
         CASE WHEN c_mktsegment = 'BUILDING' AND cents < 0
              THEN 'RESET' ELSE c_mktsegment END AS seg
  FROM c
)
SELECT seg, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents
FROM updated GROUP BY seg
""",
)
def delta_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE on a private clone of the customer Delta fixture:
    BUILDING-segment customers with negative balances reset to zero
    and re-segment to 'RESET'. Only files holding a matching row
    rewrite; the oracle recomputes the updated state relationally, so
    over-update (the NULL trap), under-update, and lost carried rows
    all hash-mismatch. Content-idempotent: the second run matches
    nothing (no negatives remain) and no-ops."""
    import tempfile

    base = ensure_customer_delta(spark, sf_dir)
    key = hashlib.md5(f"{base}:upd:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_upd_{key}")
    if not os.path.isdir(table):
        clone_delta_table(base, table)
    update_where(
        spark,
        table,
        (F.col("c_mktsegment") == "BUILDING") & (F.col("acctbal_cents") < 0),
        {
            "acctbal_cents": F.lit(0).cast("long"),
            "c_mktsegment": F.lit("RESET"),
        },
        stats_cols=("c_custkey",),
    )
    return (
        read_delta_py(spark, table)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("acctbal_cents").alias("sum_cents"),
            F.min("acctbal_cents").alias("min_cents"),
        )
    )


@register(
    "delta_restore",
    oracle="""
SELECT c_mktsegment AS seg, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM customer
GROUP BY c_mktsegment
""",
)
def delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE after a bad write: a private clone takes a destructive
    DELETE (every ACCTBAL-negative customer dropped), then restores to
    the pre-delete version as a NEW commit — pure log arithmetic, no
    data read or moved — and the read-back must hash-equal the
    original table. History stays intact: the bad version remains
    time-travelable below the restore (locked in tests)."""
    import tempfile

    base = ensure_customer_delta(spark, sf_dir)
    key = hashlib.md5(f"{base}:rst:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_delta_rst_{key}")
    if not os.path.isdir(table):
        clone_delta_table(base, table)
    good = latest_version(table)
    delete_where(spark, table, F.col("acctbal_cents") < 0)
    restore_table(spark, table, good)
    return (
        read_delta_py(spark, table)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("acctbal_cents").alias("sum_cents"),
            F.max("c_custkey").alias("max_key"),
        )
    )
