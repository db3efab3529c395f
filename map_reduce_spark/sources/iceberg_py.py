"""Pure-Python Apache Iceberg v1/v2 table READER — closing the last
table-format gap jar-lessly (``io.read_iceberg`` falls back here; with
the iceberg-spark runtime jar present the native path wins).

Format: the public Iceberg table spec (iceberg.apache.org/spec). A
table is ``data/`` parquet files plus ``metadata/``:
``v{N}.metadata.json`` (schemas, snapshots, current-snapshot-id, with
``version-hint.text`` naming the live version), per-snapshot
*manifest lists* and *manifests* — both Avro object-container files.
Reading at snapshot S: parse the metadata JSON, read S's manifest
list (one row per manifest: path + content kind), read each DATA
manifest and keep entries whose ``status`` is not DELETED (2) — the
surviving ``data_file.file_path`` set feeds a plain native parquet
scan, exactly like the Delta reader's active-file list (pushdown,
column pruning, codegen intact; Iceberg data files carry partition
columns in-file, so no hive-path recovery is needed).

Merge-on-read (round 9): v2 row-level deletes are fully supported.
POSITIONAL deletes — (file_path, pos) parquet files — apply as an
anti-join on the native ``_metadata.file_path`` /
``_metadata.row_index`` row ids; EQUALITY deletes apply as
sequence-scoped null-safe anti-joins per equality-id group (a delete
hits only data files with strictly lower data sequence numbers, so
delete-then-reinsert upserts come out exact). Small delete sets
broadcast (by ROW count) so the data side never shuffles; past the
threshold the anti-join shuffles and AQE handles skew. The remaining
gates (raise loudly, never mis-read): format-version 3 and
non-parquet data files.

The manifest plane is DRIVER-side metadata — manifests are KBs — so
the Avro decode here needs no Spark plumbing at all. It uses a
self-contained GENERIC Avro codec (records -> dicts, recursive
records/arrays/maps/unions/fixed, null+deflate codecs): real-world
manifests carry nested structs and maps the engine's columnar
``sources/avro_py`` subset deliberately excludes, and keeping this
decoder local leaves that certified scan path untouched.

Scale shape: metadata cost is O(manifests touched) — the spec's own
design goal (manifest lists exist so planning can skip whole
manifests); the data plane is the same native FileScan every other
source here bottoms out in. The writer half is the real optimistic
commit protocol on the shared core in ``lakecommit`` (publish,
optimistic retry, staging, footer statistics): metadata versions
publish put-if-absent, so concurrent appenders all land; data files
stage flat into ``data/<prefix>-<token>-<name>``; schema evolution
preserves the schema history per the spec;
``commit_positional_deletes`` writes merge-on-read deletes without
rewriting data files; and
``expire_snapshots`` is the vacuum twin.

Reference parity: SURVEY.md §2.2 scans/sources — the reference engine
(ghostdsb/map_reduce, worker.ex:96-114) reads only local text files;
table formats are this engine's widened surface, same rubric row as
Delta (sources/delta_py.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from map_reduce_spark.registry import register
from map_reduce_spark.sources import lakecommit, rowlevel

_MAGIC = b"Obj\x01"


# --------------------------------------------------------------------
# generic Avro codec (driver-side; records as dicts)
# --------------------------------------------------------------------


def make_generic_avro():
    """Self-contained generic Avro object-container codec: full
    recursive type tree (record/array/map/union/fixed/primitives),
    named-type references, null+deflate codecs. Rows decode to dicts
    keyed by field name — the natural shape for metadata records."""

    def enc_long(n, out):
        n = (n << 1) ^ (n >> 63)
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    def dec_long(buf, pos):
        shift = acc = 0
        while True:
            b = buf[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1), pos

    def resolve(t, names):
        """Normalize a schema node; register/lookup named types."""
        if isinstance(t, str):
            return names.get(t, t)
        if isinstance(t, list):
            return ["union", [resolve(b, names) for b in t]]
        kind = t.get("type")
        if kind == "record":
            node = ["record", []]
            if t.get("name"):
                names[t["name"]] = node
            node[1] = [(f["name"], resolve(f["type"], names)) for f in t["fields"]]
            return node
        if kind == "array":
            return ["array", resolve(t["items"], names)]
        if kind == "map":
            return ["map", resolve(t["values"], names)]
        if kind == "fixed":
            node = ["fixed", t["size"]]
            if t.get("name"):
                names[t["name"]] = node
            return node
        if isinstance(kind, (str, list, dict)):  # logical type wrapper
            return resolve(kind, names)
        raise NotImplementedError(f"iceberg_py avro: unsupported schema {t!r}")

    def dec_datum(nt, buf, pos):
        if isinstance(nt, str):
            if nt == "null":
                return None, pos
            if nt == "boolean":
                return buf[pos] == 1, pos + 1
            if nt in ("long", "int"):
                return dec_long(buf, pos)
            if nt == "float":
                return struct.unpack("<f", buf[pos:pos + 4])[0], pos + 4
            if nt == "double":
                return struct.unpack("<d", buf[pos:pos + 8])[0], pos + 8
            if nt in ("bytes", "string"):
                n, pos = dec_long(buf, pos)
                raw = bytes(buf[pos:pos + n])
                return (raw.decode() if nt == "string" else raw), pos + n
            raise NotImplementedError(f"iceberg_py avro: primitive {nt!r}")
        kind = nt[0]
        if kind == "record":
            row = {}
            for name, ft in nt[1]:
                row[name], pos = dec_datum(ft, buf, pos)
            return row, pos
        if kind == "union":
            ix, pos = dec_long(buf, pos)
            return dec_datum(nt[1][ix], buf, pos)
        if kind == "fixed":
            return bytes(buf[pos:pos + nt[1]]), pos + nt[1]
        out = [] if kind == "array" else {}
        while True:  # blocked collections; negative count carries a size
            n, pos = dec_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = dec_long(buf, pos)
                n = -n
            for _ in range(n):
                if kind == "array":
                    v, pos = dec_datum(nt[1], buf, pos)
                    out.append(v)
                else:
                    k, pos = dec_datum("string", buf, pos)
                    v, pos = dec_datum(nt[1], buf, pos)
                    out[k] = v

    def enc_datum(nt, v, out):
        if isinstance(nt, str):
            if nt == "null":
                return
            if nt == "boolean":
                out.append(1 if v else 0)
            elif nt in ("long", "int"):
                enc_long(int(v), out)
            elif nt == "float":
                out += struct.pack("<f", v)
            elif nt == "double":
                out += struct.pack("<d", v)
            elif nt in ("bytes", "string"):
                raw = v.encode() if nt == "string" else bytes(v)
                enc_long(len(raw), out)
                out += raw
            else:
                raise NotImplementedError(f"iceberg_py avro: primitive {nt!r}")
            return
        kind = nt[0]
        if kind == "record":
            for name, ft in nt[1]:
                enc_datum(ft, v.get(name) if isinstance(v, dict) else None, out)
        elif kind == "union":
            branches = nt[1]
            ix = 0 if v is None and "null" in branches else (
                branches.index("null") ^ 1 if "null" in branches else 0
            )
            if v is None:
                ix = branches.index("null")
            enc_long(ix, out)
            enc_datum(branches[ix], v, out)
        elif kind == "fixed":
            out += bytes(v)
        elif kind == "array":
            if v:
                enc_long(len(v), out)
                for item in v:
                    enc_datum(nt[1], item, out)
            enc_long(0, out)
        elif kind == "map":
            if v:
                enc_long(len(v), out)
                for k, item in v.items():
                    enc_datum("string", k, out)
                    enc_datum(nt[1], item, out)
            enc_long(0, out)

    def read_file(path):
        """-> (schema_json, [row dicts])."""
        with open(path, "rb") as fh:
            raw = fh.read()
        if raw[:4] != _MAGIC:
            raise ValueError(f"{path!r}: not an Avro object container")
        pos, meta = 4, {}
        while True:
            n, pos = dec_long(raw, pos)
            if n == 0:
                break
            if n < 0:
                _, pos = dec_long(raw, pos)
                n = -n
            for _ in range(n):
                k, pos = dec_datum("string", raw, pos)
                v, pos = dec_datum("bytes", raw, pos)
                meta[k] = v
        sync = raw[pos:pos + 16]
        pos += 16
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise NotImplementedError(f"iceberg_py avro: codec {codec!r}")
        nt = resolve(schema, {})
        rows = []
        end = len(raw)
        while pos < end:
            n_rows, pos = dec_long(raw, pos)
            n_bytes, pos = dec_long(raw, pos)
            payload = raw[pos:pos + n_bytes]
            pos += n_bytes
            if raw[pos:pos + 16] != sync:
                raise ValueError(f"{path!r}: sync marker mismatch")
            pos += 16
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            p = 0
            for _ in range(n_rows):
                row, p = dec_datum(nt, payload, p)
                rows.append(row)
        return schema, rows

    def write_file(path, schema, rows, codec="deflate"):
        nt = resolve(schema, {})
        out = bytearray(_MAGIC)
        meta = {
            "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
            "avro.codec": codec.encode(),
        }
        enc_long(len(meta), out)
        for k, v in meta.items():
            enc_datum("string", k, out)
            enc_datum("bytes", v, out)
        enc_long(0, out)
        sync = hashlib.md5(path.encode()).digest()  # deterministic sync
        out += sync
        payload = bytearray()
        for row in rows:
            enc_datum(nt, row, payload)
        body = bytes(payload)
        if codec == "deflate":
            c = zlib.compressobj(wbits=-15)
            body = c.compress(body) + c.flush()
        enc_long(len(rows), out)
        enc_long(len(body), out)
        out += body + sync
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(out)
        os.replace(tmp, path)

    from types import SimpleNamespace

    return SimpleNamespace(read_file=read_file, write_file=write_file)


# --------------------------------------------------------------------
# Iceberg metadata plane
# --------------------------------------------------------------------

_ICE_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
}


def _iceberg_schema_to_ddl(schema: dict) -> str:
    cols = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, str):
            if t.startswith("decimal"):
                spark_t = t  # decimal(p, s) spells identically
            elif t in _ICE_TO_SPARK:
                spark_t = _ICE_TO_SPARK[t]
            else:
                raise NotImplementedError(f"iceberg_py: field type {t!r}")
        else:
            raise NotImplementedError(
                f"iceberg_py: nested field type {t!r} (flat columns only)"
            )
        cols.append(f"`{f['name']}` {spark_t}")
    return ", ".join(cols)


def load_table_metadata(table: str) -> dict:
    """Parse the live ``v{N}.metadata.json``. The version hint is
    advisory only: a racing writer may win a version before refreshing
    the hint, so the live version is the MAX of the hint and the
    highest N on disk — never a stale hint."""
    mdir = os.path.join(table, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"no Iceberg metadata at {table!r}")
    candidates = []
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.isfile(hint):
        with open(hint) as fh:
            candidates.append(int(fh.read().strip()))
    candidates.extend(
        int(f[1:].split(".")[0])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    version = max(candidates) if candidates else None
    if version is None:
        raise FileNotFoundError(f"no metadata.json versions at {table!r}")
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as fh:
        return json.load(fh)


def _pick_snapshot(meta: dict, snapshot_id: int | None) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise ValueError("Iceberg table has no snapshots")
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        for s in snaps:
            if s["snapshot-id"] == cur:
                return s
        raise ValueError(f"current-snapshot-id {cur} not in snapshot list")
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found")


def _schema_for_snapshot(meta: dict, snap: dict) -> dict:
    sid = snap.get("schema-id")
    for s in meta.get("schemas") or []:
        if s.get("schema-id") == sid:
            return s
    if "schema" in meta:  # v1 single-schema layout
        return meta["schema"]
    schemas = meta.get("schemas") or []
    if schemas:
        return schemas[-1]
    raise ValueError("no schema in table metadata")


def _make_localizer(table: str, meta: dict):
    """Path localizer: the spec stores absolute URIs; accept file: or
    plain paths and re-anchor anything under the recorded table
    location so fixtures survive being moved/cloned."""

    def _local(p: str) -> str:
        if p.startswith("file:"):
            p = p[len("file:"):]
        loc = meta.get("location", "")
        if loc.startswith("file:"):
            loc = loc[len("file:"):]
        if loc and p.startswith(loc):
            return os.path.join(table, p[len(loc):].lstrip("/"))
        return p

    return _local


def scan_plan_for_snapshot(
    table: str, meta: dict, snap: dict, predicates=None
) -> dict:
    """Manifest-list -> manifests -> the snapshot's SCAN PLAN:

    - ``data_files``: live data files (absolute local paths),
    - ``data_seqs``: local data path -> data sequence number (what
      equality-delete scoping orders on),
    - ``delete_files``: positional-delete parquet files to anti-join,
    - ``delete_rows``: their total record count (broadcast decision
      input — ROWS, not bytes: a compact positions parquet can hide a
      hash relation far bigger than its file size),
    - ``eq_deletes``: equality-delete descriptors
      [(local path, sequence number, tuple(equality field ids))],
    - ``stored_to_local``: stored data-file path -> local path (the
      positional delete files reference data files by their STORED
      paths).

    All of it is file-granularity driver metadata, exactly the spec's
    intended planning shape. Sequence numbers follow v2 inheritance:
    an entry's null ``sequence_number`` inherits the sequence of the
    snapshot that added its manifest. Gates loudly on non-parquet
    files only.

    Reference parity: this replaces the round-8 hard gate on DELETE
    manifests — merge-on-read tables written by Spark/Flink with
    row-level deletes (positional AND equality) now read correctly
    instead of refusing.

    ``predicates`` (``[(column, op, literal)]`` conjuncts, ops
    ``= < <= > >= in``; timestamp literals as epoch µs) engage
    metadata pruning — Iceberg's inclusive projection, three layers
    deep: whole MANIFESTS skipped via the manifest list's partition
    value summaries, FILES skipped via their entry's partition tuple,
    then via the entry's column lower/upper bounds. Pruning is
    file-granularity driver metadata work (never a data read), always
    sound-inclusive (unknown keeps), and only removes provably-dead
    IO — kept files still need the residual row filter. Delete files
    are never pruned (a positional delete for a pruned data file
    anti-joins nothing). ``files_total``/``files_pruned`` in the
    returned plan are the skip evidence."""
    from map_reduce_spark.sources.iceberg_transforms import (
        bounds_survive,
        partition_value_survives,
        project_predicates,
        summary_survives,
    )

    av = make_generic_avro()
    _local = _make_localizer(table, meta)
    snap_seq = {
        s["snapshot-id"]: s.get("sequence-number", s["snapshot-id"])
        for s in meta.get("snapshots") or []
    }
    # predicates arrive under the caller's (CURRENT) column names; a
    # metadata-only rename must not strand pruning on stale names
    ice_schema = _current_schema(meta, snap)
    specs_by_id = {
        s.get("spec-id", 0): s.get("fields") or []
        for s in meta.get("partition-specs") or []
    }
    projected_cache: dict[int, list] = {}

    def projected_for(spec_id: int):
        if spec_id not in projected_cache:
            projected_cache[spec_id] = project_predicates(
                predicates, specs_by_id.get(spec_id, []), ice_schema
            )
        return projected_cache[spec_id]

    def kv_to_map(v):
        if not v:
            return {}
        if isinstance(v, dict):  # true avro map: string keys
            return {int(k): val for k, val in v.items()}
        return {int(r["key"]): r["value"] for r in v}

    _, manifests = av.read_file(_local(snap["manifest-list"]))
    data: list[str] = []
    data_seqs: dict[str, int] = {}
    deletes: list[str] = []
    delete_rows = 0
    files_total = 0
    files_pruned = 0
    manifests_pruned = 0
    eq_deletes: list[tuple[str, int, tuple[int, ...], int]] = []
    stored_to_local: dict[str, str] = {}
    for m in manifests:
        is_delete_manifest = m.get("content", 0) == 1
        spec_id = m.get("partition_spec_id", 0)
        if predicates and not is_delete_manifest:
            proj = projected_for(spec_id)
            if proj and not summary_survives(
                proj, m.get("partitions"), specs_by_id.get(spec_id, []), ice_schema
            ):
                manifests_pruned += 1
                continue  # whole manifest provably dead
        manifest_seq = m.get("sequence_number")
        if manifest_seq is None:
            manifest_seq = snap_seq.get(m.get("added_snapshot_id"), 0)
        _, entries = av.read_file(_local(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:  # DELETED
                continue
            df = e["data_file"]
            fmt = (df.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg_py: data file format {fmt!r} not supported"
                )
            content = df.get("content")
            if content is None:
                content = 1 if is_delete_manifest else 0
            seq = e.get("sequence_number")
            if seq is None:
                sid = e.get("snapshot_id")
                seq = snap_seq.get(sid, manifest_seq) if sid else manifest_seq
            local = os.path.abspath(_local(df["file_path"]))
            if content == 0:
                files_total += 1
                if predicates:
                    proj = projected_for(spec_id)
                    part = df.get("partition") or {}
                    if proj and not partition_value_survives(
                        proj, part, specs_by_id.get(spec_id, [])
                    ):
                        files_pruned += 1
                        continue
                    if not bounds_survive(
                        predicates,
                        kv_to_map(df.get("lower_bounds")),
                        kv_to_map(df.get("upper_bounds")),
                        ice_schema,
                    ):
                        files_pruned += 1
                        continue
                data.append(local)
                data_seqs[local] = int(seq)
                stored_to_local[df["file_path"]] = local
            elif content == 1:  # position deletes: exact by (file, pos)
                deletes.append(local)
                delete_rows += int(df.get("record_count") or 0)
            else:  # equality deletes: scoped by sequence number
                ids = df.get("equality_ids") or e.get("equality_ids")
                if not ids:
                    raise NotImplementedError(
                        "iceberg_py: equality delete file without "
                        "equality_ids"
                    )
                eq_deletes.append(
                    (
                        local,
                        int(seq),
                        tuple(int(i) for i in ids),
                        int(df.get("record_count") or 0),
                    )
                )
    return {
        "data_files": data,
        "data_seqs": data_seqs,
        "delete_files": deletes,
        "delete_rows": delete_rows,
        "eq_deletes": eq_deletes,
        "stored_to_local": stored_to_local,
        "files_total": files_total,
        "files_pruned": files_pruned,
        "manifests_pruned": manifests_pruned,
    }


def data_files_for_snapshot(table: str, meta: dict, snap: dict) -> list[str]:
    """Live data files only (compatibility wrapper over
    ``scan_plan_for_snapshot``)."""
    return scan_plan_for_snapshot(table, meta, snap)["data_files"]


# a delete frame under this many ROWS broadcasts — the data side then
# never shuffles for the anti-join (the common production shape: a few
# million deleted rows against TBs of data). The threshold is a row
# count, NOT file bytes: positions parquet compresses ~4 bytes/row, so
# a 60 MB delete file is a ~15M-entry hash relation — measured 2.3x
# SLOWER than the shuffle anti-join at the 100x decade. Matches
# delta_py._DV_BROADCAST_CARDINALITY.
_DELETE_BROADCAST_ROWS = 4_000_000

# positional-delete parquet schema (spec field-ids 2147483546/45)
_POS_DELETE_DDL = "file_path string, pos bigint"


def _pos_delete_frame(spark: SparkSession, plan: dict) -> DataFrame:
    """The snapshot's positional deletes as (``__mr_del_fp`` local
    path, ``__mr_del_pos``). Delete rows are mapped from their STORED
    file paths to local scan paths via a broadcast file-granularity
    mapping frame (survives relocated tables); deletes referencing
    data files no longer live drop out in the inner join. Small delete
    sets broadcast outright, so the data side of the downstream
    anti-join needs no shuffle at all; past the threshold the
    anti-join shuffles the delete side like any equi-join and AQE
    handles skew."""
    map_df = spark.createDataFrame(
        [(k, v) for k, v in sorted(plan["stored_to_local"].items())],
        "stored string, local string",
    )
    dele = (
        spark.read.schema(_POS_DELETE_DDL).parquet(*plan["delete_files"])
        .join(F.broadcast(map_df), F.col("file_path") == F.col("stored"), "inner")
        .select(
            F.col("local").alias("__mr_del_fp"),
            F.col("pos").alias("__mr_del_pos"),
        )
    )
    if plan["delete_rows"] <= _DELETE_BROADCAST_ROWS:
        dele = F.broadcast(dele)
    return dele


def _apply_positional_deletes(spark: SparkSession, df: DataFrame, plan: dict) -> DataFrame:
    """Merge-on-read: anti-join the scan against the snapshot's
    positional deletes on (data file, row position in file).

    The join keys are Spark's native ``_metadata.file_path`` /
    ``_metadata.row_index`` metadata columns — per-row ids the parquet
    scan produces for free, so no Python executes per row."""
    dele = _pos_delete_frame(spark, plan)
    src = df.withColumns(
        {
            "__mr_fp": rowlevel.strip_scheme(F.col("_metadata.file_path")),
            "__mr_pos": F.col("_metadata.row_index"),
        }
    )
    return (
        src.join(
            dele,
            (src["__mr_fp"] == dele["__mr_del_fp"])
            & (src["__mr_pos"] == dele["__mr_del_pos"]),
            "left_anti",
        )
        .drop("__mr_fp", "__mr_pos")
    )


def _apply_equality_deletes(
    spark: SparkSession, src: DataFrame, plan: dict, ice_schema: dict
) -> DataFrame:
    """v2 EQUALITY deletes, sequence-scoped: a row is deleted when an
    equality-delete row matches it null-safely on the delete's
    equality columns AND the row's data file carries a STRICTLY LOWER
    data sequence number than the delete file (the spec's ordering —
    rows appended after the delete survive, which is what makes
    delete-then-reinsert upserts work).

    ``src`` must carry ``__mr_fp`` (the stripped scan file path — the
    caller computes it once for all merge-on-read joins). Per-file
    sequence numbers attach via broadcast file-granularity maps on
    both sides; the delete side groups by its equality-id tuple, one
    anti-join per group, broadcast under the same row threshold as
    positional deletes."""
    fields_by_id = {f["id"]: f for f in ice_schema["fields"]}
    seq_map = spark.createDataFrame(
        sorted(plan["data_seqs"].items()), "__mr_sf string, __mr_dseq long"
    )
    src = src.join(
        F.broadcast(seq_map), src["__mr_fp"] == F.col("__mr_sf"), "left"
    ).drop("__mr_sf")
    by_ids: dict[tuple, list[tuple]] = {}
    for path, seq, ids, rows in plan["eq_deletes"]:
        by_ids.setdefault(ids, []).append((path, seq, rows))
    for ids in sorted(by_ids):
        files = by_ids[ids]
        missing = [i for i in ids if i not in fields_by_id]
        if missing:
            raise NotImplementedError(
                f"iceberg_py: equality_ids {missing} not in the current "
                "schema (dropped-column deletes)"
            )
        sub = {"fields": [fields_by_id[i] for i in ids]}
        cols = [fields_by_id[i]["name"] for i in ids]
        ddl = _iceberg_schema_to_ddl(sub)
        dmap = spark.createDataFrame(
            [(p, s) for p, s, _ in files], "__mr_df string, __mr_eseq long"
        )
        dele = (
            spark.read.schema(ddl).parquet(*[p for p, _, _ in files])
            .withColumn("__mr_dfp", rowlevel.strip_scheme(F.col("_metadata.file_path")))
            .join(F.broadcast(dmap), F.col("__mr_dfp") == F.col("__mr_df"), "inner")
            .select(
                *[F.col(c).alias(f"__mr_eq_{c}") for c in cols],
                F.col("__mr_eseq"),
            )
            .distinct()
        )
        if sum(r for _, _, r in files) <= _DELETE_BROADCAST_ROWS:
            dele = F.broadcast(dele)
        cond = src["__mr_dseq"] < dele["__mr_eseq"]
        for c in cols:
            cond = cond & src[c].eqNullSafe(dele[f"__mr_eq_{c}"])
        src = src.join(dele, cond, "left_anti")
    return src.drop("__mr_dseq")


def _gate_name_alternates(meta: dict, ice_schema: dict, what: str) -> None:
    """Operators that hand data files to a by-NAME consumer they do
    not control (the Delta log after a migration; the stream reader's
    executor-side pyarrow column list) cannot resolve historical
    column names — refuse loudly on tables whose name mapping carries
    real alternates instead of silently NULLing one file era.
    (compact_iceberg_files rewrites everything under current names and
    clears the ambiguity.)"""
    nm = _name_mapping(meta)
    if not nm:
        return
    for f in ice_schema["fields"]:
        if any(n != f["name"] for n in nm.get(f["id"], [])):
            raise NotImplementedError(
                f"{what}: table carries name-mapping alternates for "
                f"column {f['name']!r} (a rename over field-id-less "
                "files); compact_iceberg_files first to rewrite under "
                "current names"
            )


def _current_schema(meta: dict, snap: dict) -> dict:
    """The table's CURRENT schema (what live reads and rewrites render
    under — a metadata-only rename bumps it without a snapshot), with
    the snapshot's schema as the fallback."""
    for s in meta.get("schemas") or []:
        if s.get("schema-id") == meta.get("current-schema-id", 0):
            return s
    return _schema_for_snapshot(meta, snap)


def _mapped_parquet_scan(
    spark: SparkSession, meta: dict, ice_schema: dict, files
) -> DataFrame:
    """Native parquet scan of ``files`` rendered under ``ice_schema``,
    resolving spec name mapping: data files without parquet field ids
    (all Spark-written files) may carry a field under a HISTORICAL
    column name after a rename — the scan widens to every alternate
    name and coalesces back to the current one. One scan, no per-file
    branching; ``_metadata`` columns stay resolvable on the result.
    EVERY consumer that reads table data files must come through here
    (plain reads, change feeds, and the COW rewrite/delete victim
    scans — a by-name-only read silently NULLs the renamed column for
    one era of files)."""
    schema = StructType.fromDDL(_iceberg_schema_to_ddl(ice_schema))
    nm = _name_mapping(meta)
    alt_names: dict[str, list[str]] = {}
    if nm:
        cur_names = {f["name"] for f in ice_schema["fields"]}
        for f in ice_schema["fields"]:
            alts = [n for n in nm.get(f["id"], []) if n != f["name"]]
            for a in alts:
                if a in cur_names:
                    raise NotImplementedError(
                        f"name mapping aliases {a!r} onto an existing "
                        "current column — ambiguous by-name resolution"
                    )
            if alts:
                alt_names[f["name"]] = alts
    if not alt_names:
        return spark.read.schema(schema).parquet(*files)
    by_name = {fld.name: fld for fld in schema.fields}
    wide = StructType(
        list(schema.fields)
        + [
            StructField(a, by_name[cur].dataType, True)
            for cur, alts in alt_names.items()
            for a in alts
        ]
    )
    df = spark.read.schema(wide).parquet(*files)
    return df.withColumns(
        {
            cur: F.coalesce(F.col(cur), *[F.col(a) for a in alts])
            for cur, alts in alt_names.items()
        }
    ).drop(*[a for alts in alt_names.values() for a in alts])


def read_iceberg_py(
    spark: SparkSession,
    table: str,
    snapshot_id: int | None = None,
    predicates=None,
) -> DataFrame:
    """Read an Iceberg table at the current (or a pinned) snapshot:
    metadata plane on the driver, then a plain NATIVE parquet scan
    over the live data-file set (module docstring), with v2
    positional AND equality deletes applied as merge-on-read
    anti-joins when the snapshot carries them (the shared
    ``__mr_fp``/``__mr_pos`` row ids are computed once, on the scan
    relation, where ``_metadata`` resolves). ``predicates`` engages
    partition/bounds metadata pruning (see ``scan_plan_for_snapshot``)
    — INCLUSIVE: the caller still applies the full row filter to the
    returned frame; pruning only removes provably-dead file IO."""
    meta = load_table_metadata(table)
    if meta.get("format-version", 1) > 2:
        raise NotImplementedError(
            f"iceberg_py: format-version {meta['format-version']} > 2"
        )
    snap = _pick_snapshot(meta, snapshot_id)
    # current reads render under the table's CURRENT schema (a
    # metadata-only column rename adds no snapshot, so the head
    # snapshot's schema-id can lag); pinned reads keep snapshot
    # schemas for time travel
    ice_schema = (
        _current_schema(meta, snap)
        if snapshot_id is None
        else _schema_for_snapshot(meta, snap)
    )
    schema = StructType.fromDDL(_iceberg_schema_to_ddl(ice_schema))
    plan = scan_plan_for_snapshot(table, meta, snap, predicates=predicates)
    if not plan["data_files"]:
        return spark.createDataFrame([], schema)
    df = _mapped_parquet_scan(spark, meta, ice_schema, plan["data_files"])
    if not plan["delete_files"] and not plan["eq_deletes"]:
        return df
    src = df.withColumns(
        {
            "__mr_fp": rowlevel.strip_scheme(F.col("_metadata.file_path")),
            "__mr_pos": F.col("_metadata.row_index"),
        }
    )
    if plan["delete_files"]:
        dele = _pos_delete_frame(spark, plan)
        src = src.join(
            dele,
            (src["__mr_fp"] == dele["__mr_del_fp"])
            & (src["__mr_pos"] == dele["__mr_del_pos"]),
            "left_anti",
        )
    if plan["eq_deletes"]:
        src = _apply_equality_deletes(spark, src, plan, ice_schema)
    return src.drop("__mr_fp", "__mr_pos")


# --------------------------------------------------------------------
# fixture writer (spec-layout table so the read path parses the real thing)
# --------------------------------------------------------------------

_FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
    ],
}

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY_SCHEMA}],
            "field-id": 507,
        },
    ],
}

_ICE_TO_AVRO = {"int": "int", "long": "long", "string": "string", "date": "int"}

_BOUNDS_KV_SCHEMA = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "kv_bound",
        "fields": [
            {"name": "key", "type": "int", "field-id": 117},
            {"name": "value", "type": "bytes", "field-id": 118},
        ],
    },
}


def _entry_schema_for_spec(spec_value_types: list[tuple[str, str]]) -> dict:
    """The manifest-entry Avro schema for a table whose default spec
    carries ``[(field_name, partition value iceberg type)]`` — the
    spec's r102 ``partition`` record plus the k/v-array
    ``lower_bounds``/``upper_bounds`` maps (Iceberg encodes manifest
    maps as key/value record arrays). Empty spec → no partition field
    (byte-compatible with the pre-partitioning manifests)."""
    data_file_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        {
            "name": "equality_ids",
            "type": ["null", {"type": "array", "items": "int"}],
            "field-id": 135,
        },
        {
            "name": "lower_bounds",
            "type": ["null", _BOUNDS_KV_SCHEMA],
            "field-id": 125,
        },
        {
            "name": "upper_bounds",
            "type": ["null", _BOUNDS_KV_SCHEMA],
            "field-id": 128,
        },
    ]
    if spec_value_types:
        part_fields = [
            {
                "name": name,
                "type": ["null", _ICE_TO_AVRO[vt]],
                "field-id": 1000 + i,
            }
            for i, (name, vt) in enumerate(spec_value_types)
        ]
        data_file_fields.insert(
            2,
            {
                "name": "partition",
                "field-id": 102,
                "type": {"type": "record", "name": "r102", "fields": part_fields},
            },
        )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": data_file_fields,
                },
            },
        ],
    }


def _spark_to_iceberg_type(t: str) -> str:
    inv = {v: k for k, v in _ICE_TO_SPARK.items()}
    if t in inv:
        return inv[t]
    if t.startswith("decimal"):
        return t
    raise NotImplementedError(f"iceberg_py writer: Spark type {t!r}")


def _footer_bounds(md) -> dict[str, tuple]:
    """{column: (min, max)} from a parquet footer, aggregated across
    row groups (values normalized to the manifest grid: µs for
    timestamps, day ordinals for dates). Strings are excluded: writers
    may TRUNCATE physical string stats, and a truncated max
    understates the upper bound."""
    import datetime as _dt

    def norm(v):
        if isinstance(v, _dt.datetime):
            return int(
                (v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1))
                / _dt.timedelta(microseconds=1)
            )
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return v

    return {
        n: (norm(lo), norm(hi))
        for n, (lo, hi, _nulls) in lakecommit.footer_ranges(md, (bytes, str)).items()
    }


def _data_file(f: lakecommit.StagedFile, content: int) -> dict:
    """Spec-shape data_file descriptor of a staged file. It carries
    ``_bounds_by_name`` (column → (min, max) python values from the
    footer) which ``_build_manifest_entries`` serializes into the
    manifest's lower/upper_bounds once field ids are resolved."""
    return {
        "file_path": f.path,
        "file_format": "PARQUET",
        "record_count": f.meta.num_rows,
        "file_size_in_bytes": os.path.getsize(f.path),
        "content": content,
        "_bounds_by_name": _footer_bounds(f.meta),
    }


def _spec_field_name(col: str, kind: str) -> str:
    if kind == "identity":
        return col
    return f"{col}_{'trunc' if kind == 'truncate' else kind}"


def _stage_parquet_files(
    spark_df: DataFrame,
    table: str,
    prefix: str,
    distribute: bool = False,
    partition_by: list[tuple[str, str]] | None = None,
    content: int = 0,
) -> list[dict]:
    """Stage ``spark_df`` (``lakecommit.stage_parquet``) flat into
    ``data/`` under collision-free ``<prefix>-<token>-<part>`` names
    and return data_file descriptors (``_data_file``).

    ``partition_by`` (``[(column, transform)]``) computes each spec
    field's partition value as a derived ``__p{i}`` column (spec
    transforms — see iceberg_transforms; bucket values come from the
    Arrow-batched murmur3 UDF, everything else stays whole-stage
    codegen), writes with ``partitionBy`` so every data file holds
    exactly one partition tuple, and recovers the tuple from the
    hive-layout directory names into the descriptor's ``partition``
    (by spec field name). The derived columns are dropped by
    ``partitionBy`` itself; the SOURCE columns stay in the data files
    (hidden partitioning — the spec's whole point).

    ``distribute=True`` is Iceberg's ``write.distribution-mode=hash``:
    an AQE REBALANCE (on the partition-value columns) before the
    write, so each partition tuple lands in one right-sized task
    instead of appearing once per upstream task (a no-shuffle
    ``partitionBy`` emits tasks x tuples files — a rewrite that read N
    small files re-emits ~N small files forever). AQE owns the sizing,
    so the same code coalesces a toy rewrite to one file per tuple and
    SPLITS an oversized tuple at the advisory partition size at
    100 TB. Callers whose layout IS the point (compaction's out_files
    contract, range-clustered rewrites) keep the default."""
    import urllib.parse

    from map_reduce_spark.sources.iceberg_transforms import (
        parse_transform,
        transform_column,
        transform_result_type,
    )

    dtypes = dict(spark_df.dtypes)
    fields = {}  # __p{i} -> (spec field name, value type)
    out = spark_df
    for i, (col, transform) in enumerate(partition_by or []):
        kind, arg = parse_transform(transform)
        ice_t = _spark_to_iceberg_type(dtypes[col])
        vt = transform_result_type(kind, ice_t)
        pexpr = transform_column(col, kind, arg, ice_t)
        if vt == "string":
            # Hive layout maps BOTH null and '' to
            # __HIVE_DEFAULT_PARTITION__; recovering the tuple from the
            # directory name would then stamp partition=None on a file
            # of ''-valued rows, and the reader's null-implies-prune
            # rule drops it for col = '' — silent row loss. Prefix
            # every non-null string value with 'v' at stage time
            # (concat propagates null), so '' stages as 'v' and only
            # true nulls land in the default dir; parse_val strips it.
            pexpr = F.concat(F.lit("v"), pexpr)
        out = out.withColumn(f"__p{i}", pexpr)
        fields[f"__p{i}"] = (_spec_field_name(col, kind), vt)

    def parse_val(raw: str, vt: str):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        raw = urllib.parse.unquote(raw)
        if vt in ("int", "long", "date"):
            return int(raw)
        # strip the stage-time 'v' disambiguation prefix (see above)
        return raw[1:] if vt == "string" else raw

    data_dir = os.path.join(table, "data")
    staged = lakecommit.stage_parquet(
        out,
        table,
        lambda rel: os.path.join(
            data_dir, f"{prefix}-{lakecommit.token()}-{os.path.basename(rel)}"
        ),
        list(fields),
        distribute,
    )
    descs = []
    for f in staged:
        d = _data_file(f, content)
        if partition_by:
            d["partition"] = {
                fields[k][0]: parse_val(v, fields[k][1]) for k, v in f.parts.items()
            }
        descs.append(d)
    return descs


def _evolve_iceberg_schemas(meta: dict | None, dtypes) -> tuple[list[dict], int, int]:
    """Schema evolution with HISTORY: returns (schemas, current_schema_id,
    last_column_id). The incoming frame may add new columns (appended
    with fresh field ids under a new schema-id — prior schemas stay in
    the list so snapshot time travel renders each snapshot under ITS
    schema) or use a subset (old files simply lack the column and read
    as NULL). Type changes are refused loudly, mirroring
    ``delta_py.evolve_schema_for_append``."""
    incoming = [(n, _spark_to_iceberg_type(t)) for n, t in dtypes]
    if meta is None:
        fields = [
            {"id": i + 1, "name": n, "required": False, "type": t}
            for i, (n, t) in enumerate(incoming)
        ]
        return [{"type": "struct", "schema-id": 0, "fields": fields}], 0, len(fields)
    schemas = list(meta.get("schemas") or ([meta["schema"]] if "schema" in meta else []))
    cur_id = meta.get("current-schema-id", schemas[-1].get("schema-id", 0))
    cur = next(s for s in schemas if s.get("schema-id") == cur_id)
    by_name = {f["name"]: f for f in cur["fields"]}
    last_col = meta.get(
        "last-column-id",
        max((f["id"] for s in schemas for f in s["fields"]), default=0),
    )
    added = []
    for n, t in incoming:
        have = by_name.get(n)
        if have is None:
            added.append((n, t))
        elif have["type"] != t:
            raise TypeError(
                f"iceberg_py: column {n!r} type change {have['type']} -> {t} "
                "is not schema EVOLUTION; rewrite the table"
            )
    if not added:
        return schemas, cur_id, last_col
    # a NEW column must not reuse a name the name mapping still binds
    # to ANOTHER field — field-id-less files carrying that name would
    # become ambiguous between the old field and the new one (silent
    # misreads either way); refuse loudly at evolution time
    nm = _name_mapping(meta) if meta else None
    if nm:
        cur_ids = {f["name"]: f["id"] for f in cur["fields"]}
        for n, _t in added:
            owners = [fid for fid, names in nm.items() if n in names]
            if any(fid != cur_ids.get(n) for fid in owners):
                raise ValueError(
                    f"iceberg_py: new column {n!r} collides with a "
                    "name-mapping alternate of an existing field (a "
                    "historical name of a renamed column) — pick a "
                    "different name"
                )
    new_fields = list(cur["fields"])
    for n, t in added:
        last_col += 1
        new_fields.append({"id": last_col, "name": n, "required": False, "type": t})
    new_id = max(s.get("schema-id", 0) for s in schemas) + 1
    schemas = schemas + [{"type": "struct", "schema-id": new_id, "fields": new_fields}]
    return schemas, new_id, last_col


def _load_meta_versioned(table: str) -> tuple[dict | None, int]:
    """(metadata dict, metadata version) of the live table, or
    (None, 0) for a not-yet-created one."""
    mdir = os.path.join(table, "metadata")
    try:
        versions = [
            int(f[1:].split(".")[0])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".metadata.json")
        ]
    except FileNotFoundError:
        return None, 0
    if not versions:
        return None, 0
    v = max(versions)
    with open(os.path.join(mdir, f"v{v}.metadata.json")) as fh:
        return json.load(fh), v


def _try_publish_metadata(table: str, version: int, new_meta: dict) -> bool:
    """Put-if-absent publish of ``v{version}.metadata.json``
    (``lakecommit.publish_if_absent``). The version hint is advisory
    (readers take the max on-disk version) and refreshed best-effort
    after a win."""
    mdir = os.path.join(table, "metadata")
    path = os.path.join(mdir, f"v{version}.metadata.json")
    if not lakecommit.publish_if_absent(path, json.dumps(new_meta, indent=1)):
        return False
    hint = os.path.join(mdir, "version-hint.text")
    tmp = hint + f".tmp{lakecommit.token()}"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, hint)
    return True


def _default_spec_fields(meta: dict | None) -> list[dict] | None:
    """The stored fields of the table's default partition spec."""
    sid = (meta or {}).get("default-spec-id", 0)
    return next(
        (
            s["fields"]
            for s in (meta or {}).get("partition-specs") or []
            if s.get("spec-id") == sid
        ),
        None,
    )


def _default_partition_by(
    meta: dict | None, ice_schema: dict | None = None
) -> list[tuple[str, str]] | None:
    """The default spec as ``[(column, transform)]`` with column names
    from ``ice_schema`` (default: the table's current schema), or None
    for an unpartitioned (or not yet created) table."""
    stored = _default_spec_fields(meta)
    if not stored:
        return None
    if ice_schema is None:
        ice_schema = next(
            s
            for s in meta.get("schemas") or []
            if s.get("schema-id") == meta.get("current-schema-id", 0)
        )
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    return [(by_id[f["source-id"]], f["transform"]) for f in stored]


def _resolve_spec(
    meta: dict | None,
    partition_by: list[tuple[str, str]] | None,
    schema_fields: list[dict],
) -> list[dict]:
    """The table's default partition-spec fields (metadata JSON shape:
    source-id/field-id/name/transform). A new table (``meta`` None)
    takes ``partition_by``; an existing table's stored spec — empty for
    an unpartitioned one — is authoritative and a conflicting
    ``partition_by`` is refused loudly: partition SPEC EVOLUTION is
    ``evolve_iceberg_partition_spec``'s job, not an append's."""
    from map_reduce_spark.sources.iceberg_transforms import parse_transform

    by_name = {f["name"]: f for f in schema_fields}
    if meta is not None:
        stored = _default_spec_fields(meta) or []
        if partition_by is not None:
            by_id = {f["id"]: f["name"] for f in schema_fields}
            want = [
                (by_id.get(f["source-id"]), f["transform"]) for f in stored
            ]
            if [(c, t) for c, t in partition_by] != want:
                raise NotImplementedError(
                    "iceberg_py: partition-spec evolution is not supported; "
                    f"table spec is {want}, append asked for {partition_by}"
                )
        return stored
    if not partition_by:
        return []
    fields = []
    for i, (col, transform) in enumerate(partition_by):
        kind, _ = parse_transform(transform)
        src = by_name.get(col)
        if src is None:
            raise KeyError(f"partition source column {col!r} not in schema")
        fields.append(
            {
                "source-id": src["id"],
                "field-id": 1000 + i,
                "name": _spec_field_name(col, kind),
                "transform": transform,
            }
        )
    return fields


def _spec_value_types(
    spec_fields: list[dict], schema_fields: list[dict]
) -> list[tuple[str, str]]:
    """(spec field name, partition value type) for each spec field."""
    from map_reduce_spark.sources.iceberg_transforms import (
        parse_transform,
        transform_result_type,
    )

    by_id = {f["id"]: f for f in schema_fields}
    return [
        (
            f["name"],
            transform_result_type(
                parse_transform(f["transform"])[0], by_id[f["source-id"]]["type"]
            ),
        )
        for f in spec_fields
    ]


def _build_manifest_entries(
    entry_descs: list[dict],
    schema_by_name: dict,
    snap_id: int,
    carry_partition: bool,
) -> list[dict]:
    """Manifest entries from staged descriptors: serialize the footer
    bounds (``_bounds_by_name``) into field-id-keyed k/v arrays and
    strip staging-private keys."""
    from map_reduce_spark.sources.iceberg_transforms import sv_serialize

    entries = []
    for d in entry_descs:
        df_rec = {k: v for k, v in d.items() if not k.startswith("_")}
        bounds = d.get("_bounds_by_name") or {}
        lo_kv, hi_kv = [], []
        for col, (mn, mx) in sorted(bounds.items()):
            f = schema_by_name.get(col)
            if f is None or not isinstance(f["type"], str):
                continue
            try:
                lo_kv.append({"key": f["id"], "value": sv_serialize(mn, f["type"])})
                hi_kv.append({"key": f["id"], "value": sv_serialize(mx, f["type"])})
            except NotImplementedError:
                continue
        df_rec["lower_bounds"] = lo_kv or None
        df_rec["upper_bounds"] = hi_kv or None
        if not carry_partition:
            df_rec.pop("partition", None)
        entries.append({"status": 1, "snapshot_id": snap_id, "data_file": df_rec})
    return entries


def _partition_summaries(
    entries: list[dict], spec_value_types: list[tuple[str, str]]
) -> list[dict]:
    """Manifest-list field summaries over the entries' partition
    tuples (per spec field: contains_null + value bounds)."""
    from map_reduce_spark.sources.iceberg_transforms import sv_serialize

    summaries = []
    for name, vt in spec_value_types:
        vals = [
            e["data_file"]["partition"].get(name)
            for e in entries
            if e["data_file"].get("partition")
        ]
        nn = [v for v in vals if v is not None]
        summaries.append(
            {
                "contains_null": any(v is None for v in vals),
                "lower_bound": sv_serialize(min(nn), vt) if nn else None,
                "upper_bound": sv_serialize(max(nn), vt) if nn else None,
            }
        )
    return summaries


def _txn_ledger(meta: dict | None, app_id: str) -> int:
    """Highest epoch this appId has committed to the table, tracked in
    snapshot summaries (Iceberg has no txn action; summary properties
    are the spec's extension point) — -1 for never."""
    best = -1
    for s in (meta.get("snapshots") if meta else None) or []:
        sm = s.get("summary") or {}
        if sm.get("mr-app-id") == app_id:
            best = max(best, int(sm.get("mr-epoch", -1)))
    return best


def _publish_snapshot(
    table: str,
    base: tuple[dict, int],
    carried: list[dict],
    descs: list[dict],
    content: int,
    summary: dict,
    changes: dict | None = None,
    scratch: list[str] | None = None,
):
    """The one snapshot writer every commit goes through: ONE
    put-if-absent attempt at ``v{version + 1}.metadata.json`` on top of
    the planned ``base = (meta, version)``.

    In order: (1) a manifest of ``content`` (0 data, 1 deletes) holding
    ``descs`` — entries carry the footer bounds and, for data manifests
    of a partitioned table, the partition tuple, and its manifest-list
    row carries the per-spec-field value summaries (no manifest when
    ``descs`` is empty); (2) the manifest list: the ``carried`` rows
    plus that new row; (3) the new metadata, ``dict(meta, **changes)``
    with the snapshot appended — every key the caller does not change
    (uuid, location, sort orders, properties, snapshot-log, spec
    history) carries over; (4) the publish. The schema and default spec
    are read AFTER ``changes``, so an append's evolved schema is the one
    its bounds resolve against.

    Returns the new snapshot id, or ``lakecommit.LOST`` after removing
    this attempt's manifests and the caller's ``scratch`` files."""
    meta, version = base
    snap_id = version + 1
    new_meta = dict(meta, **(changes or {}))
    schema_id = new_meta.get("current-schema-id", 0)
    schema = next(s for s in new_meta["schemas"] if s.get("schema-id") == schema_id)
    spec_fields = _default_spec_fields(new_meta) or []
    carry_partition = content == 0 and bool(spec_fields)
    value_types = (
        _spec_value_types(spec_fields, schema["fields"]) if carry_partition else []
    )
    av = make_generic_avro()
    mdir = os.path.join(table, "metadata")
    token = lakecommit.token()
    scratch = list(scratch or [])
    rows = list(carried)
    entries = _build_manifest_entries(
        descs, {f["name"]: f for f in schema["fields"]}, snap_id, carry_partition
    )
    if entries:
        manifest = os.path.join(mdir, f"manifest-{snap_id}-{token}.avro")
        av.write_file(manifest, _entry_schema_for_spec(value_types), entries)
        scratch.append(manifest)
        rows.append(
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                # the entries and summaries were built under the DEFAULT
                # spec — record THAT id, not 0, or a post-evolution
                # reader prunes these summaries under spec 0's field
                # order/transforms (silent manifest drops)
                "partition_spec_id": new_meta.get("default-spec-id", 0),
                "content": content,
                "added_snapshot_id": snap_id,
                "partitions": _partition_summaries(entries, value_types)
                if carry_partition
                else None,
            }
        )
    mlist = os.path.join(mdir, f"snap-{snap_id}-{token}.avro")
    av.write_file(mlist, _MANIFEST_LIST_SCHEMA, rows)
    scratch.append(mlist)
    new_meta["last-sequence-number"] = snap_id
    new_meta["current-snapshot-id"] = snap_id
    new_meta["snapshots"] = (meta.get("snapshots") or []) + [
        {
            "snapshot-id": snap_id,
            "sequence-number": snap_id,
            "timestamp-ms": 0,
            "manifest-list": mlist,
            "schema-id": schema_id,
            "summary": summary,
        }
    ]
    if _try_publish_metadata(table, snap_id, new_meta):
        return snap_id
    lakecommit.discard(scratch)
    return lakecommit.LOST


def _current_manifests(table: str, meta: dict) -> list[dict]:
    """The manifest-list rows of the table's current snapshot ([] for
    a table without one)."""
    if not meta.get("snapshots"):
        return []
    cur = _pick_snapshot(meta, None)
    return make_generic_avro().read_file(
        _make_localizer(table, meta)(cur["manifest-list"])
    )[1]


def _commit_snapshot(
    table: str,
    entry_descs: list[dict],
    manifest_content: int,
    operation: str,
    dtypes=None,
    partition_by: list[tuple[str, str]] | None = None,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """The optimistic loop for commits that only ADD a manifest —
    appends, stream batches, positional/equality delete files: each
    attempt re-plans against the CURRENT table state, carries every
    current manifest and publishes through ``_publish_snapshot``; a
    lost version slot retries from the winner's state. Adds never
    conflict semantically, so a blind retry is always safe — exactly
    Iceberg's own fast-append path (the staged data files keep their
    collision-free names and re-wrap in the next attempt's manifest).

    What stays here: the ``txn = (app id, epoch)`` ledger replay check
    (a replay orphans the staged files and commits nothing, returning
    None), schema evolution for appends (``dtypes``; ``schemas``,
    ``current-schema-id`` and ``last-column-id`` go in as changes), the
    spec check against ``partition_by``, and table creation — the only
    place the metadata skeleton (uuid, location, spec list, sort
    orders) is built. A commit with nothing staged, no ``txn`` and no
    schema change on an existing table writes nothing and returns the
    current snapshot id (so does a delete that matched no row)."""
    os.makedirs(os.path.join(table, "metadata"), exist_ok=True)
    summary = {"operation": operation}
    if txn is not None:
        summary.update({"mr-app-id": txn[0], "mr-epoch": str(txn[1])})

    def attempt():
        meta, version = _load_meta_versioned(table)
        if txn is not None and _txn_ledger(meta, txn[0]) >= txn[1]:
            # post-commit replay (possibly our own appId's previous
            # incarnation winning a race mid-loop): orphan this
            # attempt's staged data files, commit nothing
            lakecommit.discard(d["file_path"] for d in entry_descs)
            return None
        changes = {}
        if dtypes is not None:
            schemas, cur_id, last_col = _evolve_iceberg_schemas(meta, dtypes)
            changes = {
                "schemas": schemas,
                "current-schema-id": cur_id,
                "last-column-id": last_col,
            }
            fields = next(s for s in schemas if s.get("schema-id") == cur_id)["fields"]
            spec_fields = _resolve_spec(meta, partition_by, fields)
            if meta is None:
                meta = {
                    "format-version": 2,
                    "table-uuid": hashlib.md5(
                        os.path.abspath(table).encode()
                    ).hexdigest(),
                    # stored paths share this prefix; the localizer
                    # re-anchors it under the current root after a
                    # rename/clone, so later commits never rewrite it
                    "location": table,
                    "last-updated-ms": 0,
                    "default-spec-id": 0,
                    "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
                    "last-partition-id": 999 + len(spec_fields),
                    "default-sort-order-id": 0,
                    "sort-orders": [{"order-id": 0, "fields": []}],
                }
        elif meta is None:
            raise ValueError("cannot commit deletes to a table with no metadata")
        if (
            txn is None
            and not entry_descs
            and meta.get("snapshots")
            and all(meta.get(k) == v for k, v in changes.items())
        ):
            # nothing staged, no epoch to record, no schema change: the
            # current snapshot already is this commit's result
            return meta["current-snapshot-id"]
        return _publish_snapshot(
            table,
            (meta, version),
            _current_manifests(table, meta),
            entry_descs,
            manifest_content,
            summary,
            changes,
        )

    return lakecommit.retry_commit(f"iceberg {operation} on {table!r}", attempt)


def append_iceberg_snapshot(
    spark_df: DataFrame,
    table: str,
    partition_by: list[tuple[str, str]] | None = None,
) -> int:
    """Optimistic append: stage ``spark_df`` as parquet data files,
    wrap them in a spec-layout manifest + manifest list, and publish
    the next ``v{N}.metadata.json`` via the put-if-absent commit loop
    (``_commit_snapshot``) — concurrent appenders all land, in some
    serial order, exactly like ``delta_py.write_delta_py``. Schema
    evolution preserves prior schemas in metadata so snapshot time
    travel renders each snapshot under its own schema.

    ``partition_by`` = ``[(column, transform)]`` with transforms
    ``identity``/``bucket[N]``/``truncate[W]``/``year``/``month``/
    ``day``/``hour`` (iceberg_transforms) creates a PARTITIONED table:
    data files are split per partition tuple, manifest entries carry
    the tuple + footer bounds, and the manifest list carries value
    summaries — the metadata the reader's predicate pruning skips on.
    Appends to an existing partitioned table inherit its spec (pass
    None); a different spec is refused (spec evolution unclaimed)."""
    if partition_by is None:
        partition_by = _default_partition_by(_load_meta_versioned(table)[0])
    descs = _stage_parquet_files(spark_df, table, "s", partition_by=partition_by)
    return _commit_snapshot(
        table, descs, manifest_content=0, operation="append",
        dtypes=spark_df.dtypes, partition_by=partition_by,
    )


def commit_positional_deletes(
    spark: SparkSession, table: str, predicate, out_files: int = 1
) -> int:
    """Merge-on-read DELETE: write v2 positional-delete files for the
    rows matching ``predicate`` (TRUE only — NULL keeps the row, SQL
    semantics) and commit them as a DELETE manifest. No data file is
    rewritten — at 100 TB a delete touches O(deleted rows) bytes of
    new delete files and one manifest, never the table.

    The (file, pos) pairs come from the native ``_metadata`` columns
    of a plain scan, written DISTRIBUTED (sorted by file_path, pos
    within each output file, per the spec) — the driver only ever sees
    file-granularity descriptors. Rows already deleted by prior delete
    files are anti-joined out first so re-deletes stay idempotent.
    Returns the committed snapshot id (the current one when nothing
    matched)."""
    meta = load_table_metadata(table)
    snap = _pick_snapshot(meta, None)
    plan = scan_plan_for_snapshot(table, meta, snap)
    if not plan["data_files"]:
        return snap["snapshot-id"]
    src = _mapped_parquet_scan(
        spark, meta, _current_schema(meta, snap), plan["data_files"]
    ).withColumns(
        {
            "__mr_fp": rowlevel.strip_scheme(F.col("_metadata.file_path")),
            "__mr_pos": F.col("_metadata.row_index"),
        }
    )
    if plan["delete_files"]:
        dele = _pos_delete_frame(spark, plan)
        src = src.join(
            dele,
            (src["__mr_fp"] == dele["__mr_del_fp"])
            & (src["__mr_pos"] == dele["__mr_del_pos"]),
            "left_anti",
        )
    local_to_stored = spark.createDataFrame(
        [(v, k) for k, v in sorted(plan["stored_to_local"].items())],
        "local string, stored string",
    )
    hits = (
        src.filter(F.coalesce(predicate, F.lit(False)))
        .join(F.broadcast(local_to_stored), F.col("__mr_fp") == F.col("local"), "inner")
        .select(F.col("stored").alias("file_path"), F.col("__mr_pos").alias("pos"))
        .repartitionByRange(max(out_files, 1), "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
    )
    descs = _stage_parquet_files(hits, table, "delete", content=1)
    return _commit_snapshot(
        table, descs, manifest_content=1, operation="delete", dtypes=None
    )


def expire_snapshots(table: str, keep_last: int = 1) -> dict:
    """Snapshot expiry (the vacuum twin of ``delta_py.vacuum_delta``):
    keep the newest ``keep_last`` snapshots (always including the
    current one), publish metadata without the expired ones, then
    physically remove every manifest list, manifest, and data/delete
    file referenced ONLY by expired snapshots. Runs through the same
    optimistic publish, so a concurrent append either lands before the
    expiry (and is kept — it is newest) or retries after it."""
    av = make_generic_avro()

    def _refs(meta: dict, snaps: list[dict]) -> set[str]:
        _local = _make_localizer(table, meta)
        out: set[str] = set()
        for s in snaps:
            mlist = os.path.abspath(_local(s["manifest-list"]))
            out.add(mlist)
            _, manifests = av.read_file(mlist)
            for m in manifests:
                mpath = os.path.abspath(_local(m["manifest_path"]))
                out.add(mpath)
                _, entries = av.read_file(mpath)
                for e in entries:
                    out.add(os.path.abspath(_local(e["data_file"]["file_path"])))
        return out

    def attempt():
        meta, version = _load_meta_versioned(table)
        if meta is None:
            raise FileNotFoundError(f"no Iceberg metadata at {table!r}")
        snaps = sorted(meta.get("snapshots") or [], key=lambda s: s["snapshot-id"])
        cur_id = meta.get("current-snapshot-id")
        kept = snaps[-max(keep_last, 1):]
        if not any(s["snapshot-id"] == cur_id for s in kept):
            kept = [s for s in snaps if s["snapshot-id"] == cur_id] + kept
        expired = [s for s in snaps if s not in kept]
        if not expired:
            return {"expired_snapshots": 0, "removed_files": 0, "version": version}
        new_meta = dict(meta, snapshots=kept)
        if not _try_publish_metadata(table, version + 1, new_meta):
            return lakecommit.LOST
        orphans = _refs(meta, expired) - _refs(meta, kept)
        removed = 0
        for p in sorted(orphans):
            try:
                os.remove(p)
                removed += 1
            except FileNotFoundError:
                pass
        return {
            "expired_snapshots": len(expired),
            "removed_files": removed,
            "version": version + 1,
        }

    return lakecommit.retry_commit(f"expire_snapshots on {table!r}", attempt)


def iceberg_files_table(
    spark: SparkSession, table: str, snapshot_id: int | None = None
) -> DataFrame:
    """The ``tbl.files`` METADATA TABLE: one row per live data file of
    the (current or pinned) snapshot — file_path, record_count,
    file_size_in_bytes, spec partition values as a map — built from
    the manifest plane alone (no data file opened). The operational
    surface real engines expose for layout debugging, and the
    bookkeeping the oracle can cross-examine: per-partition
    record_count sums must equal the DATA."""
    av = make_generic_avro()
    meta = load_table_metadata(table)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg metadata at {table!r}")
    snap = _pick_snapshot(meta, snapshot_id)
    _local = _make_localizer(table, meta)
    rows = []
    _, manifests = av.read_file(_local(snap["manifest-list"]))
    for m in manifests:
        if m.get("content", 0) != 0:
            continue  # delete manifests: not data files
        _, entries = av.read_file(_local(m["manifest_path"]))
        for e in entries:
            if e.get("status") == 2:
                continue
            dfd = e["data_file"]
            if (dfd.get("content") or 0) != 0:
                continue
            part = dfd.get("partition") or {}
            rows.append(
                (
                    _local(dfd["file_path"]),
                    int(dfd.get("record_count") or 0),
                    int(dfd.get("file_size_in_bytes") or 0),
                    {str(k): (None if v is None else str(v)) for k, v in part.items()},
                )
            )
    return spark.createDataFrame(
        rows,
        "file_path string, record_count long, file_size_in_bytes long, "
        "partition map<string,string>",
    )


def iceberg_snapshots_table(spark: SparkSession, table: str) -> DataFrame:
    """The ``tbl.snapshots`` metadata table: snapshot id, sequence
    number, schema id, operation, manifest-list path."""
    meta = load_table_metadata(table)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg metadata at {table!r}")
    rows = [
        (
            int(s["snapshot-id"]),
            int(s.get("sequence-number", s["snapshot-id"])),
            int(s.get("schema-id", 0)),
            str((s.get("summary") or {}).get("operation", "append")),
            str(s.get("manifest-list", "")),
        )
        for s in meta.get("snapshots") or []
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, sequence_number long, schema_id long, "
        "operation string, manifest_list string",
    )


@register(
    "iceberg_files_metadata",
    oracle=f"""
SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) AS year_ord,
       CAST(COUNT(*) AS BIGINT) AS rec_count
FROM orders
GROUP BY year_ord
""",
)
def iceberg_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-examine the manifest plane against the data: the files
    metadata table of the partitioned orders fixture, with
    record_count summed per hidden-partition year, must equal the
    relational per-year counts — a manifest that under- or
    over-counts any file, drops one, or stamps the wrong partition
    tuple breaks the hash. Pure metadata read: no data file opens."""
    table = ensure_iceberg_part_fixture(spark, sf_dir)
    files = iceberg_files_table(spark, table)
    return (
        files.select(
            F.element_at("partition", "o_orderdate_year").cast("long").alias(
                "year_ord"
            ),
            "record_count",
        )
        .groupBy("year_ord")
        .agg(F.sum("record_count").alias("rec_count"))
    )


def remove_orphan_iceberg_files(table: str) -> int:
    """Sweep data/delete files referenced by NO snapshot still in the
    table's history — the debris of lost commit races and crashed
    writers (the Iceberg twin of ``delta_py.vacuum_delta``;
    ``expire_snapshots`` only removes what EXPIRY un-references, it
    never looks for never-referenced files). Metadata-plane pass: the
    referenced set comes from every surviving snapshot's manifest
    chain; only the table's data directory is swept (metadata/ is the
    commit log — never touched). Returns the number of files removed.

    Concurrency note: a writer STAGING files for an in-flight commit
    is indistinguishable from debris — run this like real Iceberg's
    remove_orphan_files, during a quiet window (real engines add an
    age cutoff; stage-then-publish here is seconds, so the quiet
    window is the practical contract)."""
    av = make_generic_avro()
    meta = load_table_metadata(table)
    if meta is None:
        raise FileNotFoundError(f"no Iceberg metadata at {table!r}")
    _local = _make_localizer(table, meta)
    referenced: set[str] = set()
    for s in meta.get("snapshots") or []:
        mlist = os.path.abspath(_local(s["manifest-list"]))
        referenced.add(mlist)
        _, manifests = av.read_file(mlist)
        for m in manifests:
            mpath = os.path.abspath(_local(m["manifest_path"]))
            referenced.add(mpath)
            _, entries = av.read_file(mpath)
            for e in entries:
                # ALL statuses: a status=2 (deleted) entry's file is
                # still referenced by the older snapshots that added it
                referenced.add(
                    os.path.abspath(_local(e["data_file"]["file_path"]))
                )
    removed = 0
    for root, dirs, names in os.walk(table):
        if os.path.basename(root) == "metadata" or "metadata" in os.path.relpath(
            root, table
        ).split(os.sep):
            dirs[:] = []
            continue
        for d in list(dirs):
            if d.startswith(".staging-"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                dirs.remove(d)
        for name in names:
            if not name.endswith(".parquet"):
                continue
            p = os.path.abspath(os.path.join(root, name))
            if p not in referenced:
                try:
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:
                    pass
    return removed


# --------------------------------------------------------------------
# registered queries
# --------------------------------------------------------------------

_L_B8_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(l_orderkey * 10 + l_linenumber "
    "AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT)"
)


def _lineitem_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_cents"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("qty_cents"),
    )


def _li_bucket(n: int):
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % n).cast("int")


def ensure_iceberg_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A lineitem-derived Iceberg v2 table with TWO snapshots —
    snapshot 1 = md5-bucket8 < 5, snapshot 2 appends buckets 5-7 —
    under the system tmp dir, once per sf_dir, atomic-rename
    published. The read path then exercises the full metadata chain:
    version hint -> metadata.json -> manifest list (Avro) -> manifests
    (Avro) -> live parquet set."""
    dest = lakecommit.fixture_dir("iceberg", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    b8 = _li_bucket(8)
    append_iceberg_snapshot(d.filter(b8 < 5).repartition(4), tmp)
    append_iceberg_snapshot(d.filter(b8 >= 5).repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


def ensure_iceberg_renamed_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An Iceberg table whose price column was RENAMED mid-history:
    snapshot 1 lands `l_price_legacy` (Spark parquet — no embedded
    field ids), a metadata-only ``rename_iceberg_column`` moves it to
    `price_cents` recording spec name mapping, snapshot 2 appends
    under the new name. Reading it exercises the name-mapping
    resolution path on the pre-rename files."""
    dest = lakecommit.fixture_dir("iceberg_nm", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    b8 = _li_bucket(8)
    append_iceberg_snapshot(
        d.filter(b8 < 5)
        .withColumnRenamed("price_cents", "l_price_legacy")
        .repartition(4),
        tmp,
    )
    rename_iceberg_column(tmp, "l_price_legacy", "price_cents")
    append_iceberg_snapshot(d.filter(b8 >= 5).repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_name_mapping_scan",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       COUNT(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS n_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def iceberg_name_mapping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a lineitem Iceberg table across a column-rename boundary:
    the pre-rename files (62.5% of rows, field-id-less parquet under
    the legacy name) must resolve through
    ``schema.name-mapping.default`` and coalesce with the post-rename
    files into one `price_cents` column. The oracle aggregates the
    logical column over ALL rows — any file era falling out as NULLs
    flips both n_price and the sums."""
    df = read_iceberg_py(spark, ensure_iceberg_renamed_fixture(spark, sf_dir))
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.count("price_cents").alias("n_price"),
    )


@register(
    "iceberg_scan",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(SUM(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_qty_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the CURRENT snapshot of an Iceberg-resident lineitem table
    through ``io.read_iceberg`` (jar-less fallback path) and aggregate
    per return flag/status. The current snapshot is the union of both
    appends = all of lineitem, so the oracle is the plain batch SQL —
    a dropped manifest, a resurrected deleted entry, or a wrong
    snapshot pick all hash-mismatch."""
    from map_reduce_spark.io import read_iceberg

    df = read_iceberg(spark, ensure_iceberg_fixture(spark, sf_dir))
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.sum("qty_cents").alias("sum_qty_cents"),
    )


@register(
    "iceberg_snapshot_travel",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
FROM d
WHERE b8 < 5
GROUP BY l_returnflag
""",
)
def iceberg_snapshot_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-pinned read (Iceberg's time travel): snapshot 1 holds
    only the first append (md5-bucket8 < 5); rows the second snapshot
    added must NOT appear. The oracle is the first append's predicate
    itself."""
    df = read_iceberg_py(
        spark, ensure_iceberg_fixture(spark, sf_dir), snapshot_id=1
    )
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


def read_iceberg_changes(
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental snapshot-diff read (Iceberg's incremental-append
    scan): the rows added by snapshots in (from_snapshot, to_snapshot].
    The range is planned by ``make_appends_planner`` — the stream
    source's planner — from manifest entries, which carry the snapshot
    id that ADDED them, so the selection is pure metadata and the scan
    reads O(changed files), never the table. The planner's guards
    apply unchanged: a rewrite or compaction in range, an expired end
    snapshot, or an endpoint inside a rolled-back interval refuses
    with ValueError.

    Delete files: positional deletes committed INSIDE the range are
    netted out of the range's own adds (the consumer sees only the
    rows that survived the range), the merge-on-read anti-join
    restricted to the in-range file set. A range delete that targets
    PRE-range data refuses with NotImplementedError — an append-only
    feed cannot express retracting rows the consumer already ingested
    (``read_iceberg_changelog`` expresses COW rewrites); so do
    equality deletes in range."""
    meta = load_table_metadata(table)
    snap = _pick_snapshot(meta, to_snapshot)
    files = make_appends_planner(os.path.abspath(table))(
        from_snapshot, snap["snapshot-id"]
    )
    stored_to_local = {s: p for p, (c, s, _) in files.items() if c == 0}
    delete_files = sorted(p for p, (c, _, _) in files.items() if c == 1)
    if any(c == 2 for c, _, _ in files.values()):
        raise NotImplementedError(
            "iceberg_py: equality deletes in an incremental range "
            "are not supported"
        )
    range_schema = _schema_for_snapshot(meta, snap)
    if not stored_to_local:
        if delete_files:
            raise NotImplementedError(
                "iceberg_py: the range deletes rows from PRE-range data "
                "files — an append-only change feed cannot express "
                "retractions; re-read the snapshot or use a CDF engine"
            )
        return spark.createDataFrame(
            [], StructType.fromDDL(_iceberg_schema_to_ddl(range_schema))
        )
    df = _mapped_parquet_scan(
        spark, meta, range_schema, sorted(stored_to_local.values())
    )
    if delete_files:
        # deletes are only nettable when they target the range's own
        # adds; file-granularity check over the delete files' distinct
        # referenced paths (driver-side, metadata-sized)
        refs = {
            r.file_path
            for r in spark.read.schema(_POS_DELETE_DDL)
            .parquet(*delete_files)
            .select("file_path")
            .distinct()
            .collect()
        }
        outside = refs - set(stored_to_local)
        if outside:
            raise NotImplementedError(
                "iceberg_py: the range deletes rows from PRE-range data "
                f"files ({sorted(outside)[:3]}...) — an append-only "
                "change feed cannot express retractions; re-read the "
                "snapshot or use a CDF engine"
            )
        df = _apply_positional_deletes(
            spark,
            df,
            {
                "delete_files": delete_files,
                "delete_rows": sum(files[p][2] for p in delete_files),
                "stored_to_local": stored_to_local,
            },
        )
    return df


@register(
    "iceberg_changes_scan",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
FROM d
WHERE b8 >= 5
GROUP BY l_returnflag
""",
)
def iceberg_changes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption on the Iceberg fixture: the snapshot
    diff since snapshot 1 must return exactly the second append
    (md5-bucket8 >= 5) — rows the first snapshot loaded must NOT
    reappear. Together with ``delta_changes_scan`` this closes the
    incremental-consumer contract across BOTH table formats: a daily
    fold reads each drop once, at O(drop) cost, whichever format the
    corpus lives in."""
    df = read_iceberg_changes(
        spark, ensure_iceberg_fixture(spark, sf_dir), from_snapshot=1
    )
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


def read_iceberg_changelog(
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """ROW-LEVEL changelog over (from_snapshot, to_snapshot] — the
    Spark-Iceberg ``changelog`` scan contract: the table schema plus
    ``_change_type`` ('INSERT' | 'DELETE'), ``_change_ordinal`` (the
    commit's position in the range) and ``_commit_snapshot_id``.
    Where ``read_iceberg_changes`` REFUSES rewrites (append-only exact
    feed), this reader expresses them: per COW delete/overwrite
    snapshot, the net change is

        DELETEs = rows(removed files) EXCEPT ALL rows(added files)
        INSERTs = rows(added files)  EXCEPT ALL rows(removed files)

    — carried (rewritten-but-unchanged) rows cancel by multiset
    subtraction, exactly how Iceberg's own changelog reader nets COW
    commits. Cost is O(changed files) per commit, never O(table): the
    file sets come from manifest-plane diffs and only changed files
    are scanned — and planner cost for the common catch-up shape
    (runs of appends) is O(1) in the commit count: every pure-append
    commit in the range lands in ONE multi-file scan per schema era,
    with per-row ordinal/snapshot attribution attached by a broadcast
    file→commit join on ``_metadata.file_path``; only genuine COW
    rewrites plan their own exceptAll legs. Compactions ('replace',
    no logical change) contribute nothing; MOR delete-file commits
    refuse (compact first — the same gate every rewrite operator
    points at). Lineage abandoned by ``rollback_iceberg`` (the
    snapshot-log's (target, rolled-back-from] intervals) is SKIPPED —
    file-set diffs follow the surviving chain, so a rolled-back-then-
    reappended history nets no phantom rows — and a range endpoint
    inside an abandoned interval refuses loudly (its row-level
    history is off the current lineage)."""
    meta = load_table_metadata(table)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s.get("sequence-number", 0)
    )
    ids = [s["snapshot-id"] for s in snaps]
    if from_snapshot != 0 and from_snapshot not in ids:
        raise KeyError(f"from_snapshot {from_snapshot} not in table history")
    abandoned = [
        (ev["snapshot-id"], ev["rolled-back-from"])
        for ev in meta.get("snapshot-log") or []
        if ev.get("rolled-back-from") is not None
    ]

    def _is_abandoned(sid: int) -> bool:
        return any(t < sid <= h for t, h in abandoned)

    if to_snapshot is not None:
        hi = to_snapshot
    else:
        # the newest SURVIVING snapshot — after a rollback, snapshots
        # newer than the current head are abandoned, not the default
        hi = meta.get("current-snapshot-id") or ids[-1]
    if hi not in ids:
        raise KeyError(f"to_snapshot {hi} not in table history")
    for ep, word in ((from_snapshot, "from_snapshot"), (hi, "to_snapshot")):
        if ep and _is_abandoned(ep):
            raise ValueError(
                f"iceberg changelog: {word} {ep} lies in a rolled-back "
                "range — its row-level history is off the current "
                "lineage; anchor the range on surviving snapshots"
            )
    schema_ddl = _iceberg_schema_to_ddl(_current_schema(meta, _pick_snapshot(meta, hi)))
    empty = StructType.fromDDL(
        schema_ddl
        + ", _change_type string, _change_ordinal int, _commit_snapshot_id long"
    )
    frames = []
    # pure appends flatten: schema-era -> (ice_schema, [files]); the
    # (file, ordinal, snapshot) triples feed one broadcast join
    append_groups: dict[str, tuple[dict, list[str]]] = {}
    append_map: list[tuple[str, int, int]] = []
    ordinal = 0
    prev_files: set[str] | None = None
    for s in snaps:
        sid = s["snapshot-id"]
        if _is_abandoned(sid):
            continue
        if sid > hi:
            break
        plan = scan_plan_for_snapshot(table, meta, s)
        if plan["delete_files"] or plan["eq_deletes"]:
            if from_snapshot < sid <= hi:
                raise NotImplementedError(
                    "iceberg changelog: snapshot range contains merge-on-read "
                    "delete files; compact_iceberg_files first"
                )
        cur_files = set(plan["data_files"])
        if from_snapshot < sid <= hi:
            op = (s.get("summary") or {}).get("operation", "append")
            added = sorted(cur_files - (prev_files or set()))
            removed = sorted((prev_files or set()) - cur_files)
            ice_schema = _current_schema(meta, s)
            if op == "replace":
                pass  # compaction: bytes moved, no logical change
            elif not removed:  # pure append
                if added:
                    key = json.dumps(ice_schema, sort_keys=True)
                    grp = append_groups.setdefault(key, (ice_schema, []))
                    grp[1].extend(added)
                    append_map.extend((p, ordinal, sid) for p in added)
                    ordinal += 1
            else:  # COW rewrite: net row-level diff of the changed files
                old_rows = _mapped_parquet_scan(spark, meta, ice_schema, removed)
                new_rows = (
                    _mapped_parquet_scan(spark, meta, ice_schema, added)
                    if added
                    else spark.createDataFrame([], StructType.fromDDL(schema_ddl))
                )
                deletes = old_rows.exceptAll(new_rows).withColumn(
                    "_change_type", F.lit("DELETE")
                )
                inserts = new_rows.exceptAll(old_rows).withColumn(
                    "_change_type", F.lit("INSERT")
                )
                frames.append(
                    deletes.unionByName(inserts)
                    .withColumn("_change_ordinal", F.lit(ordinal))
                    .withColumn("_commit_snapshot_id", F.lit(sid))
                )
                ordinal += 1
        prev_files = cur_files
    if append_map:
        vmap = F.broadcast(
            spark.createDataFrame(
                append_map,
                "__cl_fp string, _change_ordinal int, _commit_snapshot_id long",
            )
        )
        for ice_schema, paths in append_groups.values():
            frames.append(
                _mapped_parquet_scan(spark, meta, ice_schema, sorted(paths))
                .withColumn(
                    "__cl_fp", rowlevel.strip_scheme(F.col("_metadata.file_path"))
                )
                .join(vmap, "__cl_fp")
                .drop("__cl_fp")
                .withColumn("_change_type", F.lit("INSERT"))
            )
    if not frames:
        return spark.createDataFrame([], empty)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(*[f.name for f in empty.fields])


def ensure_iceberg_changelog_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Orders Iceberg table with a three-act history: bulk append,
    COW DELETE (status-F orders in md5-bucket16 0), second append —
    the changelog over the full range must net to exactly
    (all bulk rows as INSERTs) + (the deleted rows as DELETEs) +
    (the second append as INSERTs)."""
    dest = lakecommit.fixture_dir("iceberg_cl", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    b8 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 8
    ).cast("int")
    b16 = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long") % 16
    ).cast("int")
    append_iceberg_snapshot(d.filter(b8 < 6).repartition(3), tmp)
    delete_iceberg_where(
        spark, tmp, (F.col("o_orderstatus") == "F") & (b16 == 0)
    )
    append_iceberg_snapshot(d.filter(b8 >= 6).repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


_CL_B8_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 8 AS INT)"
)
_CL_B16_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT) % 16 AS INT)"
)


@register(
    "iceberg_changelog_scan",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         {_CL_B8_SQL} AS b8, {_CL_B16_SQL} AS b16
  FROM orders
),
feed AS (
  SELECT 'INSERT' AS change_type, o_orderkey, cents FROM d WHERE b8 < 6
  UNION ALL
  SELECT 'DELETE', o_orderkey, cents FROM d
  WHERE b8 < 6 AND o_orderstatus = 'F' AND b16 = 0
  UNION ALL
  SELECT 'INSERT', o_orderkey, cents FROM d WHERE b8 >= 6
)
SELECT change_type, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM feed GROUP BY change_type
""",
)
def iceberg_changelog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level changelog across a COW DELETE: the rewrite commit
    must net to exactly the deleted rows as DELETEs — carried rows of
    the rewritten files cancel by multiset subtraction and never
    appear. The oracle recomputes the three-act feed relationally; an
    over-reported carry row, a lost delete, or a replayed first append
    all hash-mismatch. This is the retraction-capable twin of
    ``iceberg_changes_scan``'s append-only feed (and the cross-format
    mirror of ``delta_cdf_scan``)."""
    table = ensure_iceberg_changelog_fixture(spark, sf_dir)
    feed = read_iceberg_changelog(spark, table, from_snapshot=0)
    return feed.groupBy(F.col("_change_type").alias("change_type")).agg(
        F.count("*").alias("cnt"),
        F.sum("totalprice_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
    )


# --------------------------------------------------------------------
# merge-on-read + maintenance queries (round 9)
# --------------------------------------------------------------------


def ensure_iceberg_mor_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A merge-on-read Iceberg v2 table: snapshot 1 appends ALL of the
    lineitem frame, snapshot 2 commits POSITIONAL DELETE files for
    md5-bucket8 >= 6 (no data file rewritten). Built once per sf_dir
    under the system tmp dir, every mutation inside the build, then
    atomic-rename published — re-runs only read."""
    dest = lakecommit.fixture_dir("iceberg_mor", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    append_iceberg_snapshot(d.repartition(4), tmp)
    commit_positional_deletes(spark, tmp, _li_bucket(8) >= 6)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_mor_scan",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
FROM d
WHERE b8 < 6
GROUP BY l_returnflag
""",
)
def iceberg_mor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read scan (closes the round-8 verdict's #1 gap): the
    current snapshot carries v2 positional-delete files, applied as an
    anti-join on the native (_metadata.file_path, _metadata.row_index)
    row ids — deleted rows (md5-bucket8 >= 6) must vanish without any
    data file having been rewritten. The oracle is the surviving
    predicate over the raw table; a mis-applied position, a path
    mapping slip, or a skipped delete file all hash-mismatch.

    Reference parity: SURVEY.md §2.2 scans/sources; replaces the
    round-8 hard gate at the old iceberg_py.py:405."""
    df = read_iceberg_py(spark, ensure_iceberg_mor_fixture(spark, sf_dir))
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("qty_cents").alias("sum_qty_cents"),
    )


@register(
    "iceberg_mor_changes",
    oracle=f"""
WITH d AS (
  SELECT l_linestatus,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
FROM d
WHERE b8 < 6
GROUP BY l_linestatus
""",
)
def iceberg_mor_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read over a range CONTAINING delete manifests: the
    diff (0, current] on the MOR fixture nets the range's own deletes
    out of the range's adds — the consumer sees exactly the surviving
    rows, never a deleted row and never a double-count. (A delete
    targeting PRE-range data still gates loudly — covered in tests —
    because an append-only feed cannot retract rows already served.)"""
    df = read_iceberg_changes(
        spark, ensure_iceberg_mor_fixture(spark, sf_dir), from_snapshot=0
    )
    return df.groupBy("l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


def ensure_iceberg_expire_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Three-snapshot table (append b8<5, append b8>=5, MOR delete
    b8>=6) then ``expire_snapshots(keep_last=1)`` — all inside the
    build, with the expiry's result recorded in the table dir so the
    registered query can report what actually happened."""
    dest = lakecommit.fixture_dir("iceberg_exp", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    b8 = _li_bucket(8)
    append_iceberg_snapshot(d.filter(b8 < 5).repartition(2), tmp)
    append_iceberg_snapshot(d.filter(b8 >= 5).repartition(2), tmp)
    commit_positional_deletes(spark, tmp, b8 >= 6)
    result = expire_snapshots(tmp, keep_last=1)
    with open(os.path.join(tmp, "expire_result.json"), "w") as fh:
        json.dump(result, fh)
    lakecommit.publish_fixture(tmp, dest)
    return dest


def ensure_iceberg_orphan_fixture(spark: SparkSession, sf_dir: str) -> str:
    """A copy of the two-snapshot lineitem Iceberg table with PLANTED
    debris — two unreferenced parquet files (a lost commit race's
    staged output) and a crashed writer's ``.staging-`` directory —
    then swept by ``remove_orphan_iceberg_files`` at build time, the
    count recorded next to the table."""
    base = ensure_iceberg_fixture(spark, sf_dir)
    dest = lakecommit.fixture_dir("iceberg_orph", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    shutil.copytree(base, tmp, copy_function=os.link)
    data_dir = os.path.join(tmp, "data")
    some = next(
        f for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet")
    )
    for i in range(2):  # debris: real parquet bytes, zero references
        shutil.copy(os.path.join(data_dir, some),
                    os.path.join(data_dir, f"orphan-{i}.parquet"))
    os.makedirs(os.path.join(tmp, ".staging-dead"), exist_ok=True)
    with open(os.path.join(tmp, ".staging-dead", "part.parquet"), "wb") as fh:
        fh.write(b"torn")
    n = remove_orphan_iceberg_files(tmp)
    with open(os.path.join(tmp, "orphan_result.json"), "w") as fh:
        json.dump({"removed": n}, fh)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_orphan_sweep",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       2 AS orphans_removed
FROM lineitem
GROUP BY l_returnflag
""",
)
def iceberg_orphan_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file sweep (the never-referenced-debris half of table
    maintenance; expire_snapshots handles the un-referenced-by-expiry
    half): after removing exactly the 2 planted orphans and the
    crashed staging dir, the live scan must still aggregate to the
    full lineitem table — a sweep that touched ANY referenced file
    (including ones only older snapshots name) breaks the hash."""
    table = ensure_iceberg_orphan_fixture(spark, sf_dir)
    with open(os.path.join(table, "orphan_result.json")) as fh:
        result = json.load(fh)
    df = read_iceberg_py(spark, table)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.lit(result["removed"]).alias("orphans_removed"),
    )


@register(
    "iceberg_expire_snapshots",
    oracle=f"""
WITH d AS (
  SELECT l_linestatus,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
       2 AS expired_snapshots
FROM d
WHERE b8 < 6
GROUP BY l_linestatus
""",
)
def iceberg_expire_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry (the vacuum twin of ``delta_vacuum``): after
    keeping only the current snapshot of a 3-snapshot MOR table, the
    live scan must be byte-identical to pre-expiry (expiry never
    touches live data) and exactly 2 snapshots must have expired —
    the count the build recorded from the actual ``expire_snapshots``
    run. Orphan sweeping and travel-to-expired refusal are asserted
    in tests/test_iceberg_mor.py."""
    table = ensure_iceberg_expire_fixture(spark, sf_dir)
    with open(os.path.join(table, "expire_result.json")) as fh:
        result = json.load(fh)
    df = read_iceberg_py(spark, table)
    return df.groupBy("l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
        F.lit(int(result["expired_snapshots"])).alias("expired_snapshots"),
    )


# --------------------------------------------------------------------
# schema-evolution snapshot travel fixture + query (round 9)
# --------------------------------------------------------------------


def ensure_iceberg_evo_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An Iceberg table whose schema widened between snapshots:
    snapshot 1 appends (l_returnflag, price_cents) for md5-bucket8
    < 5 under schema-id 0; snapshot 2 appends buckets 5-7 WITH a new
    qty_cents column, recorded as schema-id 1 — BOTH schemas stay in
    metadata (``_evolve_iceberg_schemas`` preserves history) and each
    snapshot records its own schema-id, so travel renders each under
    its schema (the spec's contract)."""
    dest = lakecommit.fixture_dir("icebergevo", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    b8 = _li_bucket(8)
    narrow = d.filter(b8 < 5).select("l_returnflag", "price_cents")
    wide = d.filter(b8 >= 5).select("l_returnflag", "price_cents", "qty_cents")
    append_iceberg_snapshot(narrow.repartition(2), tmp)
    append_iceberg_snapshot(wide.repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_schema_evolution_travel",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT 's1' AS at_snapshot, COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents,
       2 AS n_cols, CAST(-1 AS BIGINT) AS null_qty_rows
FROM d WHERE b8 < 5
UNION ALL
SELECT 'current', COUNT(*),
       CAST(SUM(price_cents) AS BIGINT),
       3, (SELECT COUNT(*) FROM d WHERE b8 < 5)
FROM d
""",
)
def iceberg_schema_evolution_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot travel under schema evolution: snapshot 1 must render
    its OWN 2-column schema (n_cols proves which schema-id served the
    read) while the current snapshot renders 3 columns with snapshot
    1's files reading qty_cents as NULL — null_qty_rows must equal
    exactly snapshot 1's row count. The Delta twin is
    ``delta_schema_evolution_travel``; together they certify the
    format contract (each version under ITS schema) across both
    table formats."""
    tbl = ensure_iceberg_evo_fixture(spark, sf_dir)
    s1 = read_iceberg_py(spark, tbl, snapshot_id=1)
    cur = read_iceberg_py(spark, tbl)
    old = (
        s1.agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_price_cents"),
        )
        .withColumn("at_snapshot", F.lit("s1"))
        .withColumn("n_cols", F.lit(len(s1.columns)))
        .withColumn("null_qty_rows", F.lit(-1).cast("long"))
    )
    new = (
        cur.agg(
            F.count("*").alias("cnt"),
            F.sum("price_cents").alias("sum_price_cents"),
            F.count_if(F.col("qty_cents").isNull()).alias("null_qty_rows"),
        )
        .withColumn("at_snapshot", F.lit("current"))
        .withColumn("n_cols", F.lit(len(cur.columns)))
    )
    cols = ["at_snapshot", "cnt", "sum_price_cents", "n_cols", "null_qty_rows"]
    return old.select(*cols).unionByName(new.select(*cols))


# --------------------------------------------------------------------
# equality deletes (round 9): writer + fixture + query
# --------------------------------------------------------------------


def commit_equality_deletes(
    spark: SparkSession, table: str, delete_df: DataFrame, equality_cols: list[str]
) -> int:
    """v2 EQUALITY delete commit: stage the distinct delete-key rows
    as parquet delete files (content=2, equality_ids = the columns'
    field ids in the CURRENT schema) inside a DELETE manifest. The
    delete's data sequence number is the new snapshot's, so it scopes
    to all data files with strictly lower sequence — rows re-appended
    AFTER this commit survive, which is exactly the upsert
    (delete-then-reinsert) contract real engines use equality deletes
    for. No data file is read or rewritten: commit cost is O(delete
    keys)."""
    meta = load_table_metadata(table)
    snap = _pick_snapshot(meta, None)
    ice_schema = _current_schema(meta, snap)
    by_name = {f["name"]: f["id"] for f in ice_schema["fields"]}
    missing = [c for c in equality_cols if c not in by_name]
    if missing:
        raise ValueError(f"equality columns {missing} not in table schema")
    ids = [int(by_name[c]) for c in equality_cols]
    descs = _stage_parquet_files(
        delete_df.select(*equality_cols).distinct(), table, "eqdelete", content=2
    )
    for d in descs:
        d["equality_ids"] = ids
    return _commit_snapshot(
        table, descs, manifest_content=1, operation="delete", dtypes=None
    )


def ensure_iceberg_eq_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The equality-delete upsert story in three snapshots: s1 appends
    ALL of the lineitem frame; s2 commits EQUALITY deletes on the
    (l_orderkey, l_linenumber) keys of md5-bucket8 ∈ {6,7}; s3
    re-appends the bucket-7 rows. Sequence scoping makes the outcome
    exact: bucket-6 rows are gone, s1's bucket-7 rows are gone, s3's
    bucket-7 rows SURVIVE (their data sequence exceeds the delete's) —
    so the current snapshot equals lineitem WHERE b8 != 6, and any
    sequence-ordering slip double-counts or empties bucket 7."""
    dest = lakecommit.fixture_dir("iceberg_eq", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _lineitem_frame(spark, sf_dir)
    b8 = _li_bucket(8)
    append_iceberg_snapshot(d.repartition(4), tmp)
    commit_equality_deletes(
        spark, tmp, d.filter(b8 >= 6), ["l_orderkey", "l_linenumber"]
    )
    append_iceberg_snapshot(d.filter(b8 == 7).repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_eq_delete_scan",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
FROM d
WHERE b8 <> 6
GROUP BY l_returnflag
""",
)
def iceberg_eq_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete merge-on-read scan (removes the reader's LAST
    row-level-delete gate): sequence-scoped null-safe anti-join per
    equality-id group over the fixture's delete-then-reinsert history.
    Deleted-never-reinserted rows (bucket 6) must vanish, reinserted
    rows (bucket 7, appended AFTER the delete) must survive exactly
    once — the three failure modes (ignore deletes, ignore sequence
    scoping, over-delete) each produce a distinct hash mismatch
    against the plain-lineitem oracle."""
    df = read_iceberg_py(spark, ensure_iceberg_eq_fixture(spark, sf_dir))
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


# --------------------------------------------------------------------
# partitioned tables: hidden-partition + min/max pruning (round 9)
# --------------------------------------------------------------------

_PART_SPEC = [("o_orderdate", "year"), ("o_custkey", "bucket[4]")]

# epoch-µs window bounds (TZ-free integers; NOTES rules 4/6)
_US_1996 = 820_454_400_000_000
_US_1998 = 883_612_800_000_000
# custkeys that all land in bucket_4 = 3 (verified via the spec's
# murmur3 — see tests/test_iceberg_partitioned.py), so the bucket
# dimension prunes 3 of 4 values while the query still returns rows
_B3_KEYS = (3, 5, 7, 8, 9, 11, 17, 20, 25, 30, 34, 40)

_ODATE_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
    "o_orderdate)"
)


def _orders_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with money on the cents grid and ``o_orderdate``
    normalized to an epoch-built TIMESTAMP_NTZ — the civil value every
    session renders identically (the parquet file reads NTZ or LTZ
    depending on driver vintage; both paths land on the same µs
    epoch)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    if o.schema["o_orderdate"].dataType.simpleString() == "timestamp":
        o = o.withColumn(
            "o_orderdate",
            F.expr(
                "timestampadd(MICROSECOND, unix_micros(o_orderdate), "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "totalprice_cents"
        ),
        "o_orderdate",
        "o_orderpriority",
    )


def ensure_iceberg_part_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An orders-derived Iceberg v2 table PARTITIONED by
    ``year(o_orderdate), bucket[4](o_custkey)`` with two appends
    (even/odd orderkeys → two data manifests, so manifest-LEVEL
    summary pruning is exercised, not just entry-level). Each append
    is range-partitioned on ``totalprice_cents`` first, so every
    partition directory yields files with narrow, mostly-disjoint
    price ranges — the layout that makes the footer-bounds min/max
    skipping measurable. Cached under tmp per sf_dir, atomic-rename
    published."""
    dest = lakecommit.fixture_dir("iceberg_part", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir)
    even = d.filter(F.col("o_orderkey") % 2 == 0)
    odd = d.filter(F.col("o_orderkey") % 2 == 1)
    append_iceberg_snapshot(
        even.repartitionByRange(2, "totalprice_cents"), tmp, _PART_SPEC
    )
    append_iceberg_snapshot(odd.repartitionByRange(2, "totalprice_cents"), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_partition_prune",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE epoch_us(o_orderdate) >= {_US_1996}
  AND epoch_us(o_orderdate) < {_US_1998}
  AND o_custkey IN {_B3_KEYS}
GROUP BY o_orderpriority
""",
)
def iceberg_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partition pruned scan: a two-year window over the
    ``year`` transform plus a custkey IN-list over ``bucket[4]``. The
    reader plans from manifest metadata only — whole manifests die on
    the manifest-list value summaries, remaining files on their
    partition tuples (inclusive projection: the year range becomes an
    inclusive ordinal range, the IN-list becomes the bucketed value
    set) — then the SAME predicate runs as the residual row filter, so
    the hash match proves pruning dropped only provably-dead files.
    This is the 100 TB access path: scan cost follows the query's
    partition footprint (~2/7 years x 1/4 buckets here), not table
    size, and planning never touches a data file."""
    table = ensure_iceberg_part_fixture(spark, sf_dir)
    predicates = [
        ("o_orderdate", ">=", _US_1996),
        ("o_orderdate", "<", _US_1998),
        ("o_custkey", "in", _B3_KEYS),
    ]
    df = read_iceberg_py(spark, table, predicates=predicates)
    us = F.expr(_ODATE_US)
    return (
        df.filter(
            (us >= F.lit(_US_1996))
            & (us < F.lit(_US_1998))
            & F.col("o_custkey").isin(*_B3_KEYS)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
        )
    )


# four business dates spread across the fixture's years; epoch µs of
# their midnights (TZ-free integers) and the matching day ordinals
_BT_DATES_US = (
    732_153_600_000_000,  # 1993-03-15
    803_347_200_000_000,  # 1995-06-17
    820_540_800_000_000,  # 1996-01-02
    880_848_000_000_000,  # 1997-11-30
)
_BT_DATES_DAYS = (8474, 9298, 9497, 10195)


def ensure_iceberg_bucket_time_fixture(spark: SparkSession, sf_dir: str) -> str:
    """An orders table partitioned by bucket[8] over the TIMESTAMP
    order date AND bucket[4] over its DATE projection — the exact
    write path the r10 temporal-hashing fix covers (pandas would hash
    datetime64[ns] nanoseconds; the spec hashes epoch µs / day
    ordinals). Two appends so manifest-level summaries engage."""
    dest = lakecommit.fixture_dir("iceberg_bt", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    d = _orders_frame(spark, sf_dir).withColumn(
        "od_day", F.col("o_orderdate").cast("date")
    )
    spec = [("o_orderdate", "bucket[8]"), ("od_day", "bucket[4]")]
    append_iceberg_snapshot(
        d.filter(F.col("o_orderkey") % 2 == 0).repartition(2), tmp, spec
    )
    append_iceberg_snapshot(d.filter(F.col("o_orderkey") % 2 == 1).repartition(2), tmp)
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_bucket_time_prune",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
WHERE epoch_us(o_orderdate) IN {_BT_DATES_US}
GROUP BY o_orderstatus
""",
)
def iceberg_bucket_time_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned point-lookup over bucket-partitioned TEMPORAL columns:
    an IN-list of four order dates prunes via bucket[8](timestamp)
    AND bucket[4](date) inclusive projection, then the same predicate
    runs as the residual filter. This is the regression sentinel for
    the write/read bucket agreement on temporal types — a writer that
    hashes nanoseconds (or session-local time) puts the matching rows
    in buckets the projection never probes, and the rows silently
    vanish from the result (the r10 fix; NOTES rule 48)."""
    table = ensure_iceberg_bucket_time_fixture(spark, sf_dir)
    predicates = [
        ("o_orderdate", "in", _BT_DATES_US),
        ("od_day", "in", _BT_DATES_DAYS),
    ]
    df = read_iceberg_py(spark, table, predicates=predicates)
    us = F.expr(_ODATE_US)
    return (
        df.filter(us.isin(*_BT_DATES_US))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
            F.min("o_orderkey").alias("min_key"),
        )
    )


_MINMAX_CENTS = 45_000_000  # $450k — the high-price tail


@register(
    "iceberg_minmax_prune",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(MIN(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS min_price_cents
FROM orders
WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) >= {_MINMAX_CENTS}
GROUP BY o_orderstatus
""",
)
def iceberg_minmax_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping on a NON-partition column: the manifest entries'
    ``lower_bounds``/``upper_bounds`` (serialized from each staged
    file's parquet footer at commit time) let the planner drop every
    file whose price range sits wholly below the threshold — the
    Iceberg twin of ``delta_py.skip_files``. The fixture's range
    layout makes roughly the bottom half of each partition directory
    prunable; the residual filter keeps the kept files honest. At
    100 TB this is the difference between scanning the 10% tail and
    scanning everything when the predicate isn't a partition key."""
    table = ensure_iceberg_part_fixture(spark, sf_dir)
    df = read_iceberg_py(
        spark, table, predicates=[("totalprice_cents", ">=", _MINMAX_CENTS)]
    )
    return (
        df.filter(F.col("totalprice_cents") >= _MINMAX_CENTS)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
            F.min("totalprice_cents").alias("min_price_cents"),
        )
    )


# --------------------------------------------------------------------
# copy-on-write DML (``rowlevel`` adapter) and table clones
# --------------------------------------------------------------------


def clone_iceberg_table(src: str, dest: str) -> None:
    """Private hardlink clone (mutating queries never share fixture
    state — the delta_py.clone_delta_table twin). Every file in the
    table tree is immutable once committed, so hardlinks are safe; the
    clone's first commit writes only NEW files into its own tree, and
    the localizer re-anchors stored paths (old snapshots keep reading
    the shared immutable files)."""
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = os.path.join(dest, rel) if rel != "." else dest
        os.makedirs(out, exist_ok=True)
        for f in files:
            try:
                os.link(os.path.join(root, f), os.path.join(out, f))
            except FileExistsError:
                pass


def _try_commit_rewrite(
    table: str,
    victim_locals: set[str],
    new_descs: list[dict],
    operation: str = "overwrite",
    base: tuple[dict, int] | None = None,
) -> int | None:
    """ONE optimistic copy-on-write attempt (merge, update, delete):
    every current manifest is carried with its victim entries filtered
    out (a manifest left victim-free is carried as-is; one left with
    nothing live is dropped), and ``_publish_snapshot`` adds a data
    manifest of ``new_descs``. Returns the committed snapshot id, or
    None on losing the version race (the filtered manifests are
    removed with the attempt's own) — the CALLER re-derives victims
    and the rewrite against the winner's state (delta_py.try_commit
    discipline; a blind retry here could resurrect rows).

    Filtered manifests keep their original ``added_snapshot_id`` and
    every surviving entry's ``snapshot_id``, so v2 sequence-number
    inheritance is unchanged; their summaries carry over (they may
    over-cover after filtering, which is sound — pruning bounds only
    ever need to be INCLUSIVE)."""
    av = make_generic_avro()
    mdir = os.path.join(table, "metadata")
    # the commit is PINNED to the state the caller planned against
    # (``base``); a racer taking that version slot fails the publish
    # and the caller replans — committing against a silently-reloaded
    # newer state would base the rewrite on rows it never read
    meta, version = base if base is not None else _load_meta_versioned(table)
    if meta is None:
        raise ValueError("rewrite commit on a table with no metadata")
    _local = _make_localizer(table, meta)
    token = lakecommit.token()
    rows = []
    scratch: list[str] = []  # this attempt's filtered manifests
    for m in _current_manifests(table, meta):
        mschema, entries = av.read_file(_local(m["manifest_path"]))
        keep = [
            e
            for e in entries
            if e.get("status") == 2
            or (e["data_file"].get("content") or 0) != 0
            or os.path.abspath(_local(e["data_file"]["file_path"])) not in victim_locals
        ]
        if len(keep) == len(entries):
            rows.append(m)
            continue
        if not any(e.get("status") != 2 for e in keep):  # nothing live survives
            continue
        fpath = os.path.join(mdir, f"manifest-{version + 1}-{token}-f{len(rows)}.avro")
        av.write_file(fpath, mschema, keep)
        scratch.append(fpath)
        rows.append(
            dict(m, manifest_path=fpath, manifest_length=os.path.getsize(fpath))
        )
    out = _publish_snapshot(
        table, (meta, version), rows, new_descs, 0, {"operation": operation},
        scratch=scratch,
    )
    return None if out is lakecommit.LOST else out


def _rewrite_attempt(
    table: str,
    victim_locals: set[str],
    new_descs: list[dict],
    operation: str,
    base: tuple[dict, int],
):
    """``_try_commit_rewrite`` for a retry loop: a lost race removes the
    attempt's staged data files and returns ``lakecommit.LOST``."""
    snap_id = _try_commit_rewrite(table, victim_locals, new_descs, operation, base)
    if snap_id is None:
        lakecommit.discard(d["file_path"] for d in new_descs)
        return lakecommit.LOST
    return snap_id


def _cow_view(spark: SparkSession, table: str, name: str):
    """``rowlevel``'s Iceberg adapter for the public function ``name``:
    each ``open_view(op)`` loads the metadata once and plans the
    current snapshot, refuses tables carrying merge-on-read delete
    files (rewriting a file without applying its deletes resurrects
    rows, NOTES rule 42), scans under the CURRENT schema through
    ``_mapped_parquet_scan``, prunes merge candidates with the
    reader's three-layer metadata pruning over the key plan, and
    publishes through the version-pinned manifest rewrite
    (``_rewrite_attempt``). Iceberg keeps no change feed, so the change
    rows are never built."""

    def open_view(op: str) -> rowlevel.View:
        meta, base_version = _load_meta_versioned(table)
        snap = _pick_snapshot(meta, None)
        plan = scan_plan_for_snapshot(table, meta, snap)
        if plan["delete_files"] or plan["eq_deletes"]:
            raise NotImplementedError(
                f"{name}: table carries merge-on-read delete files; "
                "compact_iceberg_files first (rewriting a file without "
                "applying its deletes would resurrect rows)"
            )
        ice_schema = _current_schema(meta, snap)

        def candidates(keys: rowlevel.KeyPlan) -> list[str]:
            return scan_plan_for_snapshot(
                table, meta, snap, predicates=keys.predicates
            )["data_files"]

        def publish(victims, out, changes):
            descs = _stage_parquet_files(
                out, table, op[0], distribute=True,
                partition_by=_default_partition_by(meta, ice_schema),
            )
            return _rewrite_attempt(
                table, set(victims), descs,
                _SNAPSHOT_OPERATION[op], (meta, base_version),
            )

        return rowlevel.View(
            f"{name} on {table!r}",
            snap["snapshot-id"],
            StructType.fromDDL(_iceberg_schema_to_ddl(ice_schema)),
            plan["data_files"],
            lambda files: _mapped_parquet_scan(spark, meta, ice_schema, files),
            candidates,
            publish,
        )

    return open_view


# the snapshot summary operation each rewrite commits under
_SNAPSHOT_OPERATION = {"delete": "delete", "update": "update", "merge": "overwrite"}


def merge_iceberg_upsert(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    key: str,
) -> int:
    """Copy-on-write MERGE (upsert, ``rowlevel.merge``) into an Iceberg
    table: matched target rows take the source row's values, unmatched
    source rows insert. CANDIDATE files come from the reader's own
    metadata pruning with the source-key IN-list (bucket/identity
    partition projection + per-file key bounds; key bounds past 10k
    keys), so only files that can possibly hold a match are read or
    rewritten — the write-amplification bound at 100 TB. Partitioned
    tables restage the rewrite per partition tuple. The source must
    match the table schema exactly and be key-unique; merge-on-read
    tables are refused. Returns the committed snapshot id."""
    return rowlevel.merge(_cow_view(spark, table, "merge_iceberg_upsert"), source, key)


def _cust_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_spark.io import load_table

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )


def ensure_iceberg_cust_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Customer as an Iceberg table partitioned by
    ``bucket[4](c_nationkey)`` and range-clustered on ``c_custkey``
    (6 ranges per partition directory), so a key-range merge source
    implicates only the top custkey slice of each directory through
    the per-file bounds — the layout that gives the COW merge real
    write-amplification numbers. Cached/atomic-published like every
    fixture."""
    dest = lakecommit.fixture_dir("iceberg_cust", sf_dir)
    if os.path.isdir(dest):
        return dest
    tmp = lakecommit.fixture_tmp(dest)
    append_iceberg_snapshot(
        _cust_frame(spark, sf_dir).repartitionByRange(6, "c_custkey"),
        tmp,
        [("c_nationkey", "bucket[4]")],
    )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "iceberg_merge_upsert",
    oracle="""
WITH c AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
         c_mktsegment
  FROM customer
),
mk AS (SELECT MAX(c_custkey) AS mk FROM c),
thresh AS (SELECT CAST(floor((mk * 9) / 10) AS BIGINT) AS th, mk FROM mk),
kept AS (
  SELECT c_custkey, c_nationkey, acctbal_cents, c_mktsegment AS seg
  FROM c, thresh WHERE c_custkey <= th
),
upd AS (
  SELECT c_custkey, c_nationkey, acctbal_cents + 555 AS acctbal_cents,
         'ICEMERGED' AS seg
  FROM c, thresh WHERE c_custkey > th
),
ins AS (
  SELECT mk + i AS c_custkey, CAST((mk + i) % 25 AS BIGINT) AS c_nationkey,
         CAST((mk + i) * 17 AS BIGINT) AS acctbal_cents, 'ICENEW' AS seg
  FROM thresh, (SELECT unnest(range(1, 41)) AS i)
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
def iceberg_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE into an Iceberg-resident customer table
    (the ``delta_merge_upsert`` twin on the other format): the top
    decile of custkeys updates (balance +555, segment 'ICEMERGED'),
    40 new keys above the current max insert ('ICENEW'). Runs on a
    PRIVATE hardlink clone; candidate files come from the reader's
    metadata pruning over the source-key IN-list against per-file
    custkey bounds, so only the top range slice of each bucket
    directory rewrites (locked in tests/test_iceberg_partitioned.py);
    the table's ``bucket[4](c_nationkey)`` spec makes the rewrite
    restage per partition tuple. Content-idempotent: source values
    derive from the BASE table, so replaying the merge converges to
    the same state (re-run inserts become same-value updates)."""
    import tempfile

    base = ensure_iceberg_cust_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_merge_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)

    cust = _cust_frame(spark, sf_dir)
    mk = cust.agg(F.max("c_custkey").alias("mk"))
    th = F.floor(F.col("mk") * 9 / 10).cast("long")
    upd = (
        cust.crossJoin(F.broadcast(mk))
        .filter(F.col("c_custkey") > th)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("acctbal_cents") + 555).alias("acctbal_cents"),
            F.lit("ICEMERGED").alias("c_mktsegment"),
        )
    )
    newk = F.col("mk") + F.col("id")
    types = dict(cust.dtypes)
    ins = (
        spark.range(1, 41)
        .crossJoin(F.broadcast(mk))
        .select(
            newk.cast(types["c_custkey"]).alias("c_custkey"),
            F.concat(F.lit("icenew#"), newk.cast("string")).alias("c_name"),
            (newk % 25).cast(types["c_nationkey"]).alias("c_nationkey"),
            (newk * 17).cast(types["acctbal_cents"]).alias("acctbal_cents"),
            F.lit("ICENEW").alias("c_mktsegment"),
        )
    )
    merge_iceberg_upsert(spark, table, upd.unionByName(ins), "c_custkey")
    out = read_iceberg_py(spark, table)
    return out.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("cnt"),
        F.sum("acctbal_cents").alias("sum_cents"),
        F.sum("c_nationkey").alias("sum_nation"),
        F.max("c_custkey").alias("max_key"),
    )


# --------------------------------------------------------------------
# exactly-once streaming sink (round 9): the streaming_delta_sink twin
# --------------------------------------------------------------------


def append_iceberg_stream_batch(
    df: DataFrame,
    table: str,
    app_id: str,
    epoch_id: int,
    partition_by: list[tuple[str, str]] | None = None,
) -> int | None:
    """Exactly-once micro-batch append: the snapshot summary carries
    ``{mr-app-id, mr-epoch}`` (Iceberg has no Delta-style ``txn``
    action; summary properties are the spec's sanctioned extension
    point), and a batch whose epoch is already <= the table's recorded
    ledger for this appId is a POST-COMMIT REPLAY — skipped before
    staging anything. The dedup travels inside the same atomic
    metadata publish as the data, and the racing-incarnation window is
    re-checked inside the commit loop (a previous incarnation of the
    same appId winning mid-loop orphans this attempt's files instead
    of double-landing the epoch). Returns the committed snapshot id,
    or None for a skipped replay."""
    meta, _v = _load_meta_versioned(table)
    if _txn_ledger(meta, app_id) >= epoch_id:
        return None
    if partition_by is None:
        partition_by = _default_partition_by(meta)
    descs = _stage_parquet_files(df, table, "s", partition_by=partition_by)
    return _commit_snapshot(
        table,
        descs,
        manifest_content=0,
        operation="append",
        dtypes=df.dtypes,
        partition_by=partition_by,
        txn=(app_id, epoch_id),
    )


def write_stream_iceberg(
    source: DataFrame,
    table: str,
    app_id: str,
    checkpoint_dir: str,
    partition_by: list[tuple[str, str]] | None = None,
) -> None:
    """Drain a stream into an Iceberg table via ``foreachBatch`` +
    ``append_iceberg_stream_batch`` (AvailableNow — the scheduled-
    deployment trigger; drop it for a continuous run)."""

    def sink(df: DataFrame, epoch_id: int) -> None:
        append_iceberg_stream_batch(df, table, app_id, epoch_id, partition_by)

    q = (
        source.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


@register(
    "streaming_iceberg_sink",
    oracle="""
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def streaming_iceberg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest stream landing in an Iceberg table: events stream
    (AvailableNow) -> foreachBatch -> snapshots whose summaries carry
    the {appId, epoch} exactly-once ledger, read back through the
    manifest chain and aggregated per event type. The oracle is the
    batch SQL over the same events — a dropped batch, a
    double-committed replay, or a torn append all mismatch. Replay and
    racing-incarnation dedup are fault-injected in
    tests/test_iceberg_stream.py; this run certifies the happy path
    plus read-back. Scale shape matches the Delta twin: O(batch) per
    micro-batch (stage, move, one put-if-absent metadata link), table
    readable throughout."""
    import shutil as _sh
    import tempfile

    from map_reduce_spark.streaming.jobs import stream_events

    scratch = os.path.join(
        tempfile.gettempdir(), f"mr_spark_ice_stream_{os.getpid()}"
    )
    _sh.rmtree(scratch, ignore_errors=True)
    table = os.path.join(scratch, "tbl")
    chk = os.path.join(scratch, "chk")
    src = stream_events(spark, sf_dir).select("event_id", "event_type", "value")
    write_stream_iceberg(src, table, app_id="events_ingest", checkpoint_dir=chk)
    df = read_iceberg_py(spark, table)
    return df.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def delete_iceberg_where(spark: SparkSession, table: str, predicate) -> int:
    """Copy-on-write DELETE (``rowlevel.delete``): rewrite only the
    files actually CONTAINING predicate-TRUE rows, minus those rows,
    and commit as a manifest rewrite. Untouched files are carried, so a
    selective delete rewrites a handful of files at 100 TB, never the
    table. NULL-predicate rows are kept; merge-on-read tables are
    refused. Returns the committed (or, for a no-match no-op, current)
    snapshot id."""
    return rowlevel.delete(_cow_view(spark, table, "delete_iceberg_where"), predicate)


@register(
    "iceberg_delete_where",
    oracle=f"""
WITH d AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(totalprice_cents) AS BIGINT) AS sum_price_cents
FROM d
WHERE NOT (o_orderstatus = 'F' AND totalprice_cents > {_MINMAX_CENTS})
GROUP BY o_orderpriority
""",
)
def iceberg_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE on a private clone of the PARTITIONED
    orders fixture: finished orders above the price threshold vanish;
    the rewrite restages only the files that actually held matches
    (per-file victim detection, not pruning bounds) per partition
    tuple. The oracle recomputes the final state relationally —
    over-deletion (the NULL trap), under-deletion, and resurrected
    rows all hash-mismatch. Content-idempotent: a replay matches
    nothing and no-ops."""
    import tempfile

    base = ensure_iceberg_part_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_del_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    delete_iceberg_where(
        spark,
        table,
        (F.col("o_orderstatus") == "F")
        & (F.col("totalprice_cents") > _MINMAX_CENTS),
    )
    return (
        read_iceberg_py(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
        )
    )


# --------------------------------------------------------------------
# compaction: rewrite data files, RESOLVING merge-on-read deletes
# --------------------------------------------------------------------


def compact_iceberg_files(
    spark: SparkSession,
    table: str,
    out_files: int = 4,
    order_by: tuple[str, ...] = (),
) -> int:
    """Rewrite the current snapshot's data files into a compacted
    layout — ``out_files`` files when unpartitioned, ~one
    advisory-sized file per partition tuple (AQE-rebalanced) when
    partitioned — APPLYING any positional /
    equality delete files in the process and dropping them from the
    new snapshot — the maintenance operator the merge/delete MOR gates
    point at ("compact first"), and the Iceberg twin of
    ``delta_py.optimize_compact`` with the extra job real Iceberg
    compaction does: folding the delete backlog back into plain data
    files so every downstream rewrite is safe again.

    The read side is the ordinary MOR-resolving reader, so resolution
    correctness is the already-certified path. The commit is a rewrite
    through the shared ``_publish_snapshot`` that carries NO manifest:
    the new manifest list holds only the new data manifest, so old
    data AND delete manifests fall away atomically; a lost race removes
    the staged files and re-plans from the winner's state.
    Content-idempotent: the table state before and after hashes
    identically — compaction moves bytes, never rows.

    ``order_by`` turns compaction into a SORTED (clustering) rewrite:
    the resolved rows range-partition and sort on those columns, so
    each output file covers a narrow disjoint value range and the
    manifests' footer bounds become maximally selective — compaction
    that BUYS min/max pruning (the Iceberg twin of Delta's OPTIMIZE
    ZORDER for the 1-D case). The order goes in as a metadata change —
    appended to ``sort-orders`` and made the default — and, like every
    key a commit does not change, survives later commits."""

    def attempt():
        meta, version = _load_meta_versioned(table)
        if meta is None:
            raise ValueError("compact on a table with no metadata")
        snap = _pick_snapshot(meta, None)
        ice_schema = _current_schema(meta, snap)
        resolved = read_iceberg_py(spark, table)
        if order_by:
            resolved = resolved.repartitionByRange(
                out_files, *order_by
            ).sortWithinPartitions(*order_by)
        partition_by = _default_partition_by(meta, ice_schema)
        if not order_by and not partition_by:
            # unpartitioned, unsorted: out_files IS the layout contract
            resolved = resolved.repartition(out_files)
        # Unsorted partitioned compaction distributes by the partition
        # tuple (AQE REBALANCE inside the staging — the
        # write.distribution-mode=hash posture): each tuple lands as
        # ~one advisory-sized file instead of out_files x tuples (the
        # old round-robin repartition re-EXPANDED a 112-file layout to
        # 224 files — compaction that grew the file count). A sorted
        # rewrite keeps its range layout: the repartitionByRange above
        # owns the distribution.
        descs = _stage_parquet_files(
            resolved, table, "c",
            distribute=bool(partition_by) and not order_by,
            partition_by=partition_by,
        )
        sort_meta = {}
        if order_by:
            ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
            prev_orders = meta.get("sort-orders") or []
            order_id = max((o.get("order-id", 0) for o in prev_orders), default=0) + 1
            sort_meta = {
                "sort-orders": prev_orders
                + [
                    {
                        "order-id": order_id,
                        "fields": [
                            {
                                "transform": "identity",
                                "source-id": ids[c],
                                "direction": "asc",
                                "null-order": "nulls-first",
                            }
                            for c in order_by
                        ],
                    }
                ],
                "default-sort-order-id": order_id,
            }
        # carry NO manifest: every old data file and delete file leaves
        # the live set atomically
        return _publish_snapshot(
            table, (meta, version), [], descs, 0, {"operation": "replace"},
            sort_meta, scratch=[d["file_path"] for d in descs],
        )

    return lakecommit.retry_commit(f"iceberg compact on {table!r}", attempt)


@register(
    "iceberg_compact_mor",
    oracle=f"""
WITH d AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100, 0) AS BIGINT) AS qty_cents,
         {_L_B8_SQL} AS b8
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS cnt,
       CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
FROM d
WHERE b8 < 6
GROUP BY l_returnflag
""",
)
def iceberg_compact_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of a merge-on-read table on a private clone of the
    MOR fixture: the positional-delete backlog folds back into plain
    data files, the delete manifests leave the live set, and the
    post-compaction aggregate must hash-equal the MOR reader's view
    (the same oracle as ``iceberg_mor_scan`` — compaction moves bytes,
    never rows). tests/test_iceberg_compact.py additionally locks that
    delete files are gone, the COW merge gate reopens, and time travel
    still sees the pre-compaction MOR view."""
    import tempfile

    base = ensure_iceberg_mor_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_compact_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    compact_iceberg_files(spark, table)
    df = read_iceberg_py(spark, table)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum("qty_cents").alias("sum_qty_cents"),
    )


# --------------------------------------------------------------------
# partition-spec evolution (round 9): re-layout WITHOUT rewriting data
# --------------------------------------------------------------------


def _name_mapping(meta: dict) -> dict[int, list[str]] | None:
    """Parsed ``schema.name-mapping.default`` (spec: applied to data
    files that lack parquet field ids — maps each FILE column name to
    its Iceberg field id). Returns {field-id: [names]} or None."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return None
    out: dict[int, list[str]] = {}
    for e in json.loads(raw):
        fid = e.get("field-id")
        if fid is not None:
            out[int(fid)] = list(e.get("names") or [])
    return out or None


def rename_iceberg_column(table: str, old: str, new: str) -> int:
    """Iceberg RENAME COLUMN: a new current schema with the SAME field
    id under the new name — zero data files touched (ids, not names,
    are the spec's identity). Because this engine's data files are
    Spark-written parquet WITHOUT embedded field ids, the rename also
    records ``schema.name-mapping.default`` (spec name mapping: every
    historical name of each field maps to its id), which the reader
    consumes to resolve pre-rename files by their old column name.
    Metadata-only put-if-absent commit; returns the new schema id."""

    def attempt():
        meta, version = _load_meta_versioned(table)
        if meta is None:
            raise ValueError("cannot rename a column of a table with no metadata")
        schemas = list(meta.get("schemas") or [])
        cur = next(
            s for s in schemas if s.get("schema-id") == meta.get("current-schema-id", 0)
        )
        if not any(f["name"] == old for f in cur["fields"]):
            raise KeyError(f"column {old!r} not in current schema")
        if any(f["name"] == new for f in cur["fields"]):
            raise ValueError(f"column {new!r} already exists")
        new_sid = max(s.get("schema-id", 0) for s in schemas) + 1
        fields = [
            dict(f, name=new) if f["name"] == old else dict(f)
            for f in cur["fields"]
        ]
        new_schema = {"type": "struct", "schema-id": new_sid, "fields": fields}
        # name mapping: union of every historical name per field id
        names_by_id: dict[int, list[str]] = {}
        for s in schemas + [new_schema]:
            for f in s["fields"]:
                bucket = names_by_id.setdefault(f["id"], [])
                if f["name"] not in bucket:
                    bucket.append(f["name"])
        for fid, names in (_name_mapping(meta) or {}).items():
            bucket = names_by_id.setdefault(fid, [])
            for n in names:
                if n not in bucket:
                    bucket.insert(0, n)
        mapping = [
            {"field-id": fid, "names": names}
            for fid, names in sorted(names_by_id.items())
        ]
        props = dict(meta.get("properties") or {})
        props["schema.name-mapping.default"] = json.dumps(mapping)
        new_meta = dict(
            meta,
            **{
                "schemas": schemas + [new_schema],
                "current-schema-id": new_sid,
                "properties": props,
            },
        )
        if _try_publish_metadata(table, version + 1, new_meta):
            return new_sid
        return lakecommit.LOST

    return lakecommit.retry_commit(f"rename on {table!r}", attempt)


def evolve_iceberg_partition_spec(
    table: str, new_partition_by: list[tuple[str, str]]
) -> int:
    """Iceberg's headline layout feature: change the partition spec
    WITHOUT touching a single data file. A new spec (next spec-id,
    partition field ids continuing from ``last-partition-id``) becomes
    the default; old manifests keep their spec id and keep pruning
    under THEIR spec, new appends lay out and prune under the new one
    — exactly the spec's contract, and the reader's per-manifest
    projection cache already evaluates each manifest under its own
    spec. Metadata-only put-if-absent commit (no snapshot added);
    returns the new spec id."""
    from map_reduce_spark.sources.iceberg_transforms import parse_transform

    def attempt():
        meta, version = _load_meta_versioned(table)
        if meta is None:
            raise ValueError("cannot evolve the spec of a table with no metadata")
        cur_schema = next(
            s
            for s in meta.get("schemas") or []
            if s.get("schema-id") == meta.get("current-schema-id", 0)
        )
        by_name = {f["name"]: f for f in cur_schema["fields"]}
        specs = list(meta.get("partition-specs") or [])
        last_pid = meta.get("last-partition-id", 999)
        new_sid = max((s.get("spec-id", 0) for s in specs), default=-1) + 1
        fields = []
        for col, transform in new_partition_by:
            kind, _ = parse_transform(transform)
            src = by_name.get(col)
            if src is None:
                raise KeyError(f"partition source column {col!r} not in schema")
            last_pid += 1
            fields.append(
                {
                    "source-id": src["id"],
                    "field-id": last_pid,
                    "name": _spec_field_name(col, kind),
                    "transform": transform,
                }
            )
        new_meta = dict(
            meta,
            **{
                "partition-specs": specs + [{"spec-id": new_sid, "fields": fields}],
                "default-spec-id": new_sid,
                "last-partition-id": last_pid,
            },
        )
        if _try_publish_metadata(table, version + 1, new_meta):
            return new_sid
        return lakecommit.LOST

    return lakecommit.retry_commit(f"spec evolution on {table!r}", attempt)


@register(
    "iceberg_partition_evolution",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE epoch_us(o_orderdate) >= {_US_1996}
  AND epoch_us(o_orderdate) < {_US_1998}
GROUP BY o_orderstatus
""",
)
def iceberg_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution end to end: half of orders lands under
    spec 0 (``year(o_orderdate)``), the spec evolves — zero data files
    rewritten — and the other half lands under spec 1 (``year`` +
    ``bucket[4](o_custkey)``). The two-year-window read then prunes
    EACH manifest under its own spec id (the per-manifest projection
    the reader caches), and the residual filter + oracle prove the
    evolved table still answers exactly. This is the 100 TB
    re-layout story: changing the partitioning of a petabyte table is
    a metadata commit, not a rewrite."""
    table = lakecommit.fixture_dir("ice_evo", sf_dir)
    if not os.path.isdir(table):
        tmp = lakecommit.fixture_tmp(table)
        d = _orders_frame(spark, sf_dir)
        append_iceberg_snapshot(
            d.filter(F.col("o_orderkey") % 2 == 0).repartition(2),
            tmp,
            [("o_orderdate", "year")],
        )
        evolve_iceberg_partition_spec(
            tmp, [("o_orderdate", "year"), ("o_custkey", "bucket[4]")]
        )
        append_iceberg_snapshot(
            d.filter(F.col("o_orderkey") % 2 == 1).repartition(2), tmp
        )
        lakecommit.publish_fixture(tmp, table)
    predicates = [
        ("o_orderdate", ">=", _US_1996),
        ("o_orderdate", "<", _US_1998),
    ]
    df = read_iceberg_py(spark, table, predicates=predicates)
    us = F.expr(_ODATE_US)
    return (
        df.filter((us >= F.lit(_US_1996)) & (us < F.lit(_US_1998)))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_price_cents"),
        )
    )


# --------------------------------------------------------------------
# cross-format migration: Delta -> Iceberg without moving a byte
# --------------------------------------------------------------------


def migrate_delta_to_iceberg(
    spark: SparkSession, delta_table: str, iceberg_table: str
) -> int:
    """Metadata-only table migration (the real-world ``snapshot`` /
    ``migrate`` action): the Delta table's ACTIVE file set becomes an
    Iceberg v2 snapshot — each parquet data file HARDLINKED (zero data
    movement, but immune to a later Delta VACUUM, unlike a pure
    in-place reference) into the new table, wrapped in manifests with
    freshly computed footer bounds, committed through the ordinary
    optimistic loop. The Delta side is read-only throughout.

    Gates loudly on what a file-level migration cannot express:
    deletion-vector files (rows would resurrect), column mapping
    (physical names would strand), and hive-partitioned layouts
    (partition values live in directory names, not in the files the
    manifests would point at — Iceberg requires source columns IN the
    data). At 100 TB this is the migration users actually run:
    O(files) metadata work, zero bytes rewritten."""
    from map_reduce_spark.sources.delta_py import _gate_dv_rewrite, snapshot

    snap = snapshot(delta_table)
    _gate_dv_rewrite(snap, "migrate_delta_to_iceberg")
    if snap.partition_columns:
        raise NotImplementedError(
            "migrate_delta_to_iceberg: hive-partitioned Delta layouts keep "
            "partition values in directory names, not in the data files — "
            "rewrite via read + partitioned append instead"
        )
    data_dir = os.path.join(iceberg_table, "data")
    os.makedirs(data_dir, exist_ok=True)
    descs = []
    for rel in sorted(snap.adds):
        dest = os.path.join(
            data_dir, f"mig-{lakecommit.token()}-{os.path.basename(rel)}"
        )
        os.link(os.path.join(delta_table, rel), dest)
        f = lakecommit.staged_file(dest)
        if f is not None:
            descs.append(_data_file(f, 0))
    dtypes = [(f.name, f.dataType.simpleString()) for f in snap.schema.fields]
    return _commit_snapshot(
        iceberg_table, descs, manifest_content=0, operation="append",
        dtypes=dtypes,
    )


@register(
    "migrate_delta_to_iceberg",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM customer
GROUP BY c_mktsegment
""",
)
def migrate_delta_to_iceberg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end format migration: the Delta-resident customer
    fixture snapshots into a brand-new Iceberg table without moving a
    byte (hardlinked data files — tests assert shared inodes), and the
    Iceberg reader's aggregate must hash-equal the plain batch SQL.
    Post-migration the table is a full citizen: footer bounds are in
    its manifests, so min/max pruning works immediately
    (tests/test_iceberg_migrate.py)."""
    from map_reduce_spark.sources.delta_py import ensure_customer_delta

    base = ensure_customer_delta(spark, sf_dir)
    dest = lakecommit.fixture_dir("ice_mig", sf_dir)
    if not os.path.isdir(dest):
        tmp = lakecommit.fixture_tmp(dest)
        migrate_delta_to_iceberg(spark, base, tmp)
        lakecommit.publish_fixture(tmp, dest)
    df = read_iceberg_py(spark, dest)
    return df.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.sum("acctbal_cents").alias("sum_cents"),
        F.max("c_custkey").alias("max_key"),
    )


def migrate_iceberg_to_delta(
    spark: SparkSession,
    iceberg_table: str,
    delta_table: str,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """The reverse migration: the Iceberg table's current live file
    set becomes Delta version 0 — data files hardlinked into the new
    table root, add actions carrying per-file stats (numRecords always,
    min/max for ``stats_cols``), one atomic ``try_commit``. Iceberg
    partitioned tables migrate fine (hidden partitioning keeps source
    columns IN the data files; the Delta table is simply unpartitioned
    and relies on its per-file stats for skipping). Merge-on-read
    tables are refused — compact first. The destination must not
    already be a Delta table."""
    from map_reduce_spark.sources.delta_py import (
        _PROTOCOL_ACTION,
        _add_actions,
        _meta_action,
        latest_version,
        try_commit,
    )

    if latest_version(delta_table) is not None:
        raise ValueError(f"{delta_table!r} is already a Delta table")
    meta = load_table_metadata(iceberg_table)
    snap = _pick_snapshot(meta, None)
    plan = scan_plan_for_snapshot(iceberg_table, meta, snap)
    if plan["delete_files"] or plan["eq_deletes"]:
        raise NotImplementedError(
            "migrate_iceberg_to_delta: table carries merge-on-read delete "
            "files; compact_iceberg_files first"
        )
    ice_schema = _current_schema(meta, snap)
    # Delta reads by NAME: a live file still carrying a pre-rename
    # column name would silently NULL in the migrated table. The check
    # is footer-exact (migration touches every footer for stats
    # anyway), so a post-rename COMPACTION — which rewrites everything
    # under current names — genuinely unlocks migration.
    if _name_mapping(meta):
        import pyarrow.parquet as _pq

        cur_names = {f["name"] for f in ice_schema["fields"]}
        for fpath in plan["data_files"]:
            stale = set(_pq.ParquetFile(fpath).schema_arrow.names) - cur_names
            if stale:
                raise NotImplementedError(
                    "migrate_iceberg_to_delta: data file carries "
                    f"pre-rename column names {sorted(stale)}; "
                    "compact_iceberg_files first to rewrite under "
                    "current names"
                )
    schema = StructType.fromDDL(_iceberg_schema_to_ddl(ice_schema))
    os.makedirs(delta_table, exist_ok=True)
    moved = []
    for src in sorted(plan["data_files"]):
        dest = os.path.join(
            delta_table, f"mig-{lakecommit.token()}-{os.path.basename(src)}"
        )
        os.link(src, dest)
        f = lakecommit.staged_file(dest)
        if f is not None:
            moved.append(f)
    actions = [_PROTOCOL_ACTION, _meta_action(schema, delta_table, ())]
    actions.extend(_add_actions(delta_table, moved, stats_cols))
    actions.append(
        {"commitInfo": {"operation": "MIGRATE", "engine": "map_reduce_spark"}}
    )
    if not try_commit(delta_table, 0, actions):
        raise RuntimeError(f"lost the creation race for {delta_table!r}")
    return 0


@register(
    "migrate_iceberg_to_delta",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def migrate_iceberg_to_delta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip the other way: the Iceberg-resident lineitem fixture
    snapshots into a brand-new Delta table (hardlinked files, per-file
    c-key stats in the add actions), and the Delta log-replay reader's
    aggregate must hash-equal the plain batch SQL. Together with
    ``migrate_delta_to_iceberg`` this closes the format-migration
    pair: a user can move either direction as a metadata commit."""
    from map_reduce_spark.sources.delta_py import read_delta_py

    base = ensure_iceberg_fixture(spark, sf_dir)
    dest = lakecommit.fixture_dir("delta_mig", sf_dir)
    if not os.path.isdir(dest):
        tmp = lakecommit.fixture_tmp(dest)
        migrate_iceberg_to_delta(
            spark, base, tmp, stats_cols=("l_orderkey",)
        )
        lakecommit.publish_fixture(tmp, dest)
    df = read_delta_py(spark, dest)
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("price_cents").alias("sum_price_cents"),
    )


@register(
    "iceberg_production_loop",
    oracle=f"""
WITH c AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderpriority
  FROM orders
),
mk AS (SELECT MAX(o_orderkey) AS mk FROM c),
th AS (SELECT CAST(floor((mk * 9) / 10) AS BIGINT) AS th, mk FROM mk),
kept AS (
  SELECT o_orderkey, o_orderstatus, cents, o_orderpriority AS prio
  FROM c, th WHERE o_orderkey <= th AND o_orderkey % 97 <> 0
),
merged AS (
  SELECT o_orderkey, o_orderstatus, cents + 333 AS cents, 'LOOP' AS prio
  FROM c, th WHERE o_orderkey > th
),
ins AS (
  SELECT mk + i AS o_orderkey, 'N' AS o_orderstatus,
         CAST((mk + i) * 19 AS BIGINT) AS cents, 'LOOPNEW' AS prio
  FROM th, (SELECT unnest(range(1, 21)) AS i)
),
state AS (
  SELECT * FROM kept UNION ALL SELECT * FROM merged UNION ALL SELECT * FROM ins
),
final AS (
  SELECT * FROM state
  WHERE NOT (o_orderstatus = 'F' AND cents > {_MINMAX_CENTS})
)
SELECT prio, COUNT(*) AS cnt, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM final GROUP BY prio
""",
)
def iceberg_production_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed lakehouse maintenance loop on ONE partitioned
    table, every operator this round added, in production order:
    (1) a merge-on-read positional DELETE lands without rewriting
    data, (2) COMPACTION folds the delete backlog back into plain
    files (reopening the COW gates), (3) a MERGE upserts the top
    orderkey decile (+333 cents, priority 'LOOP') and inserts 20 new
    keys — the MOR-deleted keys in that range come back as inserts,
    which the oracle models exactly, (4) a COW DELETE drops finished
    orders above the price threshold. One relational oracle replays
    all four states, so any cross-operator interaction bug (deletes
    resurrected by the merge, compaction changing rows, pruning
    dropping live files) hash-mismatches. Content-idempotent: a
    replay converges to the identical state because every source
    derives from the BASE table."""
    import tempfile

    base = ensure_iceberg_part_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_loop_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    commit_positional_deletes(spark, table, F.col("o_orderkey") % 97 == 0)
    compact_iceberg_files(spark, table, out_files=8)
    cust = _orders_frame(spark, sf_dir)
    mk = cust.agg(F.max("o_orderkey").alias("mk"))
    th = F.floor(F.col("mk") * 9 / 10).cast("long")
    upd = (
        cust.crossJoin(F.broadcast(mk))
        .filter(F.col("o_orderkey") > th)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            (F.col("totalprice_cents") + 333).alias("totalprice_cents"),
            "o_orderdate",
            F.lit("LOOP").alias("o_orderpriority"),
        )
    )
    newk = F.col("mk") + F.col("id")
    ins = (
        spark.range(1, 21)
        .crossJoin(F.broadcast(mk))
        .select(
            newk.alias("o_orderkey"),
            (newk % 100).alias("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            (newk * 19).alias("totalprice_cents"),
            F.lit("1996-06-01 00:00:00").cast("timestamp_ntz").alias("o_orderdate"),
            F.lit("LOOPNEW").alias("o_orderpriority"),
        )
    )
    merge_iceberg_upsert(spark, table, upd.unionByName(ins), "o_orderkey")
    delete_iceberg_where(
        spark,
        table,
        (F.col("o_orderstatus") == "F")
        & (F.col("totalprice_cents") > _MINMAX_CENTS),
    )
    return (
        read_iceberg_py(spark, table)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_cents"),
        )
    )


@register(
    "iceberg_rewrite_sorted",
    oracle=f"""
WITH d AS (
  SELECT o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents
FROM d
WHERE cents >= {_MINMAX_CENTS}
GROUP BY o_orderstatus
""",
)
def iceberg_rewrite_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted (clustering) rewrite on a private clone of the
    partitioned orders fixture: compaction range-clusters every
    partition directory on ``totalprice_cents``, so the rewritten
    manifests' footer bounds become disjoint and the SAME price
    predicate that kept 50% of the original layout's files keeps a
    strictly smaller share afterwards (locked in
    tests/test_iceberg_compact.py). The query reads THROUGH the
    pruned plan and must hash-equal the plain relational answer —
    clustering moved bytes, never rows. This is storage maintenance
    as a query-speed investment: at 100 TB, re-clustering buys every
    future range predicate its pruning."""
    import tempfile

    base = ensure_iceberg_part_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_sort_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    compact_iceberg_files(
        spark, table, out_files=8, order_by=("totalprice_cents",)
    )
    df = read_iceberg_py(
        spark, table, predicates=[("totalprice_cents", ">=", _MINMAX_CENTS)]
    )
    return (
        df.filter(F.col("totalprice_cents") >= _MINMAX_CENTS)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_cents"),
            F.min("totalprice_cents").alias("min_cents"),
        )
    )


# --------------------------------------------------------------------
# streaming SOURCE: an Iceberg table as a micro-batch stream
# --------------------------------------------------------------------


def make_appends_planner(table_abs: str):
    """Closure factory for Iceberg's one snapshot-range planner: the
    batch ``read_iceberg_changes`` and the ``stream_iceberg_appends``
    source both plan their ranges here (module-level factory so tests
    can probe planning directly; the returned CLOSURE pickles by value
    into the plan-time worker — NOTES rule 39).

    ``plan(lo, hi)`` returns ``{local path: (content, stored path,
    record count)}`` for every file ADDED by the snapshots in (lo, hi]
    — content 0 data, 1 positional deletes, 2 equality deletes;
    iterating it yields the paths. Its guards:

    - a range offset inside an interval abandoned by
      ``rollback_iceberg`` is refused (rows read from it are no longer
      table state),
    - planning reads the END snapshot's immutable manifest list, never
      the current one, so a checkpoint REPLAY of an old range sees the
      same files even after a later compaction dropped them from the
      live set; an EXPIRED end snapshot refuses with a
      reset-the-checkpoint message,
    - every snapshot in range must be an append, or a delete that
      added only delete manifests (merge-on-read deletes, which the
      batch reader nets against the range's adds); any other
      operation is refused — a rewrite or compaction would surface its
      rewritten rows as fresh adds (duplicates).

    ``plan.latest()`` is the current snapshot id (0 for no table)."""
    import json as _json
    import os as _os

    av = make_generic_avro()
    mdir = _os.path.join(table_abs, "metadata")

    def _meta():
        try:
            versions = [
                int(f[1:].split(".")[0])
                for f in _os.listdir(mdir)
                if f.startswith("v") and f.endswith(".metadata.json")
            ]
        except FileNotFoundError:
            return None
        if not versions:
            return None
        with open(_os.path.join(mdir, f"v{max(versions)}.metadata.json")) as fh:
            return _json.load(fh)

    def latest() -> int:
        m = _meta()
        return int((m or {}).get("current-snapshot-id") or 0)

    def plan(lo: int, hi: int) -> dict:
        if hi <= lo:
            return {}
        m = _meta() or {}
        loc = m.get("location", "")
        if loc.startswith("file:"):
            loc = loc[len("file:"):]

        def local(p):
            if p.startswith("file:"):
                p = p[len("file:"):]
            if loc and p.startswith(loc):
                return _os.path.join(table_abs, p[len(loc):].lstrip("/"))
            return p

        # rollback guard: rollback_iceberg logs each rollback as
        # (target t, abandoned head h) — every snapshot id in (t, h]
        # is OFF the current lineage (ids are never reused, so a later
        # re-append cannot re-validate them). A consumer whose start
        # offset sits in that interval has read rows the table no
        # longer holds; an end offset in it would read them.
        for ev in m.get("snapshot-log") or []:
            h = ev.get("rolled-back-from")
            if h is None:
                continue
            t = ev["snapshot-id"]
            for off, word in ((lo, "start"), (hi, "end")):
                if t < off <= h:
                    raise ValueError(
                        "iceberg change range: table was rolled back "
                        f"from snapshot {h} to {t}, and the range's "
                        f"{word} offset {off} lies in the abandoned "
                        "range — rows read from it are no longer table "
                        "state; reset the checkpoint or re-read the "
                        "snapshot"
                    )
        snaps = m.get("snapshots") or []
        snap = next((s for s in snaps if s["snapshot-id"] == hi), None)
        if snap is None:
            raise ValueError(
                f"iceberg change range: end snapshot {hi} no longer "
                "in table history (expired?) — the range cannot be "
                "reconstructed exactly; reset the checkpoint"
            )
        _, manifests = av.read_file(local(snap["manifest-list"]))
        added: dict[int, set] = {}  # snapshot id -> contents of its manifests
        for mf in manifests:
            sid = mf.get("added_snapshot_id") or 0
            added.setdefault(sid, set()).add(mf.get("content", 0))
        for s in snaps:
            sid = s["snapshot-id"]
            op = (s.get("summary") or {}).get("operation", "append")
            if not lo < sid <= hi or op == "append":
                continue
            if op != "delete" or added.get(sid) != {1}:
                raise ValueError(
                    f"iceberg change range: snapshot {sid} is a {op!r} "
                    "that rewrites data files — the append-only feed "
                    "refuses ranges containing rewrites; re-read the "
                    "snapshot or use read_iceberg_changelog"
                )
        files = {}
        for mf in manifests:
            sid0 = mf.get("added_snapshot_id") or 0
            if not lo < sid0 <= hi:
                continue
            _, entries = av.read_file(local(mf["manifest_path"]))
            for e in entries:
                # spec: a null entry snapshot_id inherits the
                # manifest's added_snapshot_id, and manifest merges
                # re-record in-range adds as status EXISTING (0) —
                # both still belong to the range; only DELETED (2)
                # entries are out
                if e.get("status") == 2:
                    continue
                df_ = e["data_file"]
                content = df_.get("content")
                if content is None:
                    content = mf.get("content", 0)
                if lo < (e.get("snapshot_id") or sid0) <= hi:
                    files[local(df_["file_path"])] = (
                        content,
                        df_["file_path"],
                        int(df_.get("record_count") or 0),
                    )
        return files

    plan.latest = latest
    return plan


def stream_iceberg_appends(spark: SparkSession, table: str) -> DataFrame:
    """Structured-streaming SOURCE over an Iceberg table's append
    history (the consumer side of ``streaming_iceberg_sink``): offsets
    are snapshot ids, each micro-batch delivers exactly the data files
    ADDED by the snapshots in (start, end], and Spark's checkpoint
    replays ranges deterministically — the same incremental contract
    as ``read_iceberg_changes``, deployed as an unbounded stream.

    Spark-4 Python DataSource with a full ``DataSourceStreamReader``:
    planning (latestOffset/partitions) is ``make_appends_planner``'s,
    shared with the batch reader, and walks ONLY manifest metadata in
    the plan-time worker; each data file becomes one InputPartition,
    and ``read`` yields pyarrow RecordBatches executor-side (Arrow
    transfer, no row-at-a-time Python). Ranges containing delete files
    or rewrites raise loudly — this is the append-only feed, exactly
    the ``read_delta_changes`` contract.

    NOTES rule 39 discipline: every helper the reader touches is a
    captured CLOSURE (the avro codec namespace pickles by value;
    stdlib modules re-import in the worker); nothing references
    ``map_reduce_spark`` at plan or exec time."""
    meta0 = load_table_metadata(table)
    snap0 = _pick_snapshot(meta0, None)
    _gate_name_alternates(
        meta0, _current_schema(meta0, snap0), "stream_iceberg_appends"
    )
    ddl = _iceberg_schema_to_ddl(_current_schema(meta0, snap0))
    cols = [f["name"] for f in _current_schema(meta0, snap0)["fields"]]
    table_abs = os.path.abspath(table)
    planner = make_appends_planner(table_abs)  # closure: pickles by value

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _IcebergStreamReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"v": 0}

        def latestOffset(self):
            return {"v": planner.latest()}

        def partitions(self, start, end):
            files = planner(start["v"], end["v"])
            if any(content for content, _, _ in files.values()):
                raise ValueError(
                    "iceberg stream source: snapshot range contains "
                    "delete files — the append-only feed refuses rather "
                    "than emitting wrong increments"
                )
            return [InputPartition(f) for f in files] or [InputPartition(None)]

        def read(self, partition):
            if partition.value is None:
                return iter([])
            import pyarrow.parquet as _pq

            tbl = _pq.read_table(partition.value, columns=cols)
            return iter(tbl.to_batches(max_chunksize=65536))

        def commit(self, end):
            pass

    class IcebergStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "iceberg_appends"

        def schema(self):
            return ddl

        def streamReader(self, schema):
            return _IcebergStreamReader()

    spark.dataSource.register(IcebergStreamSource)
    return spark.readStream.format("iceberg_appends").load()


@register(
    "streaming_iceberg_source",
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
)
def streaming_iceberg_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream FROM an Iceberg table: orders lands in three appends,
    the snapshot-offset source delivers each append's files as Arrow
    micro-batches, and the drained memory sink must aggregate to the
    plain batch SQL — a lost snapshot, a doubled file, or a
    mis-inherited entry snapshot-id all hash-mismatch. Closes the
    table-format streaming pair: the engine both LANDS streams in
    Iceberg exactly-once and SERVES Iceberg as a stream.

    The drain is a checkpointed ``foreachBatch`` parquet sink — every
    micro-batch lands distributed, so the harness scales with the
    table instead of holding the stream's rows in driver memory (a
    memory-sink variant OOM'd a default-heap driver at the 10x
    decade: memory-table scans serialize row blocks INTO tasks)."""
    import tempfile

    table = lakecommit.fixture_dir("ice_src", sf_dir)
    if not os.path.isdir(table):
        tmp = lakecommit.fixture_tmp(table)
        d = _orders_frame(spark, sf_dir).select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            "totalprice_cents", "o_orderpriority",
        )
        for i in range(3):
            append_iceberg_snapshot(
                d.filter(F.col("o_orderkey") % 3 == i).repartition(2), tmp
            )
        lakecommit.publish_fixture(tmp, table)
    scratch = os.path.join(
        tempfile.gettempdir(), f"mr_spark_ice_src_out_{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    out_dir = os.path.join(scratch, "out")
    chk = os.path.join(scratch, "chk")

    def sink(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_dir)

    # AvailableNow: the runtime drains every committed snapshot and
    # terminates — replacing the count()-poll loop (a full scan job
    # every 200 ms) plus the whole-table count that only computed the
    # poll target (r11 opt: 3.4 s -> 2.5 s warm at sf0.1). Drained
    # rows are identical: same source, same offsets, same sink.
    q = (
        stream_iceberg_appends(spark, table)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(180):
            raise RuntimeError("iceberg stream source stalled")
        if q.exception() is not None:
            raise q.exception()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum("totalprice_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --------------------------------------------------------------------
# UPDATE (copy-on-write) + snapshot ROLLBACK
# --------------------------------------------------------------------


def update_iceberg_where(
    spark: SparkSession,
    table: str,
    predicate,
    set_exprs: dict,
) -> int:
    """Iceberg COW UPDATE (``rowlevel.update``): rewrite only the files
    containing predicate-TRUE rows, applying ``set_exprs`` (column →
    Column) to those rows, carrying the rest — NULL-predicate rows
    included — unchanged, committing through the version-pinned
    manifest rewrite. Merge-on-read tables are refused — compact
    first."""
    view = _cow_view(spark, table, "update_iceberg_where")
    return rowlevel.update(view, predicate, set_exprs)


def rollback_iceberg(table: str, snapshot_id: int) -> int:
    """Iceberg ROLLBACK: point the table's current snapshot back at an
    older one as a NEW metadata commit — zero data or manifest work,
    full history preserved above and below (the rolled-back snapshots
    stay time-travelable until expire-snapshots). The standard
    recovery move after a bad write."""

    def attempt():
        meta, version = _load_meta_versioned(table)
        if meta is None:
            raise ValueError("rollback on a table with no metadata")
        if not any(
            s["snapshot-id"] == snapshot_id for s in meta.get("snapshots") or []
        ):
            raise KeyError(f"snapshot {snapshot_id} not in table history")
        if meta.get("current-snapshot-id") == snapshot_id:
            return version  # already there
        # record the rollback in the snapshot-log (spec shape, plus the
        # abandoned head) — the stream source's append-only guard keys
        # on it: without a record, latestOffset would silently regress
        # and an already-past-the-rollback checkpoint could double-
        # deliver rows relative to table state after a re-append
        log = list(meta.get("snapshot-log") or [])
        log.append(
            {
                "timestamp-ms": 0,
                "snapshot-id": snapshot_id,
                "rolled-back-from": meta.get("current-snapshot-id"),
            }
        )
        new_meta = dict(
            meta,
            **{"current-snapshot-id": snapshot_id, "snapshot-log": log},
        )
        if _try_publish_metadata(table, version + 1, new_meta):
            return version + 1
        return lakecommit.LOST

    return lakecommit.retry_commit(f"rollback on {table!r}", attempt)


@register(
    "iceberg_update_where",
    oracle=f"""
WITH d AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderpriority
  FROM orders
),
updated AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' AND cents > {_MINMAX_CENTS}
              THEN cents + 100 ELSE cents END AS cents,
         CASE WHEN o_orderstatus = 'F' AND cents > {_MINMAX_CENTS}
              THEN 'AUDITED' ELSE o_orderpriority END AS prio
  FROM d
)
SELECT prio, COUNT(*) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM updated GROUP BY prio
""",
)
def iceberg_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COW UPDATE on a private clone of the PARTITIONED orders
    fixture: finished orders above the price threshold take a +100
    surcharge and re-prioritize to 'AUDITED'; only the files holding a
    match rewrite, restaged per partition tuple. The +100 COMPOUNDS on
    re-application (updated rows still satisfy the condition), so the
    house mutating-fixture discipline — re-runs must be content-stable
    — is enforced by a one-shot flag inside the clone: the oracle
    models exactly one application and every replay reads the settled
    state."""
    import tempfile

    base = ensure_iceberg_part_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_upd_{key}")
    done = os.path.join(table, "_updated.flag")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    if not os.path.exists(done):
        update_iceberg_where(
            spark,
            table,
            (F.col("o_orderstatus") == "F")
            & (F.col("totalprice_cents") > _MINMAX_CENTS),
            {
                "totalprice_cents": F.col("totalprice_cents") + 100,
                "o_orderpriority": F.lit("AUDITED"),
            },
        )
        with open(done, "w") as fh:
            fh.write("1")
    return (
        read_iceberg_py(spark, table)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_cents"),
        )
    )


@register(
    "iceberg_rollback",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS cnt,
       CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
GROUP BY o_orderstatus
""",
)
def iceberg_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLBACK after a bad write: a clone takes a destructive DELETE
    (every urgent order dropped), then the table's current snapshot
    points back at the pre-delete snapshot — one metadata commit, zero
    data work — and the read-back hash-equals the original orders. The
    bad snapshot stays in history (time travel still sees it) until
    expire-snapshots reclaims it."""
    import tempfile

    base = ensure_iceberg_part_fixture(spark, sf_dir)
    key = hashlib.md5(f"{base}:{os.getpid()}".encode()).hexdigest()[:12]
    table = os.path.join(tempfile.gettempdir(), f"mr_spark_ice_rb_{key}")
    if not os.path.isdir(table):
        clone_iceberg_table(base, table)
    meta = load_table_metadata(table)
    good = _pick_snapshot(meta, None)["snapshot-id"]
    delete_iceberg_where(spark, table, F.col("o_orderpriority") == "1-URGENT")
    rollback_iceberg(table, good)
    return (
        read_iceberg_py(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("totalprice_cents").alias("sum_cents"),
        )
    )
