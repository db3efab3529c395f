"""Pure-stdlib Apache Avro object-container codec + a partition-parallel
Spark Python DataSource over it — closing the engine's Avro gate in
environments without the spark-avro jar (``io.read_avro`` falls back
here; with the jar present the jar path wins).

Format: the public Avro 1.x Object Container File spec — magic
``Obj\\x01``, a file-metadata map carrying the writer schema JSON and
the codec name, a 16-byte sync marker, then blocks of
``(row count, byte length, payload, sync)`` with zigzag-varint longs.
Supported codecs: ``null`` and ``deflate`` (raw DEFLATE, zlib wbits
-15). Supported schema surface: a top-level record of primitive
fields (``boolean int long float double string bytes``), 2-branch
nullable unions ``["null", T]`` either orientation, and
``array<primitive>`` — the columnar-data subset; anything else raises
loudly at plan time rather than mis-decoding.

Scale shape: block LENGTHS are in the container framing, so the
driver-side planner indexes every file by seeking header-to-header
without decompressing anything, then packs consecutive blocks into
size-bounded ``InputPartition``s (the Python-source analogue of
``spark.sql.files.maxPartitionBytes``) — one Spark task per block
range, each decoding only its own bytes. Decode is row-at-a-time
Python, priced accordingly: this is the capability fallback for a
gated jar, not the preferred production scan (the docstring on
``io.read_avro`` says which path you're on).

The codec lives inside a factory (``make_avro_io``) whose inner
functions reference only the stdlib and each other, so the DataSource
classes capture it BY VALUE under cloudpickle — executors never need
this module importable (NOTES rule 6, same self-containment as
``python_datasource_scan``).

Reference parity: the reference engine (ghostdsb/map_reduce) reads its
own text inputs directly (worker.ex:96-114); Avro is part of this
engine's widened source surface (SURVEY.md §2.2 scans/sources).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from map_reduce_spark.registry import register

# planner knobs: pack consecutive blocks into one partition until either
# bound trips — at 100 TB this is what keeps task count ~ data size
# (divide by partition bytes), never ~ block count
_PART_MAX_BYTES = 32 * 1024 * 1024
_PART_MAX_ROWS = 200_000


def make_avro_io():
    """Build the self-contained codec namespace (see module docstring
    for why a factory): ``write / header / scan_blocks / decode_block /
    iter_file / to_ddl / from_ddl``."""
    import io as _io
    import json
    import struct
    import zlib
    from types import SimpleNamespace

    MAGIC = b"Obj\x01"
    PRIMS = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}

    # --- zigzag varint longs (the one Avro integer encoding) ---------
    def enc_long(n: int, out: bytearray) -> None:
        u = (n << 1) ^ (n >> 63)
        while True:
            b = u & 0x7F
            u >>= 7
            if u:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    def dec_long(buf: bytes, pos: int) -> tuple[int, int]:
        shift = 0
        u = 0
        while True:
            b = buf[pos]
            pos += 1
            u |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1), pos

    # --- schema handling ---------------------------------------------
    def norm_type(t):
        """Validate + normalize one field type to ('prim', name) |
        ('nullable', name, null_first) | ('array', item_name)."""
        if isinstance(t, str):
            if t not in PRIMS:
                raise NotImplementedError(f"avro_py: unsupported type {t!r}")
            return ("prim", t)
        if isinstance(t, dict) and t.get("type") == "array":
            item = t.get("items")
            if not (isinstance(item, str) and item in PRIMS and item != "null"):
                raise NotImplementedError(
                    f"avro_py: only array<primitive> supported, got {t!r}"
                )
            return ("array", item)
        if isinstance(t, list) and len(t) == 2 and "null" in t:
            other = t[1] if t[0] == "null" else t[0]
            if not (isinstance(other, str) and other in PRIMS and other != "null"):
                raise NotImplementedError(
                    f"avro_py: only [null, primitive] unions supported, got {t!r}"
                )
            return ("nullable", other, t[0] == "null")
        raise NotImplementedError(f"avro_py: unsupported type {t!r}")

    def fields_of(schema: dict):
        if schema.get("type") != "record":
            raise NotImplementedError("avro_py: top-level schema must be a record")
        return [(f["name"], norm_type(f["type"])) for f in schema["fields"]]

    DDL = {
        "boolean": "boolean",
        "int": "int",
        "long": "bigint",
        "float": "float",
        "double": "double",
        "string": "string",
        "bytes": "binary",
    }

    def to_ddl(schema: dict) -> str:
        cols = []
        for name, nt in fields_of(schema):
            base = nt[1] if nt[0] != "array" else f"array<{DDL[nt[1]]}>"
            cols.append(f"`{name}` {DDL.get(base, base)}")
        return ", ".join(cols)

    _FROM_DDL = {
        "boolean": "boolean",
        "int": "int",
        "integer": "int",
        "bigint": "long",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "binary": "bytes",
    }

    def from_ddl(spark_fields) -> dict:
        """Spark (name, typeName, nullable) triples -> Avro record dict."""
        fs = []
        for name, tname, nullable in spark_fields:
            if tname.startswith("array<") and tname.endswith(">"):
                item = _FROM_DDL.get(tname[6:-1])
                if item is None:
                    raise NotImplementedError(
                        f"avro_py writer: unsupported array item in {tname!r}"
                    )
                t: object = {"type": "array", "items": item}
            else:
                t = _FROM_DDL.get(tname)
                if t is None:
                    raise NotImplementedError(
                        f"avro_py writer: unsupported Spark type {tname!r}"
                    )
            if nullable:
                t = ["null", t]
            fs.append({"name": name, "type": t})
        return {"type": "record", "name": "spark_row", "fields": fs}

    # --- value encode/decode ------------------------------------------
    def enc_prim(t: str, v, out: bytearray) -> None:
        if t == "long" or t == "int":
            enc_long(int(v), out)
        elif t == "string":
            b = v.encode("utf-8")
            enc_long(len(b), out)
            out += b
        elif t == "double":
            out += struct.pack("<d", v)
        elif t == "float":
            out += struct.pack("<f", v)
        elif t == "boolean":
            out.append(1 if v else 0)
        elif t == "bytes":
            enc_long(len(v), out)
            out += v
        # "null": zero bytes

    def dec_prim(t: str, buf: bytes, pos: int):
        if t == "long" or t == "int":
            return dec_long(buf, pos)
        if t == "string":
            n, pos = dec_long(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n
        if t == "double":
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        if t == "float":
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        if t == "boolean":
            return buf[pos] != 0, pos + 1
        if t == "bytes":
            n, pos = dec_long(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n
        return None, pos  # "null"

    def enc_value(nt, v, out: bytearray) -> None:
        kind = nt[0]
        if kind == "prim":
            enc_prim(nt[1], v, out)
        elif kind == "nullable":
            null_ix = 0 if nt[2] else 1
            if v is None:
                enc_long(null_ix, out)
            else:
                enc_long(1 - null_ix, out)
                enc_prim(nt[1], v, out)
        else:  # array: one block + terminator (the common writer shape)
            if v:
                enc_long(len(v), out)
                for item in v:
                    enc_prim(nt[1], item, out)
            enc_long(0, out)

    def dec_value(nt, buf: bytes, pos: int):
        kind = nt[0]
        if kind == "prim":
            return dec_prim(nt[1], buf, pos)
        if kind == "nullable":
            ix, pos = dec_long(buf, pos)
            is_null = (ix == 0) == nt[2]
            if is_null:
                return None, pos
            return dec_prim(nt[1], buf, pos)
        out = []
        while True:  # array: any number of blocks, negative count = sized
            n, pos = dec_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:
                _, pos = dec_long(buf, pos)  # skip the byte size
                n = -n
            for _ in range(n):
                item, pos = dec_prim(nt[1], buf, pos)
                out.append(item)

    # --- container framing ---------------------------------------------
    def header(fh) -> tuple[dict, str, bytes, int]:
        """Read one file's header -> (schema, codec, sync, data_start)."""
        raw = fh.read()
        if raw[:4] != MAGIC:
            raise ValueError("avro_py: not an Avro object container (bad magic)")
        pos = 4
        meta = {}
        while True:
            n, pos = dec_long(raw, pos)
            if n == 0:
                break
            if n < 0:
                _, pos = dec_long(raw, pos)
                n = -n
            for _ in range(n):
                k, pos = dec_prim("string", raw, pos)
                v, pos = dec_prim("bytes", raw, pos)
                meta[k] = v
        sync = raw[pos : pos + 16]
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in ("null", "deflate"):
            raise NotImplementedError(f"avro_py: codec {codec!r} not supported")
        return schema, codec, sync, pos + 16

    def scan_blocks(path: str) -> tuple[dict, str, list[tuple[int, int, int]]]:
        """Index one file without decompressing: -> (schema, codec,
        [(payload_offset, n_rows, payload_len), ...])."""
        with open(path, "rb") as fh:
            # 1 MiB covers any sane header (schema JSON + codec name);
            # a short file just reads fully
            schema, codec, sync, start = header(_io.BytesIO(fh.read(1 << 20)))
            fh.seek(0, 2)
            end = fh.tell()
            blocks = []
            pos = start
            while pos < end:
                fh.seek(pos)
                hdr = fh.read(20)  # two varint longs: <=10 bytes each
                n_rows, p = dec_long(hdr, 0)
                n_bytes, p = dec_long(hdr, p)
                blocks.append((pos + p, n_rows, n_bytes))
                pos = pos + p + n_bytes + 16  # payload + sync
        return schema, codec, blocks

    def decode_block(payload: bytes, codec: str, schema: dict, n_rows: int):
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        fs = fields_of(schema)
        pos = 0
        rows = []
        for _ in range(n_rows):
            row = []
            for _, nt in fs:
                v, pos = dec_value(nt, payload, pos)
                row.append(v)
            rows.append(tuple(row))
        return rows

    def iter_file(path: str):
        """Decode a whole file (driver-side convenience / tests)."""
        schema, codec, blocks = scan_blocks(path)
        with open(path, "rb") as fh:
            for off, n_rows, n_bytes in blocks:
                fh.seek(off)
                yield from decode_block(fh.read(n_bytes), codec, schema, n_rows)

    def write(
        path: str,
        schema: dict,
        rows,
        codec: str = "deflate",
        rows_per_block: int = 1000,
    ) -> int:
        """Write one container file; returns rows written. The sync
        marker is derived from the path (content-deterministic files —
        fixture generation and tests depend on byte-stable output)."""
        import hashlib

        if codec not in ("null", "deflate"):
            raise NotImplementedError(f"avro_py: codec {codec!r} not supported")
        fs = fields_of(schema)
        sync = hashlib.md5(("avro_py:" + path).encode()).digest()
        out = bytearray(MAGIC)
        meta = {
            "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
            "avro.codec": codec.encode(),
        }
        enc_long(len(meta), out)
        for k, v in meta.items():
            enc_prim("string", k, out)
            enc_prim("bytes", v, out)
        enc_long(0, out)
        out += sync
        n_total = 0
        batch = bytearray()
        n_in_batch = 0

        def flush():
            nonlocal batch, n_in_batch, out
            if not n_in_batch:
                return
            payload = bytes(batch)
            if codec == "deflate":
                co = zlib.compressobj(6, zlib.DEFLATED, -15)
                payload = co.compress(payload) + co.flush()
            enc_long(n_in_batch, out)
            enc_long(len(payload), out)
            out += payload
            out += sync
            batch = bytearray()
            n_in_batch = 0

        for row in rows:
            for (_, nt), v in zip(fs, row):
                enc_value(nt, v, batch)
            n_in_batch += 1
            n_total += 1
            if n_in_batch >= rows_per_block:
                flush()
        flush()
        with open(path, "wb") as fh:
            fh.write(bytes(out))
        return n_total

    return SimpleNamespace(
        write=write,
        header=header,
        scan_blocks=scan_blocks,
        decode_block=decode_block,
        iter_file=iter_file,
        to_ddl=to_ddl,
        from_ddl=from_ddl,
        fields_of=fields_of,
    )


# driver-side convenience instance (tests, fixture generation, planning)
_AVRO = make_avro_io()
write_avro_file = _AVRO.write
read_avro_rows = _AVRO.iter_file
avro_schema_to_ddl = _AVRO.to_ddl


def _list_avro_files(path: str) -> list[str]:
    import os

    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".avro")
        )
    return [path]


def read_avro_py(
    spark: SparkSession,
    path: str,
    part_max_bytes: int = _PART_MAX_BYTES,
    part_max_rows: int = _PART_MAX_ROWS,
) -> DataFrame:
    """Load Avro container file(s) through the Python DataSource: the
    driver indexes block ranges per file (seek-only, nothing
    decompressed), Spark schedules one task per size-bounded block
    range, each task decodes only its own payload bytes. The two
    ``part_max_*`` knobs bound partition size the way
    ``spark.sql.files.maxPartitionBytes`` does for native scans."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    files = _list_avro_files(path)
    if not files:
        raise FileNotFoundError(f"avro_py: no .avro files under {path}")
    av = make_avro_io()  # captured by value into the classes below
    schema_ddl = _AVRO.to_ddl(_AVRO.scan_blocks(files[0])[0])

    class _BlockRange(InputPartition):
        """One task's slice: a file + consecutive (offset, rows, bytes)
        block ranges, with the decoded schema/codec carried as plain
        data so tasks never re-index the file."""

        def __init__(self, file, schema, codec, blocks):
            self.file = file
            self.schema = schema
            self.codec = codec
            self.blocks = blocks

    class _AvroReader(DataSourceReader):
        def partitions(self):
            parts = []
            for f in files:
                schema, codec, blocks = av.scan_blocks(f)
                cur: list[tuple[int, int, int]] = []
                rows = size = 0
                for b in blocks:
                    cur.append(b)
                    rows += b[1]
                    size += b[2]
                    if rows >= part_max_rows or size >= part_max_bytes:
                        parts.append(_BlockRange(f, schema, codec, cur))
                        cur, rows, size = [], 0, 0
                if cur:
                    parts.append(_BlockRange(f, schema, codec, cur))
            return parts

        def read(self, partition):
            with open(partition.file, "rb") as fh:
                for off, n_rows, n_bytes in partition.blocks:
                    fh.seek(off)
                    payload = fh.read(n_bytes)
                    yield from av.decode_block(
                        payload, partition.codec, partition.schema, n_rows
                    )

    class AvroPyDataSource(DataSource):
        @classmethod
        def name(cls):
            return "avro_py"

        def schema(self):
            return schema_ddl

        def reader(self, schema):
            return _AvroReader()

    spark.dataSource.register(AvroPyDataSource)
    return spark.read.format("avro_py").load()


def write_avro_py(df: DataFrame, path: str) -> None:
    """Distributed Avro sink through the Python DataSource writer API,
    with the staged-commit protocol (stage per-attempt files, publish
    names only in the driver-side ``commit()`` — the idempotent-sink
    pattern; a killed/retried task's orphan stage file is never
    published, fixing the reference's append-mode double-write class,
    worker.ex:124,147). One container file per partition."""
    import json
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    av = make_avro_io()
    schema = av.from_ddl(
        [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]
    )
    os.makedirs(path, exist_ok=True)

    class _Msg(WriterCommitMessage):
        def __init__(self, staged: str, rows: int):
            self.staged = staged
            self.rows = rows

    class _AvroWriter(DataSourceWriter):
        def __init__(self, out_dir: str, schema: dict):
            self.out_dir = out_dir
            self.schema = schema

        def write(self, iterator):
            import uuid

            staged = os.path.join(self.out_dir, f"_stage-{uuid.uuid4().hex}.avro")
            n = av.write(staged, self.schema, (tuple(r) for r in iterator))
            return _Msg(staged, n)

        def commit(self, messages):
            for i, m in enumerate(messages):
                os.replace(m.staged, os.path.join(self.out_dir, f"part-{i:05d}.avro"))

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)

    avro_schema = schema  # closure-captured plain data

    class AvroPySink(DataSource):
        @classmethod
        def name(cls):
            return "avro_py_sink"

        def schema(self):
            return json.dumps(avro_schema)  # unused by the writer path

        def writer(self, schema, overwrite):
            return _AvroWriter(path, avro_schema)

    df.sparkSession.dataSource.register(AvroPySink)
    df.write.format("avro_py_sink").mode("append").save()


# --- the registered scan query (certifies the decode end-to-end) -------

_CUSTOMER_AVRO_SCHEMA = {
    "type": "record",
    "name": "customer",
    "fields": [
        {"name": "c_custkey", "type": ["null", "long"]},
        {"name": "c_name", "type": ["null", "string"]},
        {"name": "c_nationkey", "type": ["null", "int"]},
        {"name": "c_acctbal", "type": ["null", "double"]},
        {"name": "c_mktsegment", "type": ["null", "string"]},
    ],
}
_FIXTURE_FILES = 4
_FIXTURE_ROWS_PER_BLOCK = 500


def ensure_avro_fixture(sf_dir: str) -> str:
    """Materialize ``<sf_dir>/customer.parquet`` as a {N}-file deflate
    Avro directory under the system tmp dir, once per sf_dir (atomic
    rename publish, so concurrent callers race safely), and return it.
    Fixture generation is driver-side and cached across runs — it is
    the test stand-in for data that already LIVES in Avro; the operator
    under measure is the read path."""
    import math
    import os

    import pyarrow.parquet as pq

    from map_reduce_spark.sources import lakecommit

    dest = lakecommit.fixture_dir("avro", sf_dir)
    if os.path.isdir(dest):
        return dest
    tbl = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    names = [f["name"] for f in _CUSTOMER_AVRO_SCHEMA["fields"]]
    rows = list(zip(*(tbl.column(c).to_pylist() for c in names)))
    tmp = lakecommit.fixture_tmp(dest)
    os.makedirs(tmp, exist_ok=True)
    per = max(1, math.ceil(len(rows) / _FIXTURE_FILES))
    for i in range(_FIXTURE_FILES):
        chunk = rows[i * per : (i + 1) * per]
        write_avro_file(
            os.path.join(tmp, f"part-{i:05d}.avro"),
            _CUSTOMER_AVRO_SCHEMA,
            chunk,
            codec="deflate",
            rows_per_block=_FIXTURE_ROWS_PER_BLOCK,
        )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "avro_scan",
    oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
       c_mktsegment
FROM customer
""",
)
def avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan of an Avro-resident ``customer`` table through
    ``io.read_avro`` — which, with no spark-avro jar in this image,
    takes the pure-Python object-container path (module docstring):
    driver-side block indexing, one task per size-bounded block range,
    per-task DEFLATE + zigzag-varint decode. Every decoded value of
    every row is hash-certified against DuckDB reading the same rows
    from parquet (DuckDB ships no Avro reader here either, and the
    fixture is converted from that exact table, so the parquet view IS
    the ground truth for the decode). The double column crosses as
    exact cents (2dp grid, NOTES rule 1 applied to values).

    Scale shape: planning touches only container framing (block
    lengths let the indexer seek header-to-header without inflating
    anything); decode parallelism = block ranges, bounded by the same
    two knobs a native FileScan uses. Row-at-a-time Python decode is
    the priced cost of a jar-less environment — with the jar present
    the same ``io.read_avro`` call is a native scan.
    """
    from pyspark.sql import functions as F

    from map_reduce_spark.io import read_avro

    df = read_avro(spark, ensure_avro_fixture(sf_dir))
    return df.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )
