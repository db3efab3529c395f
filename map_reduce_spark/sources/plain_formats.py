"""Plain-text / columnar file-format scans: ORC, CSV, JSON lines.

The reference ingests newline-delimited text files from a directory
(ghostdsb/map_reduce lib/map_reduce/worker.ex:63 reads whole files;
the job contract is "data already lives in files of format X").
This module certifies the three remaining everyday formats end-to-end
through the driver oracle, the same way ``avro_scan`` certifies Avro:
a fixture directory is converted ONCE from the driver's parquet table
(the stand-in for data that already lives in that format), and the
registered query is the READ path, hash-compared against DuckDB
reading the original parquet rows.

Scale notes (all three are native Spark sources — JVM scan, no
Python in the data path):

- **ORC** is a first-class vectorized columnar source: column
  pruning and predicate pushdown reach the stripe/row-group level
  exactly like parquet (``spark.sql.orc.filterPushdown`` defaults
  true). At 100 TB an ORC lake scans like a parquet lake.
- **CSV** is scanned with an EXPLICIT schema — never inference.
  Schema inference is a full extra pass over the data (at 100 TB,
  a second 100 TB read before the first real job); an explicit
  schema makes the scan single-pass and keeps the row decoder
  vectorized. Splittable per file; gzip'd CSV would serialize per
  file, so fixtures stay uncompressed.
- **JSON lines** likewise scans with an explicit schema (inference
  is the same extra-pass trap, worse: it unions ragged records).
  Newline-delimited JSON is splittable; nested fields not in the
  schema are simply skipped by the Jackson parser, so projection
  is cheap even on wide documents.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from map_reduce_spark.registry import register
from map_reduce_spark.sources import lakecommit

_FIXTURE_FILES = 4


def ensure_orc_fixture(sf_dir: str) -> str:
    """``<sf_dir>/orders.parquet`` as a {N}-file ORC directory, cached
    under tmp per sf_dir. ``o_orderdate`` is stored as an ORC DATE —
    dates are calendar values with no timezone semantics in either
    engine, so the fixture (and every query over it) is session-TZ
    independent (NOTES rule 6; ORC TIMESTAMP read semantics vary by
    writer-TZ stripe metadata, which is exactly the trap DATE avoids)."""
    import pyarrow as pa
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    dest = lakecommit.fixture_dir("orc", sf_dir)
    if os.path.isdir(dest):
        return dest
    tbl = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    idx = tbl.schema.get_field_index("o_orderdate")
    tbl = tbl.set_column(
        idx, "o_orderdate", tbl.column("o_orderdate").cast(pa.date32())
    )
    tmp = lakecommit.fixture_tmp(dest)
    os.makedirs(tmp, exist_ok=True)
    per = max(1, math.ceil(tbl.num_rows / _FIXTURE_FILES))
    for i in range(_FIXTURE_FILES):
        po.write_table(
            tbl.slice(i * per, per), os.path.join(tmp, f"part-{i:05d}.orc")
        )
    lakecommit.publish_fixture(tmp, dest)
    return dest


def ensure_csv_fixture(sf_dir: str) -> str:
    """``<sf_dir>/customer.parquet`` as a {N}-file header'd CSV
    directory, cached under tmp per sf_dir. ``c_acctbal`` is written
    pre-scaled to integer cents so the text round-trip is exact — a
    repr'd double re-parsed by a different float formatter is NOTES
    rule 1's trap, and integer cents is how money survives CSV in
    production too."""
    import csv

    import pyarrow.parquet as pq

    dest = lakecommit.fixture_dir("csv", sf_dir)
    if os.path.isdir(dest):
        return dest
    tbl = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    rows = list(zip(*(tbl.column(c).to_pylist() for c in cols)))
    tmp = lakecommit.fixture_tmp(dest)
    os.makedirs(tmp, exist_ok=True)
    per = max(1, math.ceil(len(rows) / _FIXTURE_FILES))
    header = ["c_custkey", "c_name", "c_nationkey", "acctbal_cents", "c_mktsegment"]
    for i in range(_FIXTURE_FILES):
        with open(
            os.path.join(tmp, f"part-{i:05d}.csv"), "w", newline=""
        ) as fh:
            w = csv.writer(fh)
            w.writerow(header)
            for ck, name, nk, bal, seg in rows[i * per : (i + 1) * per]:
                w.writerow([ck, name, nk, round(bal * 100), seg])
    lakecommit.publish_fixture(tmp, dest)
    return dest


def ensure_json_fixture(sf_dir: str) -> str:
    """``<sf_dir>/events.parquet`` as a {N}-file JSON-lines directory,
    cached under tmp per sf_dir. ``ts`` crosses as epoch MICROSECONDS
    (bigint) — the same ``ts_us`` convention ``io.load_table`` gives
    the rest of the engine (NOTES rules 4/6/7: the parquet file is
    TIMESTAMP(NANOS) in some driver vintages, and epoch integers are
    the only TZ-proof text encoding). ``value`` crosses as cents.
    ``props`` stays a raw JSON string, so the query exercises
    ``get_json_object`` over a text-resident document column."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = lakecommit.fixture_dir("json", sf_dir)
    if os.path.isdir(dest):
        return dest
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = tbl.column("ts")
    if pa.types.is_timestamp(ts.type):
        ts_us = ts.cast(pa.timestamp("us")).cast(pa.int64())
    else:  # raw int64 nanos vintage
        import pyarrow.compute as pc

        ts_us = pc.divide(ts.cast(pa.int64()), 1000)
    cols = {
        "event_id": tbl.column("event_id").to_pylist(),
        "ts_us": ts_us.to_pylist(),
        "user_id": tbl.column("user_id").to_pylist(),
        "event_type": tbl.column("event_type").to_pylist(),
        "value_cents": [
            None if v is None else round(v * 100)
            for v in tbl.column("value").to_pylist()
        ],
        "props": tbl.column("props").to_pylist(),
    }
    n = tbl.num_rows
    tmp = lakecommit.fixture_tmp(dest)
    os.makedirs(tmp, exist_ok=True)
    per = max(1, math.ceil(n / _FIXTURE_FILES))
    names = list(cols)
    for i in range(_FIXTURE_FILES):
        with open(os.path.join(tmp, f"part-{i:05d}.jsonl"), "w") as fh:
            for r in range(i * per, min((i + 1) * per, n)):
                fh.write(
                    json.dumps({k: cols[k][r] for k in names},
                               separators=(",", ":"))
                    + "\n"
                )
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "orc_scan",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM orders
WHERE o_orderstatus <> 'P'
""",
)
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered scan of an ORC-resident ``orders`` table through
    Spark's built-in vectorized ORC source (no jars needed — ORC is
    bundled). The status filter is there to certify pushdown: ORC
    predicate pushdown (``spark.sql.orc.filterPushdown``) evaluates it
    against stripe/row-group statistics before decoding, the same
    data-skipping contract the parquet scans get. Every value is
    hash-certified against DuckDB reading the original parquet (the
    fixture is converted from that exact table). Money crosses as
    cents, the date as its ISO string (DATE → string is TZ-free)."""
    from pyspark.sql import functions as F

    from map_reduce_spark.io import read_orc

    df = read_orc(spark, ensure_orc_fixture(sf_dir))
    return df.filter(F.col("o_orderstatus") != "P").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("totalprice_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_orderpriority",
    )


@register(
    "csv_scan",
    oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
       c_mktsegment
FROM customer
WHERE c_mktsegment <> 'NONE'
""",
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a CSV-resident ``customer`` table with an EXPLICIT
    schema — the 100 TB discipline this query exists to pin: schema
    inference is a second full pass over the data and is never used
    anywhere in this engine. The fixture stores money as integer
    cents (text-exact; see ``ensure_csv_fixture``), and the segment
    filter documents that CSV gets filter SKIPPING only at file
    granularity — text has no row-group stats, which is precisely why
    the engine's own sinks are parquet/ORC and CSV is ingest-only."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from map_reduce_spark.io import read_csv

    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("acctbal_cents", LongType()),
            StructField("c_mktsegment", StringType()),
        ]
    )
    df = read_csv(spark, ensure_csv_fixture(sf_dir), schema=schema, header=True)
    return df.filter(F.col("c_mktsegment") != "NONE").select(
        "c_custkey", "c_name", "c_nationkey", "acctbal_cents", "c_mktsegment"
    )


@register(
    "json_scan",
    oracle="""
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
       CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
FROM events
WHERE event_type <> 'noop'
""",
)
def json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan of a JSON-lines-resident ``events`` table with an EXPLICIT
    schema (same no-inference discipline as ``csv_scan``), plus one
    ``get_json_object`` extraction over the nested ``props`` document
    string — the semi-structured-ingest shape. Event time crosses as
    epoch-µs bigints end to end, so the query is certified under any
    session timezone. Hash-compared against DuckDB on the original
    parquet rows (``epoch_us`` truncates the NANOS file to the same µs
    grid the fixture conversion used)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from map_reduce_spark.io import read_json

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value_cents", LongType()),
            StructField("props", StringType()),
        ]
    )
    df = read_json(spark, ensure_json_fixture(sf_dir), schema=schema)
    return df.filter(F.col("event_type") != "noop").select(
        "event_id",
        "ts_us",
        "user_id",
        "event_type",
        "value_cents",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )
