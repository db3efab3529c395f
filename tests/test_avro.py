"""Avro source/sink tests: the pure-stdlib object-container codec, the
partition-parallel Python DataSource read path, the staged-commit sink,
and the capability-gate fallback in ``io.read_avro``."""

from __future__ import annotations

import os

import pytest

from map_reduce_spark.sources.avro_py import (
    ensure_avro_fixture,
    make_avro_io,
    read_avro_py,
    read_avro_rows,
    write_avro_file,
    write_avro_py,
)

SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
        {"name": "c", "type": "double"},
        {"name": "d", "type": "boolean"},
        {"name": "e", "type": "bytes"},
        {"name": "f", "type": {"type": "array", "items": "long"}},
        {"name": "g", "type": ["int", "null"]},  # reversed-union branch
    ],
}

ROWS = [
    (0, "héllo", 1.5, True, b"\x00\xff", [1, -2, 3], None),
    (-1, None, -0.0, False, b"", [], 42),
    (2**62, "x" * 300, float("inf"), True, b"abc", [0], -7),
    (-(2**62), "", -2.5e-308, False, b"\x80", [2**61, -(2**61)], 0),
]


def test_zigzag_spec_vectors():
    """The spec's canonical zigzag-varint examples, via a long field."""
    av = make_avro_io()
    schema = {"type": "record", "name": "z", "fields": [{"name": "n", "type": "long"}]}
    # (value, encoded bytes) straight from the Avro spec's table
    for value, enc in [
        (0, b"\x00"),
        (-1, b"\x01"),
        (1, b"\x02"),
        (-2, b"\x03"),
        (2, b"\x04"),
        (-64, b"\x7f"),
        (64, b"\x80\x01"),
    ]:
        assert av.decode_block(enc, "null", schema, 1) == [(value,)]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    n = write_avro_file(p, SCHEMA, ROWS, codec=codec, rows_per_block=2)
    assert n == len(ROWS)
    assert list(read_avro_rows(p)) == ROWS


def test_block_index_skips_payloads(tmp_path):
    """The planner's file index must agree with a full decode AND be
    derived from framing alone (offset/rows/bytes arithmetic)."""
    av = make_avro_io()
    p = str(tmp_path / "t.avro")
    write_avro_file(p, SCHEMA, ROWS, codec="deflate", rows_per_block=1)
    schema, codec, blocks = av.scan_blocks(p)
    assert codec == "deflate" and len(blocks) == len(ROWS)
    assert sum(b[1] for b in blocks) == len(ROWS)
    # offsets are strictly increasing and payloads abut the next header
    for (o1, _, s1), (o2, _, _) in zip(blocks, blocks[1:]):
        assert o1 + s1 + 16 < o2  # + sync marker + next block's 2 varints


def test_unsupported_schema_raises():
    av = make_avro_io()
    with pytest.raises(NotImplementedError):
        av.fields_of({"type": "record", "name": "r",
                      "fields": [{"name": "m", "type": {"type": "map", "values": "long"}}]})
    with pytest.raises(NotImplementedError):
        av.fields_of({"type": "record", "name": "r",
                      "fields": [{"name": "u", "type": ["string", "long"]}]})


def test_unsupported_codec_raises(tmp_path):
    with pytest.raises(NotImplementedError):
        write_avro_file(str(tmp_path / "x.avro"), SCHEMA, ROWS, codec="snappy")


def test_spark_read_partition_parallel(spark, tmp_path):
    """Multi-file, multi-block layout: the DataSource plans one task
    per size-bounded block range and decodes every row exactly once."""
    d = tmp_path / "many"
    d.mkdir()
    rows = [(i, f"s{i}", float(i) / 4, i % 2 == 0, b"", [i], i) for i in range(2100)]
    for i in range(3):
        write_avro_file(
            str(d / f"part-{i}.avro"),
            SCHEMA,
            rows[i * 700 : (i + 1) * 700],
            rows_per_block=100,
        )
    df = read_avro_py(spark, str(d), part_max_rows=250)
    # 700 rows/file in 100-row blocks, capped at 250 rows/partition -> 3/file
    assert df.rdd.getNumPartitions() == 9
    got = sorted((r.a, r.b, r.c, r.d, bytes(r.e), list(r.f), r.g) for r in df.collect())
    assert got == rows


def test_io_read_avro_falls_back(spark, tmp_path, sf_dir):
    """No spark-avro jar in this image: io.read_avro must transparently
    serve the same table through the Python path."""
    from map_reduce_spark.io import read_avro

    fixture = ensure_avro_fixture(sf_dir)
    df = read_avro(spark, fixture)
    import pyarrow.parquet as pq

    want = pq.read_table(os.path.join(sf_dir, "customer.parquet")).num_rows
    assert df.count() == want
    assert df.columns == [
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    ]


def test_io_read_avro_surfaces_native_errors(spark, tmp_path, monkeypatch):
    """Only a missing avro data source falls back: any other native
    error must surface as itself, never as a silent Python-path read."""
    from pyspark.sql.readwriter import DataFrameReader

    from map_reduce_spark import io as mio

    def broken(self, *a, **k):
        raise RuntimeError("corrupt avro block header")

    def never(*a, **k):
        raise AssertionError("fell back on a non-missing native error")

    monkeypatch.setattr(DataFrameReader, "load", broken)
    monkeypatch.setattr("map_reduce_spark.sources.avro_py.read_avro_py", never)
    with pytest.raises(RuntimeError, match="corrupt avro block header"):
        mio.read_avro(spark, str(tmp_path / "t.avro"))


def test_avro_scan_matches_parquet(spark, sf_dir):
    """The registered query's rows == the parquet table, value-exact."""
    from map_reduce_spark.io import load_table
    from map_reduce_spark.sources.avro_py import avro_scan
    from pyspark.sql import functions as F

    got = avro_scan(spark, sf_dir)
    want = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_write_avro_py_staged_commit(spark, tmp_path):
    """Distributed sink roundtrip: one container file per partition,
    nothing but committed part files left behind."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000, 1, 4)
        .select(
            F.col("id").alias("a"),
            F.concat(F.lit("v"), F.col("id")).alias("b"),
            (F.col("id") / 8).alias("c"),
            (F.col("id") % 2 == 0).alias("d"),
        )
    )
    out = str(tmp_path / "sink")
    write_avro_py(df, out)
    names = sorted(os.listdir(out))
    assert names == [f"part-{i:05d}.avro" for i in range(4)]
    back = read_avro_py(spark, out)
    assert back.count() == 1000
    assert back.schema.simpleString() == "struct<a:bigint,b:string,c:double,d:boolean>"
    assert back.agg(F.sum("a")).first()[0] == 499500
    assert back.filter("d").count() == 500
