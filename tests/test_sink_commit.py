"""The one-write commit behind ``write_keyed_overwrite`` and
``StateTable.compact``: the merged table is written flat into a sibling
staging directory and swapped in by rename, so a failed write leaves the
previous table as it was, and the sink changes no session conf."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from syntheticdata_pipeline__spark.functions.determinism import hash_bucket
from syntheticdata_pipeline__spark.operators.state import StateTable
from syntheticdata_pipeline__spark.sources.readers import (
    write_keyed_json,
    write_keyed_overwrite,
)

_CONF = "spark.sql.sources.partitionOverwriteMode"


def _batch(spark, rows):
    return spark.createDataFrame(rows, "product_id long, payload string")


def _rows(spark, path):
    return sorted(
        (r.product_id, r.payload)
        for r in spark.read.parquet(path).select("product_id", "payload").collect()
    )


def test_sink_leaves_session_conf_and_json_overwrite_alone(spark, tmp_path):
    before = spark.conf.get(_CONF)
    sink = str(tmp_path / "keyed")
    write_keyed_overwrite(_batch(spark, [(1, "a")]), sink, "product_id", n_buckets=8)
    write_keyed_overwrite(_batch(spark, [(2, "b")]), sink, "product_id", n_buckets=8)
    assert spark.conf.get(_CONF) == before

    # a static overwrite replaces the whole output, not just the
    # partitions the second write touches
    out = str(tmp_path / "json")
    df = spark.createDataFrame([(1, "a")], "id int, k string")
    write_keyed_json(df, out, partition_cols=["k"])
    write_keyed_json(df.withColumn("k", F.lit("b")), out, partition_cols=["k"])
    assert [r.k for r in spark.read.json(out).collect()] == ["b"]


def test_upserts_write_a_flat_table_with_an_int_bucket_column(spark, tmp_path):
    path = str(tmp_path / "keyed")
    write_keyed_overwrite(
        _batch(spark, [(i, "old") for i in range(20)]), path, "product_id", n_buckets=8
    )
    write_keyed_overwrite(
        _batch(spark, [(0, "new"), (30, "new")]), path, "product_id", n_buckets=8
    )
    dirs = [d for _, subdirs, _ in os.walk(path) for d in subdirs]
    assert not [d for d in dirs if d.startswith("__bucket=")]
    assert os.listdir(tmp_path) == ["keyed"]  # no staging or aside sibling

    back = spark.read.parquet(path)
    assert dict(back.dtypes)["__bucket"] == "int"
    assert back.filter(F.col("__bucket") != hash_bucket(F.col("product_id"), 8)).count() == 0
    assert back.count() == 21


def test_raising_sink_write_keeps_the_previous_table(spark, tmp_path):
    path = str(tmp_path / "keyed")
    base = [(i, "old") for i in range(10)]
    write_keyed_overwrite(_batch(spark, base), path, "product_id", n_buckets=8)
    boom = _batch(spark, [(0, "new"), (11, "new")]).withColumn(
        "payload", F.raise_error(F.lit("boom")).cast("string")
    )
    for upsert in (True, False):
        with pytest.raises(Exception, match="boom"):
            write_keyed_overwrite(boom, path, "product_id", n_buckets=8, upsert=upsert)
        assert _rows(spark, path) == base
        assert os.listdir(tmp_path) == ["keyed"]

    # first write: the staging write itself raises and is cleaned up
    first = str(tmp_path / "first")
    with pytest.raises(Exception, match="boom"):
        write_keyed_overwrite(boom, first, "product_id", n_buckets=8)
    assert os.listdir(tmp_path) == ["keyed"]


def test_unreadable_sink_raises_instead_of_being_replaced(spark, tmp_path):
    path = tmp_path / "keyed"
    path.mkdir()
    (path / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        write_keyed_overwrite(_batch(spark, [(1, "a")]), str(path), "product_id")
    assert os.listdir(path) == ["part-00000.parquet"]
    assert os.listdir(tmp_path) == ["keyed"]


def test_raising_compaction_keeps_the_appends(spark, tmp_path, monkeypatch):
    st = StateTable(spark, str(tmp_path / "state"), ["k"])
    for lo in (0, 5):
        st.append(spark.range(lo, lo + 5).selectExpr("CAST(id AS STRING) AS k"))
    files = sorted(os.listdir(st.path))
    good = st.load

    monkeypatch.setattr(
        st, "load", lambda: good().withColumn("k", F.raise_error(F.lit("boom")).cast("string"))
    )
    with pytest.raises(Exception, match="boom"):
        st.compact()
    assert sorted(os.listdir(st.path)) == files
    assert os.listdir(tmp_path) == ["state"]

    monkeypatch.undo()
    st.compact()
    assert sorted(r.k for r in st.load().collect()) == sorted(str(i) for i in range(10))
    assert os.listdir(tmp_path) == ["state"]
