"""The benchmark's own checks: deterministic inputs, full materialisation,
failure accounting and the worker import path."""

from __future__ import annotations

import os
import shutil

import pytest
from conftest import SMALL, make_bench

import gen
import run


def test_generator_is_deterministic(tmp_path):
    a = gen.write_tables(gen.generate(7, SMALL), str(tmp_path / "a"))
    b = gen.write_tables(gen.generate(7, SMALL), str(tmp_path / "b"))
    c = gen.write_tables(gen.generate(8, SMALL), str(tmp_path / "c"))
    assert a == b
    assert a != c
    for name in ("lineitem", "documents", "embeddings"):
        assert (tmp_path / "a" / f"{name}.parquet").read_bytes() == (
            tmp_path / "b" / f"{name}.parquet"
        ).read_bytes()


def test_generated_corpus_has_the_stated_duplicate_shares():
    docs = gen.generate(7, SMALL)["documents"].column("text").to_pylist()
    exact = len(docs) - len(set(docs))
    # byte-identical copies of base documents (near-duplicates can also
    # collide when an edit rewrites a token with itself)
    assert exact >= round(len(docs) * SMALL.exact_share)
    assert exact <= round(len(docs) * (SMALL.exact_share + SMALL.near_share))


@pytest.mark.parametrize("query", ["gopher_quality_flags", "hires_url_rewrite"])
def test_timed_plan_computes_the_columns_count_prunes(bench, query):
    df = bench.registry[query].build(bench.spark, bench.inputs)
    run.materialize(df)
    timed_plan = bench.reader.last_plan()
    df.count()
    count_plan = bench.reader.last_plan()
    in_timed = {c for c in df.columns if f"{c}#" in timed_plan}
    in_count = {c for c in df.columns if f"{c}#" in count_plan}
    assert in_timed == set(df.columns)
    assert in_count < in_timed, f"count() kept every column of {query}"


def test_wrong_and_raising_operations_are_counted_and_the_run_goes_on(bench):
    from syntheticdata_pipeline__spark.plans import QuerySpec

    good = bench.registry["tpch_q1_pricing_summary"]

    def corrupted(spark, sf_dir):
        return good.build(spark, sf_dir).limit(1)

    def eager_pin_raises(spark, sf_dir):
        return spark.range(1).selectExpr("raise_error('boom') AS x").localCheckpoint(eager=True)

    registry = dict(bench.registry)
    registry["corrupted_q1"] = QuerySpec("corrupted_q1", corrupted, oracle=good.oracle)
    registry["raising_pin"] = QuerySpec("raising_pin", eager_pin_raises, oracle="SELECT 1 AS x")
    b = make_bench("failures", ("tpch_q1_pricing_summary", "corrupted_q1", "raising_pin"))
    b.inputs, b.digest = bench.inputs, bench.digest
    b.attach(bench.spark, registry)
    try:
        b.run_ops()
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    failed = {f["op"] for f in b.failures}
    assert {"corrupted_q1#0", "raising_pin#0"} <= failed
    assert "tpch_q1_pricing_summary#0" not in failed
    assert b.attempted == 3
    assert b.failed_count() == 2
    assert [q for q, _ in b.lat_by_pass[0]].count("tpch_q1_pricing_summary") == 1


def test_chunk_commits_land_the_oracle_survivors(bench):
    b = make_bench("commits", chunks=2)
    b.generate()
    b.attach(bench.spark, bench.registry)
    try:
        b.run_ops()
    finally:
        shutil.rmtree(b.work, ignore_errors=True)
    assert b.failures == []
    assert b.attempted == 2
    assert [op for op, _ in b.lat_by_pass[0]] == ["chunk0", "chunk1"]
    # near-duplicates and exact copies were dropped, base documents kept
    assert 0.5 < b.extra["ingest.survivor_ratio"] < 1.0


def test_python_workers_import_the_package_outside_the_repository(bench):
    assert os.environ["PYTHONPATH"].split(os.pathsep)[0] == run.ROOT
    # its Python UDF is pickled by reference to syntheticdata_pipeline__spark,
    # so the worker must import the package by itself
    run.materialize(bench.registry["cosine_neardup_lsh"].build(bench.spark, bench.inputs))
