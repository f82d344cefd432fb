"""Library paths that turn a driver-side list into a DataFrame plan it
as a LocalTableScan (``sources/tables.py::local_frame``), never as a
Python RDD (``Scan ExistingRDD``) whose every evaluation runs one Python
task per default partition. Their rows and schemas are the ones
``spark.createDataFrame(<list>, schema)`` gives."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from website_indexer_spark.operators import multimodal as mm
from website_indexer_spark.operators import sampling as S
from website_indexer_spark.plans import catalog
from website_indexer_spark.sources import tables


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _stratified(spark, tmp_path, monkeypatch):
    # the armed prefilter's per-stratum threshold table
    monkeypatch.setattr(S, "AUTO_PREFILTER_MIN_STRATUM", 200)
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 4970, "mega").otherwise("tiny").alias("lang"),
    )
    return S.stratified_quota(df, "lang", "doc_id", 5)


def _bpe_merges(spark, tmp_path, monkeypatch):
    # the fitted merge table
    texts = ["low lower lowest", "newer newest wider", "low low slow"] * 4
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    return catalog.q_bpe_merges(spark, str(tmp_path))


def _synth_media(spark, tmp_path, monkeypatch):
    return mm.synth_media(spark, n=12)


BUILDERS = {
    "stratified_quota": _stratified,
    "q_bpe_merges": _bpe_merges,
    "synth_media": _synth_media,
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_driver_list_plans_local_scan(spark, tmp_path, monkeypatch, name):
    build = BUILDERS[name]
    df = build(spark, tmp_path / "local", monkeypatch)
    plan = _plan(df)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan

    # the same rows and schema as the Python-RDD plan it replaces
    def rdd_frame(spark, rows, schema):
        return spark.createDataFrame(rows, schema)

    monkeypatch.setattr(tables, "local_frame", rdd_frame)
    monkeypatch.setattr(mm, "local_frame", rdd_frame)
    old = build(spark, tmp_path / "rdd", monkeypatch)
    assert "ExistingRDD" in _plan(old)
    assert df.schema == old.schema
    assert sorted(map(repr, df.collect())) == sorted(map(repr, old.collect()))
