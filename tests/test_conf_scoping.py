"""Operators must not leak session-global conf changes: a scoped conf
is restored on exit, and UNSET when the session never had it."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from themis_tritonsort_spark import queries as Q
from themis_tritonsort_spark.session import scoped_conf
from themis_tritonsort_spark.streaming.budget import _parse_bytes

from .conftest import SF_SMOKE

_PROBE = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def test_scoped_conf_unsets_an_absent_key(spark):
    assert _PROBE not in spark.conf.getAll
    with scoped_conf(spark, _PROBE, "false"):
        assert spark.conf.get(_PROBE) == "false"
    assert _PROBE not in spark.conf.getAll


def test_scoped_conf_restores_a_set_key_even_on_error(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, key, "3"):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev


@pytest.mark.parametrize(
    "name", ["q144_chain_components", "q145_budget_stream_replay"]
)
def test_queries_leave_session_conf_unchanged(spark, name):
    before = dict(spark.conf.getAll)
    Q.QUERIES[name](spark, SF_SMOKE).count()
    assert dict(spark.conf.getAll) == before


def test_recover_lost_ranges_leaves_session_conf_unchanged(spark, tmp_path):
    from themis_tritonsort_spark.plans.pipeline import (
        Stage,
        recover_lost_ranges,
        run_ranged_stage,
    )

    src = str(tmp_path / "input")
    spark.range(100).select("id", (F.col("id") * 2).alias("v")).write.parquet(src)
    stage = Stage("s", lambda s, _inp: s.read.parquet(src))
    root = str(tmp_path / "ck")
    path = run_ranged_stage(spark, stage, {}, root, "id", [50])
    shutil.rmtree(os.path.join(path, "__range=1"))
    before = dict(spark.conf.getAll)
    recover_lost_ranges(spark, stage, {}, root, "id", [50], lost=[1])
    assert dict(spark.conf.getAll) == before
    # dynamic overwrite patched range 1 and kept range 0
    assert spark.read.parquet(path).count() == 100


def test_parse_bytes_uses_spark_byte_strings(spark):
    assert _parse_bytes(spark, "64m") == 64 << 20
    assert _parse_bytes(spark, "256MB") == 256 << 20
    assert _parse_bytes(spark, "1t") == 1 << 40
    # rejected by Spark's parser (fractional) -> the 64 MiB default
    assert _parse_bytes(spark, "0.5g") == 64 << 20
    assert _parse_bytes(spark, "0") == 64 << 20


def test_budget_replay_survives_terabyte_advisory_size(spark):
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    with scoped_conf(spark, key, "1t"):
        df = Q.QUERIES["q145_budget_stream_replay"](spark, SF_SMOKE)
        assert df.count() > 0
